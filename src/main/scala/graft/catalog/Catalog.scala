package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: a query's name, its Spark spelling over a fixture
  * directory, and the DuckDB SQL that reproduces its result on the same
  * parquet tables (same column names, same deterministic ORDER BY). A
  * bench-only row has no oracle: it is the operator of a query whose
  * correctness spelling embeds a verification twin, timed by
  * [[graft.Bench]] without that verifier. */
private[graft] final case class Entry(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** A family file of the catalog: the entries of one area, next to the
  * fixture constants and SQL twins that only they use. */
private[graft] trait Family {
  def entries: Seq[Entry]

  protected def query(name: String, spark: (SparkSession, String) => DataFrame,
      oracle: String): Entry = Entry(name, spark, Some(oracle))

  protected def benchOnly(name: String,
      spark: (SparkSession, String) => DataFrame): Entry = Entry(name, spark, None)
}

/** The query catalog: every family's entries under one name space. */
private[graft] object Catalog {

  val families: Seq[Family] = Seq(SketchQueries, EventQueries, TextQueries,
    DedupQueries, EmbeddingQueries, CrawlQueries, CurationQueries)

  /** The entries of `families` by name. Throws, naming each duplicate,
    * when a name is defined twice, in one family or across two. */
  def index(families: Seq[Seq[Entry]]): Map[String, Entry] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty,
      s"catalog names defined more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all.map(e => e.name -> e).toMap
  }

  lazy val entries: Map[String, Entry] = index(families.map(_.entries))
}
