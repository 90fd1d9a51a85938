package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits non-zero
  * with a grep-able marker when the run could not produce evidence (empty
  * registry, empty oracle map, or zero successful dumps) — the round-12
  * lesson: an empty correctness artifact shipped silently and the round
  * recorded no proof at all. */
object Verify {

  /** The empty-evidence guard, pure for the spec: Some(marker) when this
    * run produced nothing a comparator could check. `queriesRun` is the
    * post-filter registry size, `dumped` the successful parquet dumps,
    * `oracles` the oracle-map size. */
  private[graft] def emptyDumpError(
      queriesRun: Int, dumped: Int, oracles: Int): Option[String] =
    if (queriesRun == 0)
      Some("[verify] FATAL EMPTY DUMP: no queries selected — the registry " +
        "or the SPARK_GRAFT_QUERIES filter matched nothing")
    else if (dumped == 0)
      Some(s"[verify] FATAL EMPTY DUMP: all $queriesRun query dumps failed " +
        "— no parquet evidence was written")
    else if (oracles == 0)
      Some("[verify] FATAL EMPTY DUMP: oracle_sql.json is empty — dumps " +
        "exist but nothing can be compared")
    else None

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // broadcast when small, shuffled-hash when a partition's build side
      // fits an executor, sort-merge only giant x giant — the candidate x
      // vectors / candidate x shingle-sets verify joins in Similarity /
      // Dedup / SemDedup depend on this ladder past the broadcast
      // threshold (Similarity.lshNearDupPairs has the measurement)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (comma-separated names); unset = all queries
    // (the driver's correctness runs set nothing and dump everything)
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name would otherwise produce a silently partial run that
    // reads as a passing subset
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty)
        System.err.println(
          s"[verify] WARNING: SPARK_GRAFT_QUERIES names match no registered query: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    var dumped = 0
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped += 1
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    emptyDumpError(selected.size, dumped, SparkEntry.oracleSql.size).foreach {
      msg =>
        System.err.println(msg)
        sys.exit(2)
    }
  }
}
