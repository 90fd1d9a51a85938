package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, Entry}
import graft.catalog.Fixtures.{ExactN, tbl}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The registry over the query catalog ([[graft.catalog]]): each query is
  * defined once, in its family file, beside the DuckDB SQL in [[oracleSql]]
  * that reproduces its rows and schema exactly (same column names, same
  * deterministic ORDER BY). Sketch queries run with a counter budget far
  * above the data's distinct counts, so the approximate sketch is exact and
  * oracle-comparable (SURVEY §2.8.3); the approximation path itself is
  * covered by ScalaTest suites instead.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * README.md:84-116 flow: per-month rollup sketches -> union -> top-10. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    TopnFunctions.register(spark)
    val orders = tbl(spark, "/root/testdata/sf0.001", "orders")
    val rollup = orders
      .groupBy(date_trunc("month", $"o_orderdate").as("month"))
      .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
    rollup
      .agg(TopnFunctions.topn_union_agg($"sketch", ExactN).as("merged"))
      .select(explode(TopnFunctions.topn($"merged", lit(10))).as("r"))
      .select($"r.item", $"r.frequency")
  }

  /** Every oracle-checked query of the catalog, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.entries.collect { case (n, Entry(_, spark, Some(_))) => n -> spark }

  /** For each key in [[queries]], the DuckDB SQL that reproduces its
    * result on the same parquet tables. */
  val oracleSql: Map[String, String] =
    Catalog.entries.collect { case (n, Entry(_, _, Some(sql))) => n -> sql }

  /** Operator-only subplans of the queries whose CORRECTNESS spelling
    * embeds an in-plan verification twin (`dedup_simhash` carries an O(n²)
    * brute-force check, the `ann_*`/`lsh_neardup_pairs` queries a
    * brute-force recall comparison, `semantic_dedup` an independent
    * self-join + CC audit). The twins are the right correctness design —
    * approximate output is not SQL-reproducible — but they dominate the
    * measured time, so Bench times THESE alongside: the operator a user
    * actually runs, without its verifier. Not part of the oracle
    * gate (the twinned queries stay in [[queries]]). */
  val benchOnly: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.entries.collect { case (n, Entry(_, spark, None)) => n -> spark }
}
