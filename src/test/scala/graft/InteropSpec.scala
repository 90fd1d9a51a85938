package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Interop surfaces: JSON-string sketches (the reference's at-rest JSONB
 * form) and CSV ingest (reference sql/copy_data.sql).
 */
class InteropSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** A fresh directory, deleted when the test JVM exits. */
  private def tmpDir(tag: String): String = graft.catalog.FixtureStore.tempDir(tag)

  test("JSON-string sketches round-trip through from_json/to_json/topn_to_json") {
    val json = """{"apple": 3, "pear": 1, "fig": 7}"""
    val back = Seq(json).toDF("j")
      .select(from_json($"j", org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>")).as("sketch"))
      .select(TopnFunctions.topn_to_json($"sketch"))
      .as[String].collect().head
    // PG-canonical order: length then bytewise
    assert(back === """{"fig": 7, "pear": 1, "apple": 3}""")
  }

  test("from_json leniency recipe mirrors the reference's non-numeric skip (topn.c:784)") {
    // The reference tolerates degenerate JSONB: {"a": true} contributes
    // nothing, "1.9" parses via atol -> 1. Spark's typed from_json nulls
    // the WHOLE map on a value-type mismatch, so the lenient recipe is:
    // parse as map<string,string>, try_cast values via double (truncating
    // like atol), and let the aggregate skip the resulting nulls.
    val json = """{"a": true, "b": 2, "c": null, "d": "1.9"}"""
    val merged = Seq(json).toDF("j")
      .select(transform_values(
        from_json($"j", org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")),
        (_, v) => v.try_cast(org.apache.spark.sql.types.DoubleType)
          .try_cast(org.apache.spark.sql.types.LongType)).as("sketch"))
      .agg(TopnFunctions.topn_union_agg($"sketch"))
      .collect().head.getMap[String, Long](0).toMap
    // non-numeric values skipped; "1.9" truncates to 1 like the reference
    assert(merged === Map("b" -> 2L, "d" -> 1L))
  }

  test("CSV ingest with the customer_reviews schema (copy_data.sql:1-16)") {
    val dir = tmpDir("graft_csv")
    val csv =
      """c1,1998-01-02,5,10,8,P000000001,Some Title,1000,Book,Fiction,Novels,"P2,P3"
        |c2,1998-01-03,4,2,1,P000000001,Some Title,1000,Book,Fiction,Novels,
        |c3,1998-01-04,3,0,0,P000000002,Other,2000,Music,Rock,,""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "reviews.csv"), csv)
    val ddl = """customer_id STRING, review_date DATE, review_rating INT,
      review_votes INT, review_helpful_votes INT, product_id STRING,
      product_title STRING, product_sales_rank BIGINT, product_group STRING,
      product_category STRING, product_subcategory STRING, similar_product_ids STRING"""
    val df = graft.sources.Tables.csv(spark, dir + "/reviews.csv", ddl)
    assert(df.count() === 3)
    // the CHAR(10)[] column arrives as a string; split on demand
    val similar = df.filter($"customer_id" === "c1")
      .select(split($"similar_product_ids", ",")).as[Seq[String]].collect().head
    assert(similar === Seq("P2", "P3"))
    // and straight into the flagship flow
    val top = df.groupBy($"product_category")
      .agg(TopnFunctions.topn_add_agg($"product_id").as("s"))
      .select($"product_category", explode(TopnFunctions.topn($"s", lit(1))).as("r"))
      .select($"product_category", $"r.item").as[(String, String)]
      .collect().toMap
    assert(top("Fiction") === "P000000001")
  }

  test("Tables.events reads every physical ts layout to the same TimestampType column") {
    // The testdata generator has shipped `ts` as TIMESTAMP(NANOS) (loaded
    // as int64 nanos under nanosAsLong), as plain timestamp[us] (loaded as
    // TIMESTAMP_NTZ), and a plain TimestampType write is the third
    // possibility. All three must land on identical TimestampType values.
    val micros = Seq(1704067200000000L, 1704067205500000L, 1704153599999999L)
    val base = micros.zipWithIndex.map { case (us, i) =>
      (i.toLong, us, i.toLong % 2, s"t$i", i * 1.5, "{}")
    }.toDF("event_id", "us", "user_id", "event_type", "value", "props")

    def writeAs(tsCol: org.apache.spark.sql.Column): String = {
      val dir = tmpDir("graft_events")
      base.select($"event_id", tsCol.as("ts"), $"user_id", $"event_type", $"value", $"props")
        .coalesce(1).write.mode("overwrite").parquet(dir + "/events.parquet")
      dir
    }
    val asNanosLong = writeAs(($"us" * 1000L).cast("long"))
    val asNtz = writeAs(timestamp_micros($"us").cast("timestamp_ntz"))
    val asTimestamp = writeAs(timestamp_micros($"us"))

    for (dir <- Seq(asNanosLong, asNtz, asTimestamp)) {
      val df = graft.sources.Tables.events(spark, dir)
      assert(df.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
      assert(df.columns.toSeq === Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
      val got = df.orderBy($"event_id")
        .select(unix_micros($"ts")).as[Long].collect().toSeq
      assert(got === micros, s"layout at $dir")
    }
  }

  test("fixture-scale CSV ingest: 150k reviews through the flagship rollup flow") {
    // The reference's regression fixture is ~590k real Amazon reviews
    // loaded via \COPY (test_data_provider:3, copy_data.sql:17). Exercise
    // the same 12-column schema at comparable scale: a reviews-shaped CSV
    // synthesized deterministically from sf0.1 orders (~150k rows), with
    // quoting torture (embedded commas, quotes) in every row.
    val orders = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
    val reviews = orders.select(
      concat(lit("c"), $"o_custkey").as("customer_id"),
      $"o_orderdate".as("review_date"),
      ($"o_orderkey" % 5 + 1).cast("int").as("review_rating"),
      ($"o_orderkey" % 37).cast("int").as("review_votes"),
      ($"o_orderkey" % 11).cast("int").as("review_helpful_votes"),
      concat(lit("P"), lpad(($"o_custkey" % 997).cast("string"), 9, "0")).as("product_id"),
      // embedded comma + double quote: CSV quoting must round-trip
      concat(lit("Title \"q\", vol. "), $"o_orderkey" % 7).as("product_title"),
      ($"o_totalprice".cast("bigint")).as("product_sales_rank"),
      $"o_orderpriority".as("product_group"),
      $"o_orderstatus".as("product_category"),
      when($"o_orderkey" % 3 === 0, lit(null: String))
        .otherwise(concat(lit("sub"), $"o_orderkey" % 13)).as("product_subcategory"),
      concat(lit("P1,P"), $"o_custkey" % 100).as("similar_product_ids"))
    val dir = tmpDir("graft_csv_big")
    reviews.write.option("header", "false").mode("overwrite").csv(dir)

    val ddl = """customer_id STRING, review_date DATE, review_rating INT,
      review_votes INT, review_helpful_votes INT, product_id STRING,
      product_title STRING, product_sales_rank BIGINT, product_group STRING,
      product_category STRING, product_subcategory STRING, similar_product_ids STRING"""
    val df = graft.sources.Tables.csv(spark, dir, ddl).cache()
    try {
      assert(df.count() === orders.count())
      // full-fidelity round trip, all 12 columns, every row
      assert(df.exceptAll(reviews).count() === 0)
      assert(reviews.exceptAll(df).count() === 0)

      // the reference flagship over the ingested fixture: monthly rollup ->
      // union re-aggregation -> top-10, vs exact counts
      val rollup = df
        .groupBy(date_trunc("month", $"review_date").as("m"))
        .agg(TopnFunctions.topn_add_agg($"product_id", 2000000).as("sketch"))
      val got = rollup
        .agg(TopnFunctions.topn_union_agg($"sketch", 2000000).as("merged"))
        .select(explode(TopnFunctions.topn($"merged", lit(10))).as("r"))
        .select($"r.item", $"r.frequency").as[(String, Long)].collect().toSeq
      val expected = df.groupBy($"product_id").count()
        .orderBy($"count".desc, $"product_id")
        .limit(10).as[(String, Long)].collect().toSeq
      assert(got === expected)
    } finally df.unpersist()
  }

  // --- JSONL source/sink ---------------------------------------------------

  test("JSONL round-trips hostile text byte-exactly (writer escape + reader parse)") {
    val rows = Seq(
      (1L, "plain ascii"),
      (2L, "line\nbreak and \"quotes\" and \\backslash\\"),
      (3L, "tab\tbellnul-adjacentctl"),
      (4L, "multibyte é € 中文 🙂 combining é"),
      (5L, null.asInstanceOf[String]),
      (6L, ""))
    val df = rows.toDF("id", "text")
    val path = tmpDir("graft-jsonl-rt")
    graft.sources.Tables.writeJsonl(df, path)
    val back = graft.sources.Tables.jsonl(spark, path, "id BIGINT, text STRING")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back === rows.sortBy(_._1))
  }

  test("JSONL corrupt lines: PERMISSIVE quarantine column vs FAILFAST error") {
    val path = tmpDir("graft-jsonl-bad")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/part-0.jsonl"),
      """{"id": 1, "text": "good"}
        |this is not json at all
        |{"id": 3, "text": "also good"}
        |""".stripMargin)
    val quarantined = graft.sources.Tables.jsonl(spark, path,
        "id BIGINT, text STRING, _corrupt_record STRING")
      .select($"id", $"text", $"_corrupt_record".isNotNull.as("bad"))
      .as[(Option[Long], Option[String], Boolean)].collect().toSet
    assert(quarantined === Set(
      (Some(1L), Some("good"), false),
      (None, None, true),
      (Some(3L), Some("also good"), false)),
      "a corrupt line must surface as one quarantine row, not kill the read")
    val ex = intercept[Exception] {
      graft.sources.Tables.jsonl(spark, path, "id BIGINT, text STRING",
        Map("mode" -> "FAILFAST")).collect()
    }
    assert(ex.getMessage != null)
  }

  test("JSONL directory streams: two file drops == the batch read") {
    // the arrival mode LLM corpora actually have — JSONL files dropped
    // into a directory — consumed as a Structured Streaming file source
    // with the same explicit schema as the batch reader
    val dir = tmpDir("graft-jsonl-stream")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/drop0.jsonl"),
      """{"id": 1, "text": "first drop"}
        |{"id": 2, "text": "multi\nline and \"quoted\""}
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/drop1.jsonl"),
      """{"id": 3, "text": "second drop"}
        |""".stripMargin)
    val stream = spark.readStream
      .schema("id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1")
      .json(dir)
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("jsonl_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("jsonl_stream")
      .as[(Long, String)].collect().toSet
    val batch = graft.sources.Tables.jsonl(spark, dir, "id BIGINT, text STRING")
      .as[(Long, String)].collect().toSet
    assert(got === batch && got.size === 3)
    assert(got.contains((2L, "multi\nline and \"quoted\"")),
      "escapes must round-trip through the streaming reader too")
  }

  test("JSONL writer shards bound the output file count") {
    val df = (0 until 100).map(i => (i.toLong, s"doc $i")).toDF("id", "text")
    val path = tmpDir("graft-jsonl-shards")
    graft.sources.Tables.writeJsonl(df, path, shards = 3)
    val parts = new java.io.File(path).listFiles().count(_.getName.startsWith("part-"))
    assert(parts === 3)
    assert(graft.sources.Tables.jsonl(spark, path, "id BIGINT, text STRING")
      .count() === 100L)
  }
}
