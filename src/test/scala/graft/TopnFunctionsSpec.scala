package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all Spark suites. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // the recommended deployment conf (Similarity.lshNearDupPairs doc):
      // specs exercise the same join-selection ladder the mains run under
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    TopnFunctions.register(s)
    s
  }
}

/**
 * Integration coverage mirroring the reference regression suites
 * (sql/add_agg.sql, union_agg.sql, null_tests.sql, char_tests.sql,
 * join_tests.sql, customer_reviews_query.sql) on in-memory fixtures.
 */
class TopnFunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def sketchOf(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().head.getMap[String, Long](0).toMap

  // ---- add_agg suite (reference sql/add_agg.sql:57-95) -------------------

  private def numbersDf = {
    // NULL×5, 0×2, 1×1, 2×6, 3×4, 4×3, 5×7  (FIXTURES.md "numbers")
    val rows: Seq[Integer] = Seq.fill(5)(null.asInstanceOf[Integer]) ++
      (Seq.fill(2)(0) ++ Seq(1) ++ Seq.fill(6)(2) ++ Seq.fill(4)(3) ++
        Seq.fill(3)(4) ++ Seq.fill(7)(5)).map(Integer.valueOf)
    rows.toDF("int_column")
  }

  test("topn_add_agg at n=4 over ints (add_agg golden)") {
    spark.conf.set(GraftConf.NumberOfCountersKey, "4")
    try {
      numbersDf.createOrReplaceTempView("numbers")
      val out = spark.sql(
        """SELECT topn(topn_add_agg(CAST(int_column AS STRING)), 4) AS t
          |FROM numbers""".stripMargin)
        .select(explode($"t").as("r")).select("r.item", "r.frequency")
        .as[(String, Long)].collect().toSeq
      // exact because 6 distinct <= 3*4; order: freq desc, item asc
      assert(out === Seq(("5", 7L), ("2", 6L), ("3", 4L), ("4", 3L)))
    } finally spark.conf.set(GraftConf.NumberOfCountersKey, "1000")
  }

  test("topn() errors when k > number_of_counters (add_agg golden)") {
    spark.conf.set(GraftConf.NumberOfCountersKey, "4")
    try {
      numbersDf.createOrReplaceTempView("numbers")
      val ex = intercept[Exception] {
        spark.sql("SELECT topn(topn_add_agg(CAST(int_column AS STRING)), 5) FROM numbers")
          .collect()
      }
      // reference wording, topn.c:231-232
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(m => m.contains("desired number of counters") &&
        m.contains("is higher than the topn.number_of_counters variable")),
        s"got: $msgs")
    } finally spark.conf.set(GraftConf.NumberOfCountersKey, "1000")
  }

  test("number_of_counters conf validation (GUC range, topn.c:167-179)") {
    spark.conf.set(GraftConf.NumberOfCountersKey, "0")
    try {
      numbersDf.createOrReplaceTempView("numbers")
      val ex = intercept[Exception] {
        spark.sql("SELECT topn_add_agg(CAST(int_column AS STRING)) FROM numbers").collect()
      }
      // reference wording, expected/add_agg.out:50-52
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(m => m.contains("0 is outside the valid range for parameter") &&
        m.contains("(1 .. 14913080)")), s"got: $msgs")
    } finally spark.conf.set(GraftConf.NumberOfCountersKey, "1000")
  }

  test("sketch aggregate survives ObjectHashAggregate sort-based fallback (SURVEY §4)") {
    // past the fallback threshold ObjectHashAggregateExec switches to
    // sort-based aggregation mid-stream; results must not change
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "2") // force the fallback after 2 in-memory groups
      val df = spark.range(0, 20000)
        .selectExpr("CAST(id % 500 AS STRING) AS g", "CAST(id % 37 AS STRING) AS item")
      val got = df.groupBy("g")
        .agg(TopnFunctions.topn_add_agg(col("item"), 100000).as("sketch"))
        .select(col("g"), explode(col("sketch")).as(Seq("item", "frequency")))
      val expected = df.groupBy("g", "item").count()
      val diff = got.join(expected, Seq("g", "item"), "full_outer")
        .filter(col("frequency").isNull || col("count").isNull ||
          col("frequency") =!= col("count")).count()
      assert(diff === 0)
      assert(got.count() === expected.count())
    } finally spark.conf.set(key, prev)
  }

  // ---- union_agg suite ---------------------------------------------------

  test("topn_union_agg re-aggregates stored sketches exactly") {
    val skA = Map("a" -> 5L, "b" -> 3L)
    val skB = Map("b" -> 4L, "c" -> 9L)
    val df = Seq(skA, skB).toDF("sketch")
    val merged = sketchOf(df.agg(TopnFunctions.topn_union_agg($"sketch")))
    assert(merged === Map("a" -> 5L, "b" -> 7L, "c" -> 9L))
  }

  test("live conf rebinding: sketch re-read under smaller n prunes (union_agg.sql:8,26)") {
    val wide = (1 to 20).map(i => (s"k$i", (21 - i).toLong)).toMap
    val df = Seq(wide).toDF("sketch")
    df.createOrReplaceTempView("stored_sketches")
    spark.conf.set(GraftConf.NumberOfCountersKey, "6")
    try {
      val merged = sketchOf(spark.sql(
        "SELECT topn_union_agg(sketch) FROM stored_sketches"))
      assert(merged.size === 6)
      assert(merged === (1 to 6).map(i => (s"k$i", (21 - i).toLong)).toMap)
    } finally spark.conf.set(GraftConf.NumberOfCountersKey, "1000")
  }

  // ---- null_tests suite (sql/null_tests.sql) -----------------------------

  test("aggregates over all-NULL input yield {} not NULL") {
    val df = Seq.fill(10)(null.asInstanceOf[String]).toDF("text_column")
    val out = df.agg(TopnFunctions.topn_add_agg($"text_column")).collect().head
    assert(!out.isNullAt(0) && out.getMap[String, Long](0).isEmpty)

    val sk = Seq.fill(3)(null.asInstanceOf[Map[String, Long]]).toDF("sketch")
    val out2 = sk.agg(TopnFunctions.topn_union_agg($"sketch")).collect().head
    assert(!out2.isNullAt(0) && out2.getMap[String, Long](0).isEmpty)
  }

  test("topn_add NULL ladder (topn.c:305-328)") {
    val r = spark.sql(
      """SELECT
        |  topn_add(CAST(NULL AS MAP<STRING,BIGINT>), CAST(NULL AS STRING)) AS both_null,
        |  topn_add(CAST(NULL AS MAP<STRING,BIGINT>), 'SA') AS null_sketch,
        |  topn_add(MAP('AS', 1L), CAST(NULL AS STRING)) AS null_item
        |""".stripMargin).collect().head
    assert(r.getMap[String, Long](0).isEmpty)
    assert(r.getMap[String, Long](1).toMap === Map("SA" -> 1L))
    assert(r.getMap[String, Long](2).toMap === Map("AS" -> 1L))
  }

  test("topn_union is STRICT: NULL if either side NULL (null_tests.sql:41-44)") {
    val r = spark.sql(
      """SELECT
        |  topn_union(CAST(NULL AS MAP<STRING,BIGINT>), MAP('a', 1L)) AS l,
        |  topn_union(MAP('a', 1L), CAST(NULL AS MAP<STRING,BIGINT>)) AS r,
        |  topn_union(MAP('a', 1L), MAP('a', 2L, 'b', 5L)) AS m
        |""".stripMargin).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getMap[String, Long](2).toMap === Map("a" -> 3L, "b" -> 5L))
  }

  test("sketch |+| operator mirrors the reference's jsonb + (topn--2.0.0.sql:48-53)") {
    import TopnFunctions.SketchOps
    val merged = spark.sql("SELECT MAP('a', 1L) AS x, MAP('a', 2L, 'b', 5L) AS y")
      .select((col("x") |+| col("y")).as("m"))
      .collect().head.getMap[String, Long](0).toMap
    assert(merged === Map("a" -> 3L, "b" -> 5L))
  }

  test("topn of NULL sketch and empty sketch -> no rows (STRICT + empty)") {
    val cnt = spark.sql(
      """SELECT explode(topn(CAST(NULL AS MAP<STRING,BIGINT>), 3))""").count()
    assert(cnt === 0)
    val cnt2 = spark.sql("SELECT explode(topn(MAP(), 3))").count()
    assert(cnt2 === 0)
  }

  test("topn with k <= 0 yields zero rows on any sketch size") {
    // reference caps max_calls at Min(desiredNToPrint, elementCount), so
    // k=0 gracefully prints nothing — including on sketches large enough to
    // take the bounded-heap path (regression: heap capacity < 1 crashed)
    for (size <- Seq(1, 3, 8, 40); k <- Seq(0, -1)) {
      val m = (1 to size).map(i => s"'k$i', ${i}L").mkString(", ")
      val cnt = spark.sql(s"SELECT explode(topn(MAP($m), $k))").count()
      assert(cnt === 0, s"size=$size k=$k")
    }
  }

  // ---- char_tests suite (escaping / unicode) -----------------------------

  test("unicode and escape-torture items round-trip (char_tests.sql)") {
    val nasty = Seq("\"\"\"\"\"", "\\", "'", "'\"\"\t",
      "ёъяшер", "中文测试", "'\"\"\t+++---  <>?//#$%^&*()_+!@/t", "\b\f\t\\'\"")
    val df = nasty.flatMap(s => Seq.fill(3)(s)).toDF("text_column")
    val sketch = sketchOf(df.agg(TopnFunctions.topn_add_agg($"text_column")))
    assert(sketch === nasty.map(_ -> 3L).toMap)
    // and through topn() records
    val top = df.agg(TopnFunctions.topn_add_agg($"text_column").as("s"))
      .select(explode(TopnFunctions.topn($"s", lit(8))).as("r"))
      .select($"r.item").as[String].collect().toSet
    assert(top === nasty.toSet)
  }

  test("items truncate to 255 UTF-8 bytes on add (topn.c:337-338)") {
    val long = "x" * 300
    val df = Seq(long, long).toDF("t")
    val sketch = sketchOf(df.agg(TopnFunctions.topn_add_agg($"t")))
    assert(sketch === Map(("x" * 255) -> 2L))
  }

  test("topn_to_json renders PG-canonical key order (length then bytewise)") {
    val j = spark.sql("SELECT topn_to_json(MAP('bb', 2L, 'a', 1L, 'ab', 3L, 'ccc', 4L))")
      .as[String].collect().head
    assert(j === """{"a": 1, "ab": 3, "bb": 2, "ccc": 4}""")
  }

  // ---- window frame (customer_reviews_query.sql:58-70) -------------------

  test("topn_union_agg over ROWS 6 PRECEDING window frame") {
    val daily = (1 to 10).map { d =>
      (java.sql.Date.valueOf(f"2024-01-$d%02d"), Map(s"u$d" -> d.toLong))
    }.toDF("date", "agg_data")
    val w = Window.orderBy($"date").rowsBetween(-6, Window.currentRow)
    val out = daily
      .withColumn("merged", TopnFunctions.topn_union_agg($"agg_data").over(w))
      .orderBy($"date")
      .select($"date", map_keys($"merged").as("keys"))
      .as[(java.sql.Date, Seq[String])].collect()
    assert(out(0)._2.toSet === Set("u1"))
    assert(out(6)._2.toSet === (1 to 7).map(i => s"u$i").toSet)
    assert(out(9)._2.toSet === (4 to 10).map(i => s"u$i").toSet)
  }

  // ---- join_tests suite --------------------------------------------------

  test("sketches flow through joins and CTEs (join_tests.sql)") {
    val reviews = Seq(
      ("Books", "p1"), ("Books", "p1"), ("Books", "p2"),
      ("Music", "p3"), ("Music", "p3"), ("Music", "p4"))
      .toDF("product_category", "product_id")
    reviews.createOrReplaceTempView("reviews")
    val joined = spark.sql(
      """WITH a AS (SELECT product_category, topn_add_agg(product_id) AS s
        |           FROM reviews GROUP BY product_category),
        |     b AS (SELECT product_category, topn_add_agg(product_id) AS s
        |           FROM reviews GROUP BY product_category)
        |SELECT a.product_category,
        |       topn_union(a.s, b.s) AS merged
        |FROM a JOIN b ON a.product_category = b.product_category
        |ORDER BY a.product_category""".stripMargin)
    val rows = joined.collect()
    assert(rows.length === 2)
    assert(rows(0).getMap[String, Long](1).toMap === Map("p1" -> 4L, "p2" -> 2L))
  }

  // ---- approximation behavior (beyond-goldens sanity) --------------------

  test("heavy hitter survives eviction under skew") {
    spark.conf.set(GraftConf.NumberOfCountersKey, "10")
    try {
      // one heavy key (10k occurrences) among 5k light keys
      val df = spark.range(0, 15000).select(
        when($"id" < 10000, lit("heavy"))
          .otherwise(concat(lit("light"), $"id")).as("t"))
      val top = df.agg(TopnFunctions.topn_add_agg($"t").as("s"))
        .select(explode(TopnFunctions.topn($"s", lit(1))).as("r"))
        .select($"r.item", $"r.frequency").as[(String, Long)].collect().head
      assert(top._1 === "heavy")
      assert(top._2 === 10000L) // exact: heavy never evicted once dominant
    } finally spark.conf.set(GraftConf.NumberOfCountersKey, "1000")
  }

  test("unpartitioned Topn window fires the one-time scale guardrail; partitioned does not") {
    import org.apache.spark.sql.expressions.Window
    TopnFunctions.register(spark) // installs the guard listener (idempotent)
    def drain() = org.apache.spark.sql.graftshim.GraftShim.waitForListenerBus(spark)
    val df = Seq(("d1", "a"), ("d1", "b"), ("d2", "a"), ("d3", "c"))
      .toDF("day", "item")
      .groupBy($"day").agg(TopnFunctions.topn_add_agg($"item", 100).as("s"))

    // partitioned window: no cliff, no warning
    TopnWindowGuard.reset()
    df.withColumn("m",
      TopnFunctions.topn_union_agg($"s", 100)
        .over(Window.partitionBy($"day").orderBy($"day"))).collect()
    drain()
    assert(!TopnWindowGuard.hasFired,
      "a partitioned window is the scale-safe spelling; it must not warn")

    // unpartitioned window: the single-task cliff -> one-time WARN
    val w = Window.orderBy($"day").rowsBetween(-6, Window.currentRow)
    df.withColumn("m", TopnFunctions.topn_union_agg($"s", 100).over(w)).collect()
    drain()
    assert(TopnWindowGuard.hasFired,
      "an unpartitioned Topn window must fire the guardrail")

    // one-time: re-armed only by reset()
    TopnWindowGuard.reset()
    assert(!TopnWindowGuard.hasFired)

    // the bounded aggregates funnel through the same single task
    Seq(("d1", "a"), ("d2", "b")).toDF("day", "item")
      .groupBy($"day").agg(TopnFunctions.topn_add_agg_bounds($"item", 100).as("bs"))
      .withColumn("m", TopnFunctions.topn_union_agg_bounds($"bs", 100).over(w)).collect()
    drain()
    assert(TopnWindowGuard.hasFired,
      "an unpartitioned bounded Topn window must fire the guardrail")
    TopnWindowGuard.reset()
  }

  test("results stable under repartition when distinct <= 3*n") {
    val data = (1 to 30).flatMap(i => Seq.fill(i)(s"k$i"))
    val df = data.toDF("t")
    val expected = (21 to 30).reverse.map(i => (s"k$i", i.toLong))
    for (parts <- Seq(1, 3, 7)) {
      val out = df.repartition(parts)
        .agg(TopnFunctions.topn_add_agg($"t").as("s"))
        .select(explode(TopnFunctions.topn($"s", lit(10))).as("r"))
        .select($"r.item", $"r.frequency").as[(String, Long)].collect().toSeq
      assert(out === expected, s"parts=$parts")
    }
  }

  test("bounded sketch: exact below eviction (max_error 0), entries a bit-identical rider on the plain agg") {
    val data = (1 to 30).flatMap(i => Seq.fill(i)(s"k$i"))
    val df = data.toDF("t")
    // default 1000 counters: nothing prunes — every interval collapses
    val rows = df.agg(TopnFunctions.topn_add_agg_bounds($"t").as("bs"))
      .select(explode(TopnFunctions.topn_with_bounds($"bs", lit(5))).as("r"))
      .select($"r.item", $"r.frequency", $"r.max_error")
      .as[(String, Long, Long)].collect().toSeq
    assert(rows === (26 to 30).reverse.map(i => (s"k$i", i.toLong, 0L)))
    // under a tiny budget the entries field must still equal what the
    // PLAIN aggregate computes — the bound is a rider, never a behavior
    // change — while the bound turns positive and covers the truth
    val tiny = 2
    val plain = sketchOf(df.repartition(1).agg(
      TopnFunctions.topn_add_agg($"t", tiny).as("s")))
    val bounded = df.repartition(1)
      .agg(TopnFunctions.topn_add_agg_bounds($"t", tiny).as("bs"))
      .select($"bs.entries", $"bs.loss_bound")
      .as[(Map[String, Long], Long)].head()
    assert(bounded._1 === plain)
    assert(bounded._2 > 0L, "forced eviction must surface a positive bound")
    bounded._1.foreach { case (k, f) =>
      val truth = k.drop(1).toLong // k<i> occurs i times
      assert(f <= truth && truth <= f + bounded._2,
        s"interval [${f}, ${f + bounded._2}] must cover true count $truth for $k")
    }
  }

  test("bounded sketch union: loss bounds compose additively; SQL surface registered") {
    TopnFunctions.register(spark)
    val rows = spark.sql(
      """WITH parts AS (
        |  SELECT id % 2 AS g, CAST(id % 7 AS STRING) AS item FROM RANGE(700)),
        |built AS (
        |  SELECT g, topn_add_agg_bounds(item) AS bs FROM parts GROUP BY g)
        |SELECT r.item, r.frequency, r.max_error FROM (
        |  SELECT explode(topn_with_bounds(topn_union_agg_bounds(bs), 7)) AS r
        |  FROM built)""".stripMargin)
      .select($"item", $"frequency", $"max_error")
      .as[(String, Long, Long)].collect().toSeq
    // 700 rows over 7 items, nothing evicts anywhere: exact union, bound 0
    assert(rows.map(_._2).forall(_ === 100L) && rows.map(_._3).forall(_ === 0L))
    assert(rows.map(_._1).sorted === (0 to 6).map(_.toString))
    // a positive input bound must survive the union even when the union
    // itself never prunes (provenance composes additively)
    val carried = spark.sql(
      """SELECT topn_union_agg_bounds(named_struct(
        |  'entries', map('a', 5L), 'loss_bound', 3L)) AS u
        |FROM RANGE(2)""".stripMargin)
      .select($"u.loss_bound").as[Long].head()
    assert(carried === 6L, "two inputs x bound 3 -> union bound 6")
  }

  test("topn_delta: movers, arrivals, departures, pinned ties, STRICT nulls, SQL surface") {
    TopnFunctions.register(spark)
    val rows = spark.sql(
      """SELECT topn_delta(
        |  map('a', 10L, 'b', 5L, 'gone', 3L),
        |  map('a', 10L, 'b', 9L, 'new', 4L), 3) AS d""".stripMargin)
      .select(explode($"d").as("r"))
      .select($"r.item", $"r.freq_a", $"r.freq_b", $"r.delta")
      .as[(String, Long, Long, Long)].collect().toSeq
    // |delta|: b=4, new=4, gone=3, a=0 -> tie b/new breaks item-asc
    assert(rows === Seq(("b", 5L, 9L, 4L), ("new", 0L, 4L, 4L),
      ("gone", 3L, 0L, -3L)))
    // unchanged items rank last and still appear when k allows
    val all = spark.sql(
      "SELECT topn_delta(map('a', 1L), map('a', 1L, 'z', 2L), 5) AS d")
      .select(explode($"d").as("r")).select($"r.item", $"r.delta")
      .as[(String, Long)].collect().toSeq
    assert(all === Seq(("z", 2L), ("a", 0L)))
    // STRICT: NULL either side -> NULL
    assert(spark.sql("SELECT topn_delta(NULL, map('a', 1L), 2) AS d")
      .filter($"d".isNull).count() === 1L)
    assert(spark.sql("SELECT topn_delta(map('a', 1L), NULL, 2) AS d")
      .filter($"d".isNull).count() === 1L)
    // k validation (plan-time literal)
    intercept[Exception](
      spark.sql("SELECT topn_delta(map('a',1L), map('a',1L), 0)").collect())
  }

  // ---- one construction site per function ------------------------------

  test("topn_rows is inline(topn(...)): edge cases, OUTER, k > n, codegen on/off, extension path") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.graftshim.GraftShim
    Seq((1, Map("a" -> 3L, "b" -> 1L, "c" -> 3L)), (2, Map("d" -> 2L)))
      .toDF("g", "s").createOrReplaceTempView("rows_input")
    val nullSketch = "CAST(NULL AS MAP<STRING,BIGINT>)"
    val top3 = Seq((1, "a", 3L), (1, "c", 3L), (1, "b", 1L), (2, "d", 2L))
    val cases = Seq(("s", "3") -> top3, ("s", "1") -> Seq((1, "a", 3L), (2, "d", 2L)),
      (nullSketch, "3") -> Nil, ("s", "CAST(NULL AS INT)") -> Nil, ("s", "0") -> Nil,
      ("s", "-1") -> Nil, ("MAP()", "3") -> Nil)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Int, String, java.lang.Long)] =
      df.collect().toSeq.map(r => (r.getInt(0), r.getString(1), r.getAs[java.lang.Long](2)))
        .sortBy(r => (r._1, -Option(r._3).fold(0L)(_.longValue), r._2))
    def lateral(outer: String, gen: String) = spark.sql(
      s"SELECT g, t.item, t.frequency FROM rows_input LATERAL VIEW $outer $gen t AS item, frequency")
    val ws = "spark.sql.codegen.wholeStage"
    try {
      for (codegen <- Seq("true", "false")) {
        spark.conf.set(ws, codegen)
        for (((sk, k), want) <- cases; outer <- Seq("", "OUTER")) {
          val got = lateral(outer, s"topn_rows($sk, $k)")
          val spelled = lateral(outer, s"inline(topn($sk, $k))")
          val empty = Seq(1, 2).filterNot(g => want.exists(_._1 == g))
            .map(g => (g, null: String, null: java.lang.Long))
          val expected = want.map(r => (r._1, r._2, java.lang.Long.valueOf(r._3))) ++
            (if (outer.nonEmpty) empty else Nil)
          val ctx = s"codegen=$codegen $outer topn_rows($sk, $k)"
          assert(got.schema === spelled.schema, ctx)
          assert(rows(got) === rows(spelled), ctx)
          assert(rows(got) === expected.sortBy(r => (r._1, -Option(r._3).fold(0L)(_.longValue), r._2)), ctx)
        }
        // select-list call
        val sel = spark.sql("SELECT g, topn_rows(s, 3) FROM rows_input")
        assert(sel.schema.fieldNames.toSeq === Seq("g", "item", "frequency"))
        assert(rows(sel) === rows(spark.sql("SELECT g, inline(topn(s, 3)) FROM rows_input")))
        // k above the budget: the report kernel's error, same class either way
        for (gen <- Seq("topn_rows(s, 1001)", "inline(topn(s, 1001))")) {
          val ex = intercept[Exception](lateral("", gen).collect())
          val conditions = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
            .collect { case t: org.apache.spark.SparkThrowable => t.getCondition }.toSeq
          assert(conditions.contains("GRAFT_K_EXCEEDS_COUNTERS"), s"$gen: $conditions")
        }
        // the generate now runs inside a whole-stage-codegen stage
        val df = lateral("", "topn_rows(s, 3)")
        df.collect()
        val helper = new AdaptiveSparkPlanHelper {}
        val inStage = helper.collect(df.queryExecution.executedPlan) {
          case w: WholeStageCodegenExec => w.child.exists(_.isInstanceOf[GenerateExec])
        }
        assert(inStage.contains(true) === (codegen == "true"), df.queryExecution.executedPlan)
      }
    } finally spark.conf.unset(ws)

    // the cluster-wide path builds the same generator from the same catalog
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val injected = GraftShim.applyInjectedFunctions(ext, GraftShim.builtinRegistryClone())
      .lookupFunction(FunctionIdentifier("topn_rows"),
        Seq(GraftShim.expression($"s"), GraftShim.expression(lit(3))))
    assert(injected.prettyName === "inline")
    val viaExt = spark.table("rows_input").select($"g", GraftShim.column(injected))
    assert(rows(viaExt) === top3.map(r => (r._1, r._2, java.lang.Long.valueOf(r._3))))
  }

  test("DataFrame methods and SQL spellings build the same expression with the same budget") {
    import TopnFunctions._
    import org.apache.spark.sql.Column
    val items = (1 to 30).flatMap(i => Seq.fill(i)(s"k$i")).toDF("item").coalesce(1)
      .withColumn("w", length($"item").cast("bigint"))
      .withColumn("a", typedLit((1 to 10).map(i => s"x$i" -> i.toLong).toMap))
      .withColumn("b", typedLit((5 to 14).map(i => s"x$i" -> (2 * i).toLong).toMap))
      .withColumn("bs", struct($"a".as("entries"), lit(2L).as("loss_bound")))
    // the topn expressions of a plan, with their counter budgets
    def built(df: org.apache.spark.sql.DataFrame): Seq[(String, Option[Int])] =
      df.queryExecution.analyzed.expressions.flatMap(_.collect {
        case e: Product if e.getClass.getPackage.getName == "graft.expressions" =>
          (e.getClass.getSimpleName, e.productElementNames.zip(e.productIterator)
            .collectFirst { case ("numCounters", n: Int) => n })
      })
    // (SQL spelling, DataFrame spelling given an optional explicit budget, aggregate?)
    val fns: Seq[(String, Option[Int] => Column, Boolean)] = Seq(
      ("topn_add_agg(item)", _.fold(topn_add_agg($"item"))(topn_add_agg($"item", _)), true),
      ("topn_add_weighted_agg(item, w)",
        _.fold(topn_add_weighted_agg($"item", $"w"))(topn_add_weighted_agg($"item", $"w", _)), true),
      ("topn_union_agg(a)", _.fold(topn_union_agg($"a"))(topn_union_agg($"a", _)), true),
      ("topn_add_agg_bounds(item)",
        _.fold(topn_add_agg_bounds($"item"))(topn_add_agg_bounds($"item", _)), true),
      ("topn_union_agg_bounds(bs)",
        _.fold(topn_union_agg_bounds($"bs"))(topn_union_agg_bounds($"bs", _)), true),
      ("topn(a, 5)", _ => topn($"a", lit(5)), false),
      ("topn_add(a, item)", _ => topn_add($"a", $"item"), false),
      ("topn_union(a, b)", _ => topn_union($"a", $"b"), false),
      ("topn_to_json(a)", _ => topn_to_json($"a"), false),
      ("topn_with_bounds(bs, 5)", _ => topn_with_bounds($"bs", lit(5)), false),
      ("topn_delta(a, b, 4)", _ => topn_delta($"a", $"b", 4), false))
    for (budget <- Seq(None, Some(7)); (sql, method, isAgg) <- fns) {
      def on(c: Column) = if (isAgg) items.agg(c.as("r")) else items.select(c.as("r"))
      // a scalar's budget comes from the conf on both sides; an aggregate's
      // DataFrame spelling takes it as an argument, its SQL spelling from the
      // conf read when the query is analyzed
      def withBudget[T](f: => T): T = {
        budget.foreach(n => spark.conf.set(GraftConf.NumberOfCountersKey, n.toString))
        try f finally spark.conf.set(GraftConf.NumberOfCountersKey, "1000")
      }
      val viaSql = withBudget(on(expr(sql)))
      val viaMethod = if (isAgg) on(method(budget)) else withBudget(on(method(budget)))
      val ctx = s"$sql budget=$budget"
      assert(built(viaMethod) === built(viaSql), ctx)
      if (!sql.startsWith("topn_delta") && !sql.startsWith("topn_to_json")) {
        assert(built(viaSql).map(_._2) === Seq(Some(budget.getOrElse(1000))), ctx)
      }
      assert(viaMethod.schema === viaSql.schema, ctx)
      assert(viaMethod.collect().map(_.toString).sorted === viaSql.collect().map(_.toString).sorted, ctx)
    }
  }
}
