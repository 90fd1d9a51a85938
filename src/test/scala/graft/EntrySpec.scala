package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver's own gates: entry smoke and query-map integrity. */
class EntrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("entry (driver t1 smoke) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("the catalog rejects a name defined twice, in one family or across two") {
    import graft.catalog.{Catalog, Entry}
    val stub = Entry("stub", (s, _) => s.range(1).toDF(), Some("SELECT 1"))
    val other = stub.copy(name = "other")
    val within = intercept[IllegalArgumentException](
      Catalog.index(Seq(Seq(stub, other, stub))))
    assert(within.getMessage.contains("stub"))
    val across = intercept[IllegalArgumentException](
      Catalog.index(Seq(Seq(stub), Seq(other, stub))))
    assert(across.getMessage.contains("stub"))
    assert(!across.getMessage.contains("other"))
    assert(Catalog.index(Seq(Seq(stub), Seq(other))).keySet === Set("stub", "other"))
  }

  test("the registry holds 131 queries, each with a non-empty oracle, and 15 bench-only rows") {
    assert(SparkEntry.queries.size === 131)
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"queries with an empty oracle: $blank")
    assert(SparkEntry.benchOnly.size === 15)
    assert((SparkEntry.benchOnly.keySet & SparkEntry.queries.keySet).isEmpty)
  }

  test("every query runs and returns rows at sf0.001") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n = fn(spark, "/root/testdata/sf0.001").count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("every benchOnly row materializes through the noop sink at sf0.001") {
    // the bench times these rows by a noop write; count() let Catalyst
    // prune their outputs, which hid bpe_vocab_encode_op's ANSI overflow
    SparkEntry.benchOnly.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      withClue(s"$name: ")(Bench.materialize(fn(spark, "/root/testdata/sf0.001")))
    }
  }

  test("Verify's empty-dump guard fires on every empty-evidence shape (round-12 failure mode)") {
    // the round-12 driver artifact was `{}` and nothing noticed; Verify now
    // exits non-zero with a grep-able marker whenever a run produced no
    // comparable evidence — each arm pinned here
    def marker(q: Int, d: Int, o: Int) = Verify.emptyDumpError(q, d, o)
    assert(marker(0, 0, 104).exists(_.contains("FATAL EMPTY DUMP")),
      "empty selection must be fatal")
    assert(marker(104, 0, 104).exists(_.contains("FATAL EMPTY DUMP")),
      "zero successful dumps must be fatal")
    assert(marker(104, 104, 0).exists(_.contains("FATAL EMPTY DUMP")),
      "an empty oracle map must be fatal")
    assert(marker(104, 104, 104).isEmpty, "a productive run must not trip the guard")
    assert(marker(104, 1, 104).isEmpty,
      "partial dump failures stay per-query warnings (the comparator records them), not a fatal")
  }

  test("parameter validation errors are informative") {
    val e1 = intercept[IllegalArgumentException](
      graft.expressions.TopKAgg(null, null, 0))
    assert(e1.getMessage.contains("k must be >= 1"))
    val e2 = intercept[IllegalArgumentException](
      graft.pipeline.IVF.train(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        "vec_id", "embedding", k = 1000000))
    assert(e2.getMessage.contains("smaller than k"))
  }
}
