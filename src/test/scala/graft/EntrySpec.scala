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

  test("oracleSql / queries map literals have no duplicate keys") {
    // A Scala Map literal silently keeps the LAST duplicate entry, so a
    // duplicated key would shadow one query or oracle. Guard PER literal:
    // split the source at the oracleSql declaration and assert each key
    // appears at most once on each side.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val parts = src.split("def oracleSql", 2)
    assert(parts.length === 2, "oracleSql declaration not found")
    // anchored to the entry position (4-space indent at line start) so
    // string-keyed Map literals INSIDE query bodies don't false-trip
    val keyRe = """(?m)^    "([a-z0-9_]+)" ->""".r
    for ((section, label) <- Seq((parts(0), "queries"), (parts(1), "oracleSql"))) {
      val keys = keyRe.findAllMatchIn(section).map(_.group(1)).toSeq
      val dups = keys.groupBy(identity).filter(_._2.size > 1).keys
      assert(dups.isEmpty, s"duplicated keys in $label: ${dups.mkString(", ")}")
    }
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
