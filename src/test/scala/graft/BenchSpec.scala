package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The bench's timing protocol and contract line, exercised with planted
  * samples and thunks (no Spark). */
class BenchSpec extends AnyFunSuite {

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  test("median and IQR of planted samples, quartiles interpolated") {
    // three reps, any order: median the middle sample, IQR half the range
    val three = Bench.medianIqr(Seq(3.0, 1.0, 2.0))
    assert(close(three.median, 2.0) && close(three.iqr, 1.0))
    // one loaded rep moves the IQR, not the median
    val loaded = Bench.medianIqr(Seq(1.0, 9.0, 1.2))
    assert(close(loaded.median, 1.2) && close(loaded.iqr, 4.0))
    // the reducer is not tied to three samples
    val four = Bench.medianIqr(Seq(4.0, 1.0, 3.0, 2.0))
    assert(close(four.median, 2.5) && close(four.iqr, 1.5))
    val one = Bench.medianIqr(Seq(0.7))
    assert(close(one.median, 0.7) && one.iqr === 0.0)
    intercept[IllegalArgumentException](Bench.medianIqr(Seq.empty))
  }

  test("a row whose thunk throws lands in failed with its class and stays out of value") {
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val ok = Bench.attempt("topn_ok", failed)(Bench.Timing(1.5, 0.1))
    val bad = Bench.attempt("topn_bad", failed)(
      throw new ArithmeticException("planted overflow"))
    assert(ok === Some(Bench.Timing(1.5, 0.1)))
    assert(bad === None)
    assert(failed.toSeq === Seq("topn_bad" -> "java.lang.ArithmeticException"))
    val line = Bench.contractLine(4, "sf", Seq("topn_ok" -> ok.get), Seq.empty,
      Seq.empty, failed.toSeq)
    assert(line.contains(""""value":1.500,"""), "value sums the timed rows only")
    assert(!line.contains(""""topn_bad":-"""), "no -1 sentinel for a failed row")
  }

  test("a fatal error propagates through attempt") {
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    intercept[OutOfMemoryError](
      Bench.attempt("row", failed)(throw new OutOfMemoryError("planted")))
    assert(failed.isEmpty)
  }

  test("the contract line from planted rows parses and carries the kept keys plus iqr and failed") {
    val line = Bench.contractLine(
      cpus = 4,
      sf = "/data/sf0.01",
      queries = Seq("a_query" -> Bench.Timing(1.25, 0.5), "b_query" -> Bench.Timing(2.0, 0.0)),
      ops = Seq("a_op" -> Bench.Timing(0.5, 0.125)),
      growth = Seq("g_row" -> Seq(1 -> Bench.Timing(1.0, 0.25), 4 -> Bench.Timing(3.5, 0.75))),
      failed = Seq("g_row@x10" -> "java.lang.ArithmeticException"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.fieldNames().asScala.toSeq === Seq("metric", "value", "unit",
      "cpus", "queries", "ops", "growth", "iqr", "failed", "sf"))
    assert(json.get("metric").asText === "total")
    assert(close(json.get("value").asDouble, 3.25), "sum of the query medians")
    assert(json.get("unit").asText === "sec")
    assert(json.get("cpus").asInt === 4)
    assert(close(json.get("queries").get("a_query").asDouble, 1.25))
    assert(close(json.get("ops").get("a_op").asDouble, 0.5))
    assert(close(json.get("growth").get("g_row").get("x4").asDouble, 3.5))
    val iqr = json.get("iqr")
    assert(close(iqr.get("queries").get("a_query").asDouble, 0.5))
    assert(close(iqr.get("ops").get("a_op").asDouble, 0.125))
    assert(close(iqr.get("growth").get("g_row").get("x1").asDouble, 0.25))
    assert(json.get("failed").get("g_row@x10").asText === "java.lang.ArithmeticException")
    assert(json.get("sf").asText === "/data/sf0.01")
  }

  test("only a genuinely full run may write the committed artifact path") {
    // the r15 clobber, generalized (r15 ADVICE): a run deviating from
    // the default row set in ANY way — a filter, growth off, audit rows
    // on — must divert, or it overwrites the full-suite artifact
    assert(Bench.defaultOutFile(None, growthOn = true, skipAudits = true)
      === "BENCH_local.json")
    assert(Bench.defaultOutFile(Some(Seq("funnel")), growthOn = true,
      skipAudits = true) === "BENCH_only.json")
    assert(Bench.defaultOutFile(None, growthOn = false, skipAudits = true)
      === "BENCH_only.json")
    assert(Bench.defaultOutFile(None, growthOn = true, skipAudits = false)
      === "BENCH_only.json")
  }
}
