package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** The cluster-wide registration path: `spark.sql.extensions=graft.GraftExtensions`. */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects the full function surface") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    import org.apache.spark.sql.graftshim.GraftShim
    val injected = GraftShim.applyInjectedFunctions(ext, GraftShim.builtinRegistryClone())
    // both paths read TopnFunctions.catalog — iterate it so a function
    // added to one surface can never silently miss the other
    assert(TopnFunctions.catalog.size >= 21, "catalog unexpectedly shrank")
    for ((name, _, _) <- TopnFunctions.catalog) {
      assert(injected.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)), name)
    }
  }

  test("a session built with GraftExtensions warns about an unpartitioned Topn window") {
    val shared = SparkTestSession.spark
    // the production path: no register() call, only the extension
    val session = SparkSession.builder().withExtensions(new GraftExtensions).create()
    try {
      import session.implicits._
      Seq(("d1", "a"), ("d1", "b"), ("d2", "a"), ("d3", "c")).toDF("day", "item")
        .createOrReplaceTempView("ext_guard_events")
      def run(over: String): Unit = session.sql(
        s"""SELECT day, topn_union_agg(s) OVER ($over) AS m
           |FROM (SELECT day, topn_add_agg(item) AS s FROM ext_guard_events GROUP BY day)""".stripMargin)
        .collect()
      TopnWindowGuard.reset()
      run("PARTITION BY day ORDER BY day")
      assert(!TopnWindowGuard.hasFired,
        "a partitioned window is the scale-safe spelling; it must not warn")
      run("ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW")
      assert(TopnWindowGuard.hasFired,
        "an unpartitioned Topn window must fire the guardrail under the extension too")
    } finally {
      TopnWindowGuard.reset()
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }
}
