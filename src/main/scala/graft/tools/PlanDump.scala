package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * Plan/timing probe for optimization work: for each named query (or op),
 * prints `.explain("formatted")` to a file and optionally times the row
 * by the bench's protocol ([[graft.Bench.timeRow]]: noop-sink writes,
 * median and IQR of three reps after an untimed sf0.001 warm-up).
 *
 *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.PlanDump <outDir> <name1> <name2> ..."
 *
 * Env knob: SPARK_GRAFT_PLAN_TIME=0 skips the timed run (plans only).
 * Same session config as Bench so the plans match what the bench runs.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <queryName>...")
    val outDir = args.head
    val names = args.tail.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val doTime = sys.env.getOrElse("SPARK_GRAFT_PLAN_TIME", "1") != "0"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.TopnFunctions.register(spark)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnly
    // growth rows address a (row, scale) point: "g_lsh_neardup@x32" plans
    // the row's builder at that replica count — the x32/x100 regimes are
    // where the verify-join ladder changes shape, invisible at sf-scale
    val growth: Map[String, Int => org.apache.spark.sql.DataFrame] =
      graft.Bench.growthSuiteForPlans(spark, sfDir)
        .map(g => g._1 -> g._3).toMap
    names.foreach { name =>
      val fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
        name.split("@x") match {
          case Array(g, c) if growth.contains(g) =>
            (_, _) => growth(g)(c.toInt)
          case _ =>
            all.getOrElse(name,
              sys.error(s"unknown query '$name'; known: ${all.keys.toSeq.sorted.take(20).mkString(", ")}..."))
        }
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$name.txt"), plan)
      if (doTime) {
        // warm-up on the smallest SF as the bench does (growth points
        // close over their own dir+scale — a "warm-up" would run the
        // full point, so they skip it)
        if (!name.contains("@x")) graft.Bench.warmUp(name)(
          graft.Bench.materialize(fn(spark, graft.Bench.warmDir(sfDir))))
        val t = graft.Bench.timeRow(() => fn(spark, sfDir))
        println(f"""{"plandump":"$name","noop_median_sec":${t.median}%.3f,"noop_iqr_sec":${t.iqr}%.3f,"reps":${graft.Bench.Reps}%d}""")
      } else println(s"""{"plandump":"$name","plan_only":true}""")
    }
    spark.stop()
  }
}
