package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * Measurement harness behind a frozen constant — re-run it before
 * changing it: exact [[graft.pipeline.Similarity.cosineNearDupPairs]]
 * (pinned) vs [[graft.pipeline.Similarity.lshNearDupPairs]] at growing
 * corpus sizes over the sf0.1 embeddings, each point timed by
 * [[graft.Bench.timeRow]] (median of three noop writes) — the measured
 * basis of [[graft.pipeline.Similarity.ExactTierMaxRows]].
 *
 *   sbt "runMain graft.tools.SentCal crossover"
 */
object SentCal {
  def main(args: Array[String]): Unit = {
    require(args.headOption.contains("crossover"),
      "usage: SentCal crossover")
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("sentcal")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    crossover(spark)
    spark.stop()
  }

  private def crossover(spark: SparkSession): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val base = spark.read.parquet(s"$dir/embeddings.parquet").count()
    for (c <- Seq(1, 4, 10, 32)) {
      val n = c * base
      def emb = graft.Bench.scaledEmb(spark, dir, c)
      val exact = graft.Bench.timeRow(() =>
        graft.pipeline.Similarity.cosineNearDupPairs(
          emb, "vec_id", "embedding", topPairs = 50,
          maxExactRows = Long.MaxValue))
      val lsh = graft.Bench.timeRow(() =>
        graft.pipeline.Similarity.lshNearDupPairs(
          emb, "vec_id", "embedding", topPairs = 50, dim = 64,
          knownCount = n))
      println(f"n=$n%7d (x$c%-2d)  exact ${exact.median}%8.3f s (iqr ${exact.iqr}%.3f)   lsh ${lsh.median}%8.3f s (iqr ${lsh.iqr}%.3f)   ratio ${exact.median / lsh.median}%6.2f")
    }
  }
}
