package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftConf
import graft.TopnFunctions.{topn, topn_union_agg}
import graft.streaming.TopnStreaming

final case class StreamEvent(period: String, grp: Int, item: String)

/**
 * Writes beside reads: `TopnStreaming.maintainRollup` over a 90-day rollup
 * is fed closed-loop micro-batches; 90% of a batch lands on the newest two
 * days and 10% arrives late on older ones. After each commit one reader
 * runs a top-10 over `committedRollup`. Per-batch group cardinality stays
 * below 3n, so the manifest commit, parquet IO and reads over a live rollup
 * carry the cost rather than evictions.
 */
object StreamMaintain {
  val Days = 90
  val Groups = 8
  val BatchEvents = 100000
  val Batches = 10
  val SeedEventsPerCell = 100
  val N: Int = GraftConf.DefaultNumberOfCounters
  val ReadDays = 7
  val LateDays = 8

  /** Items per group: groups 0-3 stay within the budget, so their stored
    * sketches are exact; groups 4-7 exceed it, so packing drops items. */
  def universe(grp: Int): Int = if (grp < Groups / 2) 800 else 2500

  def period(day: Int): String = f"d$day%03d"

  private def event(seed: Long, b: Int, i: Long, day: Int): StreamEvent = {
    val grp = (Gen.uniform(seed, 40 + b * 4L, i) * Groups).toInt
    val rank = Gen.zipfRank(Gen.uniform(seed, 41 + b * 4L, i), universe(grp), 1.1)
    StreamEvent(period(day), grp, Gen.item(rank, 2000 + grp))
  }

  /** Batch 0 seeds every (day, grp); later batches hit the newest two days,
    * with a tenth arriving up to a week late. Every batch touches the same
    * periods, so each seed rewrites and reads the same layout. */
  def batch(seed: Long, b: Int): Array[StreamEvent] =
    if (b == 0) Array.tabulate(Days * Groups * SeedEventsPerCell)(i =>
      event(seed, 0, i, i / (Groups * SeedEventsPerCell)))
    else Array.tabulate(BatchEvents) { i =>
      val u = Gen.uniform(seed, 42 + b * 4L, i)
      val day =
        if (u < 0.9) Days - 1 - (u / 0.45).toInt
        else Days - 3 - (Gen.uniform(seed, 43 + b * 4L, i) * LateDays).toInt
      event(seed, b, i, day)
    }
}

final class StreamMaintain(ctx: Ctx) extends Workload(ctx) {
  import StreamMaintain._
  import spark.implicits._

  private var path: String = _
  private var source: MemoryStream[StreamEvent] = _
  private var query: StreamingQuery = _
  private var setups = 0
  private var fed = 0
  private var last: Map[String, Long] = Map.empty
  /** Exact counts of every event fed: (period, grp) -> item -> count. */
  private val exact = new java.util.HashMap[(String, Int), java.util.HashMap[String, java.lang.Long]]
  private val recalls = new java.util.concurrent.ConcurrentLinkedQueue[Double]
  private val perBatch = Seq.newBuilder[(Double, Double, Double)]

  override def maxSteps: Int = Batches - 1  // after the seed batch
  override def warmSteps: Int = 3

  private def feed(b: Int): Array[StreamEvent] = {
    val events = batch(ctx.seed, b)
    events.foreach { e =>
      exact.computeIfAbsent((e.period, e.grp), _ => new java.util.HashMap)
        .merge(e.item, 1L, (x, y) => x + y)
    }
    fed += 1
    events
  }

  def setup(): Unit = {
    if (query != null) {
      query.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new File(path))
    }
    setups += 1
    exact.clear()
    fed = 0
    path = s"${ctx.work}/rollup-$setups"
    source = MemoryStream[StreamEvent](Encoders.product[StreamEvent], spark.sqlContext)
    query = TopnStreaming.maintainRollup(source.toDF(), path, $"period", "grp", $"item", N)
    source.addData(feed(0).toSeq)
    query.processAllAvailable()
    ctx.counters.drain()
    last = ctx.counters.group(query.runId.toString)
  }

  def step(client: Int, i: Int): Unit = {
    val b = fed
    val events = feed(b)
    val (_, op) = ctx.timed(client, "commit", units = events.length) { s =>
      ctx.tracer.span("streaming", "maintain_rollup") { _ =>
        source.addData(events.toSeq)
        query.processAllAvailable()
      }
    }
    // the query's jobs run under its own job group: the batch's share is
    // what that group gained since the previous batch
    ctx.counters.drain()
    val now = ctx.counters.group(query.runId.toString)
    op.spark = now.map { case (k, v) => k -> (v - last.getOrElse(k, 0L)) }
    last = now
    val version = TopnStreaming.committedVersion(spark, path)
    op.rows = events.length
    op.digest = Main.digest(Iterator(version.toString))
    op.verify = () =>
      if (version.contains(b.toLong)) Nil else Seq(s"committed version $version after batch $b")
    if (ctx.tracer.isTracing) perBatch += batchFiles(b, events.length)

    val g = (Gen.mix64(ctx.seed * 13L + b) & (Groups - 1)).toInt
    val days = (Days - ReadDays until Days).map(period)
    val (rows, read) = ctx.timed(client, "read", primary = false, read = true) { _ =>
      TopnStreaming.committedRollup(spark, path)
        .filter($"grp" === g && $"period".isin(days: _*))
        .agg(topn_union_agg($"sketch", N).as("m")).select(topn($"m", lit(10))).collect()
    }
    val got = DashboardQuery.top(rows.head, 0)
    val truth = new java.util.HashMap[String, java.lang.Long]
    days.foreach(p => Option(exact.get((p, g))).foreach(_.forEach((k, c) => truth.merge(k, c, (x, y) => x + y))))
    val want = truth.asScala.toSeq.map { case (k, c) => (k, c.longValue) }
      .sortBy { case (k, c) => (-c, k) }.take(10)
    recalls.add(got.count(e => want.exists(_._1 == e._1)).toDouble / want.size)
    read.rows = got.size
    read.digest = Main.digest(got.iterator.map(_.toString))
    read.verify = () => RollupBuild.orderFailures(s"read of grp $g", got) ++
      got.collect { case (k, f) if f > Option(truth.get(k)).fold(0L)(_.longValue) =>
        s"read of grp $g reports $k=$f above its exact count" } ++
      (if (truth.size <= N && got != want) Seq(s"read of grp $g differs from the exact top-10") else Nil)
  }

  override def sparkCounters(op: Op): Map[String, Long] =
    if (op.kind == "commit") op.spark else super.sparkCounters(op)

  /** (periods rewritten, files, bytes per event) of batch `b`, read from
    * its manifest and data directory. */
  private def batchFiles(b: Int, events: Int): (Double, Double, Double) = {
    val manifest = new File(s"$path/_manifests/m=$b")
    val rewritten = scala.io.Source.fromFile(manifest).getLines().count(_.startsWith(s"$b\t"))
    val files = Option(new File(s"$path/data/b=$b").listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-"))
    (rewritten.toDouble, files.length.toDouble, files.map(_.length).sum.toDouble / events)
  }

  override def check(): Seq[String] = {
    val version = TopnStreaming.committedVersion(spark, path)
    val versionOk =
      if (version.contains(fed - 1L)) Nil
      else Seq(s"committed version $version after $fed batches (ids 0..${fed - 1})")
    val stored = TopnStreaming.committedRollup(spark, path)
      .select($"period", $"grp", map_entries($"sketch")).collect()
    val cells = stored.toSeq.flatMap { r =>
      val key = (r.getString(0), r.getInt(1))
      val es = RollupBuild.entries(r, 2)
      val truth = exact.get(key)
      RollupBuild.orderFailures(s"$key", es) ++
        es.collect { case (k, f) if f > Option(truth.get(k)).fold(0L)(_.longValue) =>
          s"$key stores $k=$f above its exact count" } ++
        (if (truth.size <= N && es.toMap != truth.asScala.map { case (k, v) => k -> v.longValue }.toMap)
          Seq(s"$key holds ${truth.size} <= $N items but differs from the exact counts") else Nil)
    }
    val missing = if (stored.length == exact.size) Nil
      else Seq(s"${stored.length} stored (period, grp) rows, expected ${exact.size}")
    versionOk ++ missing ++ cells.take(10)
  }

  def recall: Double = {
    val rs = recalls.asScala.toSeq
    rs.sum / math.max(1, rs.size)
  }

  /** The first batches' events, as each (period, grp) state sees them. */
  def coreSegments: IndexedSeq[CoreReplay.Segment] =
    (1 to 10).flatMap(batch(ctx.seed, _)).groupBy(e => (e.period, e.grp)).values
      .map(es => CoreReplay.segment(es.map(e => (e.item, 1L)))).toIndexedSeq

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val commits = ops.filter(o => o.traced && o.kind == "commit")
    val pb = perBatch.result()
    // rows held in the referenced data directories over the rows live in
    // the manifest: what a full read scans per row it keeps
    val dirs = new File(s"$path/data").listFiles().filter(_.isDirectory).map(_.getPath)
    val scanned = spark.read.parquet(dirs.toSeq: _*).select("period").collect().length.toDouble
    val live = TopnStreaming.committedRollup(spark, path).select("period").collect().length.toDouble
    Map(
      "streaming.batch_commit_ms" -> Main.median(commits.map(_.ms)),
      "streaming.periods_rewritten_per_batch" -> Main.median(pb.map(_._1)),
      "streaming.files_per_batch" -> Main.median(pb.map(_._2)),
      "streaming.bytes_written_per_event" -> Main.median(pb.map(_._3)),
      "streaming.read_amplification" -> scanned / math.max(1.0, live))
  }

  override def close(): Unit = if (query != null) query.stop()
}
