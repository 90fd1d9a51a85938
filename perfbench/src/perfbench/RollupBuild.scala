package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftConf
import graft.TopnFunctions.{topn, topn_add_agg, topn_union_agg}
import graft.operators.Rollups

final case class Event(day: Int, grp: Int, item: String)

/**
 * Batch write path: `topn_add_agg(item) GROUP BY day, grp` at the default
 * budget, then a global sketch from `Rollups.hierarchicalUnion` over the
 * (day, grp) sketches. Distinct items per (day, grp) exceed 3n, so adds,
 * prunes, serde and the partial-to-final state exchange carry the cost.
 */
object RollupBuild {
  val Events = 1000000L
  val Days = 8
  val Groups = 8
  val Universe = 1000000
  val Skew = 1.1
  val TopK = 100
  val N: Int = GraftConf.DefaultNumberOfCounters

  def event(seed: Long, i: Long): Event = Event(
    (Gen.uniform(seed, 1, i) * Days).toInt,
    (Gen.uniform(seed, 2, i) * Groups).toInt,
    Gen.item(Gen.zipfRank(Gen.uniform(seed, 3, i), Universe, Skew), 0))

  /** Rows of a map column as (item, frequency) pairs, in stored order. */
  def entries(r: Row, i: Int): Seq[(String, Long)] =
    r.getSeq[Row](i).map(e => (e.getString(0), e.getLong(1)))

  /** Failures of the pinned (frequency desc, item asc) order. */
  def orderFailures(where: String, es: Seq[(String, Long)]): Seq[String] =
    es.sliding(2).collect {
      case Seq((a, fa), (b, fb)) if fa < fb || (fa == fb && a.compareTo(b) >= 0) =>
        s"$where: ($a, $fa) before ($b, $fb) breaks (frequency desc, item asc)"
    }.toSeq
}

final class RollupBuild(ctx: Ctx) extends Workload(ctx) {
  import RollupBuild._
  import spark.implicits._

  private var events: DataFrame = _
  private var rollup: DataFrame = _
  private var recallValue = 0.0

  override def warmSteps: Int = 1
  override def maxSteps: Int = 11

  def setup(): Unit = {
    if (events != null) events.unpersist(true)
    val seed = ctx.seed
    events = spark.range(0L, Events, 1L, ctx.cores * 4)
      .map(i => event(seed, i))(Encoders.product[Event]).toDF()
      .persist(StorageLevel.MEMORY_ONLY)
    events.write.format("noop").mode("overwrite").save()
  }

  def step(client: Int, i: Int): Unit = {
    if (rollup != null) rollup.unpersist(true)
    val ((built, global), op) = ctx.timed(client, "build", units = Events) { _ =>
      val r = ctx.tracer.span("expressions", "topn_add_agg") { _ =>
        val r = events.groupBy($"day", $"grp").agg(topn_add_agg($"item", N).as("sketch"))
          .persist(StorageLevel.MEMORY_ONLY)
        r.write.format("noop").mode("overwrite").save()
        r
      }
      val g = ctx.tracer.span("operators", "hierarchical_union") { _ =>
        Rollups.hierarchicalUnion(r, "sketch", N).select(map_entries($"sketch")).collect()
      }
      (r, g)
    }
    rollup = built
    val content = built.agg(count(lit(1)), bit_xor(xxhash64($"day", $"grp", to_json($"sketch"))))
      .head()
    op.rows = content.getLong(0)
    op.digest = Main.digest(Iterator(content.get(1).toString) ++ global.iterator.map(_.toString))
    val globalEntries = entries(global.head, 0)
    op.verify = () => {
      val rowsOk = if (op.rows == Days * Groups) Nil else Seq(s"${op.rows} rollup rows, expected ${Days * Groups}")
      rowsOk ++ orderFailures("global sketch", globalEntries) ++
        (if (globalEntries.size == N) Nil else Seq(s"global sketch holds ${globalEntries.size} items, expected $N"))
    }

    // a dashboard read over the rollup just built: each group's top-10
    val (top, read) = ctx.timed(client, "read", primary = false, read = true) { _ =>
      built.groupBy($"grp").agg(topn_union_agg($"sketch", N).as("m"))
        .select($"grp", topn($"m", lit(10))).collect()
    }
    val got = top.map(r => r.getInt(0) -> r.getSeq[Row](1).map(e => (e.getString(0), e.getLong(1)))).toMap
    read.rows = got.size
    read.digest = Main.digest(got.toSeq.sortBy(_._1).iterator.map(_.toString))
    read.verify = () =>
      (if (got.size == Groups) Nil else Seq(s"read returned ${got.size} groups, expected $Groups")) ++
        got.toSeq.flatMap { case (g, es) =>
          orderFailures(s"read of grp $g", es) ++ es.collect {
            case (k, f) if f > (0 until Days).map(day => exact((day, g)).getOrElse(k, 0L)).sum =>
              s"read of grp $g reports $k=$f above its exact count"
          }
        }
  }

  /** Exact counts per (day, grp), recomputed on the driver from the seed. */
  private lazy val exact: Map[(Int, Int), Map[String, Long]] = {
    val m = new java.util.HashMap[(Int, Int), java.util.HashMap[String, java.lang.Long]]
    var i = 0L
    while (i < Events) {
      val e = event(ctx.seed, i)
      m.computeIfAbsent((e.day, e.grp), _ => new java.util.HashMap).merge(e.item, 1L, (a, b) => a + b)
      i += 1
    }
    m.asScala.map { case (k, v) => k -> v.asScala.map { case (i, c) => i -> c.longValue }.toMap }.toMap
  }

  override def check(): Seq[String] = {
    val stored = rollup.select($"day", $"grp", map_entries($"sketch")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> entries(r, 2)).toMap
    val failures = stored.toSeq.flatMap { case (key, es) =>
      val truth = exact(key)
      orderFailures(s"$key", es) ++
        es.collect { case (k, f) if f > truth.getOrElse(k, 0L) =>
          s"$key reports $k=$f above its exact count ${truth.getOrElse(k, 0L)}" } ++
        // below the budget the sketch never evicts, so it must equal the counts
        (if (truth.size <= N && es.toMap != truth) Seq(s"$key holds ${truth.size} items but differs from the exact counts") else Nil)
    }
    val recalls = stored.toSeq.map { case (key, es) =>
      val top = exact(key).toSeq.sortBy { case (k, c) => (-c, k) }.take(TopK).map(_._1)
      val kept = es.map(_._1).toSet
      top.count(kept).toDouble / top.size
    }
    recallValue = recalls.sum / math.max(1, recalls.size)
    failures.take(10)
  }

  def recall: Double = recallValue

  /** The stream one (day, grp) state sees, for the groups of grp 0. */
  def coreSegments: IndexedSeq[CoreReplay.Segment] = {
    val byDay = Array.fill(Days)(Array.newBuilder[(String, Long)])
    var i = 0L
    while (i < Events) {
      val e = event(ctx.seed, i)
      if (e.grp == 0) byDay(e.day) += ((e.item, 1L))
      i += 1
    }
    byDay.map(b => CoreReplay.segment(b.result())).toIndexedSeq
  }

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val builds = ops.filter(o => o.traced && o.kind == "build")
    val spans = ctx.tracer.all
    def child(o: Op, name: String) = spans.find(s => s.root == o.span.root && s.name == name)
    def med(name: String)(f: (Span, Map[String, Long]) => Double): Double =
      Main.median(builds.flatMap(o => child(o, name)).map(s => f(s, ctx.counters.group(s.group))))
    // the exact alternative the sketch competes with: count every item, rank
    val rank = Window.partitionBy($"day", $"grp").orderBy($"cnt".desc, $"item".asc)
    val exactTopk = ctx.tracer.span("spark", "exact_topk") { s =>
      events.groupBy($"day", $"grp", $"item").agg(count(lit(1)).as("cnt"))
        .withColumn("r", row_number().over(rank)).filter($"r" <= N)
        .write.format("noop").mode("overwrite").save()
      s
    }
    Map(
      "expressions.add_agg_rows_per_cpu_s" -> med("topn_add_agg")((_, c) =>
        Events / math.max(1e-9, c.getOrElse("cpu_ns", 0L) / 1e9)),
      "expressions.partial_state_bytes" -> med("topn_add_agg")((_, c) =>
        c.getOrElse("shuffle_write_bytes", 0L).toDouble),
      "expressions.union_sketches_per_cpu_s" -> med("hierarchical_union")((_, c) =>
        Days * Groups / math.max(1e-9, c.getOrElse("cpu_ns", 0L) / 1e9)),
      "operators.hierarchical_union_ms" -> med("hierarchical_union")((s, _) => s.ms),
      "spark.exact_topk_s" -> exactTopk.ms / 1e3)
  }

  override def close(): Unit = spark.catalog.clearCache()
}
