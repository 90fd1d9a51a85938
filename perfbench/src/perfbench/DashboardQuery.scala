package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftConf
import graft.TopnFunctions.{topn, topn_union_agg}
import graft.operators.Rollups

final case class StoredSketch(day: Int, grp: Int, keys: Seq[String], counts: Seq[Long])

/**
 * Read path over a stored rollup of 365 days x 16 groups, generated
 * directly as packed sketches with Zipf-shaped counts and day-to-day key
 * drift. Two closed-loop clients draw seeded queries from a fixed mix; no
 * adds run, so per-query fixed costs and sketch union dominate.
 */
object DashboardQuery {
  val Days = 365
  val Groups = 16
  val N: Int = GraftConf.DefaultNumberOfCounters
  val Clients = 2
  val NarrowFrame = 7
  val WideFrame = 120
  /** Sliding merges cover the most recent half year of one group. */
  val SlidingDays = 180
  require(NarrowFrame < Rollups.SlidingMergeCrossover && WideFrame >= Rollups.SlidingMergeCrossover)

  /** Items per stored sketch: fewer than the budget, as in a rollup whose
    * periods hold fewer distinct items than n. */
  val Width = 400

  /** The stored sketch of (day, grp), in the pinned (frequency desc, item
    * asc) order. Rank r keeps its item for about r/8 days, so popular
    * items are stable and the tail drifts. */
  def sketch(seed: Long, day: Int, grp: Int): Array[(String, Long)] = {
    val out = new Array[(String, Long)](Width)
    var r = 1
    while (r <= Width) {
      val life = 1 + r / 8
      val phase = (Gen.mix64(seed * 31L + grp * 100003L + r) >>> 1) % life
      val epoch = (day + phase) / life
      val noise = 0.75 + 0.5 * Gen.uniform(seed, 20 + grp, day.toLong * Width + r)
      out(r - 1) = (Gen.item(r + Width.toLong * epoch, 1000 + grp),
        math.max(1L, (1e6 / math.pow(r, 1.1) * noise).toLong))
      r += 1
    }
    out.sortBy { case (k, c) => (-c, k) }
  }

  sealed trait Query { def kind: String }
  final case class OneGroup(grp: Int, from: Int, to: Int) extends Query { def kind = "one_group_top10" }
  final case class AllGroups(from: Int, to: Int) extends Query { def kind = "all_groups_top10" }
  final case class Sliding(grp: Int, frame: Int) extends Query {
    def kind: String = if (frame < Rollups.SlidingMergeCrossover) "sliding_narrow" else "sliding_wide"
  }

  /** Query classes per cycle of 16 steps of one client: 7 one-group
    * top-10s over 1-30 days, 4 all-group top-10s over 7 days, 2 sliding
    * merges with a 7-row frame and 3 with a 120-row frame. A fixed quota
    * keeps the realized mix equal across seeds, and keeps the median and
    * the 90th percentile inside a class rather than on the edge between
    * two, where they would jump from run to run. */
  val Cycle: Seq[Int] = Seq.fill(7)(0) ++ Seq.fill(4)(1) ++ Seq.fill(2)(2) ++ Seq.fill(3)(3)

  /** The i-th query of a client, of class `cls` when given (warm-up runs
    * every class once) and else of the class its cycle slot draws. */
  def query(seed: Long, client: Int, i: Int, cls: Option[Int] = None): Query = {
    def u(k: Int) = Gen.uniform(seed, 100 + client * 8 + k, i)
    val order = Cycle.zipWithIndex.sortBy { case (_, j) =>
      Gen.mix64(seed * 7919L + client * 104729L + i / Cycle.size * 31L + j) }.map(_._1)
    val g = (u(1) * Groups).toInt
    cls.getOrElse(order(i % Cycle.size)) match {
      case 0 =>
        val len = 1 + (u(2) * 30).toInt
        val from = (u(3) * (Days - len + 1)).toInt
        OneGroup(g, from, from + len - 1)
      case 1 =>
        val from = (u(3) * (Days - 6)).toInt
        AllGroups(from, from + 6)
      case 2 => Sliding(g, NarrowFrame)
      case _ => Sliding(g, WideFrame)
    }
  }

  def top(r: Row, i: Int): Seq[(String, Long)] =
    r.getSeq[Row](i).map(e => (e.getString(0), e.getLong(1)))
}

final class DashboardQuery(ctx: Ctx) extends Workload(ctx) {
  import DashboardQuery._
  import spark.implicits._

  private var rollup: DataFrame = _
  private val recalls = new java.util.concurrent.ConcurrentLinkedQueue[Double]

  override def clients: Int = Clients
  override def warmSteps: Int = 4
  override def maxSteps: Int = warmSteps + Cycle.size

  def setup(): Unit = {
    if (rollup != null) rollup.unpersist(true)
    val seed = ctx.seed
    // stored clustered by (grp, day) in small cached batches, so a query
    // reads the batches of its group and days, as from a clustered table
    spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "32")
    rollup = spark.range(0L, Days.toLong * Groups, 1L, ctx.cores * 2)
      .map { i =>
        val (grp, day) = ((i / Days).toInt, (i % Days).toInt)
        val s = sketch(seed, day, grp)
        StoredSketch(day, grp, s.map(_._1).toSeq, s.map(_._2).toSeq)
      }(Encoders.product[StoredSketch])
      .select($"day", $"grp", map_from_arrays($"keys", $"counts").as("sketch"))
      .persist(StorageLevel.MEMORY_ONLY)
    rollup.write.format("noop").mode("overwrite").save()
  }

  private def plan(q: Query): DataFrame = q match {
    case OneGroup(g, from, to) =>
      rollup.filter($"grp" === g && $"day".between(from, to))
        .agg(topn_union_agg($"sketch", N).as("m")).select(topn($"m", lit(10)))
    case AllGroups(from, to) =>
      rollup.filter($"day".between(from, to)).groupBy($"grp")
        .agg(topn_union_agg($"sketch", N).as("m")).select($"grp", topn($"m", lit(10)))
    case Sliding(g, frame) =>
      Rollups.slidingMerge(rollup.filter($"grp" === g && $"day" >= Days - SlidingDays)
        .select($"day", $"sketch"),
        "day", "sketch", frame, N).select($"day", topn($"sketch", lit(10)))
  }

  def step(client: Int, i: Int): Unit = {
    // warm-up draws its own queries, so the window runs one whole cycle
    val q =
      if (i < warmSteps) query(ctx.seed, client, 1000 + i, Some(i % 4))
      else query(ctx.seed, client, i - warmSteps)
    val (rows, op) = ctx.timed(client, q.kind, read = q.isInstanceOf[OneGroup]) { s =>
      val df = ctx.tracer.span("operators", "plan_build") { _ => plan(q) }
      s.attrs.put("sketches_in", q match {
        case OneGroup(_, from, to) => to - from + 1.0
        case AllGroups(from, to) => (to - from + 1.0) * Groups
        case Sliding(_, _) => SlidingDays.toDouble
      })
      df.collect()
    }
    op.rows = rows.length
    op.digest = Main.digest(rows.iterator.map(_.toString))
    op.verify = () => verify(q, rows)
  }

  private val memo = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[(String, Long)]]
  private def stored(grp: Int, day: Int) =
    memo.computeIfAbsent((grp, day), _ => sketch(ctx.seed, day, grp))

  /** Exact item sums over the days `from..to` of one group. */
  private def exactOver(grp: Int, from: Int, to: Int): java.util.HashMap[String, java.lang.Long] = {
    val acc = new java.util.HashMap[String, java.lang.Long]
    (from to to).foreach(d => stored(grp, d).foreach { case (k, c) => acc.merge(k, c, (a, b) => a + b) })
    acc
  }

  private def topOf(exact: java.util.HashMap[String, java.lang.Long]): Seq[(String, Long)] =
    exact.asScala.toSeq.map { case (k, v) => (k, v.longValue) }.sortBy { case (k, c) => (-c, k) }.take(10)

  /** A result against the exact sums: never above them, in the pinned
    * order, and equal to the exact top-10 when the union holds <= n items. */
  private def against(where: String, got: Seq[(String, Long)],
      exact: java.util.HashMap[String, java.lang.Long]): Seq[String] =
    RollupBuild.orderFailures(where, got) ++
      got.collect { case (k, f) if f > Option(exact.get(k)).fold(0L)(_.longValue) =>
        s"$where reports $k=$f above its exact count ${exact.get(k)}" } ++
      (if (exact.size <= N && got != topOf(exact))
        Seq(s"$where covers ${exact.size} <= $N items but differs from the exact top-10") else Nil)

  private def verify(q: Query, rows: Array[Row]): Seq[String] = q match {
    case OneGroup(g, from, to) =>
      val exact = exactOver(g, from, to)
      val got = top(rows.head, 0)
      val want = topOf(exact).map(_._1).toSet
      recalls.add(got.count(e => want(e._1)).toDouble / want.size)
      against(s"grp $g days $from..$to", got, exact)
    case AllGroups(from, to) =>
      (if (rows.length == Groups) Nil else Seq(s"${rows.length} groups, expected $Groups")) ++
        rows.toSeq.flatMap(r => against(s"grp ${r.getInt(0)} days $from..$to", top(r, 1),
          exactOver(r.getInt(0), from, to)))
    case Sliding(g, frame) =>
      // the frame's exact sums, slid one period at a time
      val exact = new java.util.HashMap[String, java.lang.Long]
      val byDay = rows.map(r => r.getInt(0) -> top(r, 1)).toMap
      val first = Days - SlidingDays
      (if (rows.length == SlidingDays) Nil else Seq(s"${rows.length} periods, expected $SlidingDays")) ++
        (first until Days).flatMap { t =>
          stored(g, t).foreach { case (k, c) => exact.merge(k, c, (a, b) => a + b) }
          if (t - frame >= first) stored(g, t - frame).foreach { case (k, c) =>
            exact.merge(k, -c, (a, b) => if (a + b == 0L) null else a + b) }
          against(s"grp $g frame ending $t", byDay.getOrElse(t, Nil), exact)
        }
  }

  def recall: Double = {
    val rs = recalls.asScala.toSeq
    rs.sum / math.max(1, rs.size)
  }

  /** A year of four groups' stored sketches, added entry by entry. */
  def coreSegments: IndexedSeq[CoreReplay.Segment] =
    (0 until 4).map(g => CoreReplay.segment((0 until Days).flatMap(d => stored(g, d))))

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val spans = ctx.tracer.all
    val traced = ops.filter(_.traced)
    def kindMs(k: String) = Main.median(ops.filter(_.kind == k).map(_.ms))
    val unions = traced.filter(o => o.kind == "one_group_top10" || o.kind == "all_groups_top10")
    Map(
      "operators.sliding_narrow_ms" -> kindMs("sliding_narrow"),
      "operators.sliding_wide_ms" -> kindMs("sliding_wide"),
      "operators.plan_build_ms" -> Main.median(spans.filter(s => s.name == "plan_build" &&
        traced.exists(_.span.id == s.parent)).map(_.ms)),
      "expressions.union_sketches_per_cpu_s" -> Main.median(unions.map(o =>
        o.span.attr("sketches_in") / math.max(1e-9, o.sparkOf("cpu_ns") / 1e9))))
  }

  override def close(): Unit = spark.catalog.clearCache()
}
