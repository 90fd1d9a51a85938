package perfbench

import java.nio.file.Paths
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.TopnFunctions

/** An exception already recorded as the error of a timed operation. */
final class OpFailed(cause: Exception) extends RuntimeException(cause)

/** One timed operation: what it did, how long it took, and what it returned. */
final class Op(val client: Int, val kind: String, val primary: Boolean, val read: Boolean,
    val units: Long, val warm: Boolean, val traced: Boolean, val span: Span) {
  var startNs, endNs = 0L
  var rows = -1L
  var digest = ""
  var error: String = null
  /** Output checks, run after the measured window. */
  var verify: () => Seq[String] = () => Nil
  /** Spark counters of the operation, filled after the window. */
  var spark: Map[String, Long] = Map.empty
  def sparkOf(k: String): Long = spark.getOrElse(k, 0L)
  def ms: Double = (endNs - startNs) / 1e6
}

final class Ctx(val spark: SparkSession, val seed: Long, val trace: Boolean,
    val work: String, val cores: Int) {
  val counters = new SparkCounters(spark.sparkContext)
  val tracer = new Tracer(spark.sparkContext)
  val ops = new ConcurrentLinkedQueue[Op]
  /** Steps that failed outside any timed operation. */
  val stepFailures = new ConcurrentLinkedQueue[String]
  @volatile var warm = true

  /** Run `body` as one timed operation. Its output is fully materialized by
    * `body` itself (a collect or a `noop` write), never by `.count()`. */
  def timed[T](client: Int, kind: String, primary: Boolean = true, read: Boolean = false,
      units: Long = 1L)(body: Span => T): (T, Op) =
    tracer.span("op", kind) { s =>
      val op = new Op(client, kind, primary, read, units, warm, tracer.isTracing, s)
      ops.add(op)
      op.startNs = System.nanoTime()
      try {
        val r = body(s)
        op.endNs = System.nanoTime()
        (r, op)
      } catch {
        case e: Exception =>
          op.endNs = System.nanoTime()
          op.error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          throw new OpFailed(e)
      }
    }
}

/**
 * A workload: seeded inputs, a closed-loop step, output checks and the
 * per-layer numbers its traced run reports.
 */
abstract class Workload(val ctx: Ctx) {
  val spark: SparkSession = ctx.spark
  def clients: Int = 1
  def maxSteps: Int = Int.MaxValue
  def warmSteps: Int = 1
  /** (Re)generate the inputs, releasing the previous ones first. */
  def setup(): Unit
  def step(client: Int, i: Int): Unit
  /** Run-level output checks, after the window; returns failures. */
  def check(): Seq[String] = Nil
  /** Recall of the workload's ground truth, computed by the checks. */
  def recall: Double
  /** Spark counters of one operation: those of its spans, by default. */
  def sparkCounters(op: Op): Map[String, Long] = ctx.tracer.rollup(ctx.counters, op.span)
  /** The workload's own item stream for the `core` replay. */
  def coreSegments: IndexedSeq[CoreReplay.Segment]
  /** Per-layer metrics beyond `core`, `spark` and tracing overhead. */
  def layers(ops: Seq[Op]): Map[String, Double]
  def close(): Unit = ()
}

object Main {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Heap the workload holds once garbage is gone: its inputs, caches and
    * sketches. (The JVM's resident set follows the fixed heap and the
    * timing of collections instead.) */
  private def liveHeapMb(): Double = {
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    heap.getUsed / 1048576.0
  }

  val SetupReps = 3
  val SettleMs = 1000L
  private lazy val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private def log(what: String): Unit =
    System.err.println(f"perfbench: $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cores = opts("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    TopnFunctions.register(spark)
    log("session ready")
    val ctx = new Ctx(spark, seed, trace, work, cores)
    spark.sparkContext.addSparkListener(ctx.counters)

    val code =
      try if (workload == "classes") loadClasses(ctx) else run(ctx, workload, seconds)
      catch { case e: Throwable => e.printStackTrace(); 2 }
    // The run's scratch space lives under the checkout and is deleted by
    // run.py, so the JVM skips Spark's orderly shutdown, which takes
    // seconds and measures nothing.
    System.out.flush()
    log("exit")
    Runtime.getRuntime.halt(code)
  }

  private def workload(ctx: Ctx, name: String): Workload = name match {
    case "rollup_build" => new RollupBuild(ctx)
    case "dashboard_query" => new DashboardQuery(ctx)
    case "stream_maintain" => new StreamMaintain(ctx)
    case "curation_chain" => new CurationChain(ctx)
  }

  /** One step of every workload, so the build can record the classes a run
    * loads in a class-data-sharing archive (see build.py). */
  private def loadClasses(ctx: Ctx): Int = {
    Seq("rollup_build", "dashboard_query", "stream_maintain", "curation_chain").foreach { name =>
      val w = workload(ctx, name)
      w.setup()
      w.step(0, 0)
      w.close()
    }
    0
  }

  private def run(ctx: Ctx, name: String, seconds: Double): Int = {
    val w = workload(ctx, name)
    val t0 = System.nanoTime()
    val setups = (1 to SetupReps).map { _ =>
      val s = System.nanoTime()
      w.setup()
      (System.nanoTime() - s) / 1e9
    }

    log("setup done")
    ctx.warm = true
    drive(ctx, w, Long.MaxValue, w.warmSteps, 0)
    ctx.warm = false
    // every run enters the window from the same state: warm-up garbage
    // collected and the JIT compile queue given time to drain
    System.gc()
    Thread.sleep(SettleMs)
    ctx.counters.drain()
    val windowStart = System.nanoTime()
    drive(ctx, w, windowStart + (seconds * 1e9).toLong, w.maxSteps - w.warmSteps, w.warmSteps)
    ctx.counters.drain()

    log("window done")
    val liveMb = liveHeapMb()
    val ops = ctx.ops.asScala.toSeq
    val timed = ops.filter(o => !o.warm && o.error == null)
    timed.foreach(o => o.spark = w.sparkCounters(o))
    val windowEnd = (timed.map(_.endNs) :+ windowStart).max

    val failures = Seq.newBuilder[String]
    var failedOps = 0
    ops.foreach { o =>
      val f = if (o.error != null) Seq(o.error) else o.verify()
      if (f.nonEmpty) {
        failedOps += 1
        failures ++= f.take(3).map(m => s"${o.kind}: $m")
      }
    }
    log("op checks done")
    val runFailures = ctx.stepFailures.asScala.toSeq ++ w.check()
    failures ++= runFailures
    val failed = failedOps + runFailures.size
    val attempted = ops.size + runFailures.size

    log("checks done")
    val primary = timed.filter(_.primary)
    val metrics: Seq[(String, Double, String)] =
      if (!ctx.trace) Seq(
        ("setup_s", median(setups), "s"),
        ("op_p50_ms", median(primary.map(_.ms)), "ms"),
        ("op_p90_ms", quantile(primary.map(_.ms), 0.9), "ms"),
        ("read_p50_ms", median(timed.filter(_.read).map(_.ms)), "ms"),
        ("throughput_per_s",
          primary.map(_.units).sum / math.max(1e-9, (windowEnd - windowStart) / 1e9), "1/s"),
        ("cpu_s_per_op", median(primary.map(_.sparkOf("cpu_ns") / 1e9)), "s"),
        ("live_heap_mb", liveMb, "MB"),
        ("recall", w.recall, "ratio"))
      else {
        val core = CoreReplay.run(w.coreSegments, graft.GraftConf.DefaultNumberOfCounters)
        Layers.all(ctx, w, timed, core)
      }

    w.close()
    val opLines = ops.map { o =>
      s"""{"op":"${o.kind}","span":${o.span.id},"client":${o.client},"warm":${o.warm},""" +
        s""""traced":${o.traced},"ms":${o.ms},"rows":${o.rows},"digest":"${o.digest}"}"""
    }
    ctx.tracer.write(Paths.get(ctx.work).getParent.resolve(
      s"traces/$name-seed${ctx.seed}-trace${if (ctx.trace) 1 else 0}.jsonl"), ctx.counters, t0, opLines)

    val out = System.out
    out.println(s"workload $name seed ${ctx.seed} trace ${if (ctx.trace) 1 else 0}: " +
      s"${ops.size} operations, ${timed.size} in the window, setups ${setups.map("%.3f".format(_)).mkString(" ")} s")
    timed.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      out.println(f"  op $k%-24s n=${os.size}%4d p50=${median(os.map(_.ms))}%9.2f ms " +
        s"rows=${os.last.rows} digest=${os.last.digest}")
    }
    val fs = failures.result()
    out.println(s"checks: ${if (fs.isEmpty) "all passed" else s"${fs.size} FAILED"}")
    fs.take(20).foreach(f => out.println(s"  FAILED $f"))
    metrics.foreach { case (k, v, u) => out.println(f"  $k%-44s $v%16.6f $u") }
    val json = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    out.println(s"""{"correct": ${fs.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
    out.flush()
    if (fs.isEmpty) 0 else 1
  }

  /** Closed loop: each client issues its next step when the previous one
    * returns, until the deadline or its step budget. In a traced run half
    * the steps are untraced, so tracing overhead is measured in-run. */
  private def drive(ctx: Ctx, w: Workload, deadline: Long, steps: Int, first: Int): Unit = {
    def client(c: Int): Unit = {
      var i = 0
      while (i < steps && System.nanoTime() < deadline) {
        // traced and untraced steps alternate in ABBA order, so warming
        // up favours neither side of the overhead figure
        val on = ctx.trace && !ctx.warm && (i % 4 == 1 || i % 4 == 2)
        try ctx.tracer.traced(on)(w.step(c, first + i))
        catch {
          case e: Exception =>
            System.err.println(s"step ${first + i} of client $c failed: $e")
            if (!e.isInstanceOf[OpFailed]) ctx.stepFailures.add(s"step ${first + i}: $e")
        }
        i += 1
      }
    }
    if (w.clients == 1) client(0)
    else {
      val pool = Executors.newFixedThreadPool(w.clients)
      (0 until w.clients).foreach(c => pool.submit(new Runnable { def run(): Unit = client(c) }))
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.HOURS)
    }
  }
}
