package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark work done under one job group, summed over its jobs, stages and tasks. */
final class Counters {
  val jobs, stages, tasks, runNs, cpuNs, gcNs, planNs = new LongAdder
  val shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes = new LongAdder
  val spillBytes, resultBytes, inputRecords = new LongAdder

  private def fields = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ns" -> runNs,
    "cpu_ns" -> cpuNs, "gc_ns" -> gcNs, "plan_ns" -> planNs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_write_records" -> shuffleWriteRecords,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "result_bytes" -> resultBytes, "input_records" -> inputRecords)

  def snapshot: Map[String, Long] = fields.map { case (k, v) => k -> v.sum }.toMap
}

object Counters {
  def sum(cs: Iterable[Map[String, Long]]): Map[String, Long] =
    cs.foldLeft(Map.empty[String, Long]) { (acc, c) =>
      c.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0L) + v) }
    }
}

/**
 * Attributes scheduler and SQL-execution events to the job group that
 * submitted them. Every span owns one job group, so a span's Spark cost is
 * the counters of its group. Events arrive on the listener bus thread;
 * [[drain]] waits until the bus has delivered everything posted so far.
 */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val executionGroup = new ConcurrentHashMap[Long, String]

  private def of(group: String): Option[Counters] =
    Option(group).map(g => byGroup.computeIfAbsent(g, _ => new Counters))

  def group(id: String): Map[String, Long] =
    Option(byGroup.get(id)).map(_.snapshot).getOrElse(Map.empty)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val g = props.map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      e.stageIds.foreach(stageGroup.put(_, g))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => executionGroup.put(id.toLong, g))
    }
    of(g).foreach(_.jobs.increment())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageGroup.get(e.stageInfo.stageId)).foreach(_.stages.increment())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) of(stageGroup.get(e.stageId)).foreach { c =>
      c.tasks.increment()
      c.runNs.add(m.executorRunTime * 1000000L)
      c.cpuNs.add(m.executorCpuTime)
      c.gcNs.add(m.jvmGCTime * 1000000L)
      c.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleWriteRecords.add(m.shuffleWriteMetrics.recordsWritten)
      c.shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.resultBytes.add(m.resultSize)
      c.inputRecords.add(m.inputMetrics.recordsRead)
    }
  }

  /** Planning time of a finished SQL execution, from the query's own
    * planning tracker. The event's `qe` is `private[sql]`, hence reflection. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
      if (qe != null) {
        val phases = qe.tracker.phases
        val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
        of(executionGroup.get(end.executionId)).foreach(_.planNs.add(ms * 1000000L))
      }
    case _ =>
  }

  /** Wait until every event posted so far has reached the listeners. The
    * bus is `private[spark]`, hence the reflective call. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(60000L))
  }
}

/** One timed region around a call into a layer. `group` is the Spark job
  * group its jobs run under; `root` is the operation it belongs to. */
final case class Span(
    id: Long, parent: Long, root: Long, layer: String, name: String,
    group: String, startNs: Long, var endNs: Long = 0L,
    attrs: ConcurrentHashMap[String, Double] = new ConcurrentHashMap[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
  def attr(k: String): Double = Option(attrs.get(k)).map(_.doubleValue).getOrElse(0.0)
}

/**
 * Spans kept in memory and written once at exit. A root span (one per
 * timed operation) is always opened, because its job group is what gives
 * every operation its own executor CPU. Child spans at layer boundaries are
 * opened only while the calling thread traces, so an untraced operation
 * pays for one local-property swap and nothing else.
 */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[Span]
  private val tracing = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def traced[T](on: Boolean)(body: => T): T = {
    val prev = tracing.get
    tracing.set(on)
    try body finally tracing.set(prev)
  }

  def isTracing: Boolean = tracing.get

  /** Run `body` in a span of `layer` whose Spark jobs run under a job group
    * of its own: always for a root span, and for a child span only when the
    * calling thread traces. */
  def span[T](layer: String, name: String)(body: Span => T): T = {
    val parent = current.get
    if (parent != null && !tracing.get) body(parent)
    else {
      val id = ids.incrementAndGet()
      val s = Span(id, if (parent == null) 0L else parent.id,
        if (parent == null) id else parent.root, layer, name,
        s"pb-$id", System.nanoTime())
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setLocalProperty("spark.jobGroup.id", s.group)
      current.set(s)
      try body(s)
      finally {
        s.endNs = System.nanoTime()
        current.set(parent)
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        spans.add(s)
      }
    }
  }

  /** Counters of a span and every span below it. */
  def rollup(counters: SparkCounters, of: Span): Map[String, Long] = {
    val below = all.filter(_.root == of.root)
    val kids = below.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(walk)
    Counters.sum(walk(of).map(s => counters.group(s.group)))
  }

  /** Write every span, then `extra` lines, as JSON lines. */
  def write(path: java.nio.file.Path, counters: SparkCounters, t0: Long, extra: Seq[String]): Unit = {
    val lines = all.map { s =>
      val c = counters.group(s.group).map { case (k, v) => s""""$k":$v""" }
      val a = s.attrs.asScala.map { case (k, v) => s""""$k":$v""" }
      s"""{"id":${s.id},"parent":${s.parent},"root":${s.root},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ms":${(s.startNs - t0) / 1e6},"dur_ms":${s.ms},""" +
        s""""spark":{${c.mkString(",")}},"attrs":{${a.mkString(",")}}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines ++ extra).asJava)
  }
}
