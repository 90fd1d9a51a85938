package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.expressions.TopnAggregateBase

/**
 * Guardrail for the single-partition window cliff: a Topn aggregate over
 * an UNPARTITIONED window frame (`Window.orderBy(...)` with no
 * `partitionBy`) funnels every row through one task — the same cliff the
 * reference hits for its `seven_days` frame, fine on daily-rollup row
 * counts, a scale-killer on raw data. It is also the first spelling a
 * naive user writes. This listener (installed by
 * [[TopnFunctions.register]]) detects the pattern in executed plans and
 * logs a one-time WARN pointing at the scale path,
 * [[graft.operators.Rollups.slidingMerge]] — same semantics; its only
 * single-partition step ranks the distinct periods.
 *
 * A WARN rather than an AnalysisException: the spelling is CORRECT (and
 * the right tier for small aggregated inputs like daily rollups); only
 * its scaling is conditional, and a library should not refuse plans it
 * can execute. One-time per JVM so a windowed job does not spam its logs.
 */
object TopnWindowGuard {

  private val fired = new AtomicBoolean(false)
  /** Session-conf marker so repeated register() calls install ONE listener. */
  private val InstalledKey = "graft.internal.windowGuardInstalled"

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Has the warning fired in this JVM? (test hook) */
  private[graft] def hasFired: Boolean = fired.get()
  /** Re-arm the one-time warning (test hook). */
  private[graft] def reset(): Unit = fired.set(false)

  private[graft] def install(spark: SparkSession): Unit = {
    if (spark.conf.getOption(InstalledKey).isEmpty) {
      spark.conf.set(InstalledKey, "true")
      spark.listenerManager.register(listener)
    }
  }

  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      check(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      check(qe)
  }

  private def check(qe: QueryExecution): Unit = {
    if (fired.get()) return
    val cliff = try {
      qe.analyzed.exists {
        case w: Window if w.partitionSpec.isEmpty =>
          w.windowExpressions.exists(_.exists {
            case ae: AggregateExpression => ae.aggregateFunction.isInstanceOf[TopnAggregateBase]
            case _ => false
          })
        case _ => false
      }
    } catch { case NonFatal(_) => false }
    if (cliff && fired.compareAndSet(false, true)) {
      log.warn(
        "Topn aggregate over an UNPARTITIONED window detected: every row " +
          "funnels through a single task, which is fine for small " +
          "pre-aggregated inputs (e.g. daily rollups) but does not scale to " +
          "raw data. For the same sliding-frame semantics without the " +
          "single-partition sort, use graft.operators.Rollups.slidingMerge " +
          "(only the distinct periods are ranked in one task). This warning " +
          "fires once per JVM.")
    }
  }
}
