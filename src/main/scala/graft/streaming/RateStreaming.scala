package graft.streaming

import graft.operators.{Diagnostics, Sessions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Streaming per-period count maintenance: an ingest stream of events
 * becomes an ever-current per-(key, period) count table and, from it,
 * the [[graft.operators.Diagnostics.rateAnomalies]] burst report —
 * maintained one micro-batch at a time under the manifest commit
 * protocol the rollup/session/activity/funnel maintainers share.
 *
 * Counts are ADDITIVE — each batch appends its own (key, period)
 * partial counts and the reader SUMS the chain — so like
 * [[ActivityStreaming]] (and unlike sessions or funnels) there is NO
 * arrival-order contract: late, shuffled, or split-across-batch events
 * sum to the same totals. Per-batch work is O(batch), no store read or
 * history join. With [[ActivityStreaming]] and [[FunnelStreaming]]
 * this completes the incremental event-analytics set: retention,
 * funnels, and bursts all maintained from the same ingest stream.
 *
 * [[committedAnomalies]] == `Diagnostics.rateAnomalies` over everything
 * ingested so far, row for row — EventStreamingSpec pins the equality
 * with a key whose spike is SPLIT across batches (each fragment
 * unremarkable, only the summed total anomalous).
 *
 * The store's own leaves and pin ([[CommitStore]] has the layout and
 * the crash argument; data first, manifest last, replays write nothing):
 * {{{
 *   storePath/_graft_params       periodSeconds/keys pin (write-once)
 *   storePath/data/b=<id>/counts  batch partial (key..., period_idx, n_events)
 * }}}
 */
object RateStreaming {

  /** Start the maintenance stream. `events` is a STREAMING DataFrame;
    * arrival order is unconstrained. `filesPerBatch` caps each batch
    * directory's parquet file count
    * ([[CommitStore.writeBatchDir]]). Read the store with
    * [[committedCounts]] / [[committedAnomalies]]. */
  def maintainPeriodCounts(
      events: DataFrame,
      storePath: String,
      keyCols: Seq[String],
      tsCol: String,
      periodSeconds: Long,
      checkpointLocation: Option[String] = None,
      filesPerBatch: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CommitStore.maintain(events, checkpointLocation) { (batch, batchId, scope) =>
      rateBatch(batch, batchId, storePath, keyCols, tsCol, periodSeconds,
        scope, filesPerBatch)
    }

  /** One micro-batch of the protocol (exposed for deterministic
    * crash-path testing; [[maintainPeriodCounts]] drives it). */
  private[graft] def rateBatch(
      batch: DataFrame,
      batchId: Long,
      storePath: String,
      keyCols: Seq[String],
      tsCol: String,
      periodSeconds: Long,
      scope: String,
      filesPerBatch: Int = 1): Unit = {
    require(keyCols.nonEmpty, "rateBatch: keyCols must be non-empty")
    require(periodSeconds > 0,
      s"rateBatch: periodSeconds must be positive, got $periodSeconds")
    // the reader derives key columns from the store schema by position
    // and name — reserved names would corrupt that derivation
    require(!keyCols.exists(c =>
        c == "period_idx" || c == "n_events" || c.startsWith("__graft_")),
      s"rateBatch: key columns $keyCols collide with internal names " +
        "('period_idx' / 'n_events' / '__graft_*'); rename them")
    val pin = CommitStore.Pin(
      s"periodSeconds=$periodSeconds,keys=${keyCols.mkString("+")}",
      (stored, given) =>
        s"rate store at $storePath was maintained with '$stored' but this " +
          s"stream uses '$given' — period ordinals are incompatible; " +
          "resume with the original parameters or start a new store path")
    CommitStore.guard(batch, batchId, storePath, scope, Some(pin)) { b =>
      CommitStore.writeBatchDir(
        batch
          .select((keyCols.map(col) :+
            Sessions.periodIndex(batch, tsCol, periodSeconds)
              .as("period_idx")): _*)
          .groupBy((keyCols.map(col) :+ col("period_idx")): _*)
          .agg(count(lit(1)).as("n_events")),
        filesPerBatch, b.dir("counts"))
      b.commit()
    }
  }

  /** The committed exact per-(key, period) counts — the chain's partial
    * counts summed. Empty-schema DataFrame before the first commit. */
  def committedCounts(
      spark: org.apache.spark.sql.SparkSession, storePath: String): DataFrame =
    CommitStore.committedChain(spark, storePath, "counts", Some("RateStreaming"))
      .map(summed)
      .getOrElse(spark.emptyDataFrame)

  /** A chain of partial counts summed per (key, period). */
  private def summed(all: DataFrame): DataFrame = {
    val keyCols = all.columns.takeWhile(_ != "period_idx")
    all
      .groupBy((keyCols.map(col) :+ col("period_idx")): _*)
      .agg(sum(col("n_events")).as("n_events"))
  }

  /** The burst report over everything ingested so far — row-for-row
    * equal to `Diagnostics.rateAnomalies` over the full event history.
    * `periodSeconds` must match the store's pinned value (fails fast
    * otherwise). Empty-schema DataFrame before the first commit. */
  def committedAnomalies(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      keyCols: Seq[String],
      periodSeconds: Long,
      k: Int = 3): DataFrame = {
    require(k >= 1, s"committedAnomalies: k must be >= 1, got $k")
    val (fs, root) = CommitStore.fsOf(spark, storePath)
    CommitStore.checkStamp(fs, root, "_graft_params",
      s"periodSeconds=$periodSeconds,keys=${keyCols.mkString("+")}",
      (stored, given) =>
        s"rate store at $root was maintained with '$stored' but this " +
          s"reader asks for '$given' — the stored period ordinals do not " +
          "mean what this report would claim")
    val counts = committedCounts(spark, storePath)
    if (counts.columns.isEmpty) return spark.emptyDataFrame
    Diagnostics.anomaliesFromCounts(
      counts.withColumnRenamed("period_idx", "__graft_p")
        .withColumnRenamed("n_events", "__graft_c"),
      keyCols, periodSeconds, k)
  }

  /**
   * One-call fold of the count chain into a FRESH store at `dstPath`
   * (must not already hold a rate store): a single data directory
   * `b=<committed version>` holding the summed counts, with scope and
   * params copied so the SAME stream resumes against `dstPath`. Run it
   * when the chain's file count starts to dominate read planning.
   * `files` > 1 parallelizes the fold's write
   * ([[CommitStore.writeFoldDir]]).
   */
  def compactStore(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      files: Int = 1): Unit =
    CommitStore.foldInto(spark, srcPath, dstPath, "compactStore", "rate") {
      (ids, v) => CommitStore.writeFoldDir(
        summed(CommitStore.readChain(spark, srcPath, ids, "counts")), files,
        CommitStore.dataDir(dstPath, v, "counts"))
    }
}
