package graft.streaming

import graft.operators.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Streaming activity/retention maintenance: an ingest stream of events
 * becomes an ever-current cohort-retention report — the
 * [[graft.operators.Sessions.retentionCohorts]] deliverable maintained
 * one micro-batch at a time under the manifest commit protocol the
 * rollup/session/shard/PQ maintainers share
 * ([[CommitStore]] has the full protocol argument).
 *
 * Retention state is MONOTONE — the store is the set of distinct
 * `(key, period)` activity pairs, and new events can only ADD pairs —
 * so unlike sessions ([[SessionStreaming]]) or funnels
 * ([[FunnelStreaming]]) there is NO arrival-order contract at all:
 * late, duplicated, or shuffled events fold to the same set. Each
 * batch appends its batch-distinct pairs as one directory; the reader
 * deduplicates across the chain (a pair active in many batches appears
 * in many directories until [[compactStore]] folds them).
 *
 * Per-batch work is O(batch): no store read, no join against history.
 * Store growth is bounded by |keys| x |periods in the timeline| after
 * compaction; between compactions it grows with per-batch distinct
 * pairs (at most |batch|, typically |active keys this batch|).
 *
 * [[committedRetention]] == `Sessions.retentionCohorts` over everything
 * ingested so far, row for row — StreamingSpec pins the equality with
 * keys whose first activity and returns straddle batch boundaries.
 *
 * The store's own leaves and pin ([[CommitStore]] has the layout and
 * the crash argument; data first, manifest last, replays write nothing):
 * {{{
 *   storePath/_graft_params       periodSeconds/keys pin (write-once)
 *   storePath/data/b=<id>/pairs   batch-distinct (key..., period_idx)
 * }}}
 */
object ActivityStreaming {

  /** Start the maintenance stream. `events` is a STREAMING DataFrame;
    * arrival order is unconstrained. `filesPerBatch` caps each batch
    * directory's parquet file count (see [[CommitStore.writeBatchDir]]).
    * Read the store with [[committedRetention]] / [[committedPairs]]. */
  def maintainActivity(
      events: DataFrame,
      storePath: String,
      keyCols: Seq[String],
      tsCol: String,
      periodSeconds: Long,
      checkpointLocation: Option[String] = None,
      filesPerBatch: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CommitStore.maintain(events, checkpointLocation) { (batch, batchId, scope) =>
      activityBatch(batch, batchId, storePath, keyCols, tsCol, periodSeconds,
        scope, filesPerBatch)
    }

  /** One micro-batch of the protocol (exposed for deterministic
    * crash-path testing; [[maintainActivity]] drives it). */
  private[graft] def activityBatch(
      batch: DataFrame,
      batchId: Long,
      storePath: String,
      keyCols: Seq[String],
      tsCol: String,
      periodSeconds: Long,
      scope: String,
      filesPerBatch: Int = 1): Unit = {
    require(keyCols.nonEmpty, "activityBatch: keyCols must be non-empty")
    require(periodSeconds > 0,
      s"activityBatch: periodSeconds must be positive, got $periodSeconds")
    // the reader derives key columns from the store schema by position
    // and name — reserved names would corrupt that derivation
    require(!keyCols.exists(c => c == "period_idx" || c.startsWith("__graft_")),
      s"activityBatch: key columns $keyCols collide with internal names " +
        "('period_idx' / '__graft_*'); rename them")
    val pin = CommitStore.Pin(
      s"periodSeconds=$periodSeconds,keys=${keyCols.mkString("+")}",
      (stored, given) =>
        s"activity store at $storePath was maintained with '$stored' but " +
          s"this stream uses '$given' — period ordinals are incompatible; " +
          "resume with the original parameters or start a new store path")
    CommitStore.guard(batch, batchId, storePath, scope, Some(pin)) { b =>
      CommitStore.writeBatchDir(
        batch
          .select((keyCols.map(col) :+
            Sessions.periodIndex(batch, tsCol, periodSeconds)
              .as("period_idx")): _*)
          .distinct(),
        filesPerBatch, b.dir("pairs"))
      b.commit()
    }
  }

  /** The committed distinct activity pairs `(keyCols..., period_idx)`.
    * Empty-schema DataFrame before the first commit. */
  def committedPairs(
      spark: org.apache.spark.sql.SparkSession, storePath: String): DataFrame =
    CommitStore.committedChain(spark, storePath, "pairs", Some("ActivityStreaming"))
      .map(_.distinct())
      .getOrElse(spark.emptyDataFrame)

  /** The cohort-retention report over everything ingested so far —
    * `(cohort_start_us, period_offset, n_keys)`, row-for-row equal to
    * `Sessions.retentionCohorts` over the full event history.
    * `periodSeconds` must match the store's pinned value (fails fast
    * otherwise — period ordinals are meaningless under another width). */
  def committedRetention(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      keyCols: Seq[String],
      periodSeconds: Long): DataFrame = {
    val (fs, root) = CommitStore.fsOf(spark, storePath)
    CommitStore.checkStamp(fs, root, "_graft_params",
      s"periodSeconds=$periodSeconds,keys=${keyCols.mkString("+")}",
      (stored, given) =>
        s"activity store at $root was maintained with '$stored' but this " +
          s"reader asks for '$given' — the stored period ordinals do not " +
          "mean what this report would claim")
    val pairs = committedPairs(spark, storePath)
    if (pairs.columns.isEmpty) return spark.emptyDataFrame
    Sessions.cohortsFromPairs(pairs, keyCols, periodSeconds)
  }

  /**
   * One-call fold of the pair chain into a FRESH store at `dstPath`
   * (must not already hold an activity store): a single data directory
   * `b=<committed version>` holding the chain's distinct pairs, with
   * scope and params copied so the SAME stream resumes against
   * `dstPath` — a replayed batch <= the committed version returns
   * before writing, the next real batch appends. Run it when the
   * chain's file count (one directory per batch) starts to dominate
   * read planning. `files` > 1 parallelizes the fold's write (see
   * [[CommitStore.writeFoldDir]]) — the knob that matters when the folded
   * history is large.
   */
  def compactStore(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      files: Int = 1): Unit =
    CommitStore.foldInto(spark, srcPath, dstPath, "compactStore", "activity") {
      (ids, v) => CommitStore.writeFoldDir(
        CommitStore.readChain(spark, srcPath, ids, "pairs").distinct(), files,
        CommitStore.dataDir(dstPath, v, "pairs"))
    }
}
