package graft.streaming

import graft.operators.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Streaming funnel maintenance: an ingest stream of events becomes an
 * ever-current ordered-conversion funnel — the
 * [[graft.operators.Sessions.funnelCounts]] deliverable maintained one
 * micro-batch at a time under the manifest commit protocol the
 * rollup/session/shard/PQ maintainers share
 * ([[CommitStore]] has the full protocol argument).
 *
 * The invariant that makes incremental funnels exact: each key's state
 * is its earliest in-order completion time per step (`t0 .. tN`), and
 * under per-key ts-ordered arrival a SET time can never be beaten by a
 * later event — every new event's timestamp is >= the key's
 * high-watermark >= every set `t_i`. So the batch step is the same
 * iterated conditional min as the batch operator, seeded with the
 * committed state as per-step floors: `t_i' = coalesce(t_i, min batch
 * ts of step i strictly after t_{i-1}')` — where `t_{i-1}'` may itself
 * have been set this batch, so a whole conversion chain arriving in
 * one batch completes in one batch. Out-of-order arrival (a batch
 * event before the key's committed high-watermark) FAILS the batch
 * rather than silently under-counting conversions.
 *
 * `watermarkSeconds > 0` relaxes the ordered-arrival contract to the
 * BOUNDED-DISORDER contract a production ingest actually delivers:
 * events are buffered in a pending store until the event-time
 * high-water mark has moved `watermarkSeconds` past them, then folded
 * in (the Structured Streaming watermark device on the manifest
 * protocol). Every MATURED event is strictly later than every committed
 * step floor (floors come from matured events at or before the previous
 * cut; new arrivals must be after it), so the conditional-min
 * recurrence stays EXACT under any within-watermark shuffle — and an
 * arrival at or before the committed cut still fails the batch loudly,
 * because a set floor may no longer be the true minimum.
 * `watermarkSeconds = 0` (default) is the strict contract,
 * byte-compatible with existing stores; the watermark is pinned into
 * `_graft_params`, so one store cannot mix the two. [[committedCounts]]
 * reports the MATURED prefix — events above the cut are not conversions
 * yet (a later event past the watermark flushes them).
 *
 * Per-batch work is O(batch + touched keys + pending): the state store
 * is read but only the touched keys' rows are rewritten, as a per-batch
 * DELTA folded by per-key argmax on batch id (the [[SessionStreaming]]
 * open-state pattern); the pending buffer is bounded by the disorder
 * window times the ingest rate. [[compactStore]] folds the chain.
 *
 * [[committedCounts]] == `Sessions.funnelCounts` over everything
 * ingested so far, row for row — StreamingSpec pins the equality with
 * conversions that STRADDLE batch boundaries (step i committed, step
 * i+1 arriving batches later) and chains completing inside one batch.
 *
 * The store's own leaves and pin ([[CommitStore]] has the layout and
 * the crash argument; data first, manifest last, replays write nothing):
 * {{{
 *   storePath/_graft_params       steps/keys pin (write-once)
 *   storePath/data/b=<id>/state   touched keys' (t0..tN, hw) delta
 * }}}
 */
object FunnelStreaming {

  import CommitStore.DeltaBatchCol
  private val HwCol = "__graft_hw"

  /** Start the maintenance stream. `events` is a STREAMING DataFrame;
    * each key's events must arrive in non-decreasing `tsCol` order
    * across batches (violations fail the batch; intra-batch order is
    * free). Read the store with [[committedCounts]]. */
  def maintainFunnel(
      events: DataFrame,
      storePath: String,
      keyCols: Seq[String],
      tsCol: String,
      stepCol: String,
      steps: Seq[String],
      checkpointLocation: Option[String] = None,
      watermarkSeconds: Long = 0L,
      filesPerBatch: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CommitStore.maintain(events, checkpointLocation) { (batch, batchId, scope) =>
      funnelBatch(batch, batchId, storePath, keyCols, tsCol, stepCol, steps,
        scope, watermarkSeconds, filesPerBatch)
    }

  /** One micro-batch of the protocol (exposed for deterministic
    * crash-path testing; [[maintainFunnel]] drives it). */
  private[graft] def funnelBatch(
      batch: DataFrame,
      batchId: Long,
      storePath: String,
      keyCols: Seq[String],
      tsCol: String,
      stepCol: String,
      steps: Seq[String],
      scope: String,
      watermarkSeconds: Long = 0L,
      filesPerBatch: Int = 1): Unit = {
    require(keyCols.nonEmpty, "funnelBatch: keyCols must be non-empty")
    require(steps.nonEmpty, "funnelBatch: steps must be non-empty")
    require(steps.distinct.size == steps.size,
      s"funnelBatch: steps must be distinct, got $steps")
    require(watermarkSeconds >= 0L,
      s"funnelBatch: watermarkSeconds must be >= 0, got $watermarkSeconds")
    // the reader derives key columns from the store schema as the
    // prefix before the first '__graft_' column — reserved key names
    // would corrupt that derivation
    require(!keyCols.exists(_.startsWith("__graft_")),
      s"funnelBatch: key columns $keyCols collide with internal " +
        "'__graft_*' names; rename them")
    val pin = CommitStore.Pin(paramsOf(keyCols, steps, watermarkSeconds),
      (stored, given) =>
        s"funnel store at $storePath was maintained with '$stored' but this " +
          s"stream uses '$given' — step ordinals and state columns are " +
          "incompatible; resume with the original parameters or start a " +
          "new store path")
    CommitStore.guard(batch, batchId, storePath, scope, Some(pin)) { b =>
      val spark = batch.sparkSession
      val keyC = keyCols.map(col)
      val eNew = batch.select(
        (keyC :+ col(stepCol).as("__graft_step") :+
          Sessions.tsMicros(batch, tsCol).as("__graft_tu")): _*)

      // bounded-disorder tier: the shared release step
      // (StreamWatermark.release) folds pending with the new arrivals,
      // advances the event-time high-water mark, and returns only events
      // at or below (hwm - watermark) — everything else buffers
      val wmUs = watermarkSeconds * 1000000L
      val (e, wmTail) =
        if (watermarkSeconds == 0L) (eNew, None)
        else {
          val (released, tail) = StreamWatermark.release(
            storePath, eNew, df => df("__graft_tu"), wmUs, "funnelBatch")
          (released, Some(tail))
        }

      // touched keys with their batch time range (bmin for the ordered-
      // arrival check, bmax for the new high-watermark)
      val touched = e.groupBy(keyC: _*).agg(
        min(col("__graft_tu")).as("__graft_bmin"),
        max(col("__graft_tu")).as("__graft_bmax"))

      val stateOpt = committedState(spark, storePath)
      val seeded = stateOpt match {
        case None =>
          steps.indices.foldLeft(
            touched.withColumn(HwCol, lit(null).cast("long"))) {
            (acc, i) => acc.withColumn(s"__graft_t$i", lit(null).cast("long"))
          }
        case Some(state) =>
          touched.join(state, keyCols, "left")
            .withColumn(HwCol,
              when(col(HwCol).isNotNull && col("__graft_bmin") < col(HwCol),
                // the ordered-arrival contract is broken: a set t_i may no
                // longer be the true earliest — fail instead of under-counting
                expr(s"""raise_error(CONCAT(
                  |'funnelBatch: out-of-order arrival for key ',
                  |CAST(`${keyCols.head}` AS STRING),
                  |' — batch event at ', CAST(__graft_bmin AS STRING),
                  |'us precedes the committed high-watermark ',
                  |CAST($HwCol AS STRING),
                  |'us; events must arrive per-key ts-ordered across batches'))"""
                  .stripMargin).cast("long"))
                .otherwise(col(HwCol)))
      }

      // the batch operator's iterated conditional min, seeded with the
      // committed state as per-step floors
      val updated = steps.zipWithIndex.foldLeft(seeded) { case (acc, (s, i)) =>
        val cand =
          if (i == 0) e.filter(col("__graft_step") === s)
            .groupBy(keyC: _*).agg(min(col("__graft_tu")).as("__graft_m"))
          else e.filter(col("__graft_step") === s)
            .join(acc.select((keyC :+ col(s"__graft_t${i - 1}")): _*), keyCols)
            .filter(col("__graft_tu") > col(s"__graft_t${i - 1}"))
            .groupBy(keyC: _*).agg(min(col("__graft_tu")).as("__graft_m"))
        acc.join(cand, keyCols, "left")
          .withColumn(s"__graft_t$i",
            coalesce(col(s"__graft_t$i"), col("__graft_m")))
          .drop("__graft_m")
      }

      val stateCols =
        keyCols.map(col) ++ steps.indices.map(i => col(s"__graft_t$i")) :+
          greatest(col(HwCol), col("__graft_bmax")).as(HwCol)
      CommitStore.writeBatchDir(
        updated.select((stateCols :+ lit(batchId).as(DeltaBatchCol)): _*),
        filesPerBatch, b.dir("state"))
      // watermark tier: pending snapshot (latest wins) + hwm row, data
      // before the marker like everything else
      wmTail.foreach { case (pending, hwm) =>
        StreamWatermark.write(spark, storePath, batchId, pending, hwm,
          filesPerBatch)
      }
      b.commit()
    }
  }

  /** Current per-key state: the delta chain folded with a per-key
    * argmax on batch id. None before the first commit. No compaction
    * advice here: funnelBatch seeds its delta merge from this fold on
    * EVERY micro-batch, and a >64-batch store would WARN once per trigger
    * — the advisory lives in committedCounts, the external read. */
  private[graft] def committedState(
      spark: org.apache.spark.sql.SparkSession, storePath: String)
      : Option[DataFrame] =
    CommitStore.committedChain(spark, storePath, "state", None).map(latest)

  /** Each key's latest state row; the key is the prefix before the first
    * `__graft_` column. */
  private def latest(all: DataFrame): DataFrame =
    CommitStore.latestPerKey(all, c => !c.startsWith("__graft_"))

  /** The committed funnel report — `(step_idx, step, n_keys)`,
    * row-for-row equal to `Sessions.funnelCounts` over the full event
    * history. `keyCols`/`steps` must match the store's pinned values
    * (fails fast otherwise). Empty-schema DataFrame before the first
    * commit. */
  def committedCounts(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      keyCols: Seq[String],
      steps: Seq[String],
      watermarkSeconds: Long = 0L): DataFrame = {
    val (fs, root) = CommitStore.fsOf(spark, storePath)
    CommitStore.checkStamp(fs, root, "_graft_params",
      paramsOf(keyCols, steps, watermarkSeconds),
      (stored, given) =>
        s"funnel store at $root was maintained with '$stored' but this " +
          s"reader asks for '$given' — the stored step times do not mean " +
          "what this report would claim")
    CommitStore.committedChain(spark, storePath, "state", Some("FunnelStreaming"))
      .map(chain => Sessions.countsFromTimes(latest(chain), steps))
      .getOrElse(spark.emptyDataFrame)
  }

  /**
   * One-call fold of the state chain into a FRESH store at `dstPath`
   * (must not already hold a funnel store): a single data directory
   * `b=<committed version>` holding the folded per-key state, with
   * scope and params copied so the SAME stream resumes against
   * `dstPath`. Run it when the chain's file count starts to dominate
   * read planning. `files` > 1 parallelizes the fold's write
   * ([[CommitStore.writeFoldDir]]).
   */
  def compactStore(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      files: Int = 1): Unit =
    CommitStore.foldInto(spark, srcPath, dstPath, "compactStore", "funnel") {
      (ids, v) =>
        CommitStore.writeFoldDir(
          latest(CommitStore.readChain(spark, srcPath, ids, "state"))
            .withColumn(DeltaBatchCol, lit(v)),
          files, CommitStore.dataDir(dstPath, v, "state"))
        // a watermark-tier store also carries its buffered tail + hwm
        StreamWatermark.compactInto(spark, srcPath, dstPath, v, files)
    }

  private def paramsOf(
      keyCols: Seq[String], steps: Seq[String], watermarkSeconds: Long): String =
    s"steps=${steps.mkString(">")},keys=${keyCols.mkString("+")}" +
      StreamWatermark.paramsSuffix(watermarkSeconds)
}
