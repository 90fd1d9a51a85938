package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The bounded-disorder tier shared by the event-time streaming
 * maintainers ([[SessionStreaming]], [[FunnelStreaming]]): a per-batch
 * PENDING buffer of events the watermark has not yet released, plus the
 * event-time high-water mark, both living under the store's own
 * `data/b=<id>/` directory so the manifest commit protocol covers them
 * (data first, marker last — a crash between leaves the previous batch's
 * snapshot authoritative).
 *
 * Layout per watermark-tier batch:
 * {{{
 *   storePath/data/b=<id>/pending   FULL snapshot of still-buffered events
 *   storePath/data/b=<id>/wm        one row: hwm_us BIGINT
 * }}}
 *
 * Pending is a snapshot, not a delta: the surviving buffer is bounded by
 * the disorder window times the ingest rate, so rewriting it each batch
 * is O(window), never O(history). The reader takes the LATEST committed
 * batch's snapshot — strict-tier stores (watermark 0) simply have no
 * such directories and read as None.
 */
private[graft] object StreamWatermark {

  /** The latest committed batch id carrying the watermark tier's leaves —
    * resolved ONCE for both `pending` and `wm`. [[write]] emits the two
    * leaves together before the commit marker, so a committed batch holds
    * both or neither; a batch found with only one means a broken writer,
    * and silently falling back to another batch's leaf would pair a
    * pending snapshot with a high-water mark from a DIFFERENT cut — fail
    * loudly instead. */
  private def latestTierBatch(
      spark: SparkSession, storePath: String): Option[Long] = {
    val ids = CommitStore.committedIds(spark, storePath)
    if (ids.isEmpty) return None
    val (fs, _) = CommitStore.fsOf(spark, storePath)
    def has(id: Long, leaf: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(CommitStore.dataDir(storePath, id, leaf)))
    ids.sorted.reverse
      .find(id => has(id, "wm") || has(id, "pending"))
      .map { id =>
        if (!(has(id, "wm") && has(id, "pending")))
          throw new IllegalStateException(
            s"watermark store at $storePath: committed batch b=$id holds " +
              "only one of its pending/wm leaves — the tier writes both " +
              "before the commit marker; refusing to pair a buffer with a " +
              "high-water mark from a different batch")
        id
      }
  }

  /** The release step both event-time maintainers share: fold the
    * committed pending buffer with the new arrivals, advance the
    * event-time high-water mark, and split at `hwm - watermark` —
    * returns (released, (stillPending, newHwm)). Refuses loudly:
    *
    *  - arrivals at or below the PREVIOUS cut (their region of the store
    *    is final — folding them in would silently rewrite history);
    *  - NULL event times (neither side of the cut can hold them: both
    *    `<= cut` and `> cut` filter a NULL away, so they would vanish
    *    without a trace — the strict tier at least hands them to the
    *    batch kernel).
    *
    * `tuOf` maps a frame with the input's columns to its event-time
    * micros column (the maintainers project different shapes). Exactness
    * argument: every event this returns as released is strictly later
    * than everything released before it was buffered — see the
    * maintainers' object docs.
    */
  def release(
      storePath: String,
      eNew: DataFrame,
      tuOf: DataFrame => Column,
      wmUs: Long,
      op: String): (DataFrame, (DataFrame, Long)) = {
    val spark = eNew.sparkSession
    val prevHwm = committedHwm(spark, storePath)
    val tuNew = tuOf(eNew)
    val agg = eNew
      .agg(min(tuNew), max(tuNew), count(when(tuNew.isNull, lit(1))))
      .head
    val nNull = agg.getLong(2)
    if (nNull > 0L) {
      throw new IllegalStateException(
        s"$op: $nNull event(s) with NULL event time in the batch — the " +
          "watermark tier cannot order them; filter or repair the ingest")
    }
    val (bMin, bMax) = (agg.getLong(0), agg.getLong(1))
    prevHwm.foreach { h =>
      val prevCut = h - wmUs
      if (bMin <= prevCut) {
        throw new IllegalStateException(
          s"$op: beyond-watermark arrival — batch event at ${bMin}us is " +
            s"not after the committed maturity cut ${prevCut}us " +
            s"(high-water mark ${h}us - watermark ${wmUs}us); that region " +
            "of the store is already final. Increase watermarkSeconds or " +
            "fix the ingest ordering")
      }
    }
    val hwm = math.max(prevHwm.getOrElse(Long.MinValue), bMax)
    val cut = hwm - wmUs
    val all = committedPending(spark, storePath)
      .map(_.unionByName(eNew)).getOrElse(eNew)
    val tuAll = tuOf(all)
    (all.filter(tuAll <= cut), (all.filter(tuAll > cut), hwm))
  }

  /** `wm=` joins a store's params pin only when the tier is on, so
    * strict stores written before the tier existed keep their stamp
    * verbatim. */
  def paramsSuffix(watermarkSeconds: Long): String =
    if (watermarkSeconds > 0L) s",wm=$watermarkSeconds" else ""

  /** Event-time high-water mark after the latest committed batch; None
    * for a fresh or strict-tier store. Read on the driver, no Spark job. */
  def committedHwm(spark: SparkSession, storePath: String): Option[Long] =
    latestTierBatch(spark, storePath).map(hwmOf(spark, storePath, _))

  /** Still-buffered events after the latest committed batch; None for a
    * fresh or strict-tier store. The schema comes from the leaf's footer,
    * so building the read submits no job. */
  def committedPending(spark: SparkSession, storePath: String): Option[DataFrame] =
    latestTierBatch(spark, storePath).map(pendingOf(spark, storePath, _))

  private def hwmOf(spark: SparkSession, storePath: String, id: Long): Long =
    CommitStore.firstLong(spark, CommitStore.dataDir(storePath, id, "wm"))

  private def pendingOf(spark: SparkSession, storePath: String, id: Long): DataFrame =
    CommitStore.readChain(spark, storePath, Seq(id), "pending")

  /** Write this batch's buffer snapshot + hwm (before the commit marker).
    * `files` caps the pending snapshot's file count
    * ([[CommitStore.writeBatchDir]] — the buffer is bounded by the
    * disorder window times the ingest rate, so at firehose scale it
    * deserves the same ceiling lift as the data directories); the hwm
    * leaf is one row and stays one file. */
  def write(
      spark: SparkSession,
      storePath: String,
      batchId: Long,
      pending: DataFrame,
      hwmUs: Long,
      files: Int = 1): Unit = {
    CommitStore.writeBatchDir(pending, files,
      CommitStore.dataDir(storePath, batchId, "pending"))
    spark.range(1).select(lit(hwmUs).as("hwm_us"))
      .coalesce(1).write.mode("overwrite")
      .parquet(CommitStore.dataDir(storePath, batchId, "wm"))
  }

  /** Carry the watermark tier into a compacted store: the latest pending
    * snapshot and hwm move to the fold directory `b=<v>`. The batch id is
    * resolved ONCE for both leaves ([[latestTierBatch]]), so the pair can
    * never come from different batches. No-op for strict-tier stores. */
  def compactInto(
      spark: SparkSession, srcPath: String, dstPath: String, v: Long,
      files: Int = 1): Unit =
    latestTierBatch(spark, srcPath).foreach { id =>
      write(spark, dstPath, v, pendingOf(spark, srcPath, id),
        hwmOf(spark, srcPath, id), files)
    }
}
