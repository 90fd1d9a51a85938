package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Streaming SFT shard maintenance: an ingest stream of tokenized
 * (id, token_ids, prompt_len) documents becomes an ever-growing store of
 * loss-masked, fixed-length training windows — the
 * [[graft.pipeline.Sampling.packMaskedTokenIds]] deliverable emitted
 * incrementally, one micro-batch at a time, under the same manifest
 * commit protocol the rollup/cluster/PQ maintainers use
 * ([[CommitStore]] has the full protocol argument).
 *
 * The layout invariant that makes incremental packing exact: every
 * window coordinate (seq id, in-window offset, loss interval) is a pure
 * function of the document's GLOBAL stream token position. The committed
 * store records the stream's total token count; each batch lays out its
 * documents starting at that offset
 * ([[graft.pipeline.Sampling.packMaskedTokenIdsFrom]]), so the packed
 * result is IDENTICAL to a one-shot batch run over the concatenated
 * corpus — [[committedPackedShards]] == `packMaskedTokenIds(all docs)`,
 * row for row (StreamingSpec pins the equality, split windows included).
 *
 * Stream order is (micro-batch arrival order, then `idCol` within a
 * batch) — the append-only ingest contract. A window straddling a batch
 * boundary is stored as one PARTIAL row per batch (distinguished by
 * `row_base`, the row's starting offset inside the window); the
 * committed reader stitches them by concatenation — no committed bytes
 * are ever rewritten, so per-batch work is O(batch), not O(history).
 *
 * The store's own leaves and pin ([[CommitStore]] has the layout and
 * the crash argument: data first, manifest last, a replay writes nothing,
 * and a crashed batch's replay recomputes the SAME rows from the SAME
 * committed offset):
 * {{{
 *   shardPath/_graft_params       seqLen pin (write-once)
 *   shardPath/_manifests/m=<id>   total stream tokens AFTER batch <id>
 *   shardPath/data/b=<id>/        the batch's window rows (parquet)
 * }}}
 * The seqLen pin closes the quiet corruption: resuming with a different
 * window length would interleave incompatible layouts, so it fails fast
 * instead.
 */
object ShardStreaming {

  /** Start the maintenance stream. `docs` is a STREAMING DataFrame with
    * `idCol` (globally unique, ascending with arrival — the append
    * contract), `idsCol` (ARRAY of token ids) and `promptLenCol` (ids
    * excluded from loss). Returns the StreamingQuery; read the store with
    * [[committedPackedShards]]. */
  def maintainPackedShards(
      docs: DataFrame,
      shardPath: String,
      idCol: String,
      idsCol: String,
      promptLenCol: String,
      seqLen: Long,
      checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CommitStore.maintain(docs, checkpointLocation) { (batch, batchId, scope) =>
      packBatch(batch, batchId, shardPath, idCol, idsCol, promptLenCol, seqLen, scope)
    }

  /** One micro-batch of the protocol (exposed for deterministic
    * crash-path testing; [[maintainPackedShards]] drives it). */
  private[graft] def packBatch(
      batch: DataFrame,
      batchId: Long,
      shardPath: String,
      idCol: String,
      idsCol: String,
      promptLenCol: String,
      seqLen: Long,
      scope: String): Unit =
    pack(batch, batchId, shardPath, seqLen, scope) { offset =>
      graft.pipeline.Sampling.packMaskedTokenIdsFrom(batch, idCol, idsCol,
        promptLenCol, seqLen, offset)
    }

  /** [[maintainPackedShards]] for MULTI-TURN CHAT corpora: the ingest
    * stream carries (id, token_ids, loss intervals) documents —
    * [[graft.pipeline.Chat.renderConversations]]' interval lists over the
    * ids of the rendered text — and each batch lays out
    * [[graft.pipeline.Chat.packTokenIds]] windows from the committed
    * offset. The store format is IDENTICAL to the prompt_len tier's
    * (same schema, same manifest protocol, same seqLen pin), so
    * [[committedPackedShards]] reads either, and a single-prefix doc is
    * just the one-interval special case. */
  def maintainIntervalShards(
      docs: DataFrame,
      shardPath: String,
      idCol: String,
      idsCol: String,
      intervalsCol: String,
      seqLen: Long,
      checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CommitStore.maintain(docs, checkpointLocation) { (batch, batchId, scope) =>
      packIntervalBatch(batch, batchId, shardPath, idCol, idsCol, intervalsCol,
        seqLen, scope)
    }

  /** One micro-batch of the interval tier (exposed for deterministic
    * crash-path testing; [[maintainIntervalShards]] drives it). */
  private[graft] def packIntervalBatch(
      batch: DataFrame,
      batchId: Long,
      shardPath: String,
      idCol: String,
      idsCol: String,
      intervalsCol: String,
      seqLen: Long,
      scope: String): Unit =
    pack(batch, batchId, shardPath, seqLen, scope) { offset =>
      graft.pipeline.Chat.packTokenIdsFrom(batch, idCol, idsCol, intervalsCol,
        seqLen, offset)
    }

  /** Both tiers' batch: under the guard and the seqLen pin, write the
    * windows laid out from the committed offset, then commit the new total.
    * The total counts the rows JUST WRITTEN (the exportShards doctrine:
    * the manifest describes disk, not a plan that might recompute
    * differently). */
  private def pack(
      batch: DataFrame,
      batchId: Long,
      shardPath: String,
      seqLen: Long,
      scope: String)(windows: Long => DataFrame): Unit = {
    val pin = CommitStore.Pin(s"seqLen=$seqLen",
      (stored, given) =>
        s"shard store at $shardPath was packed with '$stored' but this " +
          s"stream uses '$given' — window layouts are incompatible; resume " +
          "with the original seqLen or start a new shard path")
    CommitStore.guard(batch, batchId, shardPath, scope, Some(pin)) { b =>
      val spark = batch.sparkSession
      val offset = committedOffset(spark, shardPath)
      windows(offset).write.mode("overwrite").parquet(b.dir())
      val written = CommitStore.readChain(spark, shardPath, Seq(b.id))
        .agg(coalesce(sum(col("n_tokens")), lit(0L))).head.getLong(0)
      b.commit((offset + written).toString)
    }
  }

  /** Total committed stream tokens (0 before the first commit). */
  def committedOffset(
      spark: org.apache.spark.sql.SparkSession, shardPath: String): Long = {
    val (fs, root) = CommitStore.fsOf(spark, shardPath)
    CommitStore.committedVersion(spark, shardPath)
      .map(CommitStore.readManifest(fs, root, _).trim.toLong)
      .getOrElse(0L)
  }

  /** The committed training windows, batch-split rows stitched:
    * (seq_id, n_tokens, input_ids, doc_starts, loss_intervals) — the
    * exact [[graft.pipeline.Sampling.packMaskedTokenIds]] schema and
    * values over everything committed so far. Empty-schema DataFrame
    * before the first commit. */
  def committedPackedShards(
      spark: org.apache.spark.sql.SparkSession, shardPath: String): DataFrame = {
    val ids = CommitStore.committedIds(spark, shardPath)
    if (ids.isEmpty) return spark.emptyDataFrame
    val all = CommitStore.readChain(spark, shardPath, ids)
    // a window split across batches is several rows with one seq_id,
    // disjoint [row_base, row_base + n_tokens) spans: concatenate in
    // row_base order (leading-field struct sort; bases are distinct
    // within a window by construction). Global in-window coordinates
    // were computed at pack time, so doc_starts / loss_intervals merge
    // by plain flatten.
    all
      .groupBy(col("seq_id"))
      .agg(array_sort(collect_list(struct(
        col("row_base").as("__rb"),
        col("input_ids").as("__ids"),
        col("doc_starts").as("__ds"),
        col("loss_intervals").as("__li")))).as("__parts"))
      .select(col("seq_id"),
        expr("CAST(aggregate(__parts, 0L, (n, p) -> n + size(p.__ids)) AS BIGINT)")
          .as("n_tokens"),
        flatten(transform(col("__parts"), p => p.getField("__ids")))
          .as("input_ids"),
        flatten(transform(col("__parts"), p => p.getField("__ds")))
          .as("doc_starts"),
        flatten(transform(col("__parts"), p => p.getField("__li")))
          .as("loss_intervals"))
  }
}
