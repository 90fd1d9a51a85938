package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Multi-turn chat / instruction data preparation: render a turns table
 * into role-tagged training documents with EXACT per-turn loss-mask
 * intervals, and tile those documents into fixed training windows.
 *
 * The single-prefix SFT layout ([[Sampling.packMaskedSequences]]) models
 * one (prompt, response) pair per example — the mask is "first
 * `prompt_len` tokens train nothing". Multi-turn chat needs more: a
 * conversation interleaves user/system/assistant turns and ONLY the
 * assistant turns carry loss, so a document's mask is a LIST of
 * intervals, one per assistant turn. [[renderConversations]] produces
 * that list together with the rendered text, and
 * [[packMaskedIntervals]] clips every interval into sequence coordinates.
 *
 * Packing here is not a second path: one tiling
 * ([[Sampling.tileFragments]]) and one window builder
 * ([[Sampling.buildWindows]]) serve every packed layout, and a prompt
 * prefix is just the one-interval list [(prompt_len, n - prompt_len)].
 * This object adds only the interval check and the clip.
 *
 * Everything is exact integer arithmetic over whitespace tokens
 * (`<|role|>` headers are single tokens by construction), so the whole
 * path — rendering, offsets, tiling, clipping — replays bit-for-bit in
 * ANSI SQL; the `chat_sft_pack` oracle does exactly that.
 *
 * Scale shape: one shuffle by conversation id for the ordered rebuild
 * (per-group state is one conversation — bounded), then the tiling's
 * two-pass prefix sum + bounded per-row explode. No corpus-wide window,
 * no driver state; interval lists are bounded by turns-per-conversation.
 */
object Chat {

  /**
   * Render role-tagged conversations: one output row per conversation,
   * turns concatenated in `turnIdxCol` order, each prefixed by a
   * `<|role|>` header token. Output:
   *
   *  - `conv_id` — the conversation key;
   *  - `text` — the rendered document (`<|user|> hi <|assistant|> hello`);
   *  - `n_tokens` — its exact whitespace token count
   *    (sum of per-turn tokens + one header each);
   *  - `loss_ivs` — `array<struct<off, len>>`: for each `lossRole` turn,
   *    the [off, off+len) interval of its CONTENT tokens in document
   *    coordinates (the header token itself trains nothing), ascending,
   *    non-overlapping, possibly empty (`len = 0` for an empty turn is
   *    dropped).
   *
   * A duplicate `turnIdxCol` within a conversation would silently
   * interleave two turns — the rebuild fails fast instead.
   */
  def renderConversations(
      turns: DataFrame,
      convIdCol: String,
      turnIdxCol: String,
      roleCol: String,
      textCol: String,
      lossRole: String = "assistant"): DataFrame = {
    require(lossRole.nonEmpty, "lossRole must be non-empty")
    require(!lossRole.contains("'"), s"lossRole must not contain quotes: $lossRole")
    val t = turns.select(
      col(convIdCol).as("conv_id"),
      col(turnIdxCol).cast("long").as("__graft_ti"),
      col(roleCol).as("__graft_role"),
      // the whitespace tokenizer yields [""] on empty text — filter it so
      // an empty turn renders as a bare header with no content interval
      filter(TextAnalysis.tokens(col(textCol)), t => t =!= lit(""))
        .as("__graft_toks"))
    t.groupBy(col("conv_id"))
      .agg(sort_array(collect_list(struct(
        col("__graft_ti"), col("__graft_role"), col("__graft_toks")))).as("__graft_ts"))
      .withColumn("__graft_ts", expr(
        """CASE WHEN size(__graft_ts) =
          |       size(array_distinct(transform(__graft_ts, x -> x.__graft_ti)))
          |  THEN __graft_ts
          |  ELSE raise_error(CONCAT('renderConversations: duplicate turn index in conversation ',
          |                          CAST(conv_id AS STRING)))
          |END""".stripMargin))
      .select(
        col("conv_id"),
        expr(
          """array_join(
            |  flatten(transform(__graft_ts, x ->
            |    concat(array(concat('<|', x.__graft_role, '|>')), x.__graft_toks))),
            |  ' ')""".stripMargin).as("text"),
        expr(
          """aggregate(__graft_ts, 0L,
            |  (a, x) -> a + size(x.__graft_toks) + 1L)""".stripMargin).as("n_tokens"),
        expr(
          s"""aggregate(__graft_ts,
             |  named_struct('pos', 0L,
             |               'ivs', CAST(array() AS ARRAY<STRUCT<off: BIGINT, len: BIGINT>>)),
             |  (a, x) -> named_struct(
             |    'pos', a.pos + size(x.__graft_toks) + 1L,
             |    'ivs', IF(x.__graft_role = '$lossRole' AND size(x.__graft_toks) > 0,
             |              array_append(a.ivs,
             |                named_struct('off', a.pos + 1L,
             |                             'len', CAST(size(x.__graft_toks) AS BIGINT))),
             |              a.ivs)),
             |  a -> a.ivs)""".stripMargin).as("loss_ivs"))
  }

  /**
   * [[Sampling.packMaskedSequences]] generalized to per-document interval
   * masks: tile the `totalLenCol` token stream into `seqLen` windows
   * ([[Sampling.tileFragments]], the tiling behind every packed layout)
   * and clip each document's `intervalsCol` (`array<struct<off, len>>`,
   * ascending non-overlapping, in document coordinates) into each
   * fragment. Per fragment emits (seq_id, frag_start, frag_len, seq_off)
   * and `loss_ivs`: the overlapping intervals re-based to SEQUENCE
   * coordinates — a training job ORs a sequence's fragment interval lists
   * into its loss mask; every masked token of every document lands in
   * exactly one interval.
   *
   * Malformed interval lists (negative length, out of [0, total_len),
   * overlapping or out of order) raise per-row rather than producing a
   * silently wrong mask; so does a negative total length.
   */
  def packMaskedIntervals(
      df: DataFrame,
      idCol: String,
      intervalsCol: String,
      totalLenCol: String,
      seqLen: Long): DataFrame =
    packMaskedIntervalsFrom(df, idCol, intervalsCol, totalLenCol, seqLen, 0L)

  /** [[packMaskedIntervals]] with the token stream starting at
    * `startOffset` — the incremental-ingest hook: a batch of NEW
    * conversations appended to a stream whose committed length is
    * `startOffset` lays out exactly as it would have in one global run,
    * because window coordinates are pure functions of the GLOBAL stream
    * position. */
  private[graft] def packMaskedIntervalsFrom(
      df: DataFrame,
      idCol: String,
      intervalsCol: String,
      totalLenCol: String,
      seqLen: Long,
      startOffset: Long): DataFrame = {
    // the doc-coordinate interval column is CONSUMED (replaced by the
    // clipped sequence-coordinate `loss_ivs`), so intervalsCol may itself
    // be named loss_ivs — renderConversations' output feeds in directly
    require(intervalsCol == "loss_ivs" || !df.columns.contains("loss_ivs"),
      "input already has a 'loss_ivs' column; rename it — " +
        "packMaskedIntervals emits the clipped intervals as loss_ivs")
    // the row check, ahead of the tiling (so it raises in the prefix
    // sum's first pass): ascending, non-overlapping, non-negative
    // intervals ending within the total length, which a negative length
    // fails — the tiling's own length check below never fires first
    val error =
      s"""CONCAT('packMaskedIntervals: intervals of ', CAST(`$idCol` AS STRING),
         |  ' must be ascending, non-overlapping and within [0, total_len)')""".stripMargin
    val checked = df.withColumn(intervalsCol, expr(
      s"""IF(aggregate(`$intervalsCol`,
         |       named_struct('prev', 0L, 'ok', TRUE),
         |       (a, iv) -> named_struct(
         |         'prev', iv.off + iv.len,
         |         'ok', a.ok AND iv.len >= 0 AND iv.off >= a.prev),
         |       a -> a.ok AND a.prev <= ${Sampling.lenSql(totalLenCol)}),
         |   `$intervalsCol`,
         |   raise_error($error))""".stripMargin))
    Sampling.tileFragments(checked, idCol, totalLenCol, seqLen, startOffset,
        "packMaskedIntervals", Sampling.FragCols)(w => (s"$w < 0", error))
      .withColumn("loss_ivs", Sampling.clipIntervals(intervalsCol))
      .drop(Seq(intervalsCol).filter(_ != "loss_ivs"): _*)
  }

  /**
   * The materialized chat deliverable — [[Sampling.packMaskedTokenIds]]
   * with interval masks: documents as token-id arrays with
   * `intervalsCol` loss intervals (`array<struct<off, len>>` in document
   * token coordinates, e.g. [[renderConversations]]' `loss_ivs` over the
   * ids of the rendered text), packed into fixed `seqLen` windows of
   * `input_ids` + `doc_starts` + `loss_intervals` (in-window
   * coordinates, stream-ordered, non-overlapping — the loader ORs them
   * into the loss mask). This is [[Sampling.buildWindows]] over
   * [[packMaskedIntervals]]' fragments, so the schema is IDENTICAL to
   * [[Sampling.packMaskedTokenIds]]'s and everything downstream — shard
   * export, the streaming store, readers — consumes either
   * interchangeably. Same scale shape: one prefix sum, bounded explode,
   * one hash agg by window.
   */
  def packTokenIds(
      docs: DataFrame,
      idCol: String,
      idsCol: String,
      intervalsCol: String,
      seqLen: Long): DataFrame =
    packTokenIdsFrom(docs, idCol, idsCol, intervalsCol, seqLen, 0L)
      .drop("row_base")

  /** [[packTokenIds]] for an APPEND batch starting at global stream
    * token `startOffset` — the [[Sampling.packMaskedTokenIdsFrom]]
    * contract, interval edition: adds `row_base` for windows a previous
    * batch left partial. [[graft.streaming.ShardStreaming]] drives it
    * per micro-batch. */
  private[graft] def packTokenIdsFrom(
      docs: DataFrame,
      idCol: String,
      idsCol: String,
      intervalsCol: String,
      seqLen: Long,
      startOffset: Long): DataFrame = {
    val d = Sampling.tokenDocs(docs, idCol, col(idsCol).cast("array<long>"),
      seqLen, "packTokenIds", col(intervalsCol))
    Sampling.buildWindows(
      packMaskedIntervalsFrom(d, idCol, intervalsCol, "__graft_n", seqLen, startOffset),
      idCol, col("loss_ivs"))
  }
}
