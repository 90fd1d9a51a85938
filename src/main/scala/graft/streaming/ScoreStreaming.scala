package graft.streaming

import graft.pipeline.Classifier
import graft.pipeline.Classifier.MultiModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Streaming model SERVING: an ingest stream of documents is scored one
 * micro-batch at a time under a FROZEN multi-class model — the
 * production inference shape (train offline, serve the firehose) —
 * maintained under the manifest commit protocol the other maintainers
 * share. Each batch appends its calibrated predictions
 * (doc_id, cls_pred, score_e6, margin_e6, share_bp, n_tokens); the
 * store is the ever-current scored corpus.
 *
 * Scoring is PER-DOCUMENT and deterministic
 * ([[Classifier.scoreMulti]] + [[Classifier.calibrateScores]] — pure
 * integer arithmetic over hashed presence features), so like the
 * additive maintainers there is NO arrival-order contract: any split of
 * the corpus into batches commits the same per-doc rows, and
 * [[committedPredictions]] equals the batch kernel over everything
 * ingested (ScoreStreamingSpec pins it with a shuffled split).
 * Re-ingesting a doc_id appends a duplicate row — at-least-once sources
 * must dedup upstream (the store records arrivals, not identities).
 * The tested recipe: [[maintainPredictionsFirstById]] —
 * [[TopnStreaming.streamingFirstById]] in front of the scoring sink
 * collapses both intra-batch duplicates and cross-batch replays, so
 * each document commits exactly once (ScoreStreamingSpec pins it under
 * a replaying source). Spelling matters: streamingFirstById is an
 * Update-mode `flatMapGroupsWithState`, so its output CANNOT be passed
 * to [[maintainPredictions]] (whose writeStream is append-mode — the
 * composition throws AnalysisException at query start); the recipe
 * method wires the required Update-mode foreachBatch around the
 * scoring step.
 *
 * The frozen-model contract is PINNED: `_graft_params` stores the
 * feature-space shape and an order-independent weight fingerprint, so
 * resuming the stream (or reading a report) with a different model
 * fails fast instead of silently mixing incomparable scores.
 *
 * The store's own leaves and pin ([[CommitStore]] has the layout and
 * the crash argument; data first, manifest last, replays write nothing):
 * {{{
 *   storePath/_graft_params      buckets/bigrams/weight-fingerprint pin
 *   storePath/data/b=<id>/preds   batch predictions
 * }}}
 */
object ScoreStreaming {

  /** Start the serving stream. `docs` is a STREAMING DataFrame of
    * (idCol, textCol) rows; the model is frozen for the stream's life.
    * `filesPerBatch` caps each batch's parquet file count — 1 keeps
    * micro-batch stores compact; raise it when a batch is large enough
    * that one writer task is the throughput ceiling. Read the store with
    * [[committedPredictions]] / [[committedGatedReport]]. */
  def maintainPredictions(
      docs: DataFrame,
      model: MultiModel,
      storePath: String,
      idCol: String,
      textCol: String,
      checkpointLocation: Option[String] = None,
      filesPerBatch: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val fp = modelFingerprint(model)
    CommitStore.maintain(docs, checkpointLocation) { (batch, batchId, scope) =>
      scoreBatch(batch, batchId, model, fp, storePath, idCol, textCol, scope,
        filesPerBatch)
    }
  }

  /**
   * [[maintainPredictions]] with the at-least-once front door built in —
   * the tested spelling of the recipe the store contract documents.
   * The docs stream passes through [[TopnStreaming.streamingFirstById]]
   * (first-arrival-wins keyed state: intra-batch duplicates collapse,
   * cross-batch replays are swallowed before they can append), and the
   * scoring sink runs inside the Update-mode foreachBatch that
   * composition REQUIRES — an Update-mode flatMapGroupsWithState cannot
   * feed an append-mode writeStream, so handing streamingFirstById's
   * output to [[maintainPredictions]] throws at query start; this
   * method exists so callers never have to discover that.
   *
   * Output columns are the dedup stage's canonical (doc_id, text)
   * whatever `idCol`/`textCol` name in the source — identical to what
   * the store records anyway. `stateTtl` bounds the dedup state as in
   * [[TopnStreaming.streamingFirstById]] (match it to the source's
   * replay window; expired ids re-admit).
   */
  def maintainPredictionsFirstById(
      docs: DataFrame,
      model: MultiModel,
      storePath: String,
      idCol: String,
      textCol: String,
      checkpointLocation: Option[String] = None,
      filesPerBatch: Int = 1,
      stateTtl: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val fp = modelFingerprint(model)
    CommitStore.maintain(
      TopnStreaming.streamingFirstById(docs, idCol, textCol, stateTtl).toDF(),
      checkpointLocation, "update") { (batch, batchId, scope) =>
      scoreBatch(batch, batchId, model, fp, storePath, "doc_id", "text", scope,
        filesPerBatch)
    }
  }

  /** Order-independent fingerprint of the weight table (bounded:
    * nClasses × buckets rows) — the resume/read guard's identity for
    * "the same model". Wrapping 64-bit sum of the full per-row
    * `xxhash64` (v2 — v1 reduced each row mod 1,000,003 first, leaving
    * ~20 effective bits per term and a plausible birthday collision at
    * nClasses × buckets rows; the params stamp carries `v=2` so a store
    * written under v1 fails the pin loudly instead of mixing scores —
    * [[migrateStore]] is the verified upgrade path). */
  private[graft] def modelFingerprint(model: MultiModel): Long = {
    // decimal-sum then low-64-bits = wrapping 64-bit addition (a LongType
    // sum would throw on overflow under ANSI, and saturating would lose
    // order-independence)
    val r = model.weights
      .agg(sum(xxhash64(col("cls"), col("f"), col("w_e6"))
        .cast("decimal(38,0)")).as("h")).head
    val h = if (r.isNullAt(0)) 0L
      else r.getDecimal(0).toBigInteger.longValue()
    // fold in the feature-space pins: same weights under a different
    // bucket count hash words differently
    h * 31L + model.numBuckets.toLong * (if (model.bigrams) 7L else 3L)
  }

  private def paramsOf(model: MultiModel, fp: Long): String =
    s"v=2,buckets=${model.numBuckets},bigrams=${model.bigrams},wfp=$fp"

  /** The LEGACY (pre-v2) fingerprint — kept ONLY so [[migrateStore]]
    * can verify that the model presented for migration is the one a v1
    * store was written under (its stamp holds this value). Never used
    * for new stamps. */
  private[graft] def fingerprintV1(model: MultiModel): Long = {
    val r = model.weights
      .agg(sum(pmod(xxhash64(col("cls"), col("f"), col("w_e6")),
        lit(1000003L))).as("h")).head
    val h = if (r.isNullAt(0)) 0L else r.getLong(0)
    h * 31L + model.numBuckets.toLong * (if (model.bigrams) 7L else 3L)
  }

  private[graft] def paramsV1Of(model: MultiModel, fp: Long): String =
    s"buckets=${model.numBuckets},bigrams=${model.bigrams},wfp=$fp"

  /**
   * Migrate a score store written under the PRE-v2 fingerprint to a
   * fresh store at `dstPath` with v2 stamps, so the same stream (and
   * readers) resume against it after an upgrade. The presented model is
   * VERIFIED, not trusted: its legacy fingerprint must equal the one in
   * the source's v1 params stamp (the weight table itself is the
   * identity — recomputing the old hash over it proves this is the
   * serving model up to the v1 pin's strength). Data is folded like
   * [[compactStore]]; the scope stamp is copied verbatim so the
   * original checkpoint's batch ids stay meaningful. A source already
   * on v2 is rejected — use [[compactStore]], which keeps stamps as-is.
   */
  def migrateStore(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      model: MultiModel,
      files: Int = 1): Unit =
    CommitStore.foldInto(spark, srcPath, dstPath, "migrateStore", "score",
      stamp = (fs, root, dfs, droot) => {
        // the stamp must EXIST before checkStamp runs — its absent path
        // would write the presented spelling onto the SOURCE, mutating the
        // store this function must only read
        require(fs.exists(new org.apache.hadoop.fs.Path(root, "_graft_params")),
          s"migrateStore: $root has committed batches but no params stamp — " +
            "not a score store")
        // the v1 stamp must match the presented model's LEGACY fingerprint —
        // checkStamp's equality path does the comparison and its mismatch
        // path the refusal; a v2 source fails here too (its stamp starts
        // with "v=2," which the v1 spelling never does)
        CommitStore.checkStamp(fs, root, "_graft_params",
          paramsV1Of(model, fingerprintV1(model)),
          (stored, given) =>
            s"migrateStore: store at $root was maintained with '$stored' " +
              s"but the presented model fingerprints as '$given' — refusing " +
              "to re-stamp a store under a model that did not write it " +
              "(for a v2 store, use compactStore)")
        // v2 identity first (fail before data, like compactStore): scope
        // copied verbatim, params re-stamped under the v2 fingerprint
        Seq(
          "_graft_scope" -> CommitStore.readText(fs,
            new org.apache.hadoop.fs.Path(root, "_graft_scope")),
          "_graft_params" -> paramsOf(model, modelFingerprint(model)))
          .foreach { case (stamp, content) =>
            CommitStore.checkStamp(dfs, droot, stamp, content,
              (stored, given) =>
                s"migrateStore: destination $droot already carries a " +
                  s"different $stamp pin ('$stored' vs '$given') — it " +
                  "belongs to another stream; migrate into a fresh path")
          }
      }) {
      (ids, v) => CommitStore.writeFoldDir(
        CommitStore.readChain(spark, srcPath, ids, "preds"),
        files, CommitStore.dataDir(dstPath, v, "preds"))
    }

  /** One micro-batch of the protocol (exposed for deterministic
    * crash-path testing; [[maintainPredictions]] drives it).
    * Fails fast on intra-batch duplicate ids: scoring is keyed per doc,
    * so a duplicated id would fan the token-count join out k×k and
    * commit ambiguous rows — at-least-once sources must dedup upstream
    * (cross-batch re-ingestion still appends, per the store contract). */
  private[graft] def scoreBatch(
      batch: DataFrame,
      batchId: Long,
      model: MultiModel,
      modelFp: Long,
      storePath: String,
      idCol: String,
      textCol: String,
      scope: String,
      filesPerBatch: Int = 1): Unit = {
    require(filesPerBatch >= 1,
      s"scoreBatch: filesPerBatch must be >= 1 (got $filesPerBatch)")
    require(idCol != textCol, "scoreBatch: idCol and textCol must differ")
    require(!Seq("cls_pred", "score_e6", "margin_e6", "share_bp",
        "n_tokens").contains(idCol) && !idCol.startsWith("__graft_"),
      s"scoreBatch: id column '$idCol' collides with an output name")
    val pin = CommitStore.Pin(paramsOf(model, modelFp),
      (stored, given) =>
        s"score store at $storePath was maintained with '$stored' but this " +
          s"stream serves '$given' — a different model's scores are not " +
          "comparable; resume with the original model or start a new " +
          "store path")
    CommitStore.guard(batch, batchId, storePath, scope, Some(pin)) { b =>
      // one keyed agg serves double duty: the per-doc token counts the
      // store carries AND the duplicate-id guard (count per id) — no
      // second batch scan for the check, and the join side is unique-keyed
      // by construction
      val toks = batch
        .select(col(idCol).as("doc_id"),
          graft.pipeline.TextAnalysis.tokenCount(col(textCol))
            .cast("long").as("n_tokens"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("__graft_n"), max(col("n_tokens")).as("n_tokens"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val dups = toks.filter(col("__graft_n") > 1L)
          .select(col("doc_id")).limit(3).collect().map(_.get(0)).toSeq
        if (dups.nonEmpty) {
          throw new IllegalArgumentException(
            s"scoreBatch: batch $batchId carries duplicate ids " +
              s"(e.g. ${dups.mkString(", ")}) — scoring is keyed per doc " +
              "and duplicates would fan the prediction join out; dedup " +
              "upstream (at-least-once sources must collapse replays " +
              "within a batch)")
        }
        val preds = Classifier.calibrateScores(
          Classifier.scoreMulti(model, batch, idCol, textCol))
        CommitStore.writeBatchDir(
          preds
            .join(toks.select(col("doc_id"), col("n_tokens")), "doc_id")
            .select(col("doc_id"), col("cls_pred"), col("score_e6"),
              col("margin_e6"), col("share_bp"), col("n_tokens")),
          filesPerBatch, b.dir("preds"))
      } finally toks.unpersist(blocking = false)
      b.commit()
    }
  }

  /** Every committed prediction — the union of the batch chain; equal to
    * `calibrateScores(scoreMulti(model, <all ingested docs>))` plus the
    * token counts, row for row. Empty-schema DataFrame before the first
    * commit. */
  def committedPredictions(
      spark: org.apache.spark.sql.SparkSession, storePath: String): DataFrame =
    CommitStore.committedChain(spark, storePath, "preds", Some("ScoreStreaming"))
      .getOrElse(spark.emptyDataFrame)

  /** The thresholded-LID view of everything served so far:
    * [[Classifier.gateAtMedianMargin]] over the committed predictions
    * (the median is the full history's — recomputed at read time, not
    * frozen per batch), rolled up per gated bucket as (lang_gated,
    * n_docs, n_tokens). Equal to the batch gate over the same corpus.
    * `model` must be the serving model (fingerprint-checked). */
  def committedGatedReport(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      model: MultiModel): DataFrame = {
    val (fs, root) = CommitStore.fsOf(spark, storePath)
    CommitStore.checkStamp(fs, root, "_graft_params",
      paramsOf(model, modelFingerprint(model)),
      (stored, given) =>
        s"score store at $root was maintained with '$stored' but this " +
          s"reader asks for '$given' — the stored scores came from a " +
          "different model")
    val preds = committedPredictions(spark, storePath)
    if (preds.columns.isEmpty) return spark.emptyDataFrame
    Classifier.gateAtMedianMargin(preds)
      .groupBy(col("cls_gated").as("lang_gated"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
  }

  /**
   * One-call fold of the prediction chain into a FRESH store at
   * `dstPath` (must not already hold a score store): a single data
   * directory `b=<committed version>` holding every prediction, with
   * scope and params copied so the SAME stream resumes against
   * `dstPath`. Run it when the chain's file count starts to dominate
   * read planning. `files` > 1 parallelizes the fold's write
   * ([[CommitStore.writeFoldDir]]) — at firehose scale the
   * compaction of a long chain is exactly when one writer task is the
   * ceiling.
   */
  def compactStore(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      files: Int = 1): Unit =
    CommitStore.foldInto(spark, srcPath, dstPath, "compactStore", "score") {
      (ids, v) => CommitStore.writeFoldDir(
        CommitStore.readChain(spark, srcPath, ids, "preds"),
        files, CommitStore.dataDir(dstPath, v, "preds"))
    }
}
