package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType}
import org.apache.spark.storage.StorageLevel

/**
 * Model-based quality filtering: a linear classifier over hashed token
 * features, trained INSIDE the engine by a fixed number of full-batch
 * gradient-descent steps on squared loss — the fastText-style
 * "train a shallow classifier on a trusted slice, score the raw corpus"
 * device used by the GPT-3 / LLaMA data pipelines (Brown et al. 2020
 * §A; Touvron et al. 2023 §2), re-expressed as a deterministic Spark
 * plan.
 *
 * Everything is EXACT integer arithmetic in 1e-6 fixed point:
 *
 *  - features are hashed presence indicators (the [[Dsir.featureBucket]]
 *    md5 bucket — same portable spelling), plus one bias feature
 *    [[BiasFeature]] present in every document;
 *  - the forward pass is an integer sum of per-feature weights — no
 *    division, no transcendental;
 *  - the residual is clamped to ±[[ClampE6]] (gradient clipping — keeps
 *    every later product inside the 2^53 window where the one floor
 *    division is exact);
 *  - the per-document gradient contribution and the weight update use
 *    FLOOR division spelled identically in Spark and standard SQL
 *    ([[floorDiv]] / [[floorDivSql]]), so a K-step training run is
 *    bit-identical across engines and shuffle schedules — the DuckDB
 *    oracle replays TRAINING, not just scoring. This is the
 *    rational-arithmetic doctrine of [[LanguageModel]] applied to a
 *    trainable model (no transcendental anywhere; BM25/DSIR get the same
 *    guarantee from [[graft.expressions.FixedLog2]]).
 *
 * Update rule, per iteration over documents d and features f:
 *
 *   yhat_e6(d) = sum_{f in d} w_e6[f]                       (w starts 0)
 *   r_e6(d)    = clamp(yhat_e6(d) - y_e6(d))                (y in {0, 1e6})
 *   gc_e12(d)  = floor(r_e6(d) * 1e6 / n_docs)              (mean-gradient
 *                                                            scaling, e12
 *                                                            units so it
 *                                                            survives n_docs
 *                                                            up to ~1e9)
 *   g_e12[f]   = sum_{d contains f} gc_e12(d)
 *   w_e6[f]   -= floor(etaNum * g_e12[f] / (etaDen * 1e6))
 *
 * Presence features bound the stable step size by the max number of
 * distinct features per document m: eta < 2/m. The default 1/256 is
 * safe for documents up to ~500 distinct tokens; the contract is
 * "exactly `iters` GD steps", not "converged" — scores are a quality
 * SIGNAL (rank by them, threshold them with [[Selection]]), sharpened
 * by more iterations.
 *
 * One core serves both model families. The binary model ([[train]],
 * [[Model]]) is the one-head case of one-vs-rest ([[trainMulti]],
 * [[MultiModel]]): the same {0, 1e6} targets, clamp, floor divisions and
 * broadcast weight table, with no class key. One-vs-rest is the same
 * core keyed by `cls`, every head trained side by side over one shared
 * feature scan. Each layer is written once and takes the key columns as
 * a parameter: the Spark training loop, the weight-sum join of training
 * and serving, the feature-bucket expression of the per-row scorers, the
 * save/load pair, and the three SQL stage generators (features, the K
 * unrolled iterations, score plus the pinned argmax) behind every
 * oracle replay.
 *
 * Scale shape (100 TB): the only corpus-sized dataset is the
 * doc-feature table — ONE tokenize+hash scan, persisted, then scanned
 * 2 times per iteration from cache. Everything else is bounded by
 * construction: weights and gradients are <= heads × (numBuckets+1)
 * rows (a few KB — the ONLY tables carrying a broadcast hint), the
 * label table is (doc_id, [cls], y) — nClasses rows per document for
 * one-vs-rest, nClasses being language-cardinality, a constant — and
 * each iteration is two bounded shuffles (a per-doc sum keyed by
 * (doc_id, [cls]), a per-feature sum keyed by ([cls], f)) with map-side
 * partial aggregation. Per-iteration weights are localCheckpoint'ed so
 * the K-step loop never grows a deep lineage. No driver-side data
 * beyond the one scalar n_docs.
 *
 * Fault-tolerance trade-off: `localCheckpoint` truncates lineage by
 * keeping the checkpointed rows ONLY in executor storage — losing an
 * executor mid-training loses blocks that can no longer be recomputed
 * and fails the job. That is the right trade for the common case (the
 * checkpointed table is numBuckets+1 rows per head and each iteration
 * is seconds), but a many-iteration run on a flaky cluster should set
 * `spark.sparkContext.setCheckpointDir(...)` and pass
 * `reliableCheckpoint = true` to any trainer, which swaps in a reliable
 * checkpoint (same bounded rows, written to the checkpoint dir,
 * recoverable after executor loss).
 */
object Classifier {

  /** The synthetic always-present intercept feature (hash buckets are
    * non-negative, so -1 cannot collide with a real bucket). */
  val BiasFeature: Long = -1L

  /** Residual clamp (gradient clipping) in 1e-6 units: ±1000.0. Keeps
    * `r * 1e6` within 2^53 so [[floorDiv]] is exact — see object doc. */
  val ClampE6: Long = 1000000000L

  /** Largest bucket count [[scoreColumn]] will embed as a plan literal
    * (~1 MB of map entries at 16 bytes each). Beyond this, the per-row
    * path would ship a multi-MB literal with every task — [[score]]'s
    * broadcast join is the right tier. */
  val MaxScoreColumnBuckets: Int = 1 << 16

  /** The one-vs-rest head key; the binary model has none. */
  private val ClassKey = Seq("cls")

  /** Exact floor division a/n for n > 0, identical in both engines:
    * `(a - pmod(a, n)) / n`. The subtraction makes the numerator an
    * exact multiple of n, so the double division is IEEE-exact for
    * quotients within 2^53 (guaranteed by [[ClampE6]]). */
  def floorDiv(a: Column, n: Column): Column =
    ((a - pmod(a, n)) / n).cast("long")

  /** The identical floor division as engine-neutral SQL (DuckDB `%` is
    * C-style truncated like the JVM, so the pmod spelling matches). */
  def floorDivSql(a: String, n: String): String =
    s"CAST((($a) - ((($a) % ($n) + ($n)) % ($n))) / ($n) AS BIGINT)"

  /** Shared parameter guard for the trainers and the oracle generators.
    * The etaNum cap is the exactness bound: |g_e12| <= ClampE6 * 1e6 / n
    * summed over at most n docs = 1e15, so etaNum <= 9 keeps
    * |etaNum * g_e12| <= 9e15 < 2^53 — the window where [[floorDiv]]'s
    * double division is exact in both engines. A larger etaNum would
    * silently break the bit-identical-training contract (Spark
    * truncates, DuckDB rounds, both diverge from Math.floorDiv). */
  private def requireEta(iters: Int, etaNum: Long, etaDen: Long): Unit = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(etaNum >= 1L && etaDen >= 1L,
      s"learning rate must be positive, got $etaNum/$etaDen")
    require(etaNum <= 9L && etaDen <= 1000000000L,
      s"learning rate terms out of range (etaNum <= 9 keeps the update " +
        s"inside the 2^53 exact-division window): $etaNum/$etaDen")
  }

  /** Adjacent-word bigrams of a token array, space-joined ("deep learning"
    * stays one feature string). Tokens split on whitespace, so the space
    * joiner cannot occur inside a token — no ambiguity with unigrams
    * beyond ordinary hashing-trick collisions. Empty for < 2 tokens. */
  private def wordBigrams(toks: Column): Column = {
    val n = size(toks)
    when(n >= 2,
      zip_with(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
  }

  /** The hashed feature words of a text column: its tokens, plus the
    * bigram strings when `bigrams` is on. */
  private def featureWords(textCol: Column, bigrams: Boolean): Column = {
    val toks = TextAnalysis.tokens(textCol)
    if (bigrams) concat(toks, wordBigrams(toks)) else toks
  }

  /**
   * The doc-feature table: one row per (doc_id, distinct hashed bucket)
   * plus the bias row per document. One scan: tokenize, hash, distinct.
   *
   * `bigrams = true` adds hashed adjacent-word-pair presence features
   * (the fastText device: quality signals like "click here" or
   * "peer reviewed" live in word ORDER, which unigram presence cannot
   * see) into the SAME bucket space — still bounded at numBuckets+1
   * weights no matter the vocabulary, still one scan (the bigram array
   * concatenates onto the token array before the explode). Bigrams
   * roughly double a document's distinct-feature count m, and the
   * GD-stability bound eta < 2/m tightens accordingly — the default
   * 1/256 remains safe for documents to ~250 tokens.
   *
   * Output partitioning contract: the table comes back HASH-PARTITIONED
   * BY doc_id. Every consumer is keyed by doc_id — the trainers'
   * per-iteration `groupBy(doc_id)` forward pass and gradient join, the
   * scorers' per-doc sum — and hashpartitioning(doc_id) satisfies each
   * of those ClusteredDistributions, so once the persisted table carries
   * it, NO later corpus-sized exchange is needed anywhere in training or
   * scoring (one exchange total, vs one per consumer before). The
   * distinct itself rides the same exchange: dedup on (doc_id, f) only
   * needs all copies of a doc_id co-located. The bias feature rides the
   * same exploded array (prepended, so a NULL/empty-text doc still emits
   * exactly its bias row — the previous union's contract), keeping the
   * whole table one generate + one exchange.
   */
  def docFeatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numBuckets: Int,
      bigrams: Boolean = false): DataFrame = {
    val feats = concat(
      array(lit(BiasFeature)),
      coalesce(
        transform(featureWords(col(textCol), bigrams),
          w => Dsir.featureBucket(w, numBuckets)),
        array().cast("array<long>")))
    docs
      .select(col(idCol).as("doc_id"), explode(feats).as("f"))
      .repartition(col("doc_id"))
      .distinct()
  }

  /** Per-(doc, head) sum of the weights of the document's features: the
    * forward pass of training and the score of serving. `keys` is the
    * head key of the weight table (empty for the binary model). */
  private def weightSums(
      feats: DataFrame, weights: DataFrame, keys: Seq[String], as: String): DataFrame =
    feats.join(broadcast(weights), "f")
      .groupBy(("doc_id" +: keys).map(col): _*)
      .agg(sum(col("w_e6")).as(as))

  /**
   * The one training loop: `iters` exact GD steps (see object doc) for
   * every head at once. `labels` is (doc_id, keys..., y_e6) over
   * `nDocs` documents, built by `prepare` after the feature table is
   * marked for caching; `keys` is empty for the binary model and
   * [[ClassKey]] for one-vs-rest. Returns the checkpointed weight table
   * (keys..., f, w_e6); the feature cache serves only the loop and is
   * released before returning.
   */
  private def fit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      keys: Seq[String],
      numBuckets: Int,
      iters: Int,
      etaNum: Long,
      etaDen: Long,
      reliableCheckpoint: Boolean,
      bigrams: Boolean)(prepare: => (DataFrame, Long)): DataFrame = {
    requireEta(iters, etaNum, etaDen)
    if (reliableCheckpoint)
      require(docs.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliableCheckpoint = true needs spark.sparkContext.setCheckpointDir(...) first")

    val feats = docFeatures(docs, idCol, textCol, numBuckets, bigrams)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (labels, nDocs) = prepare
      require(nDocs > 0L, "classifier training needs at least one document")
      val docKey = ("doc_id" +: keys).map(col)
      val weightKey = (keys :+ "f").map(col)
      val clamp: Column => Column =
        c => greatest(lit(-ClampE6), least(lit(ClampE6), c))

      var weights: DataFrame = null
      for (_ <- 1 to iters) {
        val yhat =
          if (weights == null) labels.select(docKey :+ lit(0L).as("yhat_e6"): _*)
          else weightSums(feats, weights, keys, "yhat_e6")
        val resid = labels.join(yhat, "doc_id" +: keys)
          .select(docKey :+ clamp(col("yhat_e6") - col("y_e6")).as("r_e6"): _*)
        val contrib = resid.select(docKey :+
          floorDiv(col("r_e6") * lit(1000000L), lit(nDocs)).as("gc_e12"): _*)
        val grad = feats.join(contrib, "doc_id")
          .groupBy(weightKey: _*)
          .agg(sum(col("gc_e12")).as("g_e12"))
        val step = floorDiv(lit(etaNum) * col("g_e12"), lit(etaDen * 1000000L))
        val next =
          if (weights == null)
            grad.select(weightKey :+ (lit(0L) - step).as("w_e6"): _*)
          else
            grad.join(broadcast(weights), keys :+ "f", "left")
              .select(weightKey :+ (coalesce(col("w_e6"), lit(0L)) - step).as("w_e6"): _*)
        // materialize the bounded weight table; the loop's lineage resets
        // to its concrete rows each iteration
        weights = if (reliableCheckpoint) next.checkpoint() else next.localCheckpoint()
      }
      weights
    } finally feats.unpersist(blocking = false)
  }

  /**
   * Train `iters` exact GD steps; returns the weight table
   * (f, w_e6) — numBuckets+1 rows at most. See object doc for the rule.
   * A NULL `isTarget` trains as target 0.
   */
  def train(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      numBuckets: Int = 1 << 12,
      iters: Int = 3,
      etaNum: Long = 1L,
      etaDen: Long = 256L,
      reliableCheckpoint: Boolean = false,
      bigrams: Boolean = false): DataFrame =
    fit(docs, idCol, textCol, Nil, numBuckets, iters, etaNum, etaDen,
        reliableCheckpoint, bigrams) {
      val labels = docs
        .select(col(idCol).as("doc_id"),
          when(isTarget, lit(1000000L)).otherwise(lit(0L)).as("y_e6"))
      // the one driver-side scalar (cheap metadata-or-scan count); every
      // later appearance of n is a literal inside the distributed plan
      (labels, labels.count())
    }

  /**
   * Train, then score every document with the final weights:
   * (doc_id, is_target, score_e6) — score_e6 is the raw linear score in
   * 1e-6 units (1e6 ~ "looks like the target slice"). Rank or threshold
   * it; [[Selection.selectTopFraction]] composes directly.
   */
  def trainScores(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      numBuckets: Int = 1 << 12,
      iters: Int = 3,
      etaNum: Long = 1L,
      etaDen: Long = 256L,
      reliableCheckpoint: Boolean = false,
      bigrams: Boolean = false): DataFrame = {
    val weights = train(docs, idCol, textCol, isTarget, numBuckets, iters,
      etaNum, etaDen, reliableCheckpoint, bigrams)
    docs.select(col(idCol).as("doc_id"), isTarget.as("is_target"))
      .join(score(docs, idCol, textCol, Model(weights, numBuckets, bigrams)), "doc_id")
      .select(col("doc_id"), col("is_target"), col("score_e6"))
  }

  /** A trained model: the bounded weight table plus the bucket count it
    * was trained with, plus whether bigram features were on. The three
    * travel together because scoring with a mismatched `numBuckets` (or
    * a mismatched feature set) re-hashes every token into the wrong
    * bucket — silently garbage scores, the exact drift [[load]] exists
    * to prevent. */
  final case class Model(weights: DataFrame, numBuckets: Int,
      bigrams: Boolean = false)

  /**
   * Score documents with an already-trained model — the production
   * shape: train once on a curated slice ([[train]] + [[save]]), then
   * score every ingest batch with the frozen model ([[load]] + this).
   * One tokenize+hash scan of `docs`, one broadcast join against the
   * bounded weight table, one per-doc sum. Output: (doc_id, score_e6).
   */
  def score(docs: DataFrame, idCol: String, textCol: String, model: Model): DataFrame =
    weightSums(docFeatures(docs, idCol, textCol, model.numBuckets, model.bigrams),
      model.weights, Nil, "score_e6")

  /** The distinct feature buckets of a text column, as the per-row
    * scorers read them. */
  private def bucketsOf(textCol: Column, numBuckets: Int, bigrams: Boolean): Column =
    array_distinct(transform(featureWords(textCol, bigrams),
      t => Dsir.featureBucket(t, numBuckets)))

  /** One head's per-row score over a bucket array: its bias plus the sum
    * of its embedded per-bucket weights (a missing bucket weighs 0). */
  private def headScore(buckets: Column, w: Map[Long, Long]): Column =
    aggregate(buckets, lit(w.getOrElse(BiasFeature, 0L)),
      (acc, f) => acc + coalesce(element_at(typedLit(w - BiasFeature), f), lit(0L)))

  /**
   * Per-ROW scoring with a frozen model: the same score as [[score]]
   * (bias + sum of weights over the document's distinct buckets) as a
   * pure projection Column — no join, no aggregation — so a trained
   * quality gate runs ANYWHERE a Column does: inside Structured
   * Streaming micro-batches (where [[score]]'s distinct + groupBy would
   * need its own output-mode machinery), in a filter pushed into an
   * ingest scan, or composed into another operator's projection. The
   * weight table rides along as a map literal in the plan — a few KB at
   * ANY corpus size for the default 4096 buckets, but proportional to
   * `numBuckets`, NOT corpus size; models above [[MaxScoreColumnBuckets]]
   * buckets would bloat every task's serialized plan, so this path
   * refuses them — use [[score]]'s broadcast join for large-bucket
   * models.
   */
  def scoreColumn(textCol: Column, model: Model): Column = {
    require(model.numBuckets <= MaxScoreColumnBuckets,
      s"scoreColumn embeds the weight table in the plan; numBuckets = " +
        s"${model.numBuckets} exceeds $MaxScoreColumnBuckets — use score() " +
        s"(broadcast join) for large-bucket models")
    val w = model.weights.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    headScore(bucketsOf(textCol, model.numBuckets, model.bigrams), w)
  }

  /** Persist a weight table plus a one-row meta table pinning the bucket
    * count and the feature set: the layout of both [[save]] and
    * [[saveMulti]]. */
  private def saveModel(
      weights: DataFrame, numBuckets: Int, bigrams: Boolean, path: String): Unit = {
    weights.write.mode("overwrite").parquet(s"$path/weights")
    val spark = weights.sparkSession
    import spark.implicits._
    Seq((numBuckets.toLong, bigrams))
      .toDF("num_buckets", "use_bigrams")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a model written by [[saveModel]], with (`keyed`) or without a
    * class key: (weights, numBuckets, bigrams). Weights round-trip
    * exactly (integers). Fails fast on layout drift — names AND types,
    * the [[LanguageModel.load]] doctrine: a weight table with matching
    * names but a narrowed w_e6 would otherwise score wrong silently. */
  private def loadModel(
      path: String, spark: SparkSession, keyed: Boolean): (DataFrame, Int, Boolean) = {
    val (saver, cols, need) =
      if (keyed) ("saveMulti", Seq("cls" -> StringType, "f" -> LongType, "w_e6" -> LongType),
        "string cls, long f and w_e6")
      else ("save", Seq("f" -> LongType, "w_e6" -> LongType), "long f and w_e6")
    val w = spark.read.parquet(s"$path/weights")
    require(w.schema.fields.map(f => f.name -> f.dataType).sortBy(_._1)
      .sameElements(cols),
      s"not a Classifier.$saver layout at $path (need $need; " +
        s"got ${w.schema.simpleString})")
    val meta = spark.read.parquet(s"$path/meta")
    require(meta.schema.fields.map(f => f.name -> f.dataType)
      .sameElements(Seq("num_buckets" -> LongType, "use_bigrams" -> BooleanType)),
      s"not a Classifier.$saver meta layout at $path " +
        s"(got ${meta.schema.simpleString})")
    val metaRow = meta.head
    val buckets = metaRow.getLong(0)
    require(buckets >= 2L && buckets <= (1L << 30),
      s"persisted num_buckets out of range at $path: $buckets")
    (w, buckets.toInt, metaRow.getBoolean(1))
  }

  /** Persist a trained model: the weight table (numBuckets+1 rows of
    * (f, w_e6) — a few KB of parquet) plus a one-row meta table pinning
    * the bucket count. */
  def save(model: Model, path: String): Unit =
    saveModel(model.weights, model.numBuckets, model.bigrams, path)

  /** Load a model persisted by [[save]]; fails fast on layout drift. */
  def load(path: String, spark: SparkSession): Model = {
    val (w, buckets, bigrams) = loadModel(path, spark, keyed = false)
    Model(w, buckets, bigrams)
  }

  // --- multi-class (one-vs-rest) --------------------------------------------
  //
  // The binary trainer generalized to a LABEL COLUMN: one linear head per
  // distinct label value, all trained simultaneously by the same core
  // over ONE shared doc-feature scan — the weight table just gains a
  // `cls` key, and every per-iteration shuffle carries it. The flagship
  // use is trained language-ID (the fastText lid.176 shape: hashed token
  // features, one linear head per language), replacing
  // TextAnalysis.languageId's 4-language stop-word heuristic with a model
  // the corpus itself teaches. A K-step multi-class run is bit-identical
  // across engines, and [[multiClassifierCtes]] replays the ENTIRE
  // training in DuckDB. Prediction is argmax with the pinned tie order
  // (score desc, class asc), spelled as the same row_number-over-(doc)
  // window in both engines.

  /** A trained multi-class model: (cls, f, w_e6) weights — at most
    * nClasses × (numBuckets+1) rows — plus the feature-space pins. */
  final case class MultiModel(weights: DataFrame, numBuckets: Int,
      bigrams: Boolean = false)

  /**
   * Train one-vs-rest: `iters` exact GD steps for EVERY distinct value
   * of `labelCol` at once. Returns the weight table (cls, f, w_e6). Each
   * head is exactly the binary model [[train]] would fit for "label ==
   * that class". NULL labels are rejected up front: a NULL never equals
   * its own class under SQL semantics, so it would train as all-negative
   * silently.
   */
  def trainMulti(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      numBuckets: Int = 1 << 12,
      iters: Int = 3,
      etaNum: Long = 1L,
      etaDen: Long = 256L,
      reliableCheckpoint: Boolean = false,
      bigrams: Boolean = false): DataFrame =
    fit(docs, idCol, textCol, ClassKey, numBuckets, iters, etaNum, etaDen,
        reliableCheckpoint, bigrams) {
      val classes = docs.select(col(labelCol).as("cls")).distinct()
      // one-vs-rest label table: every (doc, class) pair with its 0/1e6
      // target — nClasses rows per document, bounded fan-out
      val labels = docs
        .select(col(idCol).as("doc_id"), col(labelCol).as("__graft_y"))
        .crossJoin(broadcast(classes))
        .select(col("doc_id"), col("cls"),
          when(col("__graft_y") === col("cls"), lit(1000000L))
            .otherwise(lit(0L)).as("y_e6"))
      // one scan answers both pre-flight questions (count + NULL labels)
      val pre = docs
        .agg(count(lit(1)), count(when(col(labelCol).isNull, lit(1)))).head
      val (nDocs, nNull) = (pre.getLong(0), pre.getLong(1))
      require(nNull == 0L,
        s"trainMulti: label column '$labelCol' has $nNull NULLs; filter or " +
          "impute them first (a NULL label trains as all-negative silently)")
      (labels, nDocs)
    }

  /**
   * Train one-vs-rest, then predict every document: (doc_id, cls_actual,
   * cls_pred, score_e6) — cls_pred is the argmax class under the pinned
   * tie order (score desc, cls asc), score_e6 its raw linear score.
   */
  def trainMultiPredictions(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      numBuckets: Int = 1 << 12,
      iters: Int = 3,
      etaNum: Long = 1L,
      etaDen: Long = 256L,
      reliableCheckpoint: Boolean = false,
      bigrams: Boolean = false): DataFrame =
    predictionsFrom(
      MultiModel(trainMulti(docs, idCol, textCol, labelCol, numBuckets, iters,
        etaNum, etaDen, reliableCheckpoint, bigrams), numBuckets, bigrams),
      docs, idCol, textCol, labelCol)

  /**
   * Score every (doc, class) pair of `docs` under an ALREADY-TRAINED
   * model: (doc_id, cls, score_e6) — the identical feature scan +
   * broadcast weight join + keyed sum the trainers run, so a model
   * trained once (or loaded via [[loadMulti]]) can serve many
   * consumers — argmax, calibration, gating, mixture weighting —
   * without re-running GD.
   */
  def scoreMulti(
      model: MultiModel,
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    weightSums(docFeatures(docs, idCol, textCol, model.numBuckets, model.bigrams),
      model.weights, ClassKey, "score_e6")

  /** The pinned argmax order within a document: score desc, class asc —
    * the window both engines spell identically. */
  private def byScore: WindowSpec =
    Window.partitionBy(col("doc_id")).orderBy(col("score_e6").desc, col("cls").asc)

  /**
   * [[trainMultiPredictions]]'s output — (doc_id, cls_actual, cls_pred,
   * score_e6) under the pinned argmax (score desc, cls asc) — computed
   * from an already-trained model instead of training in place.
   */
  def predictionsFrom(
      model: MultiModel,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String): DataFrame = {
    // the doc_id partitioning scales (nClasses rows per key)
    val best = scoreMulti(model, docs, idCol, textCol)
      .withColumn("__graft_rn", row_number().over(byScore))
      .filter(col("__graft_rn") === 1)
      .select(col("doc_id"), col("cls").as("cls_pred"), col("score_e6"))
    docs.select(col(idCol).as("doc_id"), col(labelCol).as("cls_actual"))
      .join(best, "doc_id")
      .select(col("doc_id"), col("cls_actual"), col("cls_pred"),
        col("score_e6"))
  }

  /**
   * [[trainMultiCalibrated]]'s output — predictions plus margin_e6 /
   * share_bp — computed from an already-trained model.
   */
  def calibratedFrom(
      model: MultiModel,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(labelCol).as("cls_actual"))
      .join(calibrateScores(scoreMulti(model, docs, idCol, textCol)),
        "doc_id")
      .select(col("doc_id"), col("cls_actual"), col("cls_pred"),
        col("score_e6"), col("margin_e6"), col("share_bp"))

  /**
   * Calibrate a per-(doc, cls) score table into a per-doc report with
   * confidence columns, in the same EXACT fixed-point doctrine as
   * training (no floats, both engines replay it bit-for-bit):
   *
   *  - `cls_pred` / `score_e6`: the argmax under the pinned tie order
   *    (score desc, cls asc) — identical to [[trainMultiPredictions]];
   *  - `margin_e6 = top1 - top2` (0 for a single-class model): the
   *    rank-stability confidence a thresholded LID gate reads — raw
   *    one-vs-rest sums are comparable WITHIN a document, so the
   *    difference is meaningful where the absolute score is not;
   *  - `share_bp`: the predicted class's share of the document's total
   *    shifted score mass in basis points,
   *    `floor(10000 * (top1 - min) / sum_c (score_c - min))` — the
   *    exact-arithmetic stand-in for a softmax share (shift-invariant
   *    like softmax, order-preserving, integer): what a mixture weighter
   *    consumes. All classes tied (degenerate doc) → the uniform
   *    `floor(10000 / nClasses)`.
   *
   * Magnitudes: share's numerator is `(top1 - min) * 10000`; with e6
   * fixed-point scores clamped by training, it stays well inside the
   * 2^53 exactness domain of [[floorDiv]].
   *
   * Input: (doc_id, cls, score_e6). One keyed window + one keyed agg —
   * nClasses rows per doc, the same scale shape as the argmax path.
   */
  def calibrateScores(scores: DataFrame): DataFrame = {
    val ranked = scores.withColumn("__graft_rn", row_number().over(byScore))
    val agg = scores.groupBy(col("doc_id")).agg(
      min(col("score_e6")).as("__graft_smin"),
      sum(col("score_e6")).as("__graft_ssum"),
      count(lit(1)).as("__graft_n"))
    val top = ranked.filter(col("__graft_rn") <= 2)
      .groupBy(col("doc_id")).agg(
        max(when(col("__graft_rn") === 1,
          struct(col("cls"), col("score_e6")))).as("__graft_t1"),
        max(when(col("__graft_rn") === 2, col("score_e6"))).as("__graft_s2"))
    top.join(agg, "doc_id").select(
      col("doc_id"),
      col("__graft_t1.cls").as("cls_pred"),
      col("__graft_t1.score_e6").as("score_e6"),
      coalesce(col("__graft_t1.score_e6") - col("__graft_s2"), lit(0L))
        .as("margin_e6"),
      {
        val denom = col("__graft_ssum") - col("__graft_n") * col("__graft_smin")
        when(denom === 0L, floorDiv(lit(10000L), col("__graft_n")))
          .otherwise(floorDiv(
            (col("__graft_t1.score_e6") - col("__graft_smin")) * 10000L,
            denom))
      }.as("share_bp"))
  }

  /**
   * [[trainMultiPredictions]] plus the calibrated confidence columns of
   * [[calibrateScores]]: (doc_id, cls_actual, cls_pred, score_e6,
   * margin_e6, share_bp). Same one-shared-feature-scan training, same
   * pinned argmax; the extra cost is one keyed agg over the nClasses-
   * per-doc score table.
   */
  def trainMultiCalibrated(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      numBuckets: Int = 1 << 12,
      iters: Int = 3,
      etaNum: Long = 1L,
      etaDen: Long = 256L,
      reliableCheckpoint: Boolean = false,
      bigrams: Boolean = false): DataFrame =
    calibratedFrom(
      MultiModel(trainMulti(docs, idCol, textCol, labelCol, numBuckets, iters,
        etaNum, etaDen, reliableCheckpoint, bigrams), numBuckets, bigrams),
      docs, idCol, textCol, labelCol)

  /**
   * Confidence-gate calibrated predictions: `cls_gated = cls_pred` where
   * `margin_e6 >= marginFloor`, else the `und` (undetermined) bucket —
   * the thresholded-LID pattern: downstream mixture / filter decisions
   * read only predictions whose top-1/top-2 margin clears the floor,
   * and the rest stay visible as an explicit bucket instead of
   * silently keeping a low-confidence label.
   *
   * `und` must not collide with a real class label (the buckets would
   * merge in any per-language rollup); the testdata's ISO-ish codes
   * never use "und", which is ISO 639's own undetermined code.
   */
  def gatePredictions(
      calibrated: DataFrame,
      marginFloor: Column,
      und: String = "und"): DataFrame =
    calibrated.withColumn("cls_gated",
      when(col("margin_e6") >= marginFloor, col("cls_pred"))
        .otherwise(lit(und)))

  /**
   * [[gatePredictions]] at a SELF-CALIBRATING floor: the exact
   * nearest-rank MEDIAN of `margin_e6` over the scored corpus
   * ([[Selection.exactPercentiles]] — histogram + prefix sum, no global
   * sort, no collect; the 1-row floor is broadcast). A fixed e6 floor
   * is meaningless across corpora/training lengths (raw one-vs-rest
   * sums scale with corpus statistics); the median is scale-free and
   * exercises both branches on any corpus with a non-degenerate margin
   * distribution (>= half the docs clear it by definition).
   *
   * The input is consumed twice (median pass + gate pass) — at scale,
   * persist `calibrated` first if its lineage is expensive; training
   * itself never re-runs (weights are checkpointed eagerly).
   */
  def gateAtMedianMargin(
      calibrated: DataFrame,
      und: String = "und"): DataFrame = {
    require(!calibrated.columns.contains("margin_floor"),
      "'margin_floor' is reserved by gateAtMedianMargin (it carries the " +
        "broadcast p50 into the gate and stays in the output)")
    val p50 = Selection
      .exactPercentiles(calibrated.select(col("margin_e6")),
        "margin_e6", Seq(50))
      .select(col("value").as("margin_floor"))
    gatePredictions(
      calibrated.crossJoin(broadcast(p50)),
      col("margin_floor"), und)
  }

  /**
   * Per-ROW prediction with a frozen multi-class model — the
   * [[scoreColumn]] shape generalized: each class's weight map embeds as
   * a plan literal, per-class scores compute in one pass over the
   * document's distinct buckets, and the argmax resolves through an
   * ordered struct-greatest (score desc, then class ASC on ties — the
   * pinned order, encoded as the NEGATED class rank so lexicographic
   * struct max lands on the smaller class name). Runs anywhere a Column
   * does: streaming micro-batches, ingest filters, other operators'
   * projections. Literal size is nClasses × numBuckets entries — the
   * [[MaxScoreColumnBuckets]] refusal applies to the PRODUCT.
   */
  def predictColumn(textCol: Column, model: MultiModel): Column = {
    val grouped: Map[String, Map[Long, Long]] = model.weights
      .collect()
      .groupBy(_.getString(0))
      .map { case (c, rows) =>
        c -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap
      }
    require(grouped.nonEmpty, "predictColumn: empty weight table")
    val classes = grouped.keys.toSeq.sorted
    require(classes.size.toLong * model.numBuckets <= MaxScoreColumnBuckets,
      s"predictColumn embeds nClasses × numBuckets = ${classes.size} × " +
        s"${model.numBuckets} weights in the plan, over " +
        s"$MaxScoreColumnBuckets — use trainMultiPredictions' " +
        "broadcast-join path for large models")
    val buckets = bucketsOf(textCol, model.numBuckets, model.bigrams)
    val scored = classes.zipWithIndex.map { case (c, i) =>
      struct(headScore(buckets, grouped(c)).as("s"), lit(-i).as("nr"))
    }
    val best =
      if (scored.size == 1) scored.head else greatest(scored: _*)
    // NULL text must predict NULL, not the alphabetically-first class:
    // a NULL token array makes every per-class aggregate() NULL, and
    // greatest() would then tie purely on the rank field — a
    // confident-looking wrong label (the binary scoreColumn returns NULL
    // here for the same reason)
    when(textCol.isNull, lit(null).cast("string"))
      .otherwise(element_at(typedLit(classes), (lit(0) - best.getField("nr")) + 1))
  }

  /** Persist a multi-class model: the (cls, f, w_e6) weight table plus
    * the one-row meta pins — the [[save]] layout with a class key. */
  def saveMulti(model: MultiModel, path: String): Unit =
    saveModel(model.weights, model.numBuckets, model.bigrams, path)

  /** Load a model persisted by [[saveMulti]]; fails fast on layout
    * drift (names AND types — the [[load]] doctrine). */
  def loadMulti(path: String, spark: SparkSession): MultiModel = {
    val (w, buckets, bigrams) = loadModel(path, spark, keyed = true)
    MultiModel(w, buckets, bigrams)
  }

  // --- SQL replay ------------------------------------------------------------
  //
  // Every oracle replay is composed from three stage generators, each the
  // SQL twin of one Spark layer above and each taking the head key as a
  // flag (`keyed`: one-vs-rest's `cls`, absent for the binary model):
  // [[featureStages]] ([[docFeatures]]), [[iterationStages]] ([[fit]]'s
  // K unrolled steps) and [[scoreStages]] ([[weightSums]] plus the pinned
  // argmax). Each returns comma-joined CTE definitions under a name
  // prefix; a composition wraps the whole chain in
  // [[OracleSql.materializeCtes]] (the feature CTE feeds two stages per
  // iteration, each weight stage the next).

  /** The SQL head-key fragments: the column list prefix, the same
    * qualified by a table alias, and the GROUP BY ordinals of a
    * (doc_id or f, [cls]) aggregate. */
  private final case class SqlKey(keyed: Boolean) {
    val cols: String = if (keyed) "cls, " else ""
    def of(alias: String): String = if (keyed) s"$alias.cls, " else ""
    val groupBy: String = if (keyed) "1, 2" else "1"
  }

  /** `{p}t` (doc_id, `labelCol` = the caller's label expression, toks),
    * `{p}exw` (distinct hashed buckets) and `{p}ex` (plus the bias row
    * per document) over `src`, which needs `doc_id` and `text`. Bigram
    * strings concatenate onto the token list before the unnest, as in
    * [[docFeatures]] (DuckDB range() is stop-exclusive and lists are
    * 1-indexed, so i pairs toks[i] with toks[i+1] for i in [1, len-1];
    * < 2 tokens yields the empty range). */
  private def featureStages(p: String, src: String, labelExpr: String,
      labelCol: String, labelName: String, numBuckets: Int, bigrams: Boolean): String = {
    OracleSql.requireNoCteHead(src, "src")
    OracleSql.requireNoCteHead(labelExpr, labelName)
    val words =
      if (bigrams)
        "list_concat(toks, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))"
      else "toks"
    s"""${p}t AS (
       |  SELECT doc_id, ($labelExpr) AS $labelCol,
       |         regexp_split_to_array(trim(text), '\\s+') AS toks FROM $src),
       |${p}exw AS (SELECT DISTINCT doc_id, ${Dsir.featureBucketSql("w", numBuckets)} AS f
       |        FROM (SELECT doc_id, unnest($words) AS w FROM ${p}t)),
       |${p}ex AS (SELECT doc_id, f FROM ${p}exw
       |       UNION ALL SELECT doc_id, CAST($BiasFeature AS BIGINT) AS f FROM ${p}t)""".stripMargin
  }

  /** `{p}n` (the document count of `{p}t`), then the K unrolled GD steps
    * over `{p}lab` (doc_id, [cls], y_e6) and `{p}ex`: step k ends in the
    * weights CTE `{p}w<k>` ([cls], f, w_e6). */
  private def iterationStages(p: String, key: SqlKey, iters: Int,
      etaNum: Long, etaDen: Long): String = {
    def update(g: String) = floorDivSql(s"$etaNum * $g", s"${etaDen}000000")
    val steps = (1 to iters).map { k =>
      val resid =
        if (k == 1)
          s"""${p}r$k AS (SELECT doc_id, ${key.cols}
             |        GREATEST(-$ClampE6, LEAST($ClampE6, 0 - y_e6)) AS r_e6 FROM ${p}lab)""".stripMargin
        else
          s"""${p}y$k AS (SELECT e.doc_id, ${key.of("w")}CAST(SUM(w.w_e6) AS BIGINT) AS yhat_e6
             |       FROM ${p}ex e JOIN ${p}w${k - 1} w USING (f) GROUP BY ${key.groupBy}),
             |${p}r$k AS (SELECT l.doc_id, ${key.of("l")}
             |        GREATEST(-$ClampE6, LEAST($ClampE6, y.yhat_e6 - l.y_e6)) AS r_e6
             |        FROM ${p}lab l JOIN ${p}y$k y USING (${key.cols}doc_id))""".stripMargin
      val weights =
        if (k == 1)
          s"""${p}w$k AS (SELECT ${key.cols}f, CAST(0 - ${update("g_e12")} AS BIGINT) AS w_e6
             |       FROM ${p}g$k)""".stripMargin
        else
          s"""${p}w$k AS (SELECT ${key.of("g")}g.f,
             |        CAST(COALESCE(w.w_e6, 0) - ${update("g.g_e12")} AS BIGINT) AS w_e6
             |        FROM ${p}g$k g LEFT JOIN ${p}w${k - 1} w USING (${key.cols}f))""".stripMargin
      s"""$resid,
         |${p}gc$k AS (SELECT doc_id, ${key.cols}${floorDivSql("r_e6 * 1000000", "n_docs")} AS gc_e12
         |        FROM ${p}r$k CROSS JOIN ${p}n),
         |${p}g$k AS (SELECT ${key.of("gc")}e.f, CAST(SUM(gc.gc_e12) AS BIGINT) AS g_e12
         |       FROM ${p}ex e JOIN ${p}gc$k gc USING (doc_id) GROUP BY ${key.groupBy}),
         |$weights""".stripMargin
    }
    (s"${p}n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM ${p}t)" +: steps)
      .mkString(",\n")
  }

  /** `{p}sc` (doc_id, [cls], score_e6) under the weights CTE `weights`;
    * keyed, also `{p}bst`, every (doc, class) score ranked by the pinned
    * argmax order as `rn`. */
  private def scoreStages(p: String, key: SqlKey, weights: String): String = {
    val sc =
      s"""${p}sc AS (SELECT e.doc_id, ${key.of("w")}CAST(SUM(w.w_e6) AS BIGINT) AS score_e6
         |       FROM ${p}ex e JOIN $weights w USING (f) GROUP BY ${key.groupBy})""".stripMargin
    if (!key.keyed) sc
    else
      s"""$sc,
         |${p}bst AS (SELECT doc_id, cls AS cls_pred, score_e6,
         |        ROW_NUMBER() OVER (PARTITION BY doc_id
         |                           ORDER BY score_e6 DESC, cls) AS rn
         |        FROM ${p}sc)""".stripMargin
  }

  /** `{p}out` (doc_id, cls_actual, cls_pred, score_e6): the argmax row of
    * [[scoreStages]]' ranking per document. */
  private def predictionStage(p: String): String =
    s"""${p}out AS (SELECT t.doc_id, t.cls_actual, b.cls_pred, b.score_e6
       |       FROM ${p}t t JOIN ${p}bst b USING (doc_id) WHERE b.rn = 1)""".stripMargin

  /**
   * The COMPLETE one-vs-rest training + prediction replay as CTE stages
   * over a source relation `src` (needs `doc_id`, `text`, and the label
   * column named by `labelExpr`) — the [[classifierCtes]] replay with a
   * `cls` key threaded through every stage. The class list is derived
   * IN-QUERY (`SELECT DISTINCT`), so DuckDB trains whatever classes the
   * data holds, exactly as the Spark loop does. Returns (ctesString,
   * finalCteName); the final CTE yields (doc_id, cls_actual, cls_pred,
   * score_e6) with the argmax spelled as the identical
   * row_number-over-doc window, plus margin_e6 and share_bp (the
   * [[calibrateScores]] replay) when `calibrated`.
   */
  def multiClassifierCtes(
      src: String,
      labelExpr: String,
      numBuckets: Int = 1 << 12,
      iters: Int = 3,
      etaNum: Long = 1L,
      etaDen: Long = 256L,
      prefix: String = "mc",
      bigrams: Boolean = false,
      calibrated: Boolean = false): (String, String) = {
    requireEta(iters, etaNum, etaDen)
    val p = prefix
    val key = SqlKey(keyed = true)
    val out =
      if (!calibrated) predictionStage(p)
      else
        // per-doc shifted-mass stats, the top-2 pivot, then margin + share
        // in the identical floor division; all-tied docs take the uniform
        // floor(10000 / n)
        s"""${p}ag AS (SELECT doc_id, MIN(score_e6) AS smin,
           |        CAST(SUM(score_e6) AS BIGINT) AS ssum,
           |        CAST(COUNT(*) AS BIGINT) AS n
           |        FROM ${p}sc GROUP BY 1),
           |${p}tp AS (SELECT doc_id,
           |        MAX(CASE WHEN rn = 1 THEN cls_pred END) AS cls_pred,
           |        MAX(CASE WHEN rn = 1 THEN score_e6 END) AS s1,
           |        MAX(CASE WHEN rn = 2 THEN score_e6 END) AS s2
           |        FROM ${p}bst WHERE rn <= 2 GROUP BY doc_id),
           |${p}out AS (SELECT t.doc_id, t.cls_actual, b.cls_pred,
           |        CAST(b.s1 AS BIGINT) AS score_e6,
           |        CAST(COALESCE(b.s1 - b.s2, 0) AS BIGINT) AS margin_e6,
           |        CASE WHEN a.ssum - a.n * a.smin = 0
           |             THEN ${floorDivSql("10000", "a.n")}
           |             ELSE ${floorDivSql("(b.s1 - a.smin) * 10000", "a.ssum - a.n * a.smin")}
           |        END AS share_bp
           |       FROM ${p}t t JOIN ${p}tp b USING (doc_id)
           |       JOIN ${p}ag a USING (doc_id))""".stripMargin
    val stages = Seq(
      featureStages(p, src, labelExpr, "cls_actual", "labelExpr", numBuckets, bigrams),
      s"""${p}cls AS (SELECT DISTINCT cls_actual AS cls FROM ${p}t),
         |${p}lab AS (SELECT t.doc_id, c.cls,
         |               CASE WHEN t.cls_actual = c.cls THEN 1000000 ELSE 0 END AS y_e6
         |        FROM ${p}t t CROSS JOIN ${p}cls c)""".stripMargin,
      iterationStages(p, key, iters, etaNum, etaDen),
      scoreStages(p, key, s"${p}w$iters"),
      out)
    (OracleSql.materializeCtes(stages.mkString(",\n")), s"${p}out")
  }

  /**
   * [[multiClassifierCtes]] plus the NAME of the final weights CTE
   * (`{prefix}w{iters}` — pinned here so oracles that score a DIFFERENT
   * doc set under the trained model don't reverse-engineer the
   * generator's naming). Returns (ctes, finalCte, weightsCte).
   */
  def multiClassifierCtesW(
      src: String,
      labelExpr: String,
      numBuckets: Int = 1 << 12,
      iters: Int = 3,
      etaNum: Long = 1L,
      etaDen: Long = 256L,
      prefix: String = "mc",
      bigrams: Boolean = false,
      calibrated: Boolean = false): (String, String, String) = {
    val (ctes, fin) = multiClassifierCtes(src, labelExpr, numBuckets,
      iters, etaNum, etaDen, prefix, bigrams, calibrated)
    (ctes, fin, s"${prefix}w$iters")
  }

  /**
   * Score CTEs for a doc set under an ALREADY-TRAINED weights CTE — the
   * SQL twin of [[scoreMulti]]+[[predictionsFrom]] for the
   * out-of-sample serve pattern (train on one slice, score another):
   * the identical distinct-hashed-feature + bias spelling as training,
   * the identical pinned argmax. Returns (ctes, finalCte); the final
   * CTE yields (doc_id, cls_actual, cls_pred, score_e6). `weightsCte`
   * must expose (cls, f, w_e6) — e.g. [[multiClassifierCtesW]]'s third
   * element.
   */
  def scoreCtes(
      src: String,
      labelExpr: String,
      weightsCte: String,
      numBuckets: Int = 1 << 12,
      prefix: String = "hs",
      bigrams: Boolean = false): (String, String) = {
    val p = prefix
    val stages = Seq(
      featureStages(p, src, labelExpr, "cls_actual", "labelExpr", numBuckets, bigrams),
      scoreStages(p, SqlKey(keyed = true), weightsCte),
      predictionStage(p))
    (OracleSql.materializeCtes(stages.mkString(",\n")), s"${p}out")
  }

  /**
   * The COMPLETE training + scoring run as one engine-neutral SQL
   * statement over a `documents` table — K unrolled iteration CTEs
   * generated from the same constants as the Spark plan, so the two
   * spellings cannot drift. `targetExpr` is the SQL boolean marking the
   * trusted slice (e.g. `lang = 'en'`). Output: (doc_id, is_target,
   * score_e6) ordered by doc_id.
   */
  def classifierSql(
      targetExpr: String,
      numBuckets: Int = 1 << 12,
      iters: Int = 3,
      etaNum: Long = 1L,
      etaDen: Long = 256L,
      bigrams: Boolean = false): String = {
    val (ctes, fin) = classifierCtes("documents", targetExpr, numBuckets,
      iters, etaNum, etaDen, bigrams = bigrams)
    s"WITH $ctes\nSELECT doc_id, is_target, score_e6 FROM $fin ORDER BY doc_id"
  }

  /**
   * The same engine-neutral training + scoring replay as CTE STAGES over
   * an arbitrary source relation `src` (any CTE/table with `doc_id` and
   * `text` columns), so a larger statement — the end-to-end curation
   * oracle — can embed a full training run mid-chain. Returns
   * (ctesString, finalCteName); the final CTE yields (doc_id, is_target,
   * score_e6). `prefix` namespaces every CTE name.
   */
  def classifierCtes(
      src: String,
      targetExpr: String,
      numBuckets: Int = 1 << 12,
      iters: Int = 3,
      etaNum: Long = 1L,
      etaDen: Long = 256L,
      prefix: String = "c",
      bigrams: Boolean = false): (String, String) = {
    requireEta(iters, etaNum, etaDen)
    val p = prefix
    val key = SqlKey(keyed = false)
    val stages = Seq(
      featureStages(p, src, targetExpr, "is_target", "targetExpr", numBuckets, bigrams),
      s"""${p}lab AS (SELECT doc_id, is_target,
         |               CASE WHEN is_target THEN 1000000 ELSE 0 END AS y_e6 FROM ${p}t)""".stripMargin,
      iterationStages(p, key, iters, etaNum, etaDen),
      scoreStages(p, key, s"${p}w$iters"),
      s"""${p}out AS (SELECT l.doc_id, l.is_target, sc.score_e6
         |       FROM ${p}lab l JOIN ${p}sc sc USING (doc_id))""".stripMargin)
    (OracleSql.materializeCtes(stages.mkString(",\n")), s"${p}out")
  }
}
