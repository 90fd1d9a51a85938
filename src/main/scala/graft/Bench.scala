package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

import graft.catalog.FixtureStore

/**
 * Benchmark main: runs every SparkEntry query against
 * `SPARK_GRAFT_SF_DIR` (default sf0.1) on local[32] and prints ONE JSON
 * line `{"metric":"total","value":N,"unit":"sec","cpus":N,
 * "queries":{...},"ops":{...},"growth":{...},"iqr":{...},"failed":{...},
 * "sf":...}`.
 *
 * Every row is timed one way ([[timeRow]]): one untimed warm-up at sf0.001,
 * then [[Reps]] runs that each build the plan and write every row to the
 * `noop` sink; the row records the median, and `iqr` its interquartile
 * range. A row whose run throws is listed in `failed` with the exception
 * class instead, and the run exits 1 after the contract line.
 *
 *  - `value` / `queries`: the driver's CORRECTNESS queries — `value` is
 *    the sum of their medians (new queries change it, noted in
 *    docs/BENCH_NOTES.md).
 *  - `ops`: SparkEntry.benchOnly — the operator subplans of the queries
 *    whose correctness spelling embeds an in-plan verification twin.
 *    These are what a user actually pays for the operator.
 *  - `growth`: the same operator at 1x / 4x / 10x the input (documents /
 *    embeddings replicated with per-copy token/noise decorrelation, so
 *    each copy reproduces the original similarity structure without
 *    cross-copy near-dups). sf0.1 queries are mostly overhead-bound; the
 *    growth slopes are where plan regressions actually show. Disable with
 *    SPARK_GRAFT_GROWTH=0.
 *
 * Config mirrors a production executor profile scaled to one machine:
 * shuffle partitions = cores (not the 200 default), AQE on (runtime
 * coalescing + skew-join splitting — the same knobs that matter at
 * cluster scale).
 */
object Bench {

  /** `copies` decorrelated replicas of the documents table. Copy i > 0
    * shifts ids by i*stride and applies a per-copy BIJECTIVE token remap
    * (suffix `_g<i>` on every whitespace token): each copy's internal
    * structure — exact-dup groups, shingle sets, pair similarities, token
    * counts — replicates the original's EXACTLY, while tokens (and hence
    * shingles, fingerprints, hashed features) never collide across
    * copies. This replaced the r9-r15 interleaved-marker scheme, which
    * decorrelated shingles but DOUBLED each copy's token count, made
    * marker-adjacent n-grams artificially hot (dedup slopes part fixture
    * artifact), and correlated SimHash across copies (markers dominated
    * the token multiset) — the bijection has none of those artifacts, so
    * the recorded growth slopes are the operators' organic ones
    * (docs/BENCH_NOTES.md round 16 re-baselines the affected rows).
    * The in-band `_g<i>` caveat is now a CHECKED precondition: a corpus
    * token literally ending in `_g<i>` would collide with copy i's remap
    * of its prefix, so the first scaling of each fixture asserts none
    * exists ([[BenchFixture.assertRemapSafe]]) — one scan per fixture
    * fingerprint in the [[graft.catalog.FixtureStore]], so a fixture
    * rewritten in place is checked again. main PRE-RESOLVES the check
    * before the growth clock starts ([[preflightRemapCheck]]: the x1
    * sample has copies == 1 and skips the gate, so without the preflight
    * the scan would land inside the first TIMED copies>1 sample and
    * inflate that recorded point); direct callers outside the bench pay
    * it once on their first copies>1 use. */
  private[graft] def preflightRemapCheck(spark: SparkSession, dir: String): Unit =
    FixtureStore.value("remap_safe", dir, "documents") {
      BenchFixture.assertRemapSafe(
        spark.read.parquet(s"$dir/documents.parquet"), "text",
        s"scaledDocs($dir)")
      java.lang.Boolean.TRUE
    }
  private[graft] def scaledDocs(spark: SparkSession, dir: String, copies: Int): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    if (copies > 1) preflightRemapCheck(spark, dir)
    // stride derived from the data, not a fixed constant — a corpus whose
    // ids exceed a hard-coded stride would silently collide across copies
    // and corrupt the growth measurements
    val stride = docs.agg(max("doc_id")).head.getLong(0) + 1L
    (0 until copies).map { i =>
      if (i == 0) docs
      else docs.select(
        (col("doc_id") + lit(i * stride)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1_g$i").as("text"))
    }.reduce(_.unionByName(_))
  }

  /** `copies` decorrelated replicas of the embeddings table: copy i > 0
    * shifts ids and adds deterministic per-(id, dim, copy) noise of up to
    * ±0.1 per coordinate, which decorrelates cosine structure across
    * copies (a scalar rescale would not — cosine is scale-invariant). */
  private[graft] def scaledEmb(spark: SparkSession, dir: String, copies: Int): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val stride = emb.agg(max("vec_id")).head.getLong(0) + 1L
    (0 until copies).map { i =>
      if (i == 0) emb
      else emb.select(
        (col("vec_id") + lit(i * stride)).as("vec_id"),
        transform(col("embedding"), (v, j) =>
          v + (pmod(xxhash64(col("vec_id"), j, lit(i)), lit(1000)) - lit(500))
            .cast("double") / lit(5000.0d))
          .cast("array<float>").as("embedding"))
    }.reduce(_.unionByName(_))
  }

  /** Events replicated along the KEY axis: each copy is the same timeline
    * under a fresh user-id block (event ids offset too) — the scaling
    * dimension funnel/retention/sessionization actually face at 100 TB is
    * key cardinality, not a longer timeline. */
  private[graft] def scaledEvents(spark: SparkSession, dir: String, copies: Int): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val Array(uStride, eStride) = ev
      .agg(max("user_id"), max("event_id")).head.toSeq
      .map(_.asInstanceOf[Long] + 1L).toArray
    (0 until copies).map { i =>
      if (i == 0) ev
      else ev.select(
        (col("event_id") + lit(i * eStride)).as("event_id"), col("ts"),
        (col("user_id") + lit(i * uStride)).as("user_id"), col("event_type"))
    }.reduce(_.unionByName(_))
  }

  /** Frozen LID model for the serve-slope row — trained ONCE on the x1
    * corpus and written to the [[graft.catalog.FixtureStore]], so every
    * g_lid_serve point prices only the scoring pass. main RESOLVES this
    * before the growth suite's clock starts (training must not land
    * inside the first timed x1 rep). */
  private def lidServeModel(spark: SparkSession, dir: String)
      : graft.pipeline.Classifier.MultiModel = {
    val p = FixtureStore.stage("lid_serve_model", dir, "documents") { out =>
      graft.pipeline.Classifier.saveMulti(
        graft.pipeline.Classifier.MultiModel(
          graft.pipeline.Classifier.trainMulti(
            spark.read.parquet(s"$dir/documents.parquet"),
            "doc_id", "text", "lang", numBuckets = 4096, iters = 2),
          4096), out)
    }
    graft.pipeline.Classifier.loadMulti(p, spark)
  }

  /** The minhashLshPairs pair set at scale `c` — what the g_dedup_cc
    * decomposition row times CC over — written once per fixture to the
    * [[graft.catalog.FixtureStore]]. The pair table is tiny (thousands of
    * rows); reading it back keeps repeated CC reps from re-running the
    * pair stage, and the width-sweep rows' clearCache() cannot wipe it
    * between reps. main PRE-RESOLVES every scale before the growth clock
    * starts. */
  private[graft] def dedupPairsFixture(
      spark: SparkSession, dir: String, c: Int): DataFrame = {
    val p = FixtureStore.stage(s"dedup_pairs_x$c", dir, "documents") { out =>
      val base = spark.read.parquet(s"$dir/documents.parquet").count()
      graft.pipeline.Dedup.minhashLshPairs(
        scaledDocs(spark, dir, c), "doc_id", "text", threshold = 0.5,
        knownCount = c * base).write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(p)
  }

  /** [[growthSuite]] for the PlanDump tool: growth rows are where the
    * verify-join ladder changes shape (x32/x100 regimes), so plan dumps
    * must be able to address a (row, scale) point. */
  private[graft] def growthSuiteForPlans(spark: SparkSession, dir: String)
      : Seq[(String, Seq[Int], Int => DataFrame)] = growthSuite(spark, dir)

  /** Growth suite: name -> (replica counts, plan builder). Counts are kept
    * small enough that the whole suite stays in low minutes at sf0.1. */
  private def growthSuite(spark: SparkSession, dir: String)
      : Seq[(String, Seq[Int], Int => DataFrame)] = {
    // base documents count for knownCount pass-through (column-pruned
    // metadata count, resolved lazily on first use): the dedup rows'
    // verify joins size their build side from the corpus count
    // (VerifyJoin), and c × base is EXACTLY the count the operator would
    // compute
    lazy val nDocsBase = spark.read
      .parquet(s"$dir/documents.parquet").count()
    lazy val nEmbBase = spark.read
      .parquet(s"$dir/embeddings.parquet").count()
    Seq(
    ("g_text_repetition", Seq(1, 4, 10), (c: Int) =>
      graft.pipeline.TextAnalysis.repetitionStats(
        scaledDocs(spark, dir, c), "doc_id", "text")),
    // key-axis growth (scaledEvents): funnel + retention must stay linear
    // in key cardinality — both are keyed hash aggs with no corpus window,
    // so a superlinear slope here is a plan regression, not a data effect
    // x32 tier on funnel/retention too: both are basket-adjacent rows
    // whose sf0.1 snapshot is floor-bound (docs/BENCH_NOTES.md r16) —
    // the recorded linear-in-keys slope is the claim that matters
    ("g_funnel", Seq(1, 4, 10, 32), (c: Int) =>
      graft.operators.Sessions.funnelTransitions(
        scaledEvents(spark, dir, c), Seq("user_id"), "ts", "event_type",
        Seq("view", "click", "purchase"))),
    ("g_retention", Seq(1, 4, 10, 32), (c: Int) =>
      graft.operators.Sessions.retentionCohorts(
        scaledEvents(spark, dir, c), Seq("user_id"), "ts", 7L * 86400L)),
    ("g_rate_anomalies", Seq(1, 4, 10), (c: Int) =>
      graft.operators.Diagnostics.rateAnomalies(
        scaledEvents(spark, dir, c), Seq("user_id"), "ts", 86400L, k = 2)),
    // the union-trick's "one linear pass, join-free at any events size"
    // claim (AsofJoin.scala doc) as a measured slope: clicks matched to
    // their latest preceding view per user — one union + one keyed
    // window whatever the key cardinality
    ("g_asof", Seq(1, 4, 10, 32), (c: Int) => {
      val ev = scaledEvents(spark, dir, c)
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_event_id"))
        .select(col("user_id"), col("ts").as("view_ts"), col("view_event_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.AsofJoin.latestPreceding(
        clicks, views, Seq("user_id"), "ts", "view_ts",
        payloadCols = Seq("view_event_id"))
    }),
    // sessionization's one-shuffle claim: assign's keyed window + the
    // superset-keyed rollup — linear in key cardinality by construction
    ("g_sessionize", Seq(1, 4, 10, 32), (c: Int) =>
      graft.operators.Sessions.stats(
        scaledEvents(spark, dir, c), Seq("user_id"), "ts",
        gapSeconds = 14400L, orderCols = Seq("event_id"))),
    ("g_dedup_exact", Seq(1, 4, 10), (c: Int) =>
      graft.pipeline.Dedup.exactGroups(scaledDocs(spark, dir, c), "doc_id", "text")),
    // x32 tier (r17 verdict task 1): the extended VerifyJoin ladder's
    // regime flip happens between x10 and x32 at this corpus — the point
    // records the hash-build regime the 100 TB argument rides on
    ("g_dedup_minhash_lsh", Seq(1, 4, 10, 32), (c: Int) =>
      graft.pipeline.Dedup.minhashLshPairs(
        scaledDocs(spark, dir, c), "doc_id", "text", threshold = 0.5,
        knownCount = c * nDocsBase)),
    ("g_pack_bins", Seq(1, 4, 10), (c: Int) => {
      val d = scaledDocs(spark, dir, c).select(col("doc_id"),
        graft.pipeline.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.pipeline.Sampling.packByBudget(d, "doc_id", "n_tokens", budget = 2048L)
    }),
    // the DEFAULT now auto-sizes bits from the corpus count
    // (Similarity.autoBits: 4/6/7 at these 1x/4x/10x counts — the values
    // this row was previously hand-tuned to) so expected bucket occupancy
    // stays ~constant; with fixed bits the candidate count itself grows
    // quadratically and the bench would measure the algorithm's intrinsic
    // blowup, not the engine. x32 + the untimed candidate-count diagnostic
    // (main prints g_lsh_neardup_candidates) decompose the slope: if
    // candidates/input stays ~flat, the growth is verify-side cost +
    // occupancy drift between autoBits steps, not a pair blowup
    ("g_lsh_neardup", Seq(1, 4, 10, 32), (c: Int) =>
      graft.pipeline.Similarity.lshNearDupPairs(
        scaledEmb(spark, dir, c), "vec_id", "embedding", topPairs = 50, dim = 64)),
    // clustering is the operator whose work grows with near-dup density
    // AND CC round count — the x10 point is the thinnest-evidenced slope
    // in the 100 TB argument, so it is recorded even though the pair
    // stage underneath (same shape as g_dedup_minhash_lsh) makes it the
    // most expensive growth point in the suite: the number being big is
    // information, not a reason to cap the series at x4
    ("g_dedup_clusters", Seq(1, 4, 10, 32), (c: Int) =>
      graft.pipeline.Clustering.connectedComponents(
        graft.pipeline.Dedup.minhashLshPairs(
          scaledDocs(spark, dir, c), "doc_id", "text", threshold = 0.5,
          knownCount = c * nDocsBase),
        "doc_a", "doc_b")),
    // CC-STAGE decomposition of g_dedup_clusters (the r19 x32 wobble,
    // 7.6-18.9 s across passes, was unattributable between its two
    // stages): the PAIR stage's timed twin is g_dedup_minhash_lsh
    // (IDENTICAL args, measured in the same pass), and this row times
    // the CC rounds ALONE over the same pair set, materialized UNTIMED
    // at preflight ([[dedupPairsFixture]] — a written stage, which the
    // width-sweep rows' clearCache() cannot wipe). Together the
    // artifact carries both sub-timings next to the composed row, so a
    // slow g_dedup_clusters window names its stage.
    ("g_dedup_cc", Seq(1, 4, 10, 32), (c: Int) =>
      graft.pipeline.Clustering.connectedComponents(
        dedupPairsFixture(spark, dir, c), "doc_a", "doc_b")),
    ("g_span_rewrite", Seq(1, 4, 10), (c: Int) =>
      graft.pipeline.Spans.dropDuplicatedSpans(
        scaledDocs(spark, dir, c), "doc_id", "text", n = 8)),
    // the stride-1 tier: one hash row per TOKEN (vs per chunk above) —
    // the dense window shuffle is exactly what must stay linear at scale.
    // The final agg consumes every rebuilt row (it dates from the count()
    // runner, under which Catalyst pruned the whole window subtree)
    ("g_exact_substr", Seq(1, 4, 10, 32), (c: Int) =>
      graft.pipeline.Spans.dropDuplicatedSubstrings(
        scaledDocs(spark, dir, c), "doc_id", "text", n = 8)
        .agg(sum(length(col("clean_text"))).as("total_chars"),
          sum(col("n_dropped_tokens")).as("total_dropped"))),
    ("g_boilerplate", Seq(1, 4, 10), (c: Int) =>
      graft.pipeline.Lines.stripSketchBoilerplate(
        graft.pipeline.Lines.tokenWindowLines(
          scaledDocs(spark, dir, c), "doc_id", "text", width = 8),
        k = 20, minCount = 3L, counters = 100000, joiner = " ")),
    // the daily-ingest claim under measurement: a FIXED-size new batch
    // against a store growing 1x -> 10x — the slope isolates what store
    // growth costs a constant batch (one compact fingerprint scan +
    // join; never store-vs-store pairs). Fingerprints are SYNTHETIC
    // (xxhash64 of the id, every 10th batch doc a 2-bit-flip twin of a
    // store doc) so pair DENSITY stays constant as the store grows —
    // replicated docs (under any decorrelation scheme) multiply the
    // batch's match count with the store, which would measure pair-flood
    // growth instead of the operator.
    ("g_incremental_neardup", Seq(1, 4, 10, 32), (c: Int) => {
      val n = 50000L
      val store = spark.range(c * n)
        .select(col("id").as("doc_id"), xxhash64(col("id")).as("fp"))
      val fresh = spark.range(n).select(
        (col("id") + lit(c * n)).as("doc_id"),
        when(col("id") % 10 === 0,
          xxhash64(col("id") * 7 % lit(c * n)).bitwiseXOR(lit(3L)))
          .otherwise(xxhash64(col("id"), lit(999))).as("fp"))
      graft.pipeline.Dedup.incrementalFingerprintPairs(
        fresh, store, "doc_id", "fp", 3)
    }),
    // classifier training is K bounded shuffles over one cached feature
    // scan — the slope should track the tokenize+hash scan, near-linear
    ("g_classifier", Seq(1, 4, 10), (c: Int) =>
      graft.pipeline.Classifier.trainScores(
        scaledDocs(spark, dir, c), "doc_id", "text",
        col("doc_id") % 3 === 0, numBuckets = 4096, iters = 2)),
    // fixed incoming batch against a reference growing 1x -> 10x: the
    // linear terms are the bloom BUILD scan and the verify join's
    // reference-side scan+shuffle (a bucketed fingerprint store would
    // remove the latter — Dedup.bloomAntiJoin doc); the probe and the
    // survivor-side join input stay batch-sized. The batch is a re-keyed
    // copy of the 1x corpus, so every batch doc hits the filter and
    // flows through the verify join — the worst (heaviest-match) case
    // PageRank over a synthetic link graph whose EDGE count scales with
    // the corpus (one edge per doc) onto a fixed 2k-node domain set —
    // the production shape: edges corpus-sized, rank table node-sized.
    // The slope should track the per-iteration edge-list join scan;
    // the checkpointed rank table stays 2k rows at every scale
    ("g_pagerank", Seq(1, 4, 10), (c: Int) => {
      val edges = scaledDocs(spark, dir, c).select(
        concat(lit("d"), pmod(col("doc_id"), lit(2000))).as("src"),
        concat(lit("d"), pmod(xxhash64(col("doc_id")), lit(2000))).as("dst"))
      graft.pipeline.Graph.pageRank(edges, "src", "dst", iterations = 3)
    }),
    // frozen x1 model SERVING the scaled corpus — the inference-at-scale
    // claim as a recorded slope: training happens once outside the timed
    // thunk (lazy, 1x corpus), each point prices only the scoring pass
    // (feature scan + broadcast weight join + keyed sum), which should
    // track the tokenize+hash scan near-linearly
    ("g_lid_serve", Seq(1, 4, 10, 32), (c: Int) =>
      graft.pipeline.Classifier.scoreMulti(
        lidServeModel(spark, dir), scaledDocs(spark, dir, c),
        "doc_id", "text")),
    // frozen x1 vocabulary applied to the scaled corpus (the per-copy
    // token remap makes every copy-i token OOV, exercising that path);
    // the size filter dates from the count() runner, which pruned the
    // id-assembly aggregate without it
    ("g_token_ids", Seq(1, 4, 10), (c: Int) => {
      val vocab = graft.pipeline.Bpe.buildVocab(
        scaledDocs(spark, dir, 1), "text", graft.pipeline.Bpe.DemoMerges)
      graft.pipeline.Bpe.tokenIds(
        scaledDocs(spark, dir, c), "doc_id", "text", vocab,
        graft.pipeline.Bpe.DemoMerges)
        .filter(size(col("ids")) > 0)
    }),
    // the card's only corpus-sized term is the fingerprint distinct —
    // the slope here is that shuffle's
    ("g_corpus_report", Seq(1, 4, 10), (c: Int) =>
      graft.pipeline.TextAnalysis.corpusReport(
        scaledDocs(spark, dir, c), "text")),
    // the filter dates from the count() runner, which pruned the unused
    // `pos` and with it the whole shard window
    ("g_shuffle_order", Seq(1, 4, 10), (c: Int) =>
      graft.pipeline.Sampling.shuffleOrder(
        scaledDocs(spark, dir, c).select(col("doc_id")), "doc_id", 64)
        .filter(pmod(col("pos"), lit(97)) === 0)),
    // fixed 20-query probe against a compressed index growing 1x -> 10x,
    // models FROZEN on the x1 corpus (the production pattern — train
    // once, reuse; lazy so the one-time driver-side training lands in
    // the first x1 rep, the slowest of three, which the median leaves
    // out). The slope is the encode scan + the probed cells' ADC scan;
    // rerank stays shortlist-sized at every scale
    ("g_ann_ivfpq", Seq(1, 4, 10), {
      lazy val base = scaledEmb(spark, dir, 1)
      lazy val ivf = graft.pipeline.IVF.train(base, "vec_id", "embedding", k = 16)
      lazy val pq = graft.pipeline.Pq.train(base, "vec_id", "embedding", m = 16, ks = 16)
      (c: Int) =>
        graft.pipeline.Pq.topK(scaledEmb(spark, dir, c),
          base.filter(col("vec_id") < 20), "vec_id", "embedding", k = 10,
          pq, ivf, nprobe = 8, rerank = 50)
    }),
    // SemDeDup end to end (cell assignment -> within-cell pair gen ->
    // vector-fetch verify joins -> cosine gate -> CC labels) under a
    // FROZEN x1 coarse quantizer (lazy; the one-time training lands in
    // the first x1 rep, which the median leaves out, as for g_ann_ivfpq).
    // This is the measured slope for the r18 VerifyJoin ladder's
    // SemDedup.edges path; knownCount keeps the ladder decision free
    // inside the timed thunk. tau at the paper's near-dup bar.
    ("g_semdedup", Seq(1, 4, 10), {
      lazy val ivf = graft.pipeline.IVF.train(
        scaledEmb(spark, dir, 1), "vec_id", "embedding", k = 16)
      (c: Int) =>
        graft.pipeline.SemDedup.labels(
          scaledEmb(spark, dir, c), "vec_id", "embedding", ivf,
          tau = 0.95, knownCount = c * nEmbBase)
    }),
    // fixed eval set (the x1 %7 slice) against a train corpus growing
    // 1x -> 10x: the slope is the train side's stride-1 window generate +
    // semi join against the benchmark-sized broadcast hash set; the same
    // load-bearing agg as g_exact_substr keeps the rebuild un-pruned
    ("g_decon_scrub", Seq(1, 4, 10), (c: Int) =>
      graft.pipeline.Spans.scrubSharedSubstrings(
        scaledDocs(spark, dir, c),
        scaledDocs(spark, dir, 1).filter(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 8)
        .agg(sum(length(col("clean_text"))).as("total_chars"),
          sum(col("n_dropped_tokens")).as("total_dropped"))),
    ("g_bloom_dedup", Seq(1, 4, 10), (c: Int) => {
      val batch = scaledDocs(spark, dir, 1).select(
        (col("doc_id") + lit(100000000L)).as("doc_id"), col("text"))
      graft.pipeline.Dedup.crossCorpusDedup(
        batch, scaledDocs(spark, dir, c), "doc_id", "text",
        expectedRefItems = 60000L * c, fpp = 0.03)
    }),
    // Width sweep, not an input-scale sweep — deliberately LAST in the
    // suite: the builders clearCache, and running them after every other
    // growth entry keeps the wipe from cooling caches those entries rely
    // on. The "scale" axis is the FRAME WIDTH over a fixed daily rollup:
    // the range-join form replicates each period's sketch `width` times,
    // so its cost must grow with the axis, while the block-decomposed
    // wide-frame form holds the
    // ~3-merges-per-period invariant (Rollups.slidingUnionWideFrame doc)
    // and stays ~flat — the ratio between the two rows IS the claim.
    // The rollup is SYNTHETIC (10,000 periods x 200 uniques/day, counters
    // 100): the sf0.1 orders rollup (~2400 days x ~60 uniques) leaves both
    // forms overhead-bound (~1s floor — measured; the merge term is tens of
    // ms), so the slope would measure plan overhead, not the operator. The
    // incremental_neardup precedent: synthesize the shape the claim is
    // about. The final agg consumes the merged sketches of both forms
    // alike (it dates from the count() runner, which pruned the range-join
    // form's merge aggregate entirely).
    // clearCache before each build: slidingUnionWideFrame persists its
    // periods-sized running table inside the returned plan, and Spark's
    // CacheManager matches it by canonicalized plan — without the clear,
    // reps 2..n of a width would measure the CACHED running table instead
    // of the operator, while the range-join form (no persist) pays full
    // price every rep.
    ("g_sliding_rangejoin_w", Seq(7, 30, 90, 365), (w: Int) => {
      spark.catalog.clearCache()
      graft.operators.Rollups.slidingUnion(
        syntheticRollup(spark), "day", "sketch", frameRows = w, 100)
        .agg(sum(size(col("sketch"))).as("total_entries"))
    }),
    ("g_sliding_wideframe_w", Seq(7, 30, 90, 365), (w: Int) => {
      spark.catalog.clearCache()
      graft.operators.Rollups.slidingUnionWideFrame(
        syntheticRollup(spark), "day", "sketch", frameRows = w, 100)
        .agg(sum(size(col("sketch"))).as("total_entries"))
    }))
  }

  /** Synthetic daily rollup for the sliding-window width sweep: 10,000
    * periods x 200 unique items/day under a 100-counter budget — wide
    * frames SATURATE the budget (90x200 candidates into 100 counters), the
    * production regime where the merge-work difference between the
    * range-join and block-decomposed forms is the dominant term. */
  private def syntheticRollup(spark: SparkSession): DataFrame =
    spark.range(10000L * 200)
      .select(format_string("d%06d", (col("id") / 200).cast("int")).as("day"),
        xxhash64(col("id")).cast("string").as("item"))
      .groupBy(col("day"))
      .agg(TopnFunctions.topn_add_agg(col("item"), 100).as("sketch"))

  /** Where a full run's artifact lands by default: the full-suite file
    * ONLY when the run IS the full suite — any deviation from the default
    * row set (a SPARK_GRAFT_ONLY filter, growth disabled, audit rows
    * toggled on) diverts to the side file, so a partial run never
    * overwrites the full-suite artifact (the r15 clobber: a one-row
    * funnel run shipped as BENCH_local.json). */
  private[graft] def defaultOutFile(
      only: Option[Seq[String]],
      growthOn: Boolean,
      skipAudits: Boolean): String =
    if (only.isEmpty && growthOn && skipAudits) "BENCH_local.json"
    else "BENCH_only.json"

  /** Timed repetitions per row, after one untimed warm-up. */
  private[graft] val Reps = 3

  /** A row's wall seconds over [[Reps]] runs: the median and the
    * interquartile range, so every recorded number carries its spread. */
  private[graft] final case class Timing(median: Double, iqr: Double)

  /** Median and IQR of `samples`, quartiles linearly interpolated between
    * order statistics (numpy's default; for three samples the IQR is half
    * the range). */
  private[graft] def medianIqr(samples: Seq[Double]): Timing = {
    require(samples.nonEmpty, "no samples")
    val s = samples.sorted.toIndexedSeq
    def q(p: Double): Double = {
      val x = p * (s.size - 1)
      val lo = x.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (x - lo) * (s(hi) - s(lo))
    }
    Timing(q(0.5), q(0.75) - q(0.25))
  }

  /** Compute every column of every row and discard it: the noop sink has
    * no write cost, and unlike a bare count() Catalyst cannot prune the
    * columns, and with them the operator, that the row exists to price. */
  private[graft] def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The one timing protocol of the bench tools: build and materialize
    * `df()` [[Reps]] times, the plan build inside the clock. */
  private[graft] def timeRow(df: () => DataFrame): Timing =
    medianIqr((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      materialize(df())
      (System.nanoTime() - t0) / 1e9
    })

  /** `timed`, or None after recording `name -> exception class` in
    * `failed` when it throws a non-fatal error. Fatal errors propagate. */
  private[graft] def attempt(
      name: String, failed: scala.collection.mutable.Map[String, String])(
      timed: => Timing): Option[Timing] =
    try Some(timed)
    catch { case NonFatal(e) => failed(name) = e.getClass.getName; None }

  /** The smallest scale factor, next to the measured one: every row runs
    * there once, untimed, before its timed reps, so the reps measure the
    * engine and not first-call JIT and codegen. */
  private[graft] def warmDir(sfDir: String): String =
    java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001").toString

  /** Run `body` untimed; a failure prints a diag line and the run goes on
    * (the timed reps of the same row then fail loudly on their own). */
  private[graft] def warmUp(name: String)(body: => Unit): Unit =
    try body
    catch { case NonFatal(e) =>
      println(s"""{"diag":"warmup_failed","row":"$name","error":"${e.getClass.getName}"}""")
    }

  private def jsonObj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def secs(kvs: Seq[(String, Double)]): String =
    jsonObj(kvs.map { case (k, v) => k -> f"$v%.3f" })

  /** The contract line: `value` is the sum of the query medians;
    * `queries`/`ops`/`growth` hold medians and `iqr` their spreads under
    * the same keys; `failed` names each row whose run threw, with the
    * exception class, and such a row is in no other section. */
  private[graft] def contractLine(
      cpus: Int,
      sf: String,
      queries: Seq[(String, Timing)],
      ops: Seq[(String, Timing)],
      growth: Seq[(String, Seq[(Int, Timing)])],
      failed: Seq[(String, String)]): String = {
    def flat(rows: Seq[(String, Timing)], f: Timing => Double) =
      secs(rows.map { case (k, t) => k -> f(t) })
    def grown(f: Timing => Double) = jsonObj(growth.map { case (name, pts) =>
      name -> secs(pts.map { case (c, t) => s"x$c" -> f(t) })
    })
    val total = queries.map(_._2.median).sum
    val iqr = jsonObj(Seq(
      "queries" -> flat(queries, _.iqr), "ops" -> flat(ops, _.iqr),
      "growth" -> grown(_.iqr)))
    val failedJson = jsonObj(failed.map { case (k, c) => k -> ("\"" + c + "\"") })
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","cpus":$cpus%d,""" +
      s""""queries":${flat(queries, _.median)},"ops":${flat(ops, _.median)},""" +
      s""""growth":${grown(_.median)},"iqr":$iqr,"failed":$failedJson,"sf":"$sf"}"""
  }

  /**
   * The mechanized x100 tier (r17 verdict task 2): the three
   * measurements that previously lived only as BENCH_NOTES prose —
   * `dedup_jaccard_pairs` and `bm25_search` over a CACHED x100 parquet
   * fixture (byte-identical-files protocol; the DuckDB side of the same
   * rows runs via `tools/anchor_basket.py <fixtureDir> <oracle_sql.json>
   * dedup_jaccard_pairs bm25_search`), plus the `g_lsh_neardup` x100
   * operator point over in-plan x100 embeddings with its DISTINCT-
   * candidate diagnostic, plus the dedup family (r18 task 4).
   *
   * FRESH-JVM-PER-TIER protocol (r19 verdict task 3): measuring the
   * shortlist tier after the exact tier in one long-settled JVM left a
   * 61.1 -> 107.0 s round-over-round drift unattributable between plan
   * and JVM state, so each tier is its own command and a fresh 24g JVM:
   *
   *   SPARK_GRAFT_X100=1 SPARK_GRAFT_X100_TIER=exact     SPARK_DRIVER_MEM=24g sbt "runMain graft.Bench"
   *   SPARK_GRAFT_X100=1 SPARK_GRAFT_X100_TIER=shortlist SPARK_DRIVER_MEM=24g sbt "runMain graft.Bench"
   *
   * Each tier writes its fields to BENCH_x100_<tier>.json; the
   * SHORTLIST run (second) merges both into the canonical
   * BENCH_x100.json with `"protocol":"fresh_jvm_per_tier"` and
   * per-candidate µs for each lsh variant.
   *
   * (SPARK_DRIVER_MEM matters: the exact-verify x100 point pushes 231M
   * candidate pairs through a single 32-thread JVM — the documented
   * spill regime — and the default 8g heap sits at the OOM boundary; a
   * crashed point is listed under `"failed"` and the run exits 1.)
   *
   * The fixture materializes once at `SPARK_GRAFT_X100_DIR` (default
   * /tmp/graft_x100_fixture) and is reused by later runs. Returns false
   * when a timed point failed.
   */
  private def runX100(spark: SparkSession, sfDir: String): Boolean = {
    val tier = sys.env.getOrElse("SPARK_GRAFT_X100_TIER", "")
    require(Set("exact", "shortlist")(tier),
      s"SPARK_GRAFT_X100_TIER must be exact|shortlist, got '$tier'")
    val fixDir = sys.env.getOrElse(
      "SPARK_GRAFT_X100_DIR", "/tmp/graft_x100_fixture")
    // flat artifact fields, values pre-formatted JSON; the prefixes q_,
    // iqr_ and failed_ mark the entries the canonical assembly nests
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def put(k: String, df: () => DataFrame): Unit =
      attempt(k, failed)(timeRow(df)).foreach { t =>
        fields(s"q_$k") = f"${t.median}%.3f"
        fields(s"iqr_$k") = f"${t.iqr}%.3f"
      }
    // an untimed diagnostic count: the exception class when it fails
    def diagCount(df: => DataFrame): String =
      try df.count().toString
      catch { case NonFatal(e) => "\"" + e.getClass.getName + "\"" }

    val base = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    // knownCount = 100 x base is exactly the count AutoBits would run, so
    // the chosen bit widths — hence the candidate sets — are identical
    // across tiers and runs. Two variants: the DEFAULT exact-verify plan
    // (the series-comparable number) and the opt-in two-pass signature
    // shortlist (the spill-regime evidence — the candidate stream never
    // meets a vector payload)
    def lshPairs(shortlist: Int) = graft.pipeline.Similarity.lshNearDupPairs(
      scaledEmb(spark, sfDir, 100), "vec_id", "embedding", topPairs = 50,
      dim = 64, knownCount = 100 * base, shortlist = shortlist)

    if (tier == "exact") {
      if (!new java.io.File(s"$fixDir/documents.parquet").exists()) {
        BenchFixture.materialize(spark, sfDir, fixDir, 100)
      }
      // the three work-comparable basket families: generator+join,
      // broadcast term scoring, keyed window (the row whose x100 ratio
      // crossed to 0.22x in r16 — the floor-amortization evidence)
      val basket = Seq("dedup_jaccard_pairs", "bm25_search",
        "sessionize_events")
      basket.foreach { n =>
        warmUp(n)(materialize(SparkEntry.queries(n)(spark, warmDir(sfDir))))
      }
      basket.foreach(n => put(n, () => SparkEntry.queries(n)(spark, fixDir)))
      put("g_lsh_neardup",
        () => lshPairs(graft.pipeline.Similarity.NoShortlist))
      fields("g_lsh_neardup_candidates") =
        diagCount(graft.pipeline.Similarity.lshCandidatePairs(
          scaledEmb(spark, sfDir, 100), "vec_id", "embedding", dim = 64,
          knownCount = 100 * base))
      // which verify path the AUDIT chooses for THIS corpus at x100 —
      // the r18 verdict's ask: the artifact records the audited decision
      // next to both measured paths, so the shortlist win is labeled
      // with whether it is report-safe here (the x100 fixture is
      // decorrelated ORGANIC data, so the expected answer is
      // exact/thin-margin)
      try {
        val (margin, twoPass) = graft.pipeline.Similarity.auditShortlist(
          scaledEmb(spark, sfDir, 100), "vec_id", "embedding", topPairs = 50,
          dim = 64, knownCount = 100 * base)
        fields("g_lsh_neardup_audit_margin") = margin.toString
        fields("g_lsh_neardup_audit_twopass") = twoPass.toString
      } catch { case NonFatal(e) =>
        val cls = "\"" + e.getClass.getName + "\""
        fields("g_lsh_neardup_audit_margin") = cls
        fields("g_lsh_neardup_audit_twopass") = cls
      }

      // the DEDUP family at x100 (r18 verdict task 4): the VerifyJoin
      // ladder's own operators. The conf-only variant (setRowBytes = 1
      // keeps the estimate under the broadcast threshold, so NO hint
      // ships and Spark's stats ladder decides — the r17 pre-ladder
      // design) must report the IDENTICAL pair count: the ladder is
      // plan-shape only.
      val docBase = spark.read.parquet(s"$sfDir/documents.parquet").count()
      def dedupPairsDf(rowBytes: Long) = graft.pipeline.Dedup.minhashLshPairs(
        scaledDocs(spark, sfDir, 100), "doc_id", "text", threshold = 0.5,
        knownCount = 100 * docBase, setRowBytes = rowBytes)
      val hinted = graft.pipeline.VerifyJoin.ShingleSetRowBytes
      put("g_dedup_minhash_lsh", () => dedupPairsDf(hinted))
      put("g_dedup_minhash_lsh_confonly", () => dedupPairsDf(1L))
      put("g_dedup_clusters", () => graft.pipeline.Clustering
        .connectedComponents(dedupPairsDf(hinted), "doc_a", "doc_b"))
      fields("g_dedup_minhash_lsh_pairs") = diagCount(dedupPairsDf(hinted))
      fields("g_dedup_minhash_lsh_pairs_confonly") = diagCount(dedupPairsDf(1L))
      fields("g_dedup_minhash_lsh_candidates") =
        diagCount(graft.pipeline.Dedup.minhashLshCandidates(
          scaledDocs(spark, sfDir, 100), "doc_id", "text"))
    } else {
      // warm the lsh path's codegen at the smallest SF before timing
      warmUp("g_lsh_neardup_shortlist")(materialize(
        graft.pipeline.Similarity.lshNearDupPairs(
          scaledEmb(spark, warmDir(sfDir), 1), "vec_id", "embedding",
          topPairs = 5, dim = 64,
          shortlist = graft.pipeline.Similarity.AutoShortlist)))
      put("g_lsh_neardup_shortlist",
        () => lshPairs(graft.pipeline.Similarity.AutoShortlist))
    }
    failed.foreach { case (k, c) => fields(s"failed_$k") = "\"" + c + "\"" }

    // the canonical artifact nests the prefixed fields and stamps the
    // protocol, with µs per candidate for each measured lsh variant
    def assemble(all: Seq[(String, String)]): String = {
      val prefixes = Seq("q_" -> "queries", "iqr_" -> "iqr", "failed_" -> "failed")
      def nested(prefix: String) = jsonObj(all.collect {
        case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v
      })
      val scalarMap = all.toMap
      val usPerCand = for {
        c <- scalarMap.get("g_lsh_neardup_candidates")
          .flatMap(_.toLongOption).filter(_ > 0).toSeq
        variant <- Seq("g_lsh_neardup", "g_lsh_neardup_shortlist")
        t <- scalarMap.get(s"q_$variant").flatMap(_.toDoubleOption).toSeq
      } yield s"${variant}_us_per_cand" -> f"${t * 1e6 / c}%.3f"
      val scalars = all.filterNot { case (k, _) =>
        prefixes.exists(p => k.startsWith(p._1)) } ++ usPerCand
      val body = prefixes.map { case (p, key) => key -> nested(p) } ++
        scalars ++ Seq("fixture" -> s""""$fixDir"""", "sf" -> s""""$sfDir"""")
      jsonObj(("metric" -> "\"x100\"") +:
        ("protocol" -> "\"fresh_jvm_per_tier\"") +: body)
    }
    def write(path: String, text: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text + "\n")

    // a DEDICATED out var (r18 ADVICE): the x100 line never rides
    // SPARK_GRAFT_BENCH_OUT into the suite's artifact
    val outPath = sys.env.getOrElse("SPARK_GRAFT_X100_OUT", "BENCH_x100.json")
    val flat = jsonObj(fields.toSeq)
    println(flat); write(s"BENCH_x100_$tier.json", flat)
    if (tier == "shortlist") {
      // merge with the exact tier's flat file into the canonical
      // artifact; without it, the tier file alone stands (and says so)
      val exactFile = java.nio.file.Paths.get("BENCH_x100_exact.json")
      if (!java.nio.file.Files.exists(exactFile)) {
        println("""{"diag":"x100_merge","error":"BENCH_x100_exact.json missing; run the exact tier first"}""")
      } else {
        val exactFields = """"([A-Za-z0-9_]+)":("[^"]*"|-?[0-9.]+|true|false)""".r
          .findAllMatchIn(java.nio.file.Files.readString(exactFile))
          .map(m => m.group(1) -> m.group(2)).toSeq
        val line = assemble(exactFields ++ fields.toSeq)
        println(line); write(outPath, line)
      }
    }
    failed.isEmpty
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val growthOn = sys.env.getOrElse("SPARK_GRAFT_GROWTH", "1") != "0"
    // substring filter over query/op/growth names (comma-separated
    // alternatives) — for iterating on a few operators without paying for
    // the whole suite; unset = everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
    // Audit-only rows: their OUTPUT is the verification verdict (constant-
    // boolean oracle) and the operator a user pays for is already priced by
    // its twin in SparkEntry.benchOnly — timing them prices the verifier
    // (brute-force twins, batch re-derivations, independent CC audits),
    // ~1/3 of the round-10 wall. The driver's correctness gate still runs
    // every one of them (Verify has no timing and no skip list), so oracle
    // coverage is unchanged; SPARK_GRAFT_AUDIT_ROWS=1 times them anyway.
    val auditRows = Set("dedup_simhash", "ann_lsh_top10", "ann_ivf_top10",
      "ann_ivfpq_top10", "lsh_neardup_pairs", "incremental_neardup",
      "semantic_dedup", "pq_drift_score")
    val skipAudits = sys.env.getOrElse("SPARK_GRAFT_AUDIT_ROWS", "0") == "0"
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains)) && !(skipAudits && auditRows(name))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // broadcast when small, shuffled-hash when a partition's build side
      // fits an executor, sort-merge only giant x giant — the candidate x
      // vectors / candidate x shingle-sets verify joins in Similarity /
      // Dedup / SemDedup depend on this ladder past the broadcast
      // threshold (Similarity.lshNearDupPairs has the measurement)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    TopnFunctions.register(spark)

    // dedicated x100 mode: measure the scale-evidence rows and exit —
    // never the regular suite
    if (sys.env.getOrElse("SPARK_GRAFT_X100", "0") == "1") {
      val ok = runX100(spark, sfDir)
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }

    val queryRows = SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => selected(kv._1))
    val opRows = SparkEntry.benchOnly.toSeq.sortBy(_._1).filter(kv => selected(kv._1))
    (queryRows ++ opRows).sortBy(_._1).foreach { case (name, fn) =>
      warmUp(name)(materialize(fn(spark, warmDir(sfDir))))
    }
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timeAll(rows: Seq[(String, (SparkSession, String) => DataFrame)]) =
      rows.flatMap { case (name, fn) =>
        attempt(name, failed)(timeRow(() => fn(spark, sfDir))).map(name -> _)
      }
    val results = timeAll(queryRows)
    val ops = timeAll(opRows)

    val gSuite =
      if (!growthOn) Seq.empty
      else growthSuite(spark, sfDir).filter(g => selected(g._1))
    // g_lid_serve's frozen model trains HERE, before any growth clock
    // starts — the store build inside the thunk would otherwise pay the
    // one-time training inside the first timed x1 rep
    if (gSuite.exists(_._1 == "g_lid_serve")) lidServeModel(spark, sfDir)
    // the remap-safety scan likewise resolves BEFORE any growth clock:
    // the gate only fires at copies > 1, so without this it would land
    // inside the first timed scaled rep. (Deliberately unconditional on
    // which rows were selected: the scan is UNTIMED wall-clock only — a
    // name-list of doc-scaling rows would be a desync hazard for a ~1s
    // saving.)
    if (gSuite.nonEmpty) preflightRemapCheck(spark, sfDir)
    // the g_dedup_cc decomposition row's pair sets materialize HERE,
    // before any growth clock — the row must time the CC stage alone
    gSuite.find(_._1 == "g_dedup_cc").foreach { case (_, scales, _) =>
      scales.foreach(c => dedupPairsFixture(spark, sfDir, c))
    }
    val growth = gSuite.map { case (name, scales, build) =>
      name -> scales.flatMap { c =>
        attempt(s"$name@x$c", failed)(timeRow(() => build(c))).map(c -> _)
      }
    }

    // g_lsh_neardup slope decomposition (untimed, after every timed pass):
    // the DISTINCT candidate-pair count per scale. Candidates/input staying
    // ~flat means AutoBits is holding bucket occupancy and the recorded
    // slope is verify-side work, not a candidate blowup.
    gSuite.find(_._1 == "g_lsh_neardup").foreach { case (_, scales, _) => try {
      // scales come from the suite row itself (a hardcoded list would
      // silently desync when the row's tiers change), and knownCount
      // skips four per-scale count() jobs over the replicated lineage —
      // c x base is EXACTLY the count the timed row measures, so the
      // chosen bit widths (hence the candidate sets) are identical
      val base = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
      val cands = scales.map { c =>
        val n = graft.pipeline.Similarity.lshCandidatePairs(
          scaledEmb(spark, sfDir, c), "vec_id", "embedding", dim = 64,
          knownCount = c * base).count()
        s""""x$c":$n"""
      }
      println(s"""{"diag":"g_lsh_neardup_candidates",${cands.mkString(",")}}""")
    } catch { case NonFatal(e) =>
      // an untimed diagnostic never costs the run its contract line
      println(s"""{"diag":"g_lsh_neardup_candidates","error":"${e.getClass.getName}"}""")
    } }

    val nCpus = cpus.toInt
    val line = contractLine(nCpus, sfDir, results, ops, growth, failed.toSeq)
    val outName = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      defaultOutFile(only, growthOn, skipAudits))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outName), line + "\n")
    // summary first (human-readable provenance), the FULL contract line
    // LAST: the driver parses stdout for ONE JSON line of the shape
    // {"metric","value","unit","queries",...,"sf"} — with build.sbt's
    // StdoutOutput/showSuccess fix the full line lands bare and final
    val total = results.map(_._2.median).sum
    println(f"""{"diag":"bench_summary","total_sec":$total%.3f,"cpus":$nCpus%d,"reps":$Reps%d,"n_queries":${results.size},"n_ops":${ops.size},"n_growth":${growth.size},"n_failed":${failed.size},"full_artifact":"$outName","sf":"$sfDir"}""")
    println(line)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
