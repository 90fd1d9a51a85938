package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Fixtures._

/** The embedding family of the query catalog: vector and media queries over
  * `embeddings` and synthetic media — brute-force, LSH, IVF and IVF-PQ
  * search, near-dup pairs, semantic dedup and decontamination, hashed
  * embeddings. */
private[graft] object EmbeddingQueries extends Family {

  // hashed_embedding dimensionality — shared with the generated oracle
  private val EmbDim = 64

  lazy val entries: Seq[Entry] = Seq(
    // exact cosine top-10 neighbors for the first 20 vectors (brute force
    // via bounded-heap TopKAgg — map-side partial top-k)
    query("ann_bruteforce_top10", (spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      graft.pipeline.Similarity.bruteForceTopK(
        emb, emb.filter($"vec_id" < 20), "vec_id", "embedding", k = 10)
        .orderBy($"query_id", $"rank")
    }, oracle =
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
        |s AS (SELECT qid, cid, list_cosine_similarity(cv, qv) AS sim
        |      FROM c CROSS JOIN q WHERE cid != qid),
        |r AS (SELECT qid AS query_id, cid AS neighbor_id,
        |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
        |      FROM s)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // LSH-bucketed approximate neighbors, oracle-verified per query
    // against the in-plan brute-force twin: emits (query_id, recall_ok)
    // where recall_ok = per-query recall >= 0.3 (deterministic seeded
    // planes; measured floor 0.5 on this corpus). A DuckDB-computable
    // constant-bound oracle — approximate results themselves are not
    // SQL-reproducible.
    query("ann_lsh_top10", (spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      val qs = emb.filter($"vec_id" < 20)
      val brute = graft.pipeline.Similarity.bruteForceTopK(
        emb, qs, "vec_id", "embedding", k = 10)
      val lsh = graft.pipeline.Similarity.lshTopK(
        emb, qs, "vec_id", "embedding", k = 10, dim = 64)
        .select($"query_id".as("q2"), $"neighbor_id".as("n2"))
      brute.join(lsh, $"query_id" === $"q2" && $"neighbor_id" === $"n2", "left")
        .groupBy($"query_id")
        .agg((count($"n2") >= count(lit(1)) * 0.3).as("recall_ok"))
        .orderBy($"query_id")
    }, oracle =
      """SELECT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin),

    benchOnly("ann_lsh_top10_op", (spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      graft.pipeline.Similarity.lshTopK(
        emb, emb.filter($"vec_id" < 20), "vec_id", "embedding", k = 10, dim = 64)
    }),

    // IVF-quantized approximate neighbors, oracle-verified like
    // ann_lsh_top10 (deterministic training; measured per-query floor 0.3,
    // bound 0.2)
    query("ann_ivf_top10", (spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      val qs = emb.filter($"vec_id" < 20)
      val model = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 16)
      val brute = graft.pipeline.Similarity.bruteForceTopK(
        emb, qs, "vec_id", "embedding", k = 10)
      val ivf = graft.pipeline.IVF.topK(
        emb, qs, "vec_id", "embedding", k = 10, model, nprobe = 4)
        .select($"query_id".as("q2"), $"neighbor_id".as("n2"))
      brute.join(ivf, $"query_id" === $"q2" && $"neighbor_id" === $"n2", "left")
        .groupBy($"query_id")
        .agg((count($"n2") >= count(lit(1)) * 0.2).as("recall_ok"))
        .orderBy($"query_id")
    }, oracle =
      """SELECT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin),

    benchOnly("ann_ivf_top10_op", (spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      val model = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 16)
      graft.pipeline.IVF.topK(
        emb, emb.filter($"vec_id" < 20), "vec_id", "embedding", k = 10, model, nprobe = 4)
    }),

    // IVF-PQ: the compressed-index ANN tier (codes, not floats, in the
    // index — the one that fits 100 TB of embeddings), oracle-verified
    // like the other approximate tiers. ADC shortlist of 50 reranked
    // exactly; measured per-query recall floor 0.4 at both sf0.01 and
    // sf0.1 (avg ~0.73), bound 0.3. Deterministic end to end (seeded
    // sample, lowest-index tie-breaks).
    query("ann_ivfpq_top10", (spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      val qs = emb.filter($"vec_id" < 20)
      val ivf = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 16)
      val pq = graft.pipeline.Pq.train(emb, "vec_id", "embedding", m = 16, ks = 16)
      val brute = graft.pipeline.Similarity.bruteForceTopK(
        emb, qs, "vec_id", "embedding", k = 10)
      val ivfpq = graft.pipeline.Pq.topK(
        emb, qs, "vec_id", "embedding", k = 10, pq, ivf, nprobe = 8, rerank = 50)
        .select($"query_id".as("q2"), $"neighbor_id".as("n2"))
      brute.join(ivfpq, $"query_id" === $"q2" && $"neighbor_id" === $"n2", "left")
        .groupBy($"query_id")
        .agg((count($"n2") >= count(lit(1)) * 0.3).as("recall_ok"))
        .orderBy($"query_id")
    }, oracle =
      """SELECT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin),

    benchOnly("ann_ivfpq_top10_op", (spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      val ivf = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 16)
      val pq = graft.pipeline.Pq.train(emb, "vec_id", "embedding", m = 16, ks = 16)
      graft.pipeline.Pq.topK(
        emb, emb.filter($"vec_id" < 20), "vec_id", "embedding", k = 10,
        pq, ivf, nprobe = 8, rerank = 50)
    }),

    // Quantizer drift audit — the detection query that gates the
    // retrain-then-rebuild loop (Pq.driftScore doc): ADC-vs-exact rank
    // agreement for FROZEN models over (a) the training-distribution
    // corpus and (b) a planted shifted corpus under the same stale
    // models. Oracle-verified like the other ANN tiers (deterministic
    // training, fixed-point agreement arithmetic): the stationary mean
    // must hold its measured floor while the planted shift must fall a
    // measured margin below it — recall decay that probes alone cannot
    // see (they still return k rows). Measured means: stationary
    // 510k/575k/435k e6 at sf0.001/0.01/0.1, drifted 180k/205k/185k —
    // floor 300k, margin 150k.
    query("pq_drift_score", (spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      val ivf = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 16)
      val pq = graft.pipeline.Pq.train(emb, "vec_id", "embedding", m = 16, ks = 16)
      def agree(corpus: org.apache.spark.sql.DataFrame) =
        graft.pipeline.Pq.driftScore(
          graft.pipeline.Pq.index(corpus, "vec_id", "embedding", pq, ivf),
          corpus, corpus.filter($"vec_id" < 20), "vec_id", "embedding",
          k = 10, pq, ivf, nprobe = 8, rerank = 50)
          .agg(avg($"agree_e6").as("mean_e6"), count(lit(1)).as("n"))
      // the planted shift: offset + rescale, renormalized by the kernels —
      // the corpus collapses toward one direction, quantization error
      // dominates the true distance spread (the drift failure mode)
      val shifted = emb.select($"vec_id",
        transform($"embedding", x => x * lit(0.05d) + lit(2.0d))
          .cast("array<float>").as("embedding"))
      agree(emb).select($"n".as("n_queries"), $"mean_e6".as("stat_e6"))
        .crossJoin(agree(shifted).select($"mean_e6".as("drift_e6")))
        .select($"n_queries",
          ($"stat_e6" >= 300000.0).as("stationary_ok"),
          ($"drift_e6" <= $"stat_e6" - 150000.0).as("drift_detected"))
    }, oracle =
      """SELECT CAST(20 AS BIGINT) AS n_queries, TRUE AS stationary_ok,
        |       TRUE AS drift_detected""".stripMargin),

    // the audit a user actually schedules: one driftScore pass over the
    // LIVE corpus (the correctness row adds the planted-shift twin, which
    // is verification, not operator cost)
    benchOnly("pq_drift_op", (spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      val ivf = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 16)
      val pq = graft.pipeline.Pq.train(emb, "vec_id", "embedding", m = 16, ks = 16)
      graft.pipeline.Pq.driftScore(
        graft.pipeline.Pq.index(emb, "vec_id", "embedding", pq, ivf),
        emb, emb.filter($"vec_id" < 20), "vec_id", "embedding",
        k = 10, pq, ivf, nprobe = 8, rerank = 50)
    }),

    // top-50 most cosine-similar embedding pairs (embedding near-dup scan,
    // exact O(n^2) tier)
    query("cosine_neardup_pairs", (spark, dir) => {
      import spark.implicits._
      // knownCount keeps the auto-dispatch bar's n resolution job-free
      // (the r20 dispatch: past ExactTierMaxRows this tier self-routes
      // to lshNearDupPairs; every test SF sits far under the bar, so
      // the oracle keeps certifying the exact plan)
      graft.pipeline.Similarity.cosineNearDupPairs(
        tbl(spark, dir, "embeddings"), "vec_id", "embedding", topPairs = 50,
        knownCount = fixtureCount(spark, dir, "embeddings"))
        .orderBy($"rank")
    }, oracle =
      """WITH p AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |         list_cosine_similarity(a.embedding, b.embedding) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, ia, ib) AS BIGINT) AS rank,
        |       ia AS doc_a, ib AS doc_b
        |FROM p ORDER BY sim DESC, ia, ib LIMIT 50""".stripMargin),

    // the sub-quadratic 100 TB tier of the same scan, oracle-verified
    // against the exact tier: emits the candidate-pair count and a
    // recall-floor boolean (bound 40/50; bits auto-sized from the corpus
    // count — Similarity.autoBits — so the floor holds at any SF: fewer
    // bits at small corpora only ADD candidates). Deterministic end to end.
    query("lsh_neardup_pairs", (spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      val exact = graft.pipeline.Similarity.cosineNearDupPairs(
        emb, "vec_id", "embedding", topPairs = 50,
        knownCount = fixtureCount(spark, dir, "embeddings"))
        .select($"doc_a".as("ea"), $"doc_b".as("eb"))
      graft.pipeline.Similarity.lshNearDupPairs(
        emb, "vec_id", "embedding", topPairs = 50, dim = 64,
        knownCount = fixtureCount(spark, dir, "embeddings"))
        .join(exact, $"doc_a" === $"ea" && $"doc_b" === $"eb", "left")
        .agg(count(lit(1)).as("n_pairs"), (count($"ea") >= 40).as("recall_ok"))
    }, oracle =
      "SELECT CAST(50 AS BIGINT) AS n_pairs, TRUE AS recall_ok"),

    benchOnly("lsh_neardup_pairs_op", (spark, dir) => {
      graft.pipeline.Similarity.lshNearDupPairs(
        tbl(spark, dir, "embeddings"), "vec_id", "embedding", topPairs = 50, dim = 64,
        knownCount = fixtureCount(spark, dir, "embeddings"))
    }),

    // multimodal: typed binary-payload pipeline, stub decoders
    query("multimodal_decode_meta", (spark, dir) => {
      import spark.implicits._
      val media = graft.pipeline.Multimodal.mediaFromDocuments(
        spark, tbl(spark, dir, "documents"))
      graft.pipeline.Multimodal.decodeMeta(media).toDF().orderBy($"media_id")
    }, oracle =
      """SELECT doc_id AS media_id,
        |       ['image','audio','video'][(doc_id % 3) + 1] AS modality,
        |       CAST(strlen(text) AS BIGINT) AS byte_len,
        |       CAST(1 + strlen(text) % 640 AS BIGINT) AS width,
        |       CAST(1 + strlen(text) % 480 AS BIGINT) AS height,
        |       CAST(CASE WHEN doc_id % 3 = 2
        |                 THEN LEAST(8, 1 + strlen(text) // 1024)
        |                 ELSE 1 END AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin),

    query("multimodal_frame_sample", (spark, dir) => {
      import spark.implicits._
      val media = graft.pipeline.Multimodal.mediaFromDocuments(
        spark, tbl(spark, dir, "documents"))
      graft.pipeline.Multimodal.sampleFrames(media).toDF()
        .orderBy($"media_id", $"frame_idx")
    }, oracle =
      """WITH v AS (
        |  SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS len
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT media_id, len, LEAST(8, 1 + len // 1024) AS n FROM v),
        |fr AS (SELECT media_id, CAST(UNNEST(range(0, n)) AS BIGINT) AS frame_idx,
        |              len // n AS stride
        |       FROM f)
        |SELECT media_id, frame_idx, CAST(frame_idx * stride AS BIGINT) AS frame_offset
        |FROM fr ORDER BY media_id, frame_idx""".stripMargin),

    // REAL image near-dup tier end to end: deterministic synthetic PNGs
    // encoded on executors, javax.imageio decode, dHash, pigeonhole pair
    // scan. Real codec output is not SQL-reproducible, so — like the
    // other non-SQL tiers — the query carries its own in-plan audit (the
    // pair scan vs an independent brute-force Hamming self-join over the
    // SAME decoded hashes) and the oracle pins the constant booleans.
    query("image_neardup_pairs", (spark, dir) => {
      import spark.implicits._
      import graft.pipeline.Multimodal
      val maxDist = 6
      // 20 groups x (base, blotched twin, inverse) + 5 undecodable rows;
      // bounded fixture at any SF — the corpus supplies only the ids
      val ids = tbl(spark, dir, "documents")
        .select($"doc_id").filter($"doc_id" < 60).as[Long]
      val media = ids.map { id =>
        Multimodal.MediaFile(id, "image",
          Multimodal.syntheticPng((id / 3).toInt, (id % 3).toInt))
      }.union(ids.filter(_ < 5).map(id =>
        Multimodal.MediaFile(1000L + id, "image",
          s"not an image $id".getBytes("UTF-8"))))

      val pairs = Multimodal.imageNearDupPairs(media, maxDist)
      val dh = Multimodal.imageMeta(media)
        .filter(_.dhash.isDefined)
        .map(m => (m.media_id, m.dhash.get)).toDF("media_id", "dhash")
      val brute = dh.as("x").join(dh.as("y"),
          col("x.media_id") < col("y.media_id"))
        .select(col("x.media_id").as("doc_a"), col("y.media_id").as("doc_b"),
          bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).as("hamming"))
        .filter($"hamming" <= maxDist)

      val mismatches = pairs.select($"doc_a", $"doc_b").exceptAll(
        brute.select($"doc_a", $"doc_b"))
        .unionAll(brute.select($"doc_a", $"doc_b").exceptAll(
          pairs.select($"doc_a", $"doc_b")))
        .agg(count(lit(1)).as("n_mismatch"))
      val twins = ids.filter(id => id % 3 == 0).toDF("base")
        .join(ids.filter(id => id % 3 == 1).toDF("twin"),
          col("twin") === col("base") + 1)
        .join(pairs, col("doc_a") === col("base") && col("doc_b") === col("twin"),
          "left_anti")
        .agg(count(lit(1)).as("n_missing_twin"))
      val corrupt = pairs.filter($"doc_a" >= 1000 || $"doc_b" >= 1000)
        .agg(count(lit(1)).as("n_corrupt"))
      val total = pairs.agg(count(lit(1)).as("n_pairs"))

      mismatches.crossJoin(twins).crossJoin(corrupt).crossJoin(total)
        .select(
          ($"n_mismatch" === 0).as("pairs_match_brute"),
          ($"n_missing_twin" === 0).as("twins_found"),
          ($"n_corrupt" === 0).as("corrupt_excluded"),
          ($"n_pairs" > 0).as("has_pairs"))
    }, oracle =
      """SELECT TRUE AS pairs_match_brute, TRUE AS twins_found,
        |       TRUE AS corrupt_excluded, TRUE AS has_pairs""".stripMargin),

    // REAL audio near-dup tier end to end: deterministic synthetic WAVs
    // encoded on executors, javax.sound PCM decode, gain-invariant
    // energy-envelope hash, pigeonhole pair scan — the audio twin of
    // image_neardup_pairs, same in-plan brute-force audit, same
    // constant-boolean oracle.
    query("audio_neardup_pairs", (spark, dir) => {
      import spark.implicits._
      import graft.pipeline.Multimodal
      val maxDist = 6
      val ids = tbl(spark, dir, "documents")
        .select($"doc_id").filter($"doc_id" < 60).as[Long]
      val media = ids.map { id =>
        Multimodal.MediaFile(id, "audio",
          Multimodal.syntheticWav((id / 3).toInt, (id % 3).toInt))
      }.union(ids.filter(_ < 5).map(id =>
        Multimodal.MediaFile(1000L + id, "audio",
          s"not audio $id".getBytes("UTF-8"))))

      val pairs = Multimodal.audioNearDupPairs(media, maxDist)
      val fp = Multimodal.audioMeta(media)
        .filter(_.fingerprint.isDefined)
        .map(m => (m.media_id, m.fingerprint.get)).toDF("media_id", "fp")
      val brute = fp.as("x").join(fp.as("y"),
          col("x.media_id") < col("y.media_id"))
        .select(col("x.media_id").as("doc_a"), col("y.media_id").as("doc_b"),
          bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).as("hamming"))
        .filter($"hamming" <= maxDist)

      val mismatches = pairs.select($"doc_a", $"doc_b").exceptAll(
        brute.select($"doc_a", $"doc_b"))
        .unionAll(brute.select($"doc_a", $"doc_b").exceptAll(
          pairs.select($"doc_a", $"doc_b")))
        .agg(count(lit(1)).as("n_mismatch"))
      val twins = ids.filter(id => id % 3 == 0).toDF("base")
        .join(ids.filter(id => id % 3 == 1).toDF("twin"),
          col("twin") === col("base") + 1)
        .join(pairs, col("doc_a") === col("base") && col("doc_b") === col("twin"),
          "left_anti")
        .agg(count(lit(1)).as("n_missing_twin"))
      val corrupt = pairs.filter($"doc_a" >= 1000 || $"doc_b" >= 1000)
        .agg(count(lit(1)).as("n_corrupt"))
      val total = pairs.agg(count(lit(1)).as("n_pairs"))

      mismatches.crossJoin(twins).crossJoin(corrupt).crossJoin(total)
        .select(
          ($"n_mismatch" === 0).as("pairs_match_brute"),
          ($"n_missing_twin" === 0).as("twins_found"),
          ($"n_corrupt" === 0).as("corrupt_excluded"),
          ($"n_pairs" > 0).as("has_pairs"))
    }, oracle =
      """SELECT TRUE AS pairs_match_brute, TRUE AS twins_found,
        |       TRUE AS corrupt_excluded, TRUE AS has_pairs""".stripMargin),

    // REAL video near-dup tier end to end: deterministic synthetic
    // AVI/MJPEG clips encoded on executors, RIFF container parse, imageio
    // per-frame decode, majority dHash, pigeonhole pair scan — the video
    // sibling of image/audio_neardup_pairs, same in-plan brute-force
    // audit, same constant-boolean oracle.
    query("video_neardup_pairs", (spark, dir) => {
      import spark.implicits._
      import graft.pipeline.Multimodal
      val maxDist = 6
      val ids = tbl(spark, dir, "documents")
        .select($"doc_id").filter($"doc_id" < 60).as[Long]
      val media = ids.map { id =>
        Multimodal.MediaFile(id, "video",
          Multimodal.syntheticAvi((id / 3).toInt, (id % 3).toInt))
      }.union(ids.filter(_ < 5).map(id =>
        Multimodal.MediaFile(1000L + id, "video",
          s"not a video $id".getBytes("UTF-8"))))

      val pairs = Multimodal.videoNearDupPairs(media, maxDist)
      val fp = Multimodal.videoMeta(media)
        .filter(_.fingerprint.isDefined)
        .map(m => (m.media_id, m.fingerprint.get)).toDF("media_id", "fp")
      val brute = fp.as("x").join(fp.as("y"),
          col("x.media_id") < col("y.media_id"))
        .select(col("x.media_id").as("doc_a"), col("y.media_id").as("doc_b"),
          bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).as("hamming"))
        .filter($"hamming" <= maxDist)

      val mismatches = pairs.select($"doc_a", $"doc_b").exceptAll(
        brute.select($"doc_a", $"doc_b"))
        .unionAll(brute.select($"doc_a", $"doc_b").exceptAll(
          pairs.select($"doc_a", $"doc_b")))
        .agg(count(lit(1)).as("n_mismatch"))
      val twins = ids.filter(id => id % 3 == 0).toDF("base")
        .join(ids.filter(id => id % 3 == 1).toDF("twin"),
          col("twin") === col("base") + 1)
        .join(pairs, col("doc_a") === col("base") && col("doc_b") === col("twin"),
          "left_anti")
        .agg(count(lit(1)).as("n_missing_twin"))
      val corrupt = pairs.filter($"doc_a" >= 1000 || $"doc_b" >= 1000)
        .agg(count(lit(1)).as("n_corrupt"))
      val total = pairs.agg(count(lit(1)).as("n_pairs"))

      mismatches.crossJoin(twins).crossJoin(corrupt).crossJoin(total)
        .select(
          ($"n_mismatch" === 0).as("pairs_match_brute"),
          ($"n_missing_twin" === 0).as("twins_found"),
          ($"n_corrupt" === 0).as("corrupt_excluded"),
          ($"n_pairs" > 0).as("has_pairs"))
    }, oracle =
      """SELECT TRUE AS pairs_match_brute, TRUE AS twins_found,
        |       TRUE AS corrupt_excluded, TRUE AS has_pairs""".stripMargin),

    // SemDeDup (arXiv:2303.09540): k-means cells + within-cell cosine
    // near-dup grouping + min-id keeper. Oracle-verified like the ANN
    // tiers — k-means cells aren't SQL-reproducible, so the query emits
    // in-plan exact checks (an independent self-join spelling of the
    // within-cell pair scan) and the oracle pins the constant booleans
    query("semantic_dedup", (spark, dir) => {
      import spark.implicits._
      // the synthetic embeddings have no planted near-dups (max pairwise
      // cosine ~0.5), so the "semantic duplicate" bar sits at 0.4 here —
      // the paper's 0.9+ applied to this corpus would be vacuously true
      val tau = 0.4
      val emb = tbl(spark, dir, "embeddings")
      val model = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 8)
      val lab = graft.pipeline.SemDedup.labels(emb, "vec_id", "embedding", model, tau)

      // independent exact spelling: plain self-join on cell, no PairGen
      val assigned = emb.select($"vec_id", $"embedding",
        element_at(graft.pipeline.IVF.cells($"embedding", model, 1), 1).as("cell"))
      val pairs = assigned.select($"vec_id".as("pa"), $"embedding".as("va"), $"cell")
        .join(assigned.select($"vec_id".as("pb"), $"embedding".as("vb"), $"cell"),
          Seq("cell"))
        .filter($"pa" < $"pb" &&
          graft.pipeline.Similarity.cosineSim($"va", $"vb") >= tau)
        .select($"pa", $"pb")

      // the decisive check: labels restricted to paired docs must equal
      // the connected components of the INDEPENDENT pair graph exactly
      // (same membership, same min-id cluster), and unpaired docs must be
      // self-labeled singletons. Unlike per-edge/per-cluster boolean
      // audits, an exact CC comparison also catches OVER-merging (two
      // separate components labeled as one) — a full-outer join against
      // the independently-derived labeling cannot be satisfied by any
      // merge or split error.
      val cc = graft.pipeline.Clustering.connectedComponents(pairs, "pa", "pb")
        .select($"doc_id", $"cluster_id".as("cc_cluster"))
      val ccAgg = lab.join(cc, Seq("doc_id"), "full_outer")
        .agg(
          count(when($"cluster_id".isNull, 1)).as("cc_not_in_lab"),
          count(when($"cc_cluster".isNotNull && $"cluster_id" =!= $"cc_cluster", 1))
            .as("cc_mismatch"),
          count(when($"cc_cluster".isNull && $"cluster_id" =!= $"doc_id", 1))
            .as("bad_singleton"),
          // keep re-derived from the INDEPENDENT cc labels, not from the
          // operator's own keep definition
          count(when($"keep" =!= ($"doc_id" === coalesce($"cc_cluster", $"doc_id")), 1))
            .as("bad_keep"))

      val nEmb = emb.agg(count(lit(1)).as("n_emb"))
      val labAgg = lab.agg(count(lit(1)).as("n_lab"))
      val minAgg = lab.groupBy($"cluster_id").agg(min($"doc_id").as("mn"))
        .agg(count(when($"cluster_id" =!= $"mn", 1)).as("bad_min"))
      val uncovered = lab.filter(!$"keep")
        .join(pairs.select(explode(array($"pa", $"pb")).as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_uncov"))
      val edgeAgg = pairs
        .join(lab.select($"doc_id".as("pa"), $"cluster_id".as("ca")), Seq("pa"))
        .join(lab.select($"doc_id".as("pb"), $"cluster_id".as("cb")), Seq("pb"))
        .agg(count(lit(1)).as("n_pairs"),
          count(when($"ca" =!= $"cb", 1)).as("bad_edge"))
      val dropped = lab.agg(count(when(!$"keep", 1)).as("n_dropped"))

      nEmb.crossJoin(labAgg).crossJoin(minAgg).crossJoin(uncovered)
        .crossJoin(edgeAgg).crossJoin(dropped).crossJoin(ccAgg)
        .select(
          ($"n_lab" === $"n_emb").as("partition_ok"),
          ($"bad_keep" === 0 && $"bad_min" === 0).as("keeper_min_ok"),
          ($"n_uncov" === 0).as("dropped_covered_ok"),
          ($"bad_edge" === 0).as("edges_merged_ok"),
          ($"cc_not_in_lab" === 0 && $"cc_mismatch" === 0 &&
            $"bad_singleton" === 0).as("cc_exact_ok"),
          ($"n_pairs" > 0 && $"n_dropped" > 0).as("has_dups"))
    }, oracle =
      """SELECT TRUE AS partition_ok, TRUE AS keeper_min_ok,
        |       TRUE AS dropped_covered_ok, TRUE AS edges_merged_ok,
        |       TRUE AS cc_exact_ok, TRUE AS has_dups""".stripMargin),

    benchOnly("semantic_dedup_op", (spark, dir) => {
      val emb = tbl(spark, dir, "embeddings")
      val model = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 8)
      graft.pipeline.SemDedup.labels(emb, "vec_id", "embedding", model, 0.4)
    }),

    // semantic decontamination: the embedding-space sibling of the
    // trigram `decontaminate` family — a benchmark answer PARAPHRASED
    // into the training corpus shares no trigram but sits at cosine ~1
    // to the benchmark's embedding. vec_id % 13 == 0 stands in for the
    // eval benchmark; planted paraphrases (+1e6 ids, deterministic
    // ±0.01 per-coordinate noise on half the eval vectors) make the
    // detection non-vacuous. k-means cells aren't SQL-reproducible, so
    // (like semantic_dedup / the ANN tiers) the query emits in-plan
    // exact checks — the probed-cell operator vs an independent
    // brute-force cross-join spelling — and the oracle pins the
    // constant booleans
    query("decontaminate_semantic", (spark, dir) => {
      import spark.implicits._
      import graft.pipeline.{IVF, SemDedup, Similarity}
      val tau = 0.9
      val emb = tbl(spark, dir, "embeddings").select($"vec_id", $"embedding")
      val evalSet = emb.filter($"vec_id" % 13 === 0)
      val planted = evalSet.filter($"vec_id" % 2 === 0).select(
        ($"vec_id" + 1000000L).as("vec_id"),
        transform($"embedding", (v, j) =>
          (v + ((pmod(xxhash64($"vec_id", j), lit(1000)) - lit(500))
            .cast("double") / lit(50000.0d))).cast("float"))
          .as("embedding"))
      val train = emb.filter($"vec_id" % 13 =!= 0).unionByName(planted)
      val model = IVF.train(train.unionByName(evalSet), "vec_id", "embedding", k = 8)

      val found = SemDedup.crossContamination(
        train, evalSet, "vec_id", "embedding", model, tau, nprobe = 2)

      // independent exact spelling: brute-force cross join, same cosine gate
      val exact = train.select($"vec_id".as("t_id"), $"embedding".as("t_vec"))
        .crossJoin(evalSet.select($"vec_id".as("e_id"), $"embedding".as("e_vec")))
        .filter(Similarity.cosineSim($"t_vec", $"e_vec") >= tau)
        .select($"t_id", $"e_id")

      // the decisive check: found == exact as SETS (full outer join) —
      // a spurious pair (precision) or a cell-boundary miss (recall)
      // both surface as a non-zero side
      val eqAgg = found.select($"train_id".as("f_t"), $"eval_id".as("f_e"), lit(1).as("f"))
        .join(exact.withColumn("e", lit(1)),
          $"f_t" === $"t_id" && $"f_e" === $"e_id", "full_outer")
        .agg(count(when(col("f").isNull, 1)).as("missed"),
          count(when(col("e").isNull, 1)).as("spurious"),
          count(lit(1)).as("n_pairs"))

      // planted recall asserted directly (not via exact): every planted
      // copy must be flagged against its own source eval vector
      val plantedPairs = evalSet.filter($"vec_id" % 2 === 0)
        .select(($"vec_id" + 1000000L).as("train_id"), $"vec_id".as("eval_id"))
      val plantAgg = plantedPairs.join(found, Seq("train_id", "eval_id"), "left_anti")
        .agg(count(lit(1)).as("unfound_planted"))
      val nPlanted = plantedPairs.agg(count(lit(1)).as("n_planted"))

      // removal composition: clean == train MINUS distinct flagged ids,
      // membership checked both ways
      val clean = SemDedup.removeContaminatedSemantic(
        train, evalSet, "vec_id", "embedding", model, tau, nprobe = 2)
      val flagged = found.select($"train_id").distinct()
      val remAgg = train.select($"vec_id".as("w_id"))
        .join(flagged, $"w_id" === $"train_id", "left_anti")
        .withColumn("w", lit(1))
        .join(clean.select($"vec_id".as("c_id")).withColumn("c", lit(1)),
          $"w_id" === $"c_id", "full_outer")
        .agg(count(when(col("w").isNull || col("c").isNull, 1)).as("rem_mismatch"))

      eqAgg.crossJoin(plantAgg).crossJoin(nPlanted).crossJoin(remAgg)
        .select(
          ($"missed" === 0 && $"spurious" === 0).as("found_equals_exact_ok"),
          ($"unfound_planted" === 0).as("planted_all_found_ok"),
          ($"rem_mismatch" === 0).as("removal_ok"),
          ($"n_pairs" > 0 && $"n_planted" > 0).as("has_contamination"))
    }, oracle =
      // k-means cells aren't SQL-reproducible (semantic_dedup doctrine):
      // the query embeds the independent brute-force spelling in-plan and
      // the oracle pins the constant booleans
      """SELECT TRUE AS found_equals_exact_ok, TRUE AS planted_all_found_ok,
        |       TRUE AS removal_ok, TRUE AS has_contamination""".stripMargin),

    // the decontamination a user actually runs: probed-cell operator +
    // removal, WITHOUT the correctness row's brute-force cross-join audit
    benchOnly("decontaminate_semantic_op", (spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings").select($"vec_id", $"embedding")
      val evalSet = emb.filter($"vec_id" % 13 === 0)
      val train = emb.filter($"vec_id" % 13 =!= 0)
      val model = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 8)
      graft.pipeline.SemDedup.removeContaminatedSemantic(
        train, evalSet, "vec_id", "embedding", model, tau = 0.9, nprobe = 2)
    }),

    // feature-hashing document embeddings (Weinberger et al. 2009): the
    // exact integer histogram tier is pinned by hash (counts_str); the
    // normalized float tier — not a cross-engine hash target — is
    // audited in-plan per doc (unit norm), the non-SQL-reproducible
    // pattern. The float tier re-runs the count plan; audit-only cost
    query("hashed_embedding", (spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      val counts = graft.pipeline.Embedding.hashedCounts(
        docs, "doc_id", "text", EmbDim)
      val emb = graft.pipeline.Embedding.hashedEmbedding(
        docs, "doc_id", "text", EmbDim)
      counts.join(emb, "doc_id")
        .select($"doc_id",
          array_join($"counts", " ").as("counts_str"),
          (abs(aggregate($"embedding", lit(0.0d),
            (a, x) => a + x.cast("double") * x.cast("double")) - lit(1.0d))
            < 0.001d).as("norm_ok"))
        .orderBy($"doc_id")
    }, oracle =
      // integer tier replayed exactly (generated from the same constants);
      // the float tier's unit-norm audit is in-plan, so its oracle column
      // is the constant TRUE
      s"""SELECT doc_id, counts_str, TRUE AS norm_ok
         |FROM (${graft.pipeline.Embedding.hashedCountsSql(EmbDim)})
         |ORDER BY doc_id""".stripMargin),

    // the embedding a user computes (the correctness query adds the
    // integer-tier join + unit-norm audit on top)
    benchOnly("hashed_embedding_op", (spark, dir) => {
      graft.pipeline.Embedding.hashedEmbedding(
        tbl(spark, dir, "documents"), "doc_id", "text", 64)
    })
  )
}
