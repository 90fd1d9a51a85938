package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Fixtures._

/** The text family of the query catalog: text and tokenizer queries over
  * `documents` — BPE training and encoding, corpus statistics, quality
  * and blocklist filters, BM25 retrieval and sequence packing. */
private[graft] object TextQueries extends Family {

  // bpe_train iteration budget — shared by the Spark loop and the
  // generated oracle CTE chain so the two runs cannot drift
  private val BpeTrainIters = 8

  // FixedLog2 oracle CTE chains (deterministic IEEE-only log2, replayed
  // op-for-op), generated from the kernel's own constants: per query term
  // for bm25_search
  private val bmLogStages =
    graft.expressions.FixedLog2.sqlCtes("bl", "terms", "x", Seq("ti"))
  // token_entropy: one chain per DISTINCT per-token count, one per
  // distinct doc length — both joined back by value
  private val entCountLogStages =
    graft.expressions.FixedLog2.sqlCtes("ec", "ecv", "CAST(c AS DOUBLE)", Seq("c"))
  private val entLenLogStages =
    graft.expressions.FixedLog2.sqlCtes("en", "env", "CAST(n AS DOUBLE)", Seq("n"))

  lazy val entries: Seq[Entry] = Seq(
    // BPE ENCODE (not just count): the merge walk's actual pieces in
    // document order — one vocabulary join from token ids; the oracle
    // replays the identical replace chain and zips the piece list with
    // its ordinals. Sampled to every 25th doc: the check is the piece
    // CONTENT (count coverage is pack_bins_bpe's), not corpus volume
    query("bpe_encode", (spark, dir) => {
      import spark.implicits._
      tbl(spark, dir, "documents")
        .filter($"doc_id" % 25 === 0)
        .select($"doc_id",
          // the PRODUCTION walk (one plan node, executor-memory merge
          // table) — piece-identical to the literal chain the oracle
          // replays, CurationSpec-proven, and ~cheaper per row than the
          // 30-replace literal plan
          posexplode(graft.pipeline.Bpe.encodeVocab(
            $"text", graft.pipeline.Bpe.DemoMerges)).as(Seq("token_idx", "piece")))
        .select($"doc_id", $"token_idx".cast("long").as("token_idx"), $"piece")
        .orderBy($"doc_id", $"token_idx")
    }, oracle =
      // DuckDB zips multiple UNNESTs in one SELECT positionally — range()
      // supplies the ordinals posexplode emits
      s"""WITH t AS (
        |  SELECT doc_id, ${graft.pipeline.Bpe.duckdbEncodeSql("text")} AS pieces
        |  FROM documents WHERE doc_id % 25 = 0)
        |SELECT doc_id,
        |       CAST(UNNEST(range(len(pieces))) AS BIGINT) AS token_idx,
        |       UNNEST(pieces) AS piece
        |FROM t
        |ORDER BY doc_id, token_idx""".stripMargin),

    // the production ENCODE tier at the same 50k-rule vocabulary — the
    // pieces materialize (hashed so the full arrays are consumed, not
    // pruned to a size); bit_xor folds the hashes order-free, where an
    // ANSI sum of 64-bit hashes overflows
    benchOnly("bpe_vocab_encode_op", (spark, dir) => {
      import spark.implicits._
      val merges = graft.pipeline.Bpe.DemoMerges ++
        (0 until 50000).map(i => (s"Z$i", s"Q$i"))
      tbl(spark, dir, "documents")
        .select(xxhash64(graft.pipeline.Bpe.encodeVocab($"text", merges)).as("h"))
        .agg(bit_xor($"h").as("pieces_hash_sum"))
    }),

    // the tokenizer story end to end: corpus-derived vocabulary (dense
    // lexicographic ids) + documents re-expressed as token-id arrays —
    // model-ready shards. Vocab from the FULL corpus, output sampled to
    // every 25th doc (content check, not volume); ids emitted as a
    // joined string (the array-compare-safe spelling hashed_embedding
    // established). Spark runs the PRODUCTION walk; the oracle replays
    // the literal chain — their piece parity is CurationSpec-proven
    query("bpe_token_ids", (spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      val vocab = graft.pipeline.Bpe.buildVocab(
        docs, "text", graft.pipeline.Bpe.DemoMerges)
      graft.pipeline.Bpe.tokenIds(
        docs.filter($"doc_id" % 25 === 0), "doc_id", "text",
        vocab, graft.pipeline.Bpe.DemoMerges)
        .select($"doc_id", $"n_tokens",
          array_join(transform($"ids", i => i.cast("string")), " ").as("ids_str"))
        .orderBy($"doc_id")
    }, oracle =
      // vocab = dense lexicographic rank over the distinct replayed pieces;
      // ids re-assembled per doc with list(... ORDER BY idx)
      s"""WITH t AS (
        |  SELECT doc_id, ${graft.pipeline.Bpe.duckdbEncodeSql("text")} AS pieces
        |  FROM documents),
        |v AS (
        |  SELECT piece, CAST(ROW_NUMBER() OVER (ORDER BY piece) - 1 AS BIGINT) AS id
        |  FROM (SELECT DISTINCT UNNEST(pieces) AS piece FROM t)),
        |e AS (
        |  SELECT doc_id, UNNEST(range(len(pieces))) AS idx, UNNEST(pieces) AS piece
        |  FROM t WHERE doc_id % 25 = 0),
        |j AS (SELECT e.doc_id, e.idx, v.id FROM e JOIN v USING (piece))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       array_to_string(list(id ORDER BY idx), ' ') AS ids_str
        |FROM j GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin),

    // BPE merge TRAINING — the step that produces the merge table the
    // encode/count/token-id queries consume: K corpus-wide
    // most-frequent-adjacent-pair iterations, each one scan + hash agg +
    // one-row argmax (Bpe.trainMerges doc). The oracle replays the ENTIRE
    // training run as unrolled CTEs with the learned pairs as scalar
    // subqueries (the classifier/PageRank doctrine applied to tokenizer
    // training), so DuckDB must learn the SAME rules in the SAME order
    // with the SAME counts — training is hash-checked, not spot-checked.
    // Parity with a transparent sequential trainer is BpeTrainSpec's.
    query("bpe_train", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.Bpe.trainMergesDF(
        tbl(spark, dir, "documents"), "text", iters = BpeTrainIters)
        .orderBy($"iter")
    }, oracle = {
      // the full K-iteration training replay, generated by the SAME code
      // path whose constants drive the Spark loop (Bpe.trainMergesCtes)
      val (ctes, fin) = graft.pipeline.Bpe.trainMergesCtes(
        "documents", BpeTrainIters)
      s"WITH $ctes\nSELECT iter, a, b, cnt FROM $fin ORDER BY iter"
    }),

    // overlapping context-window chunking (RAG / long-doc training):
    // chunk k = tokens [3k, 3k+8), shortening at the tail — shuffle-free
    // generate; the oracle replays the slice arithmetic
    query("chunk_documents", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.TextAnalysis.chunkTokens(
        tbl(spark, dir, "documents"), "doc_id", "text", width = 8, stride = 3)
        .orderBy($"doc_id", $"chunk_idx")
    }, oracle =
      // list_slice is 1-based with an INCLUSIVE end, matching Spark's
      // slice(start, length) at begin = 3k+1, end = 3k+8; both clamp at
      // the array tail
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |e AS (
        |  SELECT doc_id, toks,
        |         UNNEST(range(((len(toks) - 1) // 3) + 1)) AS chunk_idx
        |  FROM t),
        |c AS (
        |  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |         list_slice(toks, chunk_idx * 3 + 1, chunk_idx * 3 + 8) AS ch
        |  FROM e)
        |SELECT doc_id, chunk_idx,
        |       CAST(len(ch) AS BIGINT) AS n_chunk_tokens,
        |       array_to_string(ch, ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // the corpus report card: one scan, one global aggregate, a stacked
    // (metric, value) datasheet — integer metrics only so the whole card
    // hash-matches the oracle's replay
    query("corpus_report", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.TextAnalysis.corpusReport(
        tbl(spark, dir, "documents").select($"text"), "text")
        .orderBy($"metric")
    }, oracle =
      // every ingredient's DuckDB spelling is already hash-proven by
      // text_stats / dedup_exact / pii_redact; the card just aggregates them
      """WITH t AS (
        |  SELECT text, regexp_split_to_array(trim(text), '\s+') AS toks,
        |         md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |s AS (
        |  SELECT text, toks, fp,
        |         len(list_filter(toks, w -> w IN ('the','and','of','to','is'))) AS s_en,
        |         len(list_filter(toks, w -> w IN ('le','la','les','et','de'))) AS s_fr,
        |         len(list_filter(toks, w -> w IN ('el','los','las','es','y'))) AS s_es,
        |         len(list_filter(toks, w -> w IN ('der','die','das','und','ist'))) AS s_de
        |  FROM t),
        |l AS (
        |  SELECT text, toks, fp,
        |         CASE WHEN s_en + s_fr + s_es + s_de = 0 THEN 'und'
        |              WHEN s_en >= GREATEST(s_fr, s_es, s_de) THEN 'en'
        |              WHEN s_fr >= GREATEST(s_es, s_de) THEN 'fr'
        |              WHEN s_es >= s_de THEN 'es'
        |              ELSE 'de' END AS lang
        |  FROM s),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS docs_total,
        |         CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS chars_total,
        |         CAST(COALESCE(SUM(len(toks)), 0) AS BIGINT) AS tokens_total,
        |         CAST(COUNT(DISTINCT fp) AS BIGINT) AS fingerprints_distinct,
        |         CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_empty,
        |         CAST(COALESCE(SUM(len(regexp_extract_all(text,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))), 0) AS BIGINT) AS pii_email_hits,
        |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS lang_en,
        |         CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS lang_fr,
        |         CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS lang_es,
        |         CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS lang_de,
        |         CAST(SUM(CASE WHEN lang = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS lang_und
        |  FROM l)
        |SELECT metric, value FROM (
        |  SELECT 'chars_total' AS metric, chars_total AS value FROM m
        |  UNION ALL SELECT 'docs_empty', docs_empty FROM m
        |  UNION ALL SELECT 'docs_exact_dup', docs_total - fingerprints_distinct FROM m
        |  UNION ALL SELECT 'docs_total', docs_total FROM m
        |  UNION ALL SELECT 'fingerprints_distinct', fingerprints_distinct FROM m
        |  UNION ALL SELECT 'lang_de', lang_de FROM m
        |  UNION ALL SELECT 'lang_en', lang_en FROM m
        |  UNION ALL SELECT 'lang_es', lang_es FROM m
        |  UNION ALL SELECT 'lang_fr', lang_fr FROM m
        |  UNION ALL SELECT 'lang_und', lang_und FROM m
        |  UNION ALL SELECT 'pii_email_hits', pii_email_hits FROM m
        |  UNION ALL SELECT 'tokens_total', tokens_total FROM m)
        |ORDER BY metric""".stripMargin),

    // text analysis: tokenization, quality, language-ID, fingerprint
    query("text_stats", (spark, dir) => {
      import spark.implicits._
      import graft.pipeline.TextAnalysis._
      tbl(spark, dir, "documents").select(
        $"doc_id",
        tokenCount($"text").cast("long").as("n_tokens"),
        punctCount($"text").cast("long").as("punct_count"),
        stopwordCount($"text").cast("long").as("stop_count"),
        qualityScore($"text").as("quality"),
        languageId($"text").as("lang_pred"),
        fingerprint($"text").as("fingerprint"))
        .orderBy($"doc_id")
    }, oracle =
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks,
        |         length(text) AS n_chars,
        |         length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS punct_c
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_chars, punct_c,
        |         len(toks) AS n_tok,
        |         len(list_filter(toks, w -> w IN ('the','a','and','of','to','in','is','it','for','on'))) AS stop_c,
        |         len(list_filter(toks, w -> w IN ('the','and','of','to','is'))) AS s_en,
        |         len(list_filter(toks, w -> w IN ('le','la','les','et','de'))) AS s_fr,
        |         len(list_filter(toks, w -> w IN ('el','los','las','es','y'))) AS s_es,
        |         len(list_filter(toks, w -> w IN ('der','die','das','und','ist'))) AS s_de,
        |         md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        |  FROM t)
        |SELECT doc_id,
        |       CAST(n_tok AS BIGINT) AS n_tokens,
        |       CAST(punct_c AS BIGINT) AS punct_count,
        |       CAST(stop_c AS BIGINT) AS stop_count,
        |       LEAST(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.3
        |         + (1.0 - LEAST(CAST(punct_c AS DOUBLE) / CAST(n_chars AS DOUBLE) * 10.0, 1.0)) * 0.3
        |         + LEAST(CAST(stop_c AS DOUBLE) / CAST(n_tok AS DOUBLE) * 5.0, 1.0) * 0.4 AS quality,
        |       CASE WHEN s_en + s_fr + s_es + s_de = 0 THEN 'und'
        |            WHEN s_en >= GREATEST(s_fr, s_es, s_de) THEN 'en'
        |            WHEN s_fr >= GREATEST(s_es, s_de) THEN 'fr'
        |            WHEN s_es >= s_de THEN 'es'
        |            ELSE 'de' END AS lang_pred,
        |       fingerprint
        |FROM s ORDER BY doc_id""".stripMargin),

    // PII redaction over documents with synthetic PII appended (the corpus
    // itself is clean, so the query injects one of each category per doc —
    // mirrored exactly in the oracle); verified via match counts + md5 of
    // the fully redacted text
    query("pii_redact", (spark, dir) => {
      import spark.implicits._
      import graft.pipeline.TextAnalysis._
      val withPii = tbl(spark, dir, "documents").select($"doc_id",
        concat($"text",
          lit(" contact user"), $"doc_id".cast("string"),
          lit("@example.com visit https://site"), $"doc_id".cast("string"),
          lit(".example.org/p%20a from 10.0."), ($"doc_id" % 256).cast("string"),
          lit(".7 call 555-867-"),
          lpad(($"doc_id" % 10000).cast("string"), 4, "0")).as("text"))
      withPii.select($"doc_id",
        emailCount($"text").cast("long").as("n_emails"),
        urlCount($"text").cast("long").as("n_urls"),
        ipv4Count($"text").cast("long").as("n_ips"),
        phoneCount($"text").cast("long").as("n_phones"),
        md5(redactPii($"text")).as("redacted_fp"))
        .orderBy($"doc_id")
    }, oracle =
      """WITH t AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR)
        |              || '@example.com visit https://site' || CAST(doc_id AS VARCHAR)
        |              || '.example.org/p%20a from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |              || '.7 call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_%-]+')) AS BIGINT) AS n_urls,
        |       CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |       CAST(len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phones,
        |       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         'https?://[A-Za-z0-9./_%-]+', '<URL>', 'g'),
        |         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |         '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g')) AS redacted_fp
        |FROM t ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition/diversity quality signals per document
    // token-distribution Shannon entropy in exact 1e-6 fixed-point bits:
    // the distribution-shape quality signal (low entropy = templated
    // text), every log2 the FixedLog2 recurrence, per-term floors before
    // the order-independent integer sum
    query("token_entropy", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.TextAnalysis.tokenEntropy(
        tbl(spark, dir, "documents"), "doc_id", "text")
        .orderBy($"doc_id")
    }, oracle =
      // H = log2(n) - (1/n) * sum c*log2(c): log chains over DISTINCT count
      // and length values (joined back by value), per-term 1e-6 floors
      // before the integer sum, numerator clamped at 0 before the division
      s"""WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        |  FROM documents),
        |ct AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |ecv AS (SELECT DISTINCT c FROM ct),
        |${entCountLogStages._1},
        |nt AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
        |              CAST(COUNT(*) AS BIGINT) AS n_distinct
        |       FROM ct GROUP BY 1),
        |env AS (SELECT DISTINCT n FROM nt),
        |${entLenLogStages._1},
        |terms AS (
        |  SELECT ct.doc_id, CAST(FLOOR(1e6 * ct.c * l.lg) AS BIGINT) AS term
        |  FROM ct JOIN ${entCountLogStages._2} l USING (c)),
        |sm AS (SELECT doc_id, CAST(SUM(term) AS BIGINT) AS s FROM terms GROUP BY 1)
        |SELECT nt.doc_id, nt.n AS n_tokens, nt.n_distinct,
        |       CAST(GREATEST(nt.n * CAST(FLOOR(1e6 * nl.lg) AS BIGINT) - sm.s, 0)
        |            // nt.n AS BIGINT) AS entropy_e6
        |FROM nt JOIN ${entLenLogStages._2} nl USING (n)
        |        JOIN sm USING (doc_id)
        |ORDER BY nt.doc_id""".stripMargin),

    query("repetition_stats", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.TextAnalysis.repetitionStats(
        tbl(spark, dir, "documents"), "doc_id", "text")
        .orderBy($"doc_id")
    }, oracle =
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, len(toks) AS n_tok FROM t WHERE len(toks) >= 3),
        |loc AS (
        |  SELECT doc_id, n_tok,
        |         CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(n_tok AS DOUBLE) AS distinct_token_frac,
        |         CAST(n_tok - 2 - len(list_distinct(list_transform(range(1, n_tok - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS DOUBLE)
        |           / CAST(n_tok - 2 AS DOUBLE) AS dup_trigram_frac
        |  FROM b),
        |e AS (SELECT doc_id, n_tok - 1 AS n_bg,
        |             unnest(list_transform(range(1, n_tok), i -> toks[i] || ' ' || toks[i+1])) AS bg
        |      FROM b),
        |m AS (SELECT doc_id, n_bg, MAX(c) AS maxc FROM (
        |        SELECT doc_id, n_bg, bg, COUNT(*) AS c FROM e GROUP BY 1, 2, 3) g
        |      GROUP BY 1, 2)
        |SELECT loc.doc_id, CAST(loc.n_tok AS BIGINT) AS n_tokens,
        |       loc.distinct_token_frac, loc.dup_trigram_frac,
        |       CAST(m.maxc AS DOUBLE) / CAST(m.n_bg AS DOUBLE) AS top_bigram_frac
        |FROM loc JOIN m ON loc.doc_id = m.doc_id
        |ORDER BY loc.doc_id""".stripMargin),

    // exact nearest-rank percentiles with NO global sort (datasheet
    // numbers: tokens-per-doc p25/p50/p90/p99) — the selectTopFraction
    // histogram device pointed at reporting; exact integer arithmetic
    query("token_percentiles", (spark, dir) => {
      import spark.implicits._
      val d = tbl(spark, dir, "documents").select(
        graft.pipeline.TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      graft.pipeline.Selection.exactPercentiles(
          d, "n_tokens", Seq(25, 50, 90, 99))
        .orderBy($"pct")
    }, oracle =
      """WITH t AS (SELECT CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |                  AS BIGINT) AS v
        |           FROM documents),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
        |h AS (SELECT v, COUNT(*) AS c FROM t GROUP BY 1),
        |r AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |      FROM h),
        |p AS (SELECT CAST(UNNEST([25, 50, 90, 99]) AS BIGINT) AS pct),
        |x AS (SELECT pct, (pct * n + 99) // 100 AS target_rank, n
        |      FROM p CROSS JOIN n)
        |SELECT pct, CAST(MIN(r.v) AS BIGINT) AS value,
        |       CAST(target_rank AS BIGINT) AS target_rank,
        |       n AS total_rows
        |FROM x JOIN r ON r.run >= x.target_rank
        |GROUP BY pct, target_rank, n ORDER BY pct""".stripMargin),

    // sketch-driven key-skew profile: the diagnostic an operator runs
    // BEFORE choosing salt buckets / AQE skew knobs — one pass, bounded
    // state, exact below eviction (the reference operator in its
    // engineering role; a groupBy-count profile of the same key shuffles
    // the corpus to learn what the sketch learns map-side)
    query("skew_report", (spark, dir) => {
      import spark.implicits._
      graft.operators.Diagnostics.keySkewReport(
        tbl(spark, dir, "orders"), "o_custkey", k = 20, counters = ExactN)
        .orderBy($"freq".desc, $"key")
    }, oracle =
      """WITH c AS (SELECT CAST(o_custkey AS VARCHAR) AS key,
        |                  CAST(COUNT(*) AS BIGINT) AS freq
        |           FROM orders GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_rows FROM orders)
        |SELECT key, freq,
        |       CAST(freq * 1000000 // total_rows AS BIGINT) AS share_e6,
        |       total_rows
        |FROM c CROSS JOIN t
        |ORDER BY freq DESC, key LIMIT 20""".stripMargin),

    // token-budget sequence packing: contiguous greedy fill by global
    // token prefix-sum (scale-safe two-pass, no single-partition window);
    // reports per-bin doc and token totals
    query("pack_bins", (spark, dir) => {
      import spark.implicits._
      val withTokens = tbl(spark, dir, "documents").select($"doc_id",
        graft.pipeline.TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      graft.pipeline.Sampling.packByBudget(withTokens, "doc_id", "n_tokens", budget = 2048L)
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("bin_tokens"))
        .orderBy($"bin")
    }, oracle =
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |  FROM t)
        |SELECT (run - n_tokens) // 2048 AS bin,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY 1 ORDER BY bin""".stripMargin),

    // token-budget packing under the pluggable BPE tokenizer (demo merge
    // table): same packing operator, vocabulary-aware weights — budgets
    // now approximate an LLM context window instead of word counts. The
    // merge walk is a deterministic composition of string built-ins, so
    // DuckDB replays it bit-for-bit (Bpe.duckdbTokenCountSql).
    query("pack_bins_bpe", (spark, dir) => {
      import spark.implicits._
      // production-vocabulary count tier: same integers as the literal
      // replace chain (CurationSpec pins parity, fine print included),
      // one plan node instead of 30 whole-document replaces — the oracle
      // keeps replaying the literal chain
      val withTokens = tbl(spark, dir, "documents").select($"doc_id",
        graft.pipeline.Bpe.tokenCountVocab(
          $"text", graft.pipeline.Bpe.DemoMerges).cast("long").as("n_tokens"))
      graft.pipeline.Sampling.packByBudget(withTokens, "doc_id", "n_tokens", budget = 2048L)
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("bin_tokens"))
        .orderBy($"bin")
    }, oracle =
      s"""WITH t AS (
        |  SELECT doc_id,
        |         CAST(${graft.pipeline.Bpe.duckdbTokenCountSql("text")} AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |  FROM t)
        |SELECT (run - n_tokens) // 2048 AS bin,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY 1 ORDER BY bin""".stripMargin),

    // the production-vocabulary BPE tier end-to-end at real vocabulary
    // size: the demo rules (which actually fire on text) padded to 50k
    // with synthetic rules the rank-ordered worklist skips — most of a
    // real 50k vocabulary never fires on any one document, so this IS
    // the production cost shape. One plan node, one scan, one 1-row agg;
    // the demo-vocabulary twin with its SQL-replayable literal chain is
    // measured by `pack_bins_bpe`
    benchOnly("bpe_vocab_count_op", (spark, dir) => {
      import spark.implicits._
      val merges = graft.pipeline.Bpe.DemoMerges ++
        (0 until 50000).map(i => (s"Z$i", s"Q$i"))
      tbl(spark, dir, "documents")
        .select(graft.pipeline.Bpe.tokenCountVocab($"text", merges).as("n"))
        .agg(sum($"n").as("total_bpe_tokens"))
    }),

    // tokenizer evaluation: per-language fertility (BPE pieces per word)
    // and compression (bytes per piece) of the demo merge table, exact
    // integer ppm on group sums — the report a tokenizer-training run is
    // judged on, closing the train -> encode -> evaluate loop
    query("bpe_fertility", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.Bpe.fertilityReport(
        tbl(spark, dir, "documents"), "lang", "text")
        .orderBy($"grp")
    }, oracle =
      // the merge-walk replay counted per doc, then exact ppm floors on
      // the GROUP sums (one division per group — order-independent)
      s"""WITH t AS (
        |  SELECT lang,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_w,
        |         ${graft.pipeline.Bpe.duckdbTokenCountSql("text")} AS n_p,
        |         strlen(text) AS n_b
        |  FROM documents),
        |g AS (SELECT lang AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |             CAST(SUM(n_w) AS BIGINT) AS n_words,
        |             CAST(SUM(n_p) AS BIGINT) AS n_pieces,
        |             CAST(SUM(n_b) AS BIGINT) AS n_bytes
        |      FROM t GROUP BY 1)
        |SELECT grp, n_docs, n_words, n_pieces, n_bytes,
        |       CAST(CASE WHEN n_words = 0 THEN 0
        |                 ELSE n_pieces * 1000000 // n_words END AS BIGINT)
        |         AS fertility_ppm,
        |       CAST(CASE WHEN n_pieces = 0 THEN 0
        |                 ELSE n_bytes * 1000000 // n_pieces END AS BIGINT)
        |         AS bytes_per_piece_ppm
        |FROM g ORDER BY grp""".stripMargin),

    // CCNet-style bigram-LM quality signal: self-trained add-one-smoothed
    // bigram model, per-doc mean conditional probability. Fixed-point
    // (floor(p * 1e9)) per bigram BEFORE the per-doc sum keeps the
    // aggregate an order-independent integer sum — bit-identical in DuckDB
    query("lm_surprise", (spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      val model = graft.pipeline.LanguageModel.trainBigrams(docs, "text")
      graft.pipeline.LanguageModel.scoreDocs(docs, "doc_id", "text", model)
        .orderBy($"doc_id")
    }, oracle =
      // replays the identical bigram model + smoothed probability; the
      // fixed-point floor(p * 1e9) uses only correctly-rounded IEEE ops
      // (+ * /) on integer-valued doubles, so the per-bigram terms — and
      // their order-independent integer sums — are bit-identical
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |b AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) >= 2
        |              THEN list_transform(range(1, len(toks)),
        |                     i -> toks[i] || ' ' || toks[i+1])
        |              ELSE [] END AS bgs
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(bgs) AS bigram FROM b),
        |cb AS (SELECT bigram, COUNT(*) AS c_bigram FROM ex GROUP BY 1),
        |cc AS (SELECT split_part(bigram, ' ', 1) AS w1, COUNT(*) AS c_context
        |       FROM ex GROUP BY 1),
        |vv AS (SELECT COUNT(DISTINCT tok) AS v
        |       FROM (SELECT unnest(toks) AS tok FROM t)),
        |sc AS (
        |  SELECT e.doc_id,
        |         CAST(FLOOR((CAST(cb.c_bigram AS DOUBLE) + 1.0)
        |               / (CAST(cc.c_context AS DOUBLE) + 1.0 * CAST(vv.v AS DOUBLE))
        |               * 1000000000.0) AS BIGINT) AS p_e9
        |  FROM ex e
        |  JOIN cb USING (bigram)
        |  JOIN cc ON split_part(e.bigram, ' ', 1) = cc.w1
        |  CROSS JOIN vv)
        |SELECT doc_id,
        |       COUNT(*) AS n_bigrams,
        |       CAST(SUM(p_e9) AS BIGINT) AS sum_p_e9,
        |       CAST(SUM(p_e9) // COUNT(*) AS BIGINT) AS mean_p_e9
        |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // the flagship sketch on the pipeline table: top-10 word trigrams per
    // language via topn_add_agg over the exploded trigram multiset — the
    // reference operator doing corpus n-gram statistics
    query("topn_doc_trigrams", (spark, dir) => {
      import spark.implicits._
      import graft.pipeline.TextAnalysis
      tbl(spark, dir, "documents")
        .select($"lang", TextAnalysis.tokens($"text").as("toks"))
        .filter(size($"toks") >= 3)
        .select($"lang", explode(TextAnalysis.wordTrigrams($"toks")).as("tg"))
        .groupBy($"lang")
        .agg(TopnFunctions.topn_add_agg($"tg", ExactN).as("sketch"))
        .select($"lang", explode(TopnFunctions.topn($"sketch", lit(10))).as("r"))
        .select($"lang", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"lang", $"frequency".desc, $"item")
    }, oracle =
      // trigram multiset + exact GROUP BY count + pinned tie order — the
      // sketch is exact at this counter budget, like every sketch oracle
      """WITH t AS (
        |  SELECT lang, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |tg AS (
        |  SELECT lang, UNNEST(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tg
        |  FROM t WHERE len(toks) >= 3)
        |SELECT lang, item, frequency FROM (
        |  SELECT lang, tg AS item, COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |                            ORDER BY COUNT(*) DESC, tg) AS rn
        |  FROM tg GROUP BY 1, 2) x
        |WHERE rn <= 10
        |ORDER BY lang, frequency DESC, item""".stripMargin),

    // Gopher-style rule-based quality flags (arXiv:2112.11446 Table A1):
    // exact integer arithmetic end to end, every rule flag replayed by
    // the oracle. The stop-word probe is adapted to the synthetic
    // corpus's vocabulary (QualityProbeWords), as the paper localizes it
    // per language.
    query("quality_filter", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.Quality.gopherFlags(
        tbl(spark, dir, "documents"), "doc_id", "text",
        minWords = 20L, maxWords = 100000L, stopWords = QualityProbeWords)
        .orderBy($"doc_id")
    }, oracle =
      s"""WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(text), '\\s+') AS toks,
        |         regexp_split_to_array(text, '\\n') AS lns
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(COALESCE(list_sum(list_transform(toks, w -> length(w))), 0) AS BIGINT) AS sum_word_len,
        |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        |    CAST(len(lns) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lns, l -> starts_with(ltrim(l), '- ') OR starts_with(ltrim(l), '* '))) AS BIGINT) AS bullet_lines,
        |    CAST(len(list_filter(lns, l -> ends_with(rtrim(l), '...'))) AS BIGINT) AS ellipsis_lines,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hash_marks,
        |    CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS ellipses,
        |    CAST(len(list_intersect(list_distinct(list_transform(toks, w -> lower(w))),
        |         [${QualityProbeWords.map(w => s"'$w'").mkString(", ")}])) AS BIGINT) AS stop_hits
        |  FROM t)
        |SELECT doc_id, n_words, sum_word_len, alpha_words, n_lines,
        |       bullet_lines, ellipsis_lines, hash_marks, ellipses, stop_hits,
        |       (n_words >= 20 AND n_words <= 100000) AS ok_word_count,
        |       (sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words) AS ok_mean_word_len,
        |       (10 * bullet_lines <= 9 * n_lines) AS ok_bullet_lines,
        |       (10 * ellipsis_lines <= 3 * n_lines) AS ok_ellipsis_lines,
        |       (10 * (hash_marks + ellipses) <= n_words) AS ok_symbol_ratio,
        |       (5 * alpha_words >= 4 * n_words) AS ok_alpha_words,
        |       (stop_hits >= 2) AS ok_stop_words,
        |       ((n_words >= 20 AND n_words <= 100000)
        |        AND (sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words)
        |        AND (10 * bullet_lines <= 9 * n_lines)
        |        AND (10 * ellipsis_lines <= 3 * n_lines)
        |        AND (10 * (hash_marks + ellipses) <= n_words)
        |        AND (5 * alpha_words >= 4 * n_words)
        |        AND (stop_hits >= 2)) AS pass
        |FROM f ORDER BY doc_id""".stripMargin),

    // C4's term-blocklist device (Raffel et al. 2020 §2.2) generalized
    // to phrases: per-doc hit counts against a curated list, matched
    // case-insensitively on word boundaries. The list mixes a unigram, a
    // two-word phrase, a punctuated/cased spelling that only matches
    // because of normalization, and a never-occurring term
    query("term_blocklist", (spark, dir) => {
      import spark.implicits._
      val terms = Seq("dup", "Slow Join", "(vector)", "zeppelin").toDF("term")
      graft.pipeline.Quality.blocklistHits(
        tbl(spark, dir, "documents"), "doc_id", "text", terms)
        .orderBy($"doc_id")
    }, oracle =
      // every rule is exact integer arithmetic (cross-multiplied rational
      // thresholds), so the flags replay bit-identically; the stop list is
      // generated from the same QualityProbeWords constant as the plan
      // the blocklist spelled POST-normalization (the engine normalizes the
      // raw 'Slow Join' / '(vector)' spellings with the same regex pair the
      // token side uses); overlapping occurrences each count
      """WITH bl AS (SELECT UNNEST(['dup', 'slow join', 'vector', 'zeppelin']) AS term),
        |tk AS (
        |  SELECT doc_id,
        |         list_filter(
        |           list_transform(regexp_split_to_array(trim(lower(text)), '\s+'),
        |             t -> regexp_replace(regexp_replace(t, '^[^a-z0-9]+', ''),
        |                                 '[^a-z0-9]+$', '')),
        |           t -> t <> '') AS toks
        |  FROM documents),
        |u1 AS (SELECT doc_id, UNNEST(toks) AS g FROM tk),
        |b2 AS (SELECT doc_id, toks, UNNEST(range(0, len(toks) - 1)) AS i
        |       FROM tk WHERE len(toks) >= 2),
        |u2 AS (SELECT doc_id, array_to_string(toks[i+1 : i+2], ' ') AS g FROM b2),
        |h AS (SELECT doc_id, g
        |      FROM (SELECT * FROM u1 UNION ALL SELECT * FROM u2)
        |      WHERE g IN (SELECT term FROM bl)),
        |ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
        |              CAST(COUNT(DISTINCT g) AS BIGINT) AS n_terms
        |       FROM h GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(COALESCE(ag.n_hits, 0) AS BIGINT) AS n_hits,
        |       CAST(COALESCE(ag.n_terms, 0) AS BIGINT) AS n_terms,
        |       ag.n_hits IS NULL AS kept
        |FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Unicode normalization pass (custom codegen'd expression, NFC +
    // control strip): the synthetic corpus is ASCII (fast-path identity),
    // so the query PLANTS a decomposed accent (e + U+0301), a BEL and a
    // CRLF on every doc — both engines build the same dirty string and
    // must produce the identical normalized md5 (DuckDB: nfc_normalize)
    query("text_normalize", (spark, dir) => {
      import spark.implicits._
      import graft.pipeline.TextAnalysis
      val dirty = concat($"text", lit(" e"), lit("\u0301"),
        lit("\u0007"), lit("\r\n"), lit("end"))
      tbl(spark, dir, "documents")
        .select($"doc_id",
          md5(TextAnalysis.normalizeText(dirty)).as("clean_md5"),
          (length(dirty) - length(TextAnalysis.normalizeText(dirty)))
            .cast("long").as("n_removed"))
        .orderBy($"doc_id")
    }, oracle =
      """WITH d AS (
        |  SELECT doc_id,
        |         text || ' e' || chr(769) || chr(7) || chr(13) || chr(10) || 'end'
        |           AS dirty
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, dirty,
        |         regexp_replace(nfc_normalize(dirty),
        |                        '[\x00-\x08\x0b-\x1f\x7f]', '', 'g') AS clean
        |  FROM d)
        |SELECT doc_id, md5(clean) AS clean_md5,
        |       CAST(length(dirty) - length(clean) AS BIGINT) AS n_removed
        |FROM n ORDER BY doc_id""".stripMargin),

    // JSONL source/sink round-trip: the corpus (text salted with the JSON
    // hard cases — newline, quote, backslash, tab, multibyte) is written
    // as line-delimited JSON shards and read back through the explicit-
    // schema reader; output is the read-back rows themselves, so the
    // straight-SQL oracle over the parquet table is hash-exact only if
    // BOTH the writer's escaping and the reader's parsing are faithful
    query("jsonl_roundtrip", (spark, dir) => {
      import spark.implicits._
      val dirty = concat($"text", lit("\n\"json\\edge\t"), lit("é€"))
      val docs = tbl(spark, dir, "documents")
        .select($"doc_id", $"lang", $"source", dirty.as("text"))
      val tmp = FixtureStore.tempDir("graft-jsonl")
      graft.sources.Tables.writeJsonl(docs, tmp, shards = 4)
      graft.sources.Tables.jsonl(spark, tmp,
          "doc_id BIGINT, lang STRING, source STRING, text STRING")
        .select($"doc_id", $"lang", $"source", md5($"text").as("text_md5"))
        .orderBy($"doc_id")
    }, oracle =
      // same dirty-string construction, DuckDB's standard-library NFC; both
      // engines implement Unicode canonical composition, so the md5s match
      // the salt spelled with chr(): chr(10) newline, chr(34) quote, a
      // literal backslash (DuckDB standard strings do not process escapes),
      // chr(9) tab, then the multibyte pair; md5 hashes the UTF-8 bytes in
      // both engines
      """SELECT doc_id, lang, source,
        |       md5(text || chr(10) || chr(34) || 'json\edge' || chr(9) || 'é€')
        |         AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // BM25 ranked retrieval: top 20 docs for a fixed 3-term query
    query("bm25_search", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.Bm25.topK(
        tbl(spark, dir, "documents"), "doc_id", "text",
        Seq("spark", "dup", "customer"), k = 20)
        .orderBy($"score_e6".desc, $"doc_id")
    }, oracle =
      // BM25 with Lucene's non-negative idf. Constants are spelled as the
      // same literal arithmetic Spark evaluates ((1.2 + 1.0), (1.0 - 0.75))
      // — double(1.2)+1.0 != double(2.2), so writing 2.2 would diverge.
      // Term order in the sum is fixed left-to-right in both engines.
      s"""WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf0,
        |         CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf1,
        |         CAST(len(list_filter(toks, x -> x = 'customer')) AS BIGINT) AS tf2
        |  FROM t),
        |st AS (SELECT COUNT(*) AS n_docs, SUM(n_tokens) AS sum_len,
        |              SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |              SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |              SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |       FROM base),
        |terms AS (
        |  SELECT 0 AS ti, 1.0 + (CAST(n_docs AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5) AS x FROM st
        |  UNION ALL
        |  SELECT 1 AS ti, 1.0 + (CAST(n_docs AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5) AS x FROM st
        |  UNION ALL
        |  SELECT 2 AS ti, 1.0 + (CAST(n_docs AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5) AS x FROM st),
        |${bmLogStages._1},
        |idf AS (SELECT ti, lg FROM ${bmLogStages._2}),
        |sc AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(FLOOR(1000000.0 * (
        |      (SELECT lg FROM idf WHERE ti = 0)
        |        * ((CAST(tf0 AS DOUBLE) * (1.2 + 1.0)) / (CAST(tf0 AS DOUBLE)
        |            + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(n_tokens AS DOUBLE) / (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |      + (SELECT lg FROM idf WHERE ti = 1)
        |        * ((CAST(tf1 AS DOUBLE) * (1.2 + 1.0)) / (CAST(tf1 AS DOUBLE)
        |            + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(n_tokens AS DOUBLE) / (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |      + (SELECT lg FROM idf WHERE ti = 2)
        |        * ((CAST(tf2 AS DOUBLE) * (1.2 + 1.0)) / (CAST(tf2 AS DOUBLE)
        |            + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(n_tokens AS DOUBLE) / (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |      )) AS BIGINT) AS score_e6
        |  FROM base CROSS JOIN st)
        |SELECT doc_id, n_tokens, score_e6 FROM sc WHERE score_e6 > 0
        |ORDER BY score_e6 DESC, doc_id LIMIT 20""".stripMargin),

    // example packing (GPT-style pretraining layout): the corpus as one
    // token stream cut into 512-token training sequences, documents
    // SPLIT across boundaries so every context window is exactly full —
    // pack_bins' whole-doc twin keeps bins ragged instead. Pure integer
    // arithmetic over a prefix sum; the oracle replays it with a window
    // sum + per-doc series expansion
    query("pack_sequences", (spark, dir) => {
      import spark.implicits._
      val d = tbl(spark, dir, "documents").select($"doc_id",
        graft.pipeline.TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      graft.pipeline.Sampling.packSequences(d, "doc_id", "n_tokens", seqLen = 512L)
        .select($"doc_id", $"seq_id", $"frag_start", $"frag_len")
        .orderBy($"doc_id", $"seq_id")
    }, oracle =
      // same stream layout: exclusive prefix sum -> the range of sequence
      // ids a doc overlaps -> clamped fragment arithmetic, all integers
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |      FROM t),
        |f AS (SELECT doc_id, n_tokens, run - n_tokens AS st FROM c),
        |e AS (SELECT doc_id, n_tokens, st,
        |             UNNEST(range(st // 512, (st + n_tokens - 1) // 512 + 1)) AS s
        |      FROM f WHERE n_tokens > 0)
        |SELECT doc_id, CAST(s AS BIGINT) AS seq_id,
        |       CAST(GREATEST(0, s * 512 - st) AS BIGINT) AS frag_start,
        |       CAST(LEAST(n_tokens, (s + 1) * 512 - st)
        |            - GREATEST(0, s * 512 - st) AS BIGINT) AS frag_len
        |FROM e ORDER BY doc_id, seq_id""".stripMargin),

    // SFT packing with loss masks: each doc a (prompt, response) pair —
    // prompt = the first third of its tokens (deterministic synthetic
    // split) — packed as a token stream with per-fragment loss intervals
    // in SEQUENCE coordinates (response spans train, prompt spans don't).
    // Pure integer arithmetic; the oracle replays layout AND mask
    query("pack_sft_sequences", (spark, dir) => {
      import spark.implicits._
      val d = tbl(spark, dir, "documents").select($"doc_id",
        graft.pipeline.TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
        .select($"doc_id", ($"n_tokens" / 3).cast("long").as("prompt_len"),
          $"n_tokens")
      graft.pipeline.Sampling.packMaskedSequences(
          d, "doc_id", "prompt_len", "n_tokens", seqLen = 512L)
        .select($"doc_id", $"seq_id", $"frag_start", $"frag_len",
          $"seq_off", $"loss_off", $"loss_len")
        .orderBy($"doc_id", $"seq_id")
    }, oracle =
      // the same layout replay + the mask arithmetic in SQL: seq_off from
      // the stream offset, loss interval = fragment ∩ [prompt_len, total)
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tp AS (SELECT doc_id, n_tokens // 3 AS p, n_tokens FROM t),
        |c AS (SELECT doc_id, p, n_tokens,
        |             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |      FROM tp),
        |f AS (SELECT doc_id, p, n_tokens, run - n_tokens AS st FROM c),
        |e AS (SELECT doc_id, p, n_tokens, st,
        |             UNNEST(range(st // 512, (st + n_tokens - 1) // 512 + 1)) AS s
        |      FROM f WHERE n_tokens > 0),
        |x AS (SELECT doc_id, p, CAST(s AS BIGINT) AS seq_id,
        |             CAST(GREATEST(0, s * 512 - st) AS BIGINT) AS frag_start,
        |             CAST(LEAST(n_tokens, (s + 1) * 512 - st)
        |                  - GREATEST(0, s * 512 - st) AS BIGINT) AS frag_len,
        |             CAST(GREATEST(0, st - s * 512) AS BIGINT) AS seq_off
        |      FROM e)
        |SELECT doc_id, seq_id, frag_start, frag_len, seq_off,
        |       CAST(seq_off + LEAST(frag_len, GREATEST(0, p - frag_start))
        |            AS BIGINT) AS loss_off,
        |       CAST(GREATEST(0, frag_start + frag_len - GREATEST(frag_start, p))
        |            AS BIGINT) AS loss_len
        |FROM x ORDER BY doc_id, seq_id""".stripMargin),

    // multi-turn chat SFT: documents re-shaped into conversations (conv
    // = doc_id % 101, 8-token turns alternating user/assistant), rendered
    // with <|role|> headers + per-assistant-turn loss intervals, then
    // tiled into 512-token windows with the intervals clipped to sequence
    // coordinates — the multi-interval generalization of
    // pack_sft_sequences' single prompt prefix. Exact integer arithmetic
    // + whitespace tokens end to end; the oracle replays turn chunking,
    // conversation rebuild, offsets, window tiling and clipping
    query("chat_sft_pack", (spark, dir) => {
      import spark.implicits._
      val turns = tbl(spark, dir, "documents")
        .select($"doc_id", graft.pipeline.TextAnalysis.tokens($"text").as("toks"))
        .filter(size($"toks") > 0)
        .select($"doc_id",
          explode(expr("sequence(0, CAST((size(toks) + 7) DIV 8 AS INT) - 1)")).as("c"),
          $"toks")
        .select(
          ($"doc_id" % 101).as("conv_id"),
          ($"doc_id" * 1024 + $"c").as("turn_idx"),
          when($"c" % 2 === 0, "user").otherwise("assistant").as("role"),
          array_join(slice($"toks", $"c" * 8 + 1, lit(8)), " ").as("text"))
      val rendered = graft.pipeline.Chat.renderConversations(
        turns, "conv_id", "turn_idx", "role", "text")
      graft.pipeline.Chat.packMaskedIntervals(
          rendered, "conv_id", "loss_ivs", "n_tokens", seqLen = 512L)
        .select($"conv_id", $"seq_id", $"frag_start", $"frag_len", $"seq_off",
          array_join(transform($"loss_ivs", iv =>
            concat(iv.getField("loss_off").cast("string"), lit(":"),
              iv.getField("loss_len").cast("string"))), " ").as("ivs_str"),
          md5($"text").as("conv_md5"))
        .orderBy($"conv_id", $"seq_id")
    }, oracle =
      // turn chunking, conversation rebuild (ordered string_agg + per-turn
      // offset window), the same window tiling as pack_sft_sequences, then
      // interval clipping as a fragment x assistant-turn overlap join
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE len(regexp_split_to_array(trim(text), '\s+')) > 0),
        |ch AS (SELECT doc_id, UNNEST(range(0, (len(toks) + 7) // 8)) AS c, toks FROM t),
        |tr AS (SELECT doc_id % 101 AS conv_id, doc_id * 1024 + c AS ti,
        |              CASE WHEN c % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |              list_filter(toks[c*8+1 : c*8+8], x -> x <> '') AS ttoks
        |       FROM ch),
        |o AS (SELECT conv_id, ti, role, ttoks, len(ttoks) AS nt,
        |             CAST(SUM(len(ttoks) + 1) OVER (PARTITION BY conv_id ORDER BY ti
        |               ROWS UNBOUNDED PRECEDING) - (len(ttoks) + 1) AS BIGINT) AS toff
        |      FROM tr),
        |conv AS (SELECT conv_id,
        |                string_agg('<|' || role || '|>' ||
        |                  CASE WHEN nt > 0 THEN ' ' || array_to_string(ttoks, ' ')
        |                       ELSE '' END, ' ' ORDER BY ti) AS text,
        |                CAST(SUM(nt + 1) AS BIGINT) AS n_tokens
        |         FROM o GROUP BY conv_id),
        |c2 AS (SELECT conv_id, text, n_tokens,
        |              CAST(SUM(n_tokens) OVER (ORDER BY conv_id
        |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |       FROM conv),
        |f AS (SELECT conv_id, text, n_tokens, run - n_tokens AS st FROM c2),
        |e AS (SELECT conv_id, text, n_tokens, st,
        |             UNNEST(range(st // 512, (st + n_tokens - 1) // 512 + 1)) AS s
        |      FROM f WHERE n_tokens > 0),
        |fr AS (SELECT conv_id, text, CAST(s AS BIGINT) AS seq_id,
        |              CAST(GREATEST(0, s * 512 - st) AS BIGINT) AS frag_start,
        |              CAST(LEAST(n_tokens, (s + 1) * 512 - st)
        |                   - GREATEST(0, s * 512 - st) AS BIGINT) AS frag_len,
        |              CAST(GREATEST(0, st - s * 512) AS BIGINT) AS seq_off
        |       FROM e),
        |iv AS (SELECT conv_id, toff + 1 AS ioff, CAST(nt AS BIGINT) AS ilen
        |       FROM o WHERE role = 'assistant' AND nt > 0),
        |fi AS (SELECT fr.conv_id, fr.text, fr.seq_id, fr.frag_start, fr.frag_len,
        |              fr.seq_off, iv.ioff, iv.ilen
        |       FROM fr LEFT JOIN iv ON fr.conv_id = iv.conv_id
        |         AND iv.ioff < fr.frag_start + fr.frag_len
        |         AND iv.ioff + iv.ilen > fr.frag_start)
        |SELECT conv_id, seq_id, frag_start, frag_len, seq_off,
        |       -- DuckDB GREATEST/LEAST SKIP NULLs (non-standard): an
        |       -- unmatched left join would fabricate a full-fragment
        |       -- interval, so the NULL guard must be explicit
        |       COALESCE(string_agg(CASE WHEN ioff IS NULL THEN NULL ELSE
        |         CAST(seq_off + GREATEST(ioff, frag_start) - frag_start AS VARCHAR)
        |         || ':' ||
        |         CAST(LEAST(ioff + ilen, frag_start + frag_len)
        |              - GREATEST(ioff, frag_start) AS VARCHAR) END,
        |         ' ' ORDER BY ioff), '') AS ivs_str,
        |       md5(text) AS conv_md5
        |FROM fi GROUP BY conv_id, seq_id, frag_start, frag_len, seq_off, text
        |ORDER BY conv_id, seq_id""".stripMargin),

    // the materialized chat deliverable: chat_sft_pack's conversations as
    // word-id arrays packed by Chat.packTokenIds — rendered tokens get
    // dense lexicographic ids (the buildVocab doctrine at word level, so
    // the oracle replays the vocab as ROW_NUMBER over distinct tokens),
    // and each 256-token window carries input_ids + doc_starts +
    // in-window loss intervals, the loader-consumable form of the
    // multi-turn mask. The oracle rebuilds the rendered token stream
    // turn-by-turn (header + content positions), re-derives the ids, and
    // replays the tiling, slicing and interval clipping
    query("chat_pack_token_ids", (spark, dir) => {
      import spark.implicits._
      val turns = tbl(spark, dir, "documents")
        .select($"doc_id", graft.pipeline.TextAnalysis.tokens($"text").as("toks"))
        .filter(size($"toks") > 0)
        .select($"doc_id",
          explode(expr("sequence(0, CAST((size(toks) + 7) DIV 8 AS INT) - 1)")).as("c"),
          $"toks")
        .select(
          ($"doc_id" % 101).as("conv_id"),
          ($"doc_id" * 1024 + $"c").as("turn_idx"),
          when($"c" % 2 === 0, "user").otherwise("assistant").as("role"),
          array_join(slice($"toks", $"c" * 8 + 1, lit(8)), " ").as("text"))
      val rendered = graft.pipeline.Chat.renderConversations(
        turns, "conv_id", "turn_idx", "role", "text")
      // word-level vocab: distinct rendered token -> dense lexicographic
      // id (single-partition window over the VOCABULARY-sized distinct
      // set only — the buildVocab scale shape)
      val vocab = rendered
        .select(explode(graft.pipeline.TextAnalysis.tokens($"text")).as("piece"))
        .distinct()
        .withColumn("id",
          row_number().over(Window.orderBy($"piece")).cast("long") - 1L)
      val ids = rendered
        .select($"conv_id",
          posexplode(graft.pipeline.TextAnalysis.tokens($"text"))
            .as(Seq("__idx", "piece")))
        .join(vocab, Seq("piece"))
        .groupBy($"conv_id")
        .agg(transform(array_sort(collect_list(struct($"__idx", $"id"))),
          s => s.getField("id")).as("ids"))
      val docs = ids.join(rendered.select($"conv_id", $"loss_ivs"), Seq("conv_id"))
      graft.pipeline.Chat.packTokenIds(docs, "conv_id", "ids", "loss_ivs",
          seqLen = 256L)
        .select($"seq_id", $"n_tokens",
          array_join(transform($"input_ids", i => i.cast("string")), " ")
            .as("ids_str"),
          array_join(transform($"doc_starts", i => i.cast("string")), " ")
            .as("doc_starts_str"),
          array_join(transform($"loss_intervals", iv =>
            concat(iv.getField("loss_off").cast("string"), lit(":"),
              iv.getField("loss_len").cast("string"))), " ").as("loss_str"))
        .orderBy($"seq_id")
    }, oracle =
      // chat_sft_pack's conversation rebuild continued into the id domain:
      // the rendered token stream is reconstructed turn-by-turn (header at
      // toff, content at toff+1..toff+nt), ids are ROW_NUMBER over the
      // distinct tokens (the word-level buildVocab replay), then the
      // pack_token_sequences tiling + slicing with the interval clipping
      // aggregated separately from the fragments (a fragment overlapping
      // two intervals must not double its length into n_tokens)
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE len(regexp_split_to_array(trim(text), '\s+')) > 0),
        |ch AS (SELECT doc_id, UNNEST(range(0, (len(toks) + 7) // 8)) AS c, toks FROM t),
        |tr AS (SELECT doc_id % 101 AS conv_id, doc_id * 1024 + c AS ti,
        |              CASE WHEN c % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |              list_filter(toks[c*8+1 : c*8+8], x -> x <> '') AS ttoks
        |       FROM ch),
        |o AS (SELECT conv_id, ti, role, ttoks, len(ttoks) AS nt,
        |             CAST(SUM(len(ttoks) + 1) OVER (PARTITION BY conv_id ORDER BY ti
        |               ROWS UNBOUNDED PRECEDING) - (len(ttoks) + 1) AS BIGINT) AS toff
        |      FROM tr),
        |wt AS (SELECT conv_id, toff AS j, '<|' || role || '|>' AS tkn FROM o
        |       UNION ALL
        |       SELECT conv_id, toff + k + 1 AS j, ttoks[k + 1] AS tkn
        |       FROM (SELECT conv_id, toff, ttoks, UNNEST(range(0, nt)) AS k FROM o)),
        |v AS (SELECT tkn, CAST(ROW_NUMBER() OVER (ORDER BY tkn) - 1 AS BIGINT) AS id
        |      FROM (SELECT DISTINCT tkn FROM wt)),
        |d AS (SELECT wt.conv_id, list(v.id ORDER BY wt.j) AS ids,
        |             CAST(COUNT(*) AS BIGINT) AS n
        |      FROM wt JOIN v USING (tkn) GROUP BY wt.conv_id),
        |iv AS (SELECT conv_id, CAST(toff + 1 AS BIGINT) AS ioff,
        |              CAST(nt AS BIGINT) AS ilen
        |       FROM o WHERE role = 'assistant' AND nt > 0),
        |c2 AS (SELECT conv_id, ids, n,
        |              CAST(SUM(n) OVER (ORDER BY conv_id
        |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |       FROM d),
        |f AS (SELECT conv_id, ids, n, run - n AS st FROM c2 WHERE n > 0),
        |x AS (SELECT conv_id, ids, n, st,
        |             UNNEST(range(st // 256, (st + n - 1) // 256 + 1)) AS s
        |      FROM f),
        |frag AS (SELECT CAST(s AS BIGINT) AS seq_id, conv_id,
        |                CAST(GREATEST(0, s * 256 - st) AS BIGINT) AS fs,
        |                CAST(LEAST(n, (s + 1) * 256 - st)
        |                     - GREATEST(0, s * 256 - st) AS BIGINT) AS fl,
        |                ids
        |         FROM x),
        |sl AS (SELECT seq_id, conv_id, fs, fl,
        |              list_slice(ids, fs + 1, fs + fl) AS frag_ids,
        |              CAST(SUM(fl) OVER (PARTITION BY seq_id ORDER BY conv_id
        |                ROWS UNBOUNDED PRECEDING) - fl AS BIGINT) AS seq_off
        |       FROM frag),
        |ivc AS (SELECT sl.seq_id, sl.conv_id, iv.ioff,
        |               CAST(sl.seq_off + GREATEST(iv.ioff, sl.fs) - sl.fs AS BIGINT) AS lo,
        |               CAST(LEAST(iv.ioff + iv.ilen, sl.fs + sl.fl)
        |                    - GREATEST(iv.ioff, sl.fs) AS BIGINT) AS ll
        |        FROM sl JOIN iv ON sl.conv_id = iv.conv_id
        |          AND iv.ioff < sl.fs + sl.fl AND iv.ioff + iv.ilen > sl.fs),
        |ivs AS (SELECT seq_id,
        |               string_agg(CAST(lo AS VARCHAR) || ':' || CAST(ll AS VARCHAR),
        |                 ' ' ORDER BY conv_id, ioff) AS loss_str
        |        FROM ivc GROUP BY seq_id),
        |fragagg AS (SELECT seq_id, CAST(SUM(fl) AS BIGINT) AS n_tokens,
        |              array_to_string(flatten(list(frag_ids ORDER BY conv_id)), ' ')
        |                AS ids_str,
        |              COALESCE(array_to_string(
        |                list(seq_off ORDER BY conv_id) FILTER (WHERE fs = 0),
        |                ' '), '') AS doc_starts_str
        |            FROM sl GROUP BY seq_id)
        |SELECT fragagg.seq_id, n_tokens, ids_str, doc_starts_str,
        |       COALESCE(ivs.loss_str, '') AS loss_str
        |FROM fragagg LEFT JOIN ivs USING (seq_id)
        |ORDER BY seq_id""".stripMargin),

    // the materialized training sequences behind pack_sequences: each
    // 512-token context window's actual text, assembled in stream order
    // from every document fragment it overlaps (md5 keeps the compared
    // output compact); the oracle rebuilds the same stream with a global
    // token position
    query("pack_sequences_text", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.Sampling.assembleSequences(
        tbl(spark, dir, "documents"), "doc_id", "text", seqLen = 512L)
        .select($"seq_id", $"n_tokens", md5($"seq_text").as("seq_md5"))
        .orderBy($"seq_id")
    }, oracle =
      // the same stream with an explicit global token position: sequence
      // membership is gpos // 512, text rebuilt with ordered string_agg
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |tok AS (SELECT doc_id, UNNEST(range(0, len(toks))) AS j, toks FROM t),
        |tk AS (SELECT doc_id, j, toks[j + 1] AS tkn FROM tok),
        |g AS (SELECT doc_id, j, tkn,
        |             ROW_NUMBER() OVER (ORDER BY doc_id, j) - 1 AS gpos
        |      FROM tk)
        |SELECT CAST(gpos // 512 AS BIGINT) AS seq_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       md5(string_agg(tkn, ' ' ORDER BY gpos)) AS seq_md5
        |FROM g GROUP BY 1 ORDER BY seq_id""".stripMargin),

    // the tokenizer -> packing composition closed: corpus-derived BPE
    // vocabulary -> documents as token-id arrays -> fixed 256-token
    // training windows of input_ids with doc_starts boundaries — NO text
    // round-trip (a BPE merge spanning a fragment cut makes
    // text-then-retokenize inexact). Spark runs the production vocab
    // walk; the oracle replays the literal chain, the prefix sum, and
    // the window tiling, and checks every id and every boundary
    query("pack_token_sequences", (spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      val vocab = graft.pipeline.Bpe.buildVocab(
        docs, "text", graft.pipeline.Bpe.DemoMerges)
      val ids = graft.pipeline.Bpe.tokenIds(
        docs, "doc_id", "text", vocab, graft.pipeline.Bpe.DemoMerges)
      graft.pipeline.Sampling.packTokenIds(ids, "doc_id", "ids", seqLen = 256L)
        .select($"seq_id", $"n_tokens",
          array_join(transform($"input_ids", i => i.cast("string")), " ")
            .as("ids_str"),
          array_join(transform($"doc_starts", i => i.cast("string")), " ")
            .as("doc_starts_str"))
        .orderBy($"seq_id")
    }, oracle =
      // bpe_token_ids' replay (vocab + per-doc id lists) feeding
      // pack_sequences' replay (exclusive prefix sum + window tiling),
      // fragments sliced from the id lists and stitched per window; the
      // in-window offset is the windowed exclusive SUM of fragment
      // lengths in doc order (windows tile from 0 by construction), and
      // doc_starts keeps only fragments at a document's token 0
      s"""WITH t AS (
        |  SELECT doc_id, ${graft.pipeline.Bpe.duckdbEncodeSql("text")} AS pieces
        |  FROM documents),
        |v AS (
        |  SELECT piece, CAST(ROW_NUMBER() OVER (ORDER BY piece) - 1 AS BIGINT) AS id
        |  FROM (SELECT DISTINCT UNNEST(pieces) AS piece FROM t)),
        |e AS (
        |  SELECT doc_id, UNNEST(range(len(pieces))) AS idx, UNNEST(pieces) AS piece
        |  FROM t),
        |d AS (SELECT e.doc_id, list(v.id ORDER BY e.idx) AS ids,
        |             CAST(COUNT(*) AS BIGINT) AS n
        |      FROM e JOIN v USING (piece) GROUP BY e.doc_id),
        |c AS (SELECT doc_id, ids, n,
        |             CAST(SUM(n) OVER (ORDER BY doc_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |      FROM d),
        |f AS (SELECT doc_id, ids, n, run - n AS st FROM c WHERE n > 0),
        |x AS (SELECT doc_id, ids, n, st,
        |             UNNEST(range(st // 256, (st + n - 1) // 256 + 1)) AS s
        |      FROM f),
        |frag AS (SELECT CAST(s AS BIGINT) AS seq_id, doc_id,
        |                CAST(GREATEST(0, s * 256 - st) AS BIGINT) AS fs,
        |                CAST(LEAST(n, (s + 1) * 256 - st)
        |                     - GREATEST(0, s * 256 - st) AS BIGINT) AS fl,
        |                ids
        |         FROM x),
        |sl AS (SELECT seq_id, doc_id, fs, fl,
        |              list_slice(ids, fs + 1, fs + fl) AS frag_ids,
        |              CAST(SUM(fl) OVER (PARTITION BY seq_id ORDER BY doc_id
        |                ROWS UNBOUNDED PRECEDING) - fl AS BIGINT) AS seq_off
        |       FROM frag)
        |SELECT seq_id, CAST(SUM(fl) AS BIGINT) AS n_tokens,
        |       array_to_string(flatten(list(frag_ids ORDER BY doc_id)), ' ') AS ids_str,
        |       COALESCE(array_to_string(
        |         list(seq_off ORDER BY doc_id) FILTER (WHERE fs = 0),
        |         ' '), '') AS doc_starts_str
        |FROM sl GROUP BY seq_id
        |ORDER BY seq_id""".stripMargin),

    // the SFT deliverable: BPE token-id docs whose first third is prompt,
    // packed into 256-token windows with in-window loss intervals — the
    // loader ORs them into per-window loss masks. Interval arithmetic is
    // pack_sft_sequences' (oracle replays layout + mask over the same
    // BPE id stream); rendered as strings like pack_token_sequences
    query("pack_masked_token_ids", (spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      val vocab = graft.pipeline.Bpe.buildVocab(
        docs, "text", graft.pipeline.Bpe.DemoMerges)
      val ids = graft.pipeline.Bpe.tokenIds(
        docs, "doc_id", "text", vocab, graft.pipeline.Bpe.DemoMerges)
        .select($"doc_id", $"ids",
          (size($"ids") / 3).cast("long").as("prompt_len"))
      graft.pipeline.Sampling.packMaskedTokenIds(
          ids, "doc_id", "ids", "prompt_len", seqLen = 256L)
        .select($"seq_id", $"n_tokens",
          array_join(transform($"input_ids", i => i.cast("string")), " ")
            .as("ids_str"),
          array_join(transform($"doc_starts", i => i.cast("string")), " ")
            .as("doc_starts_str"),
          array_join(transform($"loss_intervals",
            x => concat(x.getField("loss_off").cast("string"), lit(":"),
              x.getField("loss_len").cast("string"))), " ")
            .as("loss_str"))
        .orderBy($"seq_id")
    }, oracle =
      // the same BPE id stream + prompt_len = n // 3, with the
      // pack_sft_sequences mask arithmetic rendered per window
      s"""WITH t AS (
        |  SELECT doc_id, ${graft.pipeline.Bpe.duckdbEncodeSql("text")} AS pieces
        |  FROM documents),
        |v AS (
        |  SELECT piece, CAST(ROW_NUMBER() OVER (ORDER BY piece) - 1 AS BIGINT) AS id
        |  FROM (SELECT DISTINCT UNNEST(pieces) AS piece FROM t)),
        |e AS (
        |  SELECT doc_id, UNNEST(range(len(pieces))) AS idx, UNNEST(pieces) AS piece
        |  FROM t),
        |d AS (SELECT e.doc_id, list(v.id ORDER BY e.idx) AS ids,
        |             CAST(COUNT(*) AS BIGINT) AS n
        |      FROM e JOIN v USING (piece) GROUP BY e.doc_id),
        |c AS (SELECT doc_id, ids, n, n // 3 AS p,
        |             CAST(SUM(n) OVER (ORDER BY doc_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |      FROM d),
        |f AS (SELECT doc_id, ids, n, p, run - n AS st FROM c WHERE n > 0),
        |x AS (SELECT doc_id, ids, n, p, st,
        |             UNNEST(range(st // 256, (st + n - 1) // 256 + 1)) AS s
        |      FROM f),
        |frag AS (SELECT CAST(s AS BIGINT) AS seq_id, doc_id, p,
        |                CAST(GREATEST(0, s * 256 - st) AS BIGINT) AS fs,
        |                CAST(LEAST(n, (s + 1) * 256 - st)
        |                     - GREATEST(0, s * 256 - st) AS BIGINT) AS fl,
        |                ids
        |         FROM x),
        |sl AS (SELECT seq_id, doc_id, p, fs, fl,
        |              list_slice(ids, fs + 1, fs + fl) AS frag_ids,
        |              CAST(SUM(fl) OVER (PARTITION BY seq_id ORDER BY doc_id
        |                ROWS UNBOUNDED PRECEDING) - fl AS BIGINT) AS seq_off
        |       FROM frag),
        |m AS (SELECT seq_id, doc_id, fs, fl, frag_ids, seq_off,
        |             CAST(seq_off + LEAST(fl, GREATEST(0, p - fs)) AS BIGINT) AS lo,
        |             CAST(GREATEST(0, fs + fl - GREATEST(fs, p)) AS BIGINT) AS ll
        |      FROM sl)
        |SELECT seq_id, CAST(SUM(fl) AS BIGINT) AS n_tokens,
        |       array_to_string(flatten(list(frag_ids ORDER BY doc_id)), ' ') AS ids_str,
        |       COALESCE(array_to_string(
        |         list(seq_off ORDER BY doc_id) FILTER (WHERE fs = 0),
        |         ' '), '') AS doc_starts_str,
        |       COALESCE(array_to_string(
        |         list(CAST(lo AS VARCHAR) || ':' || CAST(ll AS VARCHAR)
        |              ORDER BY doc_id) FILTER (WHERE ll > 0),
        |         ' '), '') AS loss_str
        |FROM m GROUP BY seq_id
        |ORDER BY seq_id""".stripMargin)
  )
}
