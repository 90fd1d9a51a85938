package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/**
 * Vocabulary-driven (BPE-merge) tokenizer — the pluggable alternative to
 * [[TextAnalysis.tokens]]' whitespace splitting, so token budgets
 * ([[Sampling.packByBudget]]) can approximate a real LLM context window
 * instead of word counts.
 *
 * Algorithm (byte-pair-encoding inference, one greedy pass per merge
 * rule): each whitespace word is spaced into characters ("hello" ->
 * "h e l l o"), then every merge rule `(a, b) -> ab` is applied in
 * priority order as a token-aligned global replacement (space-delimited
 * `" a b "` -> `" ab "`, so a rule only fuses two COMPLETE current
 * tokens); the token count is the number of segments left. Deterministic
 * by construction — a pure composition of string functions with a FIXED
 * rule order — and expressible identically in any SQL engine (the DuckDB
 * oracle replays the same walk), which is what makes `pack_bins_bpe`
 * hash-checkable.
 *
 * This is the single-pass-per-rule variant (each rule applied once,
 * left-to-right, in vocabulary order) rather than the repeat-until-fixpoint
 * variant; see [[mergedDoc]] for the one residual divergence (immediate
 * repetitions). The single-pass walk is what keeps the whole tokenizer
 * inside built-in string expressions — map-side, no UDF, no shuffle.
 *
 * Scale notes: per-row work is O(merges × document length) string scans,
 * all whole-stage-codegen'd `replace` steps over the full document (word
 * boundaries protected by a control-char marker — see [[Marker]]) — linear
 * in data, embarrassingly parallel, no state, no higher-order functions.
 * The merge table is baked into the PLAN (a few hundred literal
 * replacements), not broadcast at runtime.
 */
object Bpe {

  /**
   * Load a merges table in the public `merges.txt` format: one rule per
   * line, two space-separated symbols, highest priority first; `#`-prefixed
   * header lines skipped. Driver-side read of a SMALL file (a merge table
   * is KBs); the result is embedded into plans as literals.
   */
  def loadMerges(spark: SparkSession, path: String): Seq[(String, String)] =
    spark.read.textFile(path).collect().toSeq
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val parts = l.split(" ")
        require(parts.length == 2, s"malformed merge rule: '$l'")
        (parts(0), parts(1))
      }

  /**
   * A small built-in English merge table (common digraph/suffix merges,
   * ordered) — the demo vocabulary used by the SQL function
   * `bpe_token_count` and the driver query. Real pipelines load their
   * model's table with [[loadMerges]].
   */
  val DemoMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("in", "g"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"), ("o", "u"),
    ("t", "o"), ("e", "n"), ("a", "t"), ("e", "s"), ("o", "r"),
    ("s", "t"), ("a", "r"), ("a", "l"), ("i", "t"), ("i", "s"),
    ("e", "d"), ("l", "l"), ("o", "f"), ("o", "m"), ("i", "c"),
    ("a", "s"), ("l", "e"), ("e", "l"), ("u", "s"), ("c", "h"))

  /**
   * Word-boundary marker (ASCII unit separator). Word boundaries must
   * survive the merge walk without ever merging across them, so the walk
   * can run over the WHOLE document as one string — every step a
   * codegen'd `replace`, no higher-order function (a per-word `transform`
   * lambda is interpreted and measured ~4x slower at sf0.1). The marker
   * never matches a rule (rule symbols never contain it), so "e<US>r"
   * can't merge where "e r" would. Documents that themselves contain the
   * control char U+001F would miscount — absent from any text corpus.
   */
  private val Marker = "\u001f"

  /**
   * The whole-document merge walk: words joined by [[Marker]], every char
   * spaced, the document padded with one leading/trailing space, then each
   * rule applied in order as a SPACE-DELIMITED global replacement
   * (`" a b "` -> `" ab "`). The delimiters make matching token-aligned:
   * a rule `(e, r)` fires only where a complete current token `e` abuts a
   * complete token `r`, never on the trailing character of a larger token
   * (without them, "rather" -> "r a the r" would glue "the"+"r" through
   * the raw substring "e r"). The known residual divergence from true BPE
   * inference: literal replacement is non-overlapping left-to-right, so an
   * immediate repetition "e r e r" merges only its odd occurrences in that
   * rule's single pass — deterministic, identical in both engines, and
   * rare in natural text.
   */
  private def mergedDoc(text: Column, merges: Seq[(String, String)]): Column = {
    val marked = regexp_replace(trim(text), "\\s+", Marker)
    val spacedDoc =
      concat(lit(" "), trim(regexp_replace(marked, "(.)", "$1 ")), lit(" "))
    merges.foldLeft(spacedDoc) { case (acc, (a, b)) =>
      call_function("replace", acc, lit(s" $a $b "), lit(s" $a$b "))
    }
  }

  /**
   * BPE token count of a document under `merges`: space-separated pieces
   * of the merged document, minus the word-boundary markers (words - 1).
   * Empty/whitespace-only text counts 0. Whole-stage-codegen throughout.
   */
  def tokenCount(text: Column, merges: Seq[(String, String)] = DemoMerges): Column = {
    require(merges.forall { case (a, b) => !(a + b).contains(Marker) && !(a + b).contains(" ") },
      "merge symbols must not contain spaces or \\u001f")
    val m = trim(mergedDoc(text, merges))
    val pieces = length(m) - length(call_function("replace", m, lit(" "), lit(""))) + 1
    val nWords = size(split(trim(text), "\\s+"))
    when(length(trim(text)) === 0, lit(0)).otherwise(pieces - (nWords - 1))
  }

  /**
   * Production-vocabulary token count: the IDENTICAL function as
   * [[tokenCount]] (CurationSpec asserts parity, fine print included),
   * computed by the [[graft.expressions.BpeTokenCount]] expression with
   * the merge table held in executor memory instead of baked into the
   * plan. [[tokenCount]]'s literal `replace` chain embeds one expression
   * node per rule — fine for the 30-rule demo vocabulary, un-analyzable
   * at a real 50k-merge vocabulary; this tier is one plan node at any
   * vocabulary size, fed directly from [[loadMerges]]. Prefer it for any
   * model-sized merges table; prefer [[tokenCount]] only when the count
   * must be SPELLED as engine-neutral SQL. (Since r20 the `pack_bins_bpe`
   * bench query runs THIS tier on the Spark side while its DuckDB oracle
   * keeps replaying the literal [[tokenCount]] chain — the parity pin is
   * exactly what makes that safe.)
   */
  def tokenCountVocab(text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.expressions.BpeTokenCount(
        org.apache.spark.sql.graftshim.GraftShim.expression(text),
        new graft.expressions.BpeMergeTable(merges)))

  /**
   * Production-vocabulary encode: the IDENTICAL pieces as [[encode]]
   * (CurationSpec asserts parity), computed by the
   * [[graft.expressions.BpeEncodeVocab]] expression — one plan node at
   * any vocabulary size, same worklist walk as [[tokenCountVocab]].
   * Prefer it for model-sized merges tables; prefer [[encode]] only when
   * the walk must be SPELLED as engine-neutral SQL. (Since r20 the
   * `bpe_encode` bench query runs THIS tier on the Spark side while its
   * DuckDB oracle keeps replaying the literal [[encode]] chain — the
   * parity pin is exactly what makes that safe.)
   */
  def encodeVocab(text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.expressions.BpeEncodeVocab(
        org.apache.spark.sql.graftshim.GraftShim.expression(text),
        new graft.expressions.BpeMergeTable(merges)))

  /**
   * BPE-encoded pieces of a document under `merges`, in document order,
   * word-boundary markers dropped — the encode companion of
   * [[tokenCount]]: `size(encode(t)) == tokenCount(t)` by construction
   * (the count subtracts exactly the markers the filter drops), so a
   * piece->id vocabulary join away from token ids. Same literal-chain
   * tier and fine print as [[tokenCount]]; empty/whitespace-only text
   * encodes to an empty array.
   */
  def encode(text: Column, merges: Seq[(String, String)] = DemoMerges): Column = {
    require(merges.forall { case (a, b) => !(a + b).contains(Marker) && !(a + b).contains(" ") },
      "merge symbols must not contain spaces or \\u001f")
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(filter(split(trim(mergedDoc(text, merges)), " "),
        p => p =!= lit(Marker)))
  }

  /**
   * [[encode]]'s piece list as DuckDB SQL over column `c`, for oracle
   * construction — the same merge walk as [[duckdbTokenCountSql]], split
   * instead of counted, markers filtered (chr(31) == the [[Marker]]).
   */
  def duckdbEncodeSql(c: String, merges: Seq[(String, String)] = DemoMerges): String = {
    def esc(s: String) = s.replace("'", "''")
    val spacedDoc =
      s"""(' ' || trim(regexp_replace(regexp_replace(trim($c), '\\s+', chr(31), 'g'), '(.)', '\\1 ', 'g')) || ' ')"""
    val merged = merges.foldLeft(spacedDoc) { case (acc, (a, b)) =>
      s"replace($acc, ' ${esc(a)} ${esc(b)} ', ' ${esc(a)}${esc(b)} ')"
    }
    s"""CASE WHEN length(trim($c)) = 0 THEN []
       | ELSE list_filter(regexp_split_to_array(trim($merged), ' '), p -> p <> chr(31))
       | END""".stripMargin
  }

  /**
   * Corpus-derived vocabulary: one row per DISTINCT encoded piece with a
   * dense 0-based id in lexicographic piece order — deterministic and
   * engine-neutral (the oracle replays it as `ROW_NUMBER() OVER (ORDER BY
   * piece) - 1`), unlike frequency-ordered ids whose ties depend on
   * aggregation order. Runs the PRODUCTION walk ([[encodeVocab]]), which
   * CurationSpec proves piece-identical to the literal tier the oracle
   * replays.
   *
   * Scale shape: one corpus scan -> explode -> hash-distinct (map-side
   * partials), then a single-partition window over the VOCABULARY-sized
   * distinct set — bounded by the subword inventory (tens of thousands),
   * never by the corpus.
   */
  def buildVocab(
      docs: DataFrame,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val pieces = docs
      .select(explode(encodeVocab(col(textCol), merges)).as("piece"))
      .distinct()
    pieces.withColumn("id",
      row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("piece")))
        .cast("long") - 1L)
  }

  /**
   * Documents to token-id arrays under a (piece, id) `vocab` — the last
   * step of the tokenizer story: shards can carry model-ready ids.
   * Pieces absent from the vocabulary map to `oovId` (a frozen
   * vocabulary applied to NEW data; a vocab built from the same corpus
   * never produces one). Output: (idCol, n_tokens, ids ARRAY<LONG>) —
   * documents that encode to zero pieces (empty text) are absent, the
   * explode contract both engines share.
   *
   * Scale shape: posexplode -> equi join on piece (the vocab side is
   * vocabulary-sized; AQE broadcasts it) -> one hash aggregate per doc
   * re-assembling order via `array_sort(collect_list(struct(idx, id)))`
   * — no window over the corpus, no global sort.
   */
  def tokenIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame,
      merges: Seq[(String, String)],
      oovId: Long = -1L): DataFrame = {
    val exploded = docs
      .select(col(idCol),
        posexplode(encodeVocab(col(textCol), merges)).as(Seq("__idx", "piece")))
    exploded
      .join(vocab.select(col("piece"), col("id")), Seq("piece"), "left")
      .select(col(idCol), col("__idx"),
        coalesce(col("id"), lit(oovId)).as("__id"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        transform(
          array_sort(collect_list(struct(col("__idx"), col("__id")))),
          s => s.getField("__id")).as("ids"))
  }

  /**
   * Learn a merge table FROM the corpus — the training half of BPE, the
   * step that produces `merges.txt` in the first place (everything above
   * only LOADS one). Classic iterative most-frequent-adjacent-pair
   * training, distributed: each iteration is
   *
   *   1. one corpus scan applying the merges learned SO FAR (the exact
   *      [[mergedDoc]] inference walk — training and inference share one
   *      tokenization by construction),
   *   2. a corpus-wide adjacent-pair count (explode + hash aggregate,
   *      map-side partials; pair cardinality is bounded by the square of
   *      the live subword inventory, never corpus-sized),
   *   3. a deterministic argmax — count desc, then (a, b) ascending, the
   *      engine's pinned-tie doctrine — collected to the driver (ONE row
   *      per iteration: bounded driver state, the Classifier/PageRank
   *      unrolled-iteration pattern).
   *
   * The learned pair becomes a literal in iteration k+1's replace chain,
   * so the plan stays stateless: no growing lineage, no checkpoint. Word
   * boundaries never merge (the [[Marker]] token is excluded from pair
   * counting), and pair counting inherits the single-pass replacement
   * semantics documented on [[mergedDoc]] — the trained rules are
   * optimal FOR the tokenizer that will apply them.
   *
   * Scale shape — the corpus is scanned ONCE: because merges never cross
   * a word boundary, the corpus-wide pair count decomposes exactly as
   * `sum over distinct words w of count(w) * pairs-in-merged(w)` — so
   * training collapses the corpus to a persisted DISTINCT-WORD frequency
   * table up front (the standard BPE trainer structure) and every
   * iteration's spacing/replace/pair-explode runs over the vocabulary,
   * weighted by word count. Iteration cost is bounded by DISTINCT-word
   * mass — corpus-size-independent after the one word-count shuffle —
   * which at 100 TB is the difference between K corpus scans and one.
   * Counts, tie order, and early stopping are IDENTICAL to the corpus
   * spelling (the oracle replays the corpus form and hash-matches; a
   * literal [[Marker]] byte inside a word is excluded from pair counts
   * in both spellings).
   *
   * Training stops early when no pair reaches `minCount` (merging a
   * singleton pair buys nothing). Returns (iteration, a, b, count) rows,
   * highest priority first; the pair list `result.map(r => (r._2, r._3))`
   * feeds [[tokenCount]]/[[encode]]/[[tokenCountVocab]]/[[encodeVocab]]/
   * [[buildVocab]] unchanged — corpus in, training-ready token ids out,
   * fully in-engine.
   *
   * Engine-neutral by the same doctrine as the inference walk:
   * [[trainMergesCtes]] generates the identical K-iteration run as DuckDB
   * CTEs (data-dependent learned pairs become scalar subqueries, never
   * re-quoted literals), so the oracle replays training bit for bit.
   */
  def trainMerges(
      docs: DataFrame,
      textCol: String,
      iters: Int,
      minCount: Long = 2L): Seq[(Int, String, String, Long)] = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    // the one corpus pass: distinct words with frequencies (merges never
    // cross word boundaries, so all iterations count pairs off this table)
    val words = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("__graft_w"))
      .filter(length(col("__graft_w")) > 0)
      .groupBy(col("__graft_w"))
      .agg(count(lit(1)).as("__graft_wc"))
      .persist()
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    try {
      var k = 1
      var exhausted = false
      while (k <= iters && !exhausted) {
        // a single word has no whitespace, so mergedDoc's marker rewrite
        // is the identity on it and the spacing/replace chain applies
        // verbatim; literal Marker bytes are excluded below exactly as in
        // the corpus spelling
        val walk = mergedDoc(col("__graft_w"),
          learned.toSeq.map(r => (r._2, r._3)))
        val toks = split(trim(walk), " ")
        val pairs = transform(
          slice(toks, lit(1), greatest(lit(0), size(toks) - 1)),
          (t, i) => struct(t.as("a"), element_at(toks, i + 2).as("b")))
        val best = words
          .select(explode(pairs).as("pr"), col("__graft_wc"))
          .select(col("pr.a").as("a"), col("pr.b").as("b"), col("__graft_wc"))
          .filter(col("a") =!= Marker && col("b") =!= Marker &&
            col("a") =!= "" && col("b") =!= "")
          .groupBy(col("a"), col("b"))
          .agg(sum(col("__graft_wc")).as("cnt"))
          .filter(col("cnt") >= minCount)
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1)
          .collect()
        if (best.isEmpty) exhausted = true
        else {
          val r = best.head
          learned += ((k, r.getString(0), r.getString(1), r.getLong(2)))
          k += 1
        }
      }
    } finally {
      try words.unpersist() catch { case NonFatal(_) => }
    }
    learned.toSeq
  }

  /** [[trainMerges]] as a DataFrame — (iter, a, b, cnt), one row per
    * learned rule — for report/oracle surfaces. The training itself is
    * the distributed loop above; only its K argmax rows pass through the
    * driver. */
  def trainMergesDF(
      docs: DataFrame,
      textCol: String,
      iters: Int,
      minCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMerges(docs, textCol, iters, minCount)
      .map { case (i, a, b, c) => (i.toLong, a, b, c) }
      .toDF("iter", "a", "b", "cnt")
  }

  /**
   * The COMPLETE training run as engine-neutral DuckDB CTE stages over a
   * source relation `src` (any CTE/table with a `text` column) — the
   * [[graft.pipeline.Classifier.classifierCtes]] doctrine applied to
   * tokenizer training, kept adjacent to the Spark spelling so the two
   * walks cannot drift. Like the Spark loop in [[trainMerges]], the
   * replay runs the DISTINCT-WORD frequency formulation: the corpus
   * collapses to one (word, count) table up front, and every iteration's
   * spacing/replace/pair-count runs over the vocabulary weighted by word
   * count — `SUM(wc)` here equals the corpus spelling's `COUNT(*)`
   * exactly, because merges never cross a word boundary (the chr(31)
   * marker pair filter drops every cross-word pair the corpus spelling
   * would have generated). This is what makes the K-iteration oracle
   * tractable: iteration cost is bounded by distinct-word mass, not
   * corpus mass — the same 638s→1.4s collapse the Spark side took.
   * Iteration k's learned pair is data-dependent, so it enters iteration
   * k+1's replace as SCALAR SUBQUERIES against the argmax CTE (never a
   * re-quoted literal); an exhausted iteration (no pair at `minCount`)
   * yields an empty argmax CTE, the COALESCE sentinel (chr(30), absent
   * from any corpus) makes its replace a no-op, and the iteration
   * contributes no output row — the same early-stop the Spark loop
   * takes. Returns (ctesString, finalCteName); the final CTE yields
   * (iter, a, b, cnt).
   */
  def trainMergesCtes(
      src: String,
      iters: Int,
      minCount: Long = 2L,
      prefix: String = "bt"): (String, String) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    OracleSql.requireNoCteHead(src, "src")
    val p = prefix
    // the one corpus pass: distinct words with frequencies (the mirror
    // of trainMerges's `words` table), then each word spaced by the
    // identical mergedDoc walk (the whitespace→chr(31) rewrite is the
    // identity on a single word but is kept verbatim so a literal
    // chr(31) byte inside a word behaves the same in both engines)
    val header =
      s"""${p}w AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
         |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |        FROM $src)
         |  WHERE length(w) > 0 GROUP BY 1),
         |${p}b0 AS (
         |  SELECT ' ' || trim(regexp_replace(regexp_replace(trim(w), '\\s+', chr(31), 'g'), '(.)', '\\1 ', 'g')) || ' ' AS d,
         |         wc
         |  FROM ${p}w)""".stripMargin
    val iterations = (1 to iters).map { k =>
      // DuckDB range() is stop-exclusive and lists are 1-indexed, so i
      // pairs t[i] with t[i+1] for i in [1, len-1] — the classifier
      // bigram pattern, and exactly the Spark side's slice+element_at
      s"""${p}p$k AS (
         |  SELECT pr.a AS a, pr.b AS b, CAST(SUM(wc) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(list_transform(range(1, len(t)),
         |                 i -> struct_pack(a := t[i], b := t[i+1]))) AS pr, wc
         |        FROM (SELECT regexp_split_to_array(trim(d), ' ') AS t, wc FROM ${p}b${k - 1}))
         |  WHERE pr.a <> chr(31) AND pr.b <> chr(31) AND pr.a <> '' AND pr.b <> ''
         |  GROUP BY 1, 2),
         |${p}m$k AS (SELECT a, b, cnt FROM ${p}p$k WHERE cnt >= $minCount
         |        ORDER BY cnt DESC, a, b LIMIT 1),
         |${p}b$k AS (SELECT replace(d,
         |    COALESCE((SELECT ' ' || a || ' ' || b || ' ' FROM ${p}m$k), chr(30)),
         |    COALESCE((SELECT ' ' || a || b || ' ' FROM ${p}m$k), chr(30))) AS d,
         |    wc
         |  FROM ${p}b${k - 1})""".stripMargin
    }.mkString(",\n")
    val out = (1 to iters)
      .map(k => s"SELECT CAST($k AS BIGINT) AS iter, a, b, cnt FROM ${p}m$k")
      .mkString(s"${p}out AS (\n  ", "\n  UNION ALL ", ")")
    // MATERIALIZED pragma: see OracleSql.materializeCtes (each b_k reads
    // m_k twice via the scalar subqueries, and m_k feeds the output union)
    (OracleSql.materializeCtes(s"$header,\n$iterations,\n$out"),
      s"${p}out")
  }

  /**
   * The same merge walk as DuckDB SQL, for oracle construction: an
   * expression over column `c` computing the document's BPE token count.
   * Kept adjacent to the Spark spelling so the two walks cannot drift.
   * Merge symbols are quote-escaped (real merges tables contain
   * apostrophe rules like `' s`).
   */
  def duckdbTokenCountSql(c: String, merges: Seq[(String, String)] = DemoMerges): String = {
    def esc(s: String) = s.replace("'", "''")
    val spacedDoc =
      s"""(' ' || trim(regexp_replace(regexp_replace(trim($c), '\\s+', chr(31), 'g'), '(.)', '\\1 ', 'g')) || ' ')"""
    val merged = merges.foldLeft(spacedDoc) { case (acc, (a, b)) =>
      s"replace($acc, ' ${esc(a)} ${esc(b)} ', ' ${esc(a)}${esc(b)} ')"
    }
    val m = s"trim($merged)"
    val pieces = s"(length($m) - length(replace($m, ' ', ''))) + 1"
    val nWords = s"len(regexp_split_to_array(trim($c), '\\s+'))"
    s"CASE WHEN length(trim($c)) = 0 THEN 0 ELSE $pieces - ($nWords - 1) END"
  }

  /**
   * Tokenizer-evaluation report: per `groupCol` value (typically
   * language), the standard fertility/compression stats of the tokenizer
   * `merges` defines, in exact integer arithmetic:
   *
   *  - `n_docs`, `n_words` (whitespace words), `n_pieces` (BPE tokens
   *    under the PRODUCTION vocab walk — piece-identical to the literal
   *    tier, CurationSpec-pinned), `n_bytes` (UTF-8 bytes of the text);
   *  - `fertility_ppm` = pieces per word × 1e6 — the per-language
   *    fertility a tokenizer-training run is judged on (a language the
   *    merges underserve shows fertility far above the corpus mean, the
   *    signal to re-train with a different mixture);
   *  - `bytes_per_piece_ppm` = bytes per piece × 1e6 — compression.
   *
   * ppm floors are computed on the GROUP sums (one division per group,
   * not per doc), so the report is an order-independent integer
   * aggregate — cross-engine bit-identical. Scale shape: one corpus
   * scan, per-row codegen'd kernels, one keyed hash agg; groups are
   * language-cardinality (tiny).
   */
  def fertilityReport(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      merges: Seq[(String, String)] = DemoMerges): DataFrame = {
    if (groupCol.startsWith("__graft_") ||
        Seq("grp", "n_docs", "n_words", "n_pieces", "n_bytes",
          "fertility_ppm", "bytes_per_piece_ppm").contains(groupCol)) {
      throw new IllegalArgumentException(
        s"fertilityReport: group column '$groupCol' collides with an " +
          "internal or output column; rename it")
    }
    val t = col(textCol)
    docs
      .select(
        col(groupCol).as("grp"),
        when(length(trim(t)) === 0, lit(0L))
          .otherwise(size(split(trim(t), "\\s+")).cast("long")).as("__graft_w"),
        tokenCountVocab(t, merges).cast("long").as("__graft_p"),
        octet_length(t).cast("long").as("__graft_b"))
      .groupBy(col("grp"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__graft_w")).as("n_words"),
        sum(col("__graft_p")).as("n_pieces"),
        sum(col("__graft_b")).as("n_bytes"))
      .select(
        col("grp"), col("n_docs"), col("n_words"), col("n_pieces"), col("n_bytes"),
        when(col("n_words") === 0, lit(0L))
          .otherwise(expr("n_pieces * 1000000L DIV n_words")).as("fertility_ppm"),
        when(col("n_pieces") === 0, lit(0L))
          .otherwise(expr("n_bytes * 1000000L DIV n_pieces")).as("bytes_per_piece_ppm"))
  }
}
