package graft

import graft.expressions._

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Expression, Inline}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.graftshim.GraftShim

/**
 * Public surface of the topn sketch family: SQL registration + typed
 * DataFrame API.
 *
 * SQL names and semantics follow the reference extension
 * (citusdata/postgresql-topn, update/topn--2.0.0.sql):
 *   topn_add_agg(text) / topn_union_agg(sketch)  — aggregates
 *   topn_add(sketch, text) / topn_union(a, b)    — scalars
 *   topn(sketch, k)                              — top-k report (explode it)
 *   topn_to_json(sketch)                         — PG-canonical JSON text
 *
 * The beyond-reference pipeline expressions are registered alongside them
 * so dedup / similarity flows run from pure SQL too: cosine_sim,
 * simhash64, token_shingles, minhash_signature, topk_by_score,
 * lsh_buckets.
 *
 * The sketch type is `map<string,bigint>`; the counter budget is the session
 * conf `spark.topn.numberOfCounters` (default 1000), read when each query is
 * analyzed — `SET spark.topn.numberOfCounters=k` takes effect for subsequent
 * queries exactly like the reference's live GUC read.
 */
object TopnFunctions {

  /** Require a foldable numeric argument (function parameters like k /
    * numHashes are plan-time constants, mirroring the reference's
    * integer-literal GUC-adjacent arguments). */
  private def litNum(e: Expression, fn: String, arg: String): Long = {
    require(e.foldable, s"$fn: $arg must be a literal")
    e.eval() match {
      case n: java.lang.Number => n.longValue
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a numeric literal, got $other")
    }
  }

  /** Informative arity errors instead of IndexOutOfBounds from ad-hoc SQL. */
  private def arity(fn: String, min: Int, max: Int)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length < min || exprs.length > max) {
        val expected = if (min == max) s"$min" else s"$min to $max"
        throw new IllegalArgumentException(
          s"$fn expects $expected arguments, got ${exprs.length}")
      }
      b(exprs)
    }

  /** A topn function's one construction site: the argument expressions
    * and the counter budget in, the Catalyst expression out. The SQL
    * catalog passes the session conf when the query is analyzed; the
    * DataFrame methods below pass their `numCounters`. */
  private type Build[E] = (Seq[Expression], Int) => E

  private val addAgg: Build[TopnAddAgg] = (e, n) => TopnAddAgg(e.head, n)
  private val addWeightedAgg: Build[TopnAddWeightedAgg] =
    (e, n) => TopnAddWeightedAgg(e(0), e(1), n)
  private val unionAgg: Build[TopnUnionAgg] = (e, n) => TopnUnionAgg(e.head, n)
  private val addAggBounds: Build[TopnAddAggBounds] = (e, n) => TopnAddAggBounds(e.head, n)
  private val unionAggBounds: Build[TopnUnionAggBounds] = (e, n) => TopnUnionAggBounds(e.head, n)
  private val query: Build[TopnQuery] = (e, n) => TopnQuery(e(0), e(1), n)
  private val addScalar: Build[TopnAddScalar] = (e, n) => TopnAddScalar(e(0), e(1), n)
  private val unionScalar: Build[TopnUnionScalar] = (e, n) => TopnUnionScalar(e(0), e(1), n)
  private val withBounds: Build[TopnWithBounds] = (e, n) => TopnWithBounds(e(0), e(1), n)
  /** The one topn function without a counter budget. */
  private val toJson: Seq[Expression] => TopnToJson = e => TopnToJson(e.head)

  /** A catalog entry for a budgeted topn function of fixed arity. */
  private def sketchFn(name: String, usage: String, args: Int, build: Build[Expression]) =
    (name, usage, arity(name, args, args)(exprs => build(exprs, GraftConf.numberOfCounters)))

  /** One catalog drives BOTH registration paths (session-level
    * [[register]] and the cluster-wide [[GraftExtensions]] injection), so
    * the two SQL surfaces cannot drift apart. */
  private[graft] val catalog: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    sketchFn("topn_add_agg",
      "topn_add_agg(expr) - builds a topn sketch (map<string,bigint>) of the most frequent values of expr",
      1, addAgg),
    sketchFn("topn_union_agg",
      "topn_union_agg(sketch) - merges a column of topn sketches into one sketch",
      1, unionAgg),
    sketchFn("topn",
      "topn(sketch, k) - top k entries of the sketch as array<struct<item,frequency>>",
      2, query),
    sketchFn("topn_add",
      "topn_add(sketch, item) - adds one occurrence of item to a materialized sketch",
      2, addScalar),
    sketchFn("topn_union",
      "topn_union(a, b) - merges two materialized sketches",
      2, unionScalar),
    ("topn_to_json",
      "topn_to_json(sketch) - sketch as JSON text with PostgreSQL-canonical key order",
      arity("topn_to_json", 1, 1)(toJson)),
    sketchFn("topn_add_weighted_agg",
      "topn_add_weighted_agg(item, weight) - builds a sketch counting each item `weight` times",
      2, addWeightedAgg),
    ("topn_delta",
      "topn_delta(a, b, k) - top-k items by absolute frequency movement between two sketches",
      arity("topn_delta", 3, 3)(exprs => GraftShim.analyzableExpression(
        topn_delta(GraftShim.column(exprs(0)), GraftShim.column(exprs(1)),
          litNum(exprs(2), "topn_delta", "k").toInt)))),
    // the set-returning report: `topn`'s array flattened by Spark's own
    // (codegen'd) `inline` generator
    sketchFn("topn_rows",
      "topn_rows(sketch, k) - set-returning topn for LATERAL VIEW: rows of (item, frequency)",
      2, (e, n) => Inline(query(e, n))),
    sketchFn("topn_add_agg_bounds",
      "topn_add_agg_bounds(expr) - topn_add_agg carrying a guaranteed count-interval bound: struct<entries, loss_bound>",
      1, addAggBounds),
    sketchFn("topn_union_agg_bounds",
      "topn_union_agg_bounds(bsketch) - merges bounded sketches, folding each input's loss_bound into the union's",
      1, unionAggBounds),
    sketchFn("topn_with_bounds",
      "topn_with_bounds(bsketch, k) - top k entries with their guaranteed interval: array<struct<item, frequency, max_error>>",
      2, withBounds),
    // ---- pipeline expressions on the SQL surface -------------------------
    ("cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float/double vectors (deterministic sequential accumulation)",
      arity("cosine_sim", 2, 2)(exprs => CosineSim(exprs(0), exprs(1)))),
    ("simhash64",
      "simhash64(tokens) - 64-bit SimHash fingerprint of an array<string> of tokens",
      arity("simhash64", 1, 1)(exprs => SimHash64(exprs.head))),
    ("token_shingles",
      "token_shingles(text[, n]) - distinct word n-gram shingles (default n=3)",
      arity("token_shingles", 1, 2)(exprs => TokenShingles(exprs.head,
        if (exprs.length > 1) litNum(exprs(1), "token_shingles", "n").toInt else 3))),
    ("minhash_signature",
      "minhash_signature(shingles[, numHashes[, seed]]) - MinHash signature (default 32 hashes, seed 42)",
      arity("minhash_signature", 1, 3)(exprs => MinHashSignature(exprs.head,
        if (exprs.length > 1) litNum(exprs(1), "minhash_signature", "numHashes").toInt else 32,
        if (exprs.length > 2) litNum(exprs(2), "minhash_signature", "seed") else 42L))),
    ("topk_by_score",
      "topk_by_score(id, score, k) - aggregate: top-k (id, score) pairs by score desc, id asc (bounded heap)",
      arity("topk_by_score", 3, 3)(exprs => TopKAgg(exprs(0), exprs(1),
        litNum(exprs(2), "topk_by_score", "k").toInt))),
    ("lsh_buckets",
      "lsh_buckets(vec, dim, bitsPerTable, tables[, seed]) - random-hyperplane LSH bucket ids, one per table",
      arity("lsh_buckets", 4, 5)(exprs => graft.pipeline.Similarity.lshBucketsExpression(exprs.head,
        litNum(exprs(1), "lsh_buckets", "dim").toInt,
        litNum(exprs(2), "lsh_buckets", "bitsPerTable").toInt,
        litNum(exprs(3), "lsh_buckets", "tables").toInt,
        if (exprs.length > 4) litNum(exprs(4), "lsh_buckets", "seed") else 42L))),
    // ---- curation functions (built-in compositions) ----------------------
    ("redact_pii",
      "redact_pii(text) - emails/URLs/IPv4s/phones replaced by <EMAIL>/<URL>/<IP>/<PHONE> tokens",
      arity("redact_pii", 1, 1)(exprs =>
        GraftShim.analyzableExpression(graft.pipeline.TextAnalysis.redactPii(GraftShim.column(exprs.head))))),
    ("pii_counts",
      "pii_counts(text) - struct(n_emails, n_urls, n_ips, n_phones) match counts on the raw text",
      arity("pii_counts", 1, 1)(exprs => {
        val t = GraftShim.column(exprs.head)
        import graft.pipeline.TextAnalysis._
        GraftShim.analyzableExpression(org.apache.spark.sql.functions.struct(
          emailCount(t).as("n_emails"), urlCount(t).as("n_urls"),
          ipv4Count(t).as("n_ips"), phoneCount(t).as("n_phones")))
      })),
    ("hash_bucket",
      "hash_bucket(id[, salt]) - deterministic portable split bucket in [0, 100)",
      arity("hash_bucket", 1, 2)(exprs =>
        GraftShim.analyzableExpression(graft.pipeline.Sampling.hashBucket(GraftShim.column(exprs.head),
          if (exprs.length > 1) litNum(exprs(1), "hash_bucket", "salt") else 0L)))),
    ("token_count",
      "token_count(text) - whitespace token count",
      arity("token_count", 1, 1)(exprs =>
        GraftShim.analyzableExpression(graft.pipeline.TextAnalysis.tokenCount(GraftShim.column(exprs.head))))),
    ("quality_score",
      "quality_score(text) - composite [0,1] quality score (length, punctuation density, stopword rate)",
      arity("quality_score", 1, 1)(exprs =>
        GraftShim.analyzableExpression(graft.pipeline.TextAnalysis.qualityScore(GraftShim.column(exprs.head))))),
    ("language_id",
      "language_id(text) - marker-word language heuristic: en/fr/es/de/und",
      arity("language_id", 1, 1)(exprs =>
        GraftShim.analyzableExpression(graft.pipeline.TextAnalysis.languageId(GraftShim.column(exprs.head))))),
    ("doc_fingerprint",
      "doc_fingerprint(text) - md5 of case-folded, whitespace-collapsed text (exact-dedup key)",
      arity("doc_fingerprint", 1, 1)(exprs =>
        GraftShim.analyzableExpression(graft.pipeline.TextAnalysis.fingerprint(GraftShim.column(exprs.head))))),
    ("normalize_text",
      "normalize_text(text) - Unicode NFC composition + control-character strip (corpus cleanup pass)",
      arity("normalize_text", 1, 1)(exprs =>
        graft.expressions.NormalizeText(exprs.head))),
    ("html_to_text",
      "html_to_text(html) - strip tags/script/style/comments, decode entities, one line per block element (crawl front door)",
      arity("html_to_text", 1, 1)(exprs =>
        graft.expressions.HtmlToText(exprs.head))),
    ("fixed_log2",
      "fixed_log2(x) - deterministic IEEE-only base-2 log (bit-identical on every platform, unlike libm ln/log2)",
      arity("fixed_log2", 1, 1)(exprs =>
        graft.expressions.FixedLog2(exprs.head))),
    ("fixed_exp2",
      "fixed_exp2(x) - deterministic IEEE-only 2^x (sqrt-tower recurrence; with fixed_log2 gives libm-free n^alpha)",
      arity("fixed_exp2", 1, 1)(exprs =>
        graft.expressions.FixedExp2(exprs.head))),
    ("bpe_token_count",
      "bpe_token_count(text) - token count under the built-in demo BPE merge table (vocabulary-aware budget weight)",
      arity("bpe_token_count", 1, 1)(exprs =>
        GraftShim.analyzableExpression(graft.pipeline.Bpe.tokenCount(GraftShim.column(exprs.head))))),
    ("html_links",
      "html_links(html) - href values of <a> tags in document order (link-graph front door)",
      arity("html_links", 1, 1)(exprs =>
        graft.expressions.HtmlLinks(exprs.head))),
    ("html_anchors",
      "html_anchors(html) - (href, text) pairs of <a> tags in document order (anchor-text signal for the link target)",
      arity("html_anchors", 1, 1)(exprs =>
        graft.expressions.HtmlAnchors(exprs.head))),
    ("html_canonical_url",
      "html_canonical_url(html) - href of <link rel=\"canonical\"> (RFC 6596), both attribute orders; '' when absent",
      arity("html_canonical_url", 1, 1)(exprs =>
        GraftShim.analyzableExpression(
          graft.pipeline.Urls.htmlCanonicalUrl(GraftShim.column(exprs.head))))),
    ("sitemap_locs",
      "sitemap_locs(xml) - <loc> entries of a sitemap/sitemap-index body, trimmed, in document order",
      arity("sitemap_locs", 1, 1)(exprs =>
        GraftShim.analyzableExpression(
          graft.pipeline.Urls.sitemapLocs(GraftShim.column(exprs.head))))),
    ("url_host",
      "url_host(url) - lower-cased host of an absolute URL (userinfo/port stripped; '' when no authority)",
      arity("url_host", 1, 1)(exprs =>
        GraftShim.analyzableExpression(graft.pipeline.Urls.urlHost(GraftShim.column(exprs.head))))),
    ("registered_domain",
      "registered_domain(host) - eTLD+1 by the multi-part-suffix heuristic; IPs and short hosts pass through",
      arity("registered_domain", 1, 1)(exprs =>
        GraftShim.analyzableExpression(graft.pipeline.Urls.registeredDomain(GraftShim.column(exprs.head))))),
    ("url_normalize",
      "url_normalize(url) - canonical URL: fragment/tracking-param strip, authority lowercase, default-port drop",
      arity("url_normalize", 1, 1)(exprs =>
        GraftShim.analyzableExpression(graft.pipeline.Urls.urlNormalize(GraftShim.column(exprs.head))))))

  /** Register all functions in the session's function registry (usable from
    * `spark.sql` and, mixed with Columns, from the DataFrame API), and
    * install the [[TopnWindowGuard]] single-partition-window guardrail. */
  def register(spark: SparkSession): Unit = {
    catalog.foreach { case (name, usage, builder) =>
      GraftShim.registerFunction(spark, name, usage, builder)
    }
    TopnWindowGuard.install(spark)
  }

  // ---- DataFrame API ----------------------------------------------------
  // The catalog's builders, with the budget resolved when the Column is
  // constructed (driver side): `numCounters` defaults to the session conf,
  // read on each call.

  private def scalar(build: Build[Expression], args: Column*): Column =
    GraftShim.column(build(args.map(GraftShim.expression), GraftConf.numberOfCounters))

  private def aggregate(build: Build[AggregateFunction], numCounters: Int, args: Column*): Column =
    GraftShim.column(build(args.map(GraftShim.expression), numCounters).toAggregateExpression())

  def topn_add_agg(item: Column, numCounters: Int = GraftConf.numberOfCounters): Column =
    aggregate(addAgg, numCounters, item)

  def topn_add_weighted_agg(
      item: Column, weight: Column, numCounters: Int = GraftConf.numberOfCounters): Column =
    aggregate(addWeightedAgg, numCounters, item, weight)

  def topn_union_agg(sketch: Column, numCounters: Int = GraftConf.numberOfCounters): Column =
    aggregate(unionAgg, numCounters, sketch)

  def topn(sketch: Column, k: Column): Column = scalar(query, sketch, k)

  def topn_add(sketch: Column, item: Column): Column = scalar(addScalar, sketch, item)

  def topn_union(a: Column, b: Column): Column = scalar(unionScalar, a, b)

  def topn_to_json(sketch: Column): Column =
    GraftShim.column(toJson(Seq(GraftShim.expression(sketch))))

  def topn_add_agg_bounds(item: Column, numCounters: Int = GraftConf.numberOfCounters): Column =
    aggregate(addAggBounds, numCounters, item)

  def topn_union_agg_bounds(
      bsketch: Column, numCounters: Int = GraftConf.numberOfCounters): Column =
    aggregate(unionAggBounds, numCounters, bsketch)

  def topn_with_bounds(bsketch: Column, k: Column): Column = scalar(withBounds, bsketch, k)

  /**
   * Heavy-change detection between two sketches — "what moved between
   * yesterday's rollup and today's": the top `k` items by ABSOLUTE
   * frequency movement across the union of both key sets, as
   * `array<struct<item, freq_a, freq_b, delta>>` with `delta = freq_b -
   * freq_a` and the pinned total order (|delta| desc, item asc). An item
   * absent from one side counts 0 there, so arrivals and departures rank
   * by their full frequency. STRICT like the other scalars: NULL if
   * either sketch is NULL. Exact when the sketches are exact at their
   * counter budget. Under eviction each side only undercounts
   * (reported <= true <= reported + that sketch's
   * [[graft.core.TopnState.lossBound]]), so the true movement lies in
   * `[delta - loss_a, delta + loss_b]`.
   *
   * A pure Column composition over the map type (codegen'd built-ins:
   * map_keys/element_at/array_sort), so it runs anywhere a projection
   * does — including over a stored rollup table, the intended use.
   */
  def topn_delta(a0: Column, b0: Column, k: Int): Column = {
    require(k >= 1, s"topn_delta: k must be >= 1, got $k")
    import org.apache.spark.sql.functions._
    // coerce to the sketch type so untyped SQL NULL / MAP() literals
    // resolve (the STRICT null contract must survive `topn_delta(NULL, s, k)`)
    val a = a0.cast("map<string,bigint>")
    val b = b0.cast("map<string,bigint>")
    // map_zip_with merges the two key sets in ONE native pass with BOUND
    // per-key values — the per-key `element_at(map, key)` spelling costs
    // O(|map|) per lookup under the interpreted HOF and measured 10s on a
    // 1500-key sketch pair at sf0.1; this one is milliseconds. The pinned
    // (|delta| desc, item asc) order rides the struct's NATURAL ordering
    // via a leading -|delta| field, so array_sort needs no interpreted
    // comparator lambda either.
    val entries = map_values(map_zip_with(a, b, (key, va, vb) => {
      val fa = coalesce(va, lit(0L))
      val fb = coalesce(vb, lit(0L))
      struct((-abs(fb - fa)).as("neg_abs_delta"), key.as("item"),
        fa.as("freq_a"), fb.as("freq_b"), (fb - fa).as("delta"))
    }))
    val top = slice(array_sort(entries), 1, k)
    when(a.isNotNull && b.isNotNull,
      transform(top, e => struct(
        e.getField("item").as("item"), e.getField("freq_a").as("freq_a"),
        e.getField("freq_b").as("freq_b"), e.getField("delta").as("delta"))))
  }

  /** The reference also spells sketch merge as the jsonb `+` operator
    * (update/topn--2.0.0.sql:48-53). Spark SQL has no operator
    * overloading, so in SQL the spelling stays `topn_union(a, b)`; on the
    * DataFrame side, `import TopnFunctions.SketchOps` gives `a |+| b`. */
  implicit class SketchOps(private val c: Column) {
    def |+|(other: Column): Column = topn_union(c, other)
  }
}

/**
 * Production registration path:
 * `spark.sql.extensions=graft.GraftExtensions` (or
 * `SparkSession.builder().withExtensions(new GraftExtensions)`), so every
 * session on a cluster gets the functions without explicit register() calls.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    TopnFunctions.catalog.foreach { case (name, _, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
        builder))
    }
}
