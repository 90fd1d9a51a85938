package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query here returns a DataFrame whose rows/schema are reproduced
  * exactly by the DuckDB SQL in [[oracleSql]] (same column names, same
  * deterministic ORDER BY). Sketch queries run with a counter budget far
  * above the data's distinct counts, so the approximate sketch is exact and
  * oracle-comparable (SURVEY §2.8.3); the approximation path itself is
  * covered by ScalaTest suites instead.
  */
object SparkEntry {

  /** Counter budget that exceeds every distinct count in the testdata, so
    * sketch results are exact (no policy-B eviction fires). */
  private val ExactN = 2000000

  // bpe_train iteration budget — shared by the Spark loop and the
  // generated oracle CTE chain so the two runs cannot drift
  private val BpeTrainIters = 8

  /** DSIR hashed-feature bucket count for the driver query; the oracle SQL
    * is generated from the same constant via [[graft.pipeline.Dsir.featureBucketSql]]
    * so the two spellings cannot drift. */
  private val DsirBuckets = 8192
  // quality_classifier hyperparameters — shared with the generated oracle
  private val ClsBuckets = 4096
  private val ClsIters = 3
  // FixedLog2 oracle CTE chains (deterministic IEEE-only log2, replayed
  // op-for-op): per-feature for dsir_weights, per-query-term for
  // bm25_search — generated from the kernel's own constants
  /** CASE arm list mapping `doc_id % m` to the planted PagerankDomains —
    * shared by every oracle replaying the planted link/crawl fixtures. */
  private def domainCase(m: Int): String = (0 until m)
    .map(i => s"WHEN $i THEN '${PagerankDomains(i)}'").mkString(" ")

  /** The exact-Jaccard trigram closure as CTEs `t..reach` (callers must
    * open with WITH RECURSIVE) — ONE spelling shared by dedup_clusters /
    * dedup_best_keeper / split_by_cluster so the three oracles cannot
    * drift. */
  private val jaccardClosureCtes: String =
    """t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 3
      |              THEN list_distinct(list_transform(range(1, len(toks) - 1),
      |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |              ELSE [] END AS shingles
      |  FROM t),
      |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |shared AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS ns
      |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
      |pairs AS (
      |  SELECT a AS u, b AS v
      |  FROM shared JOIN sz za ON shared.a = za.doc_id
      |              JOIN sz zb ON shared.b = zb.doc_id
      |  WHERE CAST(ns AS DOUBLE) / CAST(za.n + zb.n - ns AS DOUBLE) >= 0.5),
      |sym AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
      |reach AS (
      |  SELECT u, v FROM sym
      |  UNION
      |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u)""".stripMargin

  /** `doc_id % mod`-indexed planted host over [[PagerankDomains]] — the
    * Column twin of [[domainCase]]. */
  private def plantedHost(mod: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    element_at(array(PagerankDomains.map(lit): _*),
      (pmod(col("doc_id"), lit(mod)) + 1).cast("int"))
  }

  /** One cached frontier fixture per (session, dir): both frontier
    * queries across any number of Verify/bench invocations share ONE
    * persisted link explode instead of re-registering a cache entry per
    * call (Spark's CacheManager dedupes identical plans, but the
    * registration itself should still be bounded and obvious). */
  private val frontierBaseCache =
    new java.util.LinkedHashMap[(SparkSession, String), (DataFrame, DataFrame)]()

  private def frontierBase(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // bounded: a driver cycling SparkSessions against this object must not
    // pin stopped sessions (and their persisted plans) for the JVM's life —
    // evicted entries release their persist (best-effort: the session may
    // already be stopped), and the next call re-registers, the pre-holder
    // behavior. Lookup, eviction, and insert all run under ONE lock so an
    // entry can never be inserted between an eviction sweep and its clear
    // (which would drop it without releasing its persist for the session's
    // life); buildFrontierBase itself is lazy plan construction — no Spark
    // job — so holding the lock across it is cheap.
    frontierBaseCache.synchronized {
      val key = (spark, dir)
      val hit = frontierBaseCache.get(key)
      if (hit != null) hit
      else {
        if (frontierBaseCache.size > 4) {
          frontierBaseCache.values().forEach { case (_, links) =>
            try links.unpersist() catch { case _: Throwable => }
          }
          frontierBaseCache.clear()
        }
        val built = buildFrontierBase(spark, dir)
        frontierBaseCache.put(key, built)
        built
      }
    }
  }

  /** Stage tables of the full-curation chain, shared by
    * `pipeline_full_curation` (which consumes them onward into the
    * cluster-keyed split and per-split packing) and `curation_funnel`
    * (which counts each stage's survivors). One definition so the two
    * queries cannot drift apart. Persist boundaries preserved exactly:
    * every persisted stage feeds several consumers (CC + keep-join;
    * classifier training + score join; two threshold walks + the bucket
    * join), and without a persist each consumer re-executes the whole
    * upstream chain — measured 29s -> persisted cost at sf0.1 in
    * docs/BENCH_NOTES.md. At 100 TB these boundaries are exactly where a
    * pipeline writes its intermediate tables. */
  private final case class CurationStages(
      incoming: DataFrame,
      fresh: DataFrame,
      labels: DataFrame,
      kept: DataFrame,
      decon: DataFrame,
      gophered: DataFrame,
      bucketed: DataFrame,
      caches: Seq[DataFrame])

  private def curationStages(spark: SparkSession, dir: String): CurationStages = {
    import spark.implicits._
    import graft.pipeline._
    val docs = tbl(spark, dir, "documents")
    val ref = docs.filter($"doc_id" % 5 =!= 0)
    val planted = ref.filter($"doc_id" % 7 === 1)
      .select((-$"doc_id" - 1L).as("doc_id"), $"text", $"lang")
    val incoming = docs.filter($"doc_id" % 5 === 0)
      .select($"doc_id", $"text", $"lang").unionByName(planted)
    val fresh = Dedup.crossCorpusDedup(incoming, ref, "doc_id", "text",
      expectedRefItems = 10000L, fpp = 0.03).drop("fingerprint")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = Clustering.connectedComponents(
      Dedup.minhashLshPairs(fresh, "doc_id", "text", threshold = 0.5),
      "doc_a", "doc_b")
    val kept = fresh.join(labels, Seq("doc_id"), "left")
      .filter($"cluster_id".isNull || $"cluster_id" === $"doc_id")
      .drop("cluster_id")
    val bench = docs.filter($"doc_id" % 31 === 4).select($"doc_id", $"text")
    val decon = Dedup.removeContaminated(kept, bench, "doc_id", "text",
      n = 3, maxSharedShingles = 20L)
    val gophered = Quality.gopherFilter(decon, "doc_id", "text",
      minWords = 20L, maxWords = 100000L, stopWords = QualityProbeWords)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored = Classifier.trainScores(gophered, "doc_id", "text",
      $"lang" === "en", numBuckets = ClsBuckets, iters = ClsIters,
      etaNum = ClsEtaNum, etaDen = ClsEtaDen)
    val rescored = gophered.join(scored.select($"doc_id", $"score_e6"), "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bucketed = Selection.assignFractionBuckets(
      rescored, "doc_id", "score_e6", headPct = 30, middlePct = 40)
      .filter($"bucket" =!= "tail")
    CurationStages(incoming, fresh, labels, kept, decon, gophered, bucketed,
      caches = Seq(fresh, gophered, rescored))
  }

  /** Once-per-JVM MATERIALIZED curation chain ([[curationStages]] written
    * to parquet stage tables): the production shape — a pipeline writes
    * its intermediates once, and everything downstream (the attrition
    * funnel, the split + packing tail) READS them instead of re-running
    * the chain. Before this store, `curation_funnel` and
    * `pipeline_full_curation` each re-priced the whole chain (~12.7 s /
    * ~16.4 s at sf0.1); now the chain runs once per JVM per fixture and
    * both rows price their own consumption. Same [[fixtureKey]] staleness
    * rule + exit-time reaping as the fingerprint store. */
  private val curationStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def curationStorePath(spark: SparkSession, dir: String): String =
    curationStoreCache.computeIfAbsent(fixtureKey(dir, "documents"), _ => {
      val st = curationStages(spark, dir)
      val out = java.nio.file.Files
        .createTempDirectory("graft_curation_store").toString
      tempDirs.add(out)
      Seq("incoming" -> st.incoming, "fresh" -> st.fresh,
        "labels" -> st.labels, "kept" -> st.kept, "decon" -> st.decon,
        "gophered" -> st.gophered, "bucketed" -> st.bucketed)
        .foreach { case (n, df) =>
          df.write.mode("overwrite").parquet(s"$out/$n")
        }
      // the build-time persist boundaries served the one build; readers
      // consume the written tables
      st.caches.foreach(df =>
        try df.unpersist(blocking = false) catch { case _: Throwable => () })
      out
    })

  /** Once-per-JVM trained LID model (the stage-store doctrine applied to
    * the MODEL stage): `language_classifier` keeps pricing a FULL
    * training run — it IS the training benchmark — while the downstream
    * consumers (calibration, the trained/gated reports, gated mixture)
    * load the model trained here once per fixture and price only their
    * own scoring pass. Every consumer's oracle still replays the ENTIRE
    * training chain in DuckDB, so the hash match keeps covering the
    * learned weights; [[graft.pipeline.Classifier.scoreMulti]] is
    * spelled identically to the in-training score table, so the loaded
    * model reproduces it bit for bit. Same [[fixtureKey]] staleness rule
    * + exit-time reaping as the other stores. */
  private val lidModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def lidModelPath(spark: SparkSession, dir: String): String =
    lidModelCache.computeIfAbsent(fixtureKey(dir, "documents"), _ => {
      val w = graft.pipeline.Classifier.trainMulti(
        tbl(spark, dir, "documents"), "doc_id", "text", "lang",
        numBuckets = ClsBuckets, iters = ClsIters,
        etaNum = ClsEtaNum, etaDen = ClsEtaDen)
      val out = java.nio.file.Files
        .createTempDirectory("graft_lid_model").toString
      tempDirs.add(out)
      graft.pipeline.Classifier.saveMulti(
        graft.pipeline.Classifier.MultiModel(w, ClsBuckets), out)
      out
    })
  private def lidModel(spark: SparkSession, dir: String)
      : graft.pipeline.Classifier.MultiModel =
    graft.pipeline.Classifier.loadMulti(lidModelPath(spark, dir), spark)

  /** Once-per-JVM near-dup pair + cluster-label store over the FULL
    * documents table at threshold 0.5 — the stage-store doctrine applied
    * to the third recomputed boundary: `dedup_clusters` keeps building
    * in place (it IS the clustering benchmark), while
    * `dedup_best_keeper`, `split_by_cluster`, and `corpus_split_report`
    * read the written pairs / labels and price only their own
    * consumption (each re-derived the identical LSH scan + CC rounds,
    * ~1.5-2 s apiece at sf0.1). Oracles unchanged — the stored tables
    * are bit-identical to the in-place spelling. Same [[fixtureKey]]
    * staleness rule + exit reaping as the other stores. */
  private val dedupLabelCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def dedupLabelStorePath(spark: SparkSession, dir: String): String =
    dedupLabelCache.computeIfAbsent(fixtureKey(dir, "documents"), _ => {
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val pairs = graft.pipeline.Dedup.minhashLshPairs(
        docs, "doc_id", "text", threshold = 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val labels = graft.pipeline.Clustering.connectedComponents(
        pairs, "doc_a", "doc_b")
      val out = java.nio.file.Files
        .createTempDirectory("graft_dedup_labels").toString
      tempDirs.add(out)
      pairs.write.mode("overwrite").parquet(s"$out/pairs")
      labels.write.mode("overwrite").parquet(s"$out/labels")
      pairs.unpersist(blocking = false)
      out
    })

  /** The planted crawl fixture SHARED by the two frontier queries: pages
    * with two outlinks each, the fetched canonical set, and ONE persisted
    * link explode feeding both the candidate set and the rank edges (the
    * multi-consumer boundary doctrine). Returns (fetched, links). */
  private def buildFrontierBase(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    import graft.pipeline.{TextAnalysis, Urls}
    val pages = tbl(spark, dir, "documents").select($"doc_id",
      concat(lit("https://"), plantedHost(7), lit("/d/"), $"doc_id").as("url"),
      concat(
        lit("<a href=\"https://"), plantedHost(5), lit("/d/"), pmod($"doc_id", lit(40)),
        lit("\">x</a><a href=\"https://"), plantedHost(7), lit("/n/"), $"doc_id",
        lit("?utm_y=1\">y</a>")).as("html"))
    val fetched = pages.select(Urls.urlNormalize($"url").as("url_norm")).distinct()
    val links = pages.select(
      Urls.registeredDomain(Urls.urlHost($"url")).as("src"),
      explode(TextAnalysis.htmlLinks($"html")).as("link"))
      .select($"src",
        Urls.urlNormalize($"link").as("url_norm"),
        Urls.registeredDomain(Urls.urlHost($"link")).as("domain"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (fetched, links)
  }

  /** The frontier fixture's oracle CTEs (`f`, the page URL chain ending
    * in `ffn6`, `fetched`, `lnk`, the link chain ending in `fln6`) —
    * shared by both frontier oracles so the two cannot test different
    * corpora. */
  private lazy val frontierFixtureSql: (String, String, String) = {
    val (fU, fFin) = graft.pipeline.Urls.urlSqlCtes("f", "url", "ff")
    val (lU, lFin) = graft.pipeline.Urls.urlSqlCtes("lnk", "lurl", "fl")
    val ctes =
      s"""f AS (
        |  SELECT doc_id,
        |    'https://' || (CASE doc_id % 7 ${domainCase(7)} END) ||
        |      '/d/' || CAST(doc_id AS VARCHAR) AS url,
        |    '<a href="https://' || (CASE doc_id % 5 ${domainCase(5)} END) ||
        |      '/d/' || CAST(doc_id % 40 AS VARCHAR) ||
        |      '">x</a><a href="https://' || (CASE doc_id % 7 ${domainCase(7)} END) ||
        |      '/n/' || CAST(doc_id AS VARCHAR) || '?utm_y=1">y</a>' AS html
        |  FROM documents),
        |$fU,
        |fetched AS (SELECT DISTINCT url_norm FROM $fFin),
        |lnk AS (SELECT doc_id,
        |          unnest(regexp_extract_all(html, '<a href="([^"]*)"', 1)) AS lurl
        |        FROM f),
        |$lU""".stripMargin
    (ctes, fFin, lFin)
  }

  private val dsirLogStages =
    graft.expressions.FixedLog2.sqlCtes("dl", "rat", "x", Seq("f"))
  private val bmLogStages =
    graft.expressions.FixedLog2.sqlCtes("bl", "terms", "x", Seq("ti"))
  // token_entropy: one chain per DISTINCT per-token count, one per
  // distinct doc length — both joined back by value
  private val entCountLogStages =
    graft.expressions.FixedLog2.sqlCtes("ec", "ecv", "CAST(c AS DOUBLE)", Seq("c"))
  private val entLenLogStages =
    graft.expressions.FixedLog2.sqlCtes("en", "env", "CAST(n AS DOUBLE)", Seq("n"))
  private val ClsEtaNum = 1L
  private val ClsEtaDen = 256L
  // hashed_embedding dimensionality — shared with the generated oracle
  private val EmbDim = 64

  // domain names for the planted link graph (domain_pagerank /
  // html_links) — shared by the Spark fixture and the oracle's CASE
  private val PagerankDomains = Seq(
    "example.com", "example.co.uk", "spam-tracker.net", "good-site.org",
    "ads-network.com", "mirror-example.com", "plain-host.io")
  private val PagerankIters = 5
  // personalized/weighted/converged PageRank gate: 50% damping contracts
  // the L1 delta ~2x per step, so the stop lands well inside the unroll cap
  private val PprMaxIters = 12
  private val PprTolE6 = 50000L
  private val PprDamping = 50

  /** Planted per-doc URL population shared by url_filter /
    * topn_url_domains: deterministic variant classes — mixed-case hosts,
    * userinfo, default and non-default ports, a multi-part suffix, an
    * IPv4 literal, a private-section hosted-platform subdomain
    * (user.github.io-style), a depth-3 private suffix (s3.amazonaws.com),
    * a wildcard-rule host (*.ck) and its exception (!www.ck), tracking
    * params, fragments. [[plantedUrlSql]] is the same construction for
    * the oracles. */
  private def plantedUrls(spark: SparkSession, dir: String) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val host = element_at(array(
      lit("Example.COM"), lit("news.Example.co.uk"), lit("spam-Tracker.NET"),
      lit("www.good-site.org"), lit("sub.deep.ads-network.com"),
      lit("cdn.mirror-Example.com"), lit("192.168.0.1"),
      lit("Alice.GitHub.IO"), lit("assets.Bucket.S3.amazonaws.com"),
      lit("deep.www.CK"), lit("shop.foo.CK")),
      (pmod($"doc_id", lit(11)) + 1).cast("int"))
    val url = concat(
      when(pmod($"doc_id", lit(2)) === 0, "http://").otherwise("https://"),
      when(pmod($"doc_id", lit(11)) === 3, "user:pw@").otherwise(""),
      host,
      when(pmod($"doc_id", lit(5)) === 0, ":80")
        .when(pmod($"doc_id", lit(5)) === 1, ":443")
        .when(pmod($"doc_id", lit(5)) === 2, ":8080").otherwise(""),
      when(pmod($"doc_id", lit(13)) === 0, lit("/"))
        .otherwise(concat(lit("/Docs/"), $"doc_id")),
      when(pmod($"doc_id", lit(4)) === 0, concat(lit("?utm_source=x&q="), $"doc_id"))
        .when(pmod($"doc_id", lit(4)) === 1,
          concat(lit("?q="), $"doc_id", lit("&fbclid=ab"), $"doc_id"))
        .when(pmod($"doc_id", lit(4)) === 2, lit("?utm_a=1&ref=rss&utm_b=2"))
        .otherwise(lit("")),
      when(pmod($"doc_id", lit(3)) === 0, concat(lit("#Sec"), $"doc_id"))
        .otherwise(lit("")))
    tbl(spark, dir, "documents").select($"doc_id").withColumn("url", url)
  }

  /** The DuckDB replay of [[graft.pipeline.TextAnalysis.htmlToText]] as
    * CTE stages over `src`, rewriting `htmlCol` into cleaned-text `outCol`
    * (all other columns ride along; `htmlCol` is dropped at the first
    * stage). Entity decode covers the named set plus the numeric
    * spellings planted in the fixtures (&#72;, &#x49;) — extend alongside
    * any new fixture entities. Returns (ctesString, finalCteName). */
  private def htmlToTextSqlCtes(src: String, htmlCol: String, outCol: String,
      prefix: String): (String, String) = {
    val p = prefix
    val ctes =
      s"""${p}s1 AS (SELECT * EXCLUDE ($htmlCol), regexp_replace($htmlCol,
         |         '(?is)<script\\b[^>]*>.*?</script\\s*>', '', 'g') AS ${p}_h FROM $src),
         |${p}s2 AS (SELECT * EXCLUDE (${p}_h), regexp_replace(${p}_h,
         |         '(?is)<style\\b[^>]*>.*?</style\\s*>', '', 'g') AS ${p}_h FROM ${p}s1),
         |${p}s3 AS (SELECT * EXCLUDE (${p}_h), regexp_replace(${p}_h, '(?s)<!--.*?-->', '', 'g') AS ${p}_h FROM ${p}s2),
         |${p}s4 AS (SELECT * EXCLUDE (${p}_h), regexp_replace(${p}_h,
         |         '(?i)</?(p|div|br|hr|li|ul|ol|h[1-6]|tr|td|th|table|thead|tbody|blockquote|pre|section|article|header|footer|nav|main)(\\s[^>]*)?/?\\s*>',
         |         chr(10), 'g') AS ${p}_h FROM ${p}s3),
         |${p}s5 AS (SELECT * EXCLUDE (${p}_h), regexp_replace(${p}_h, '<[^>]*>', '', 'g') AS ${p}_h FROM ${p}s4),
         |${p}e1 AS (SELECT * EXCLUDE (${p}_h),
         |         replace(replace(replace(replace(replace(replace(replace(${p}_h,
         |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
         |           '&nbsp;', ' '), '&#72;', 'H'), '&#x49;', 'I') AS ${p}_h FROM ${p}s5),
         |${p}e2 AS (SELECT * EXCLUDE (${p}_h), replace(${p}_h, '&amp;', '&') AS ${p}_h FROM ${p}e1),
         |${p}w1 AS (SELECT * EXCLUDE (${p}_h), regexp_replace(${p}_h, '[ \\t\\r]+', ' ', 'g') AS ${p}_h FROM ${p}e2),
         |${p}w2 AS (SELECT * EXCLUDE (${p}_h), regexp_replace(${p}_h, ' *\\n *', chr(10), 'g') AS ${p}_h FROM ${p}w1),
         |${p}w3 AS (SELECT * EXCLUDE (${p}_h), regexp_replace(${p}_h, '\\n+', chr(10), 'g') AS ${p}_h FROM ${p}w2),
         |${p}w4 AS (SELECT * EXCLUDE (${p}_h), trim(${p}_h, ' ' || chr(10)) AS $outCol FROM ${p}w3)""".stripMargin
    (ctes, s"${p}w4")
  }

  /** The identical construction as a DuckDB scalar expression. */
  private val plantedUrlSql: String =
    """(CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END) ||
      |    (CASE WHEN doc_id % 11 = 3 THEN 'user:pw@' ELSE '' END) ||
      |    (CASE doc_id % 11 WHEN 0 THEN 'Example.COM' WHEN 1 THEN 'news.Example.co.uk'
      |          WHEN 2 THEN 'spam-Tracker.NET' WHEN 3 THEN 'www.good-site.org'
      |          WHEN 4 THEN 'sub.deep.ads-network.com' WHEN 5 THEN 'cdn.mirror-Example.com'
      |          WHEN 6 THEN '192.168.0.1' WHEN 7 THEN 'Alice.GitHub.IO'
      |          WHEN 8 THEN 'assets.Bucket.S3.amazonaws.com'
      |          WHEN 9 THEN 'deep.www.CK'
      |          ELSE 'shop.foo.CK' END) ||
      |    (CASE doc_id % 5 WHEN 0 THEN ':80' WHEN 1 THEN ':443' WHEN 2 THEN ':8080' ELSE '' END) ||
      |    (CASE WHEN doc_id % 13 = 0 THEN '/' ELSE '/Docs/' || CAST(doc_id AS VARCHAR) END) ||
      |    (CASE doc_id % 4 WHEN 0 THEN '?utm_source=x&q=' || CAST(doc_id AS VARCHAR)
      |          WHEN 1 THEN '?q=' || CAST(doc_id AS VARCHAR) || '&fbclid=ab' || CAST(doc_id AS VARCHAR)
      |          WHEN 2 THEN '?utm_a=1&ref=rss&utm_b=2' ELSE '' END) ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '#Sec' || CAST(doc_id AS VARCHAR) ELSE '' END)""".stripMargin

  /** Crawler product token for the robots_gate query (shared with the
    * oracle's generated rule chain). */
  private val RobotsAgent = "graftbot"

  /** Planted per-host robots.txt bodies for robots_gate, keyed by the
    * LOWERED hosts of [[plantedUrls]] (urlHost lowers; robots hosts are
    * stored lowered). Deliberate coverage: a specific graftbot group that
    * overrides a disallow-all `*` group (example.com), a multi-UA group
    * with an ignored unknown field (news.example.co.uk), disallow-all
    * (spam-tracker.net), an empty-value rule + comments + sitemap
    * (www.good-site.org), a foreign-agent-only file (sub.deep... ->
    * allowed), longest-match precedence (cdn.mirror-example.com),
    * equal-length allow-wins tie + a leading-wildcard `$` rule with a
    * LIKE-special `_` in it (192.168.0.1), two specific groups whose
    * rules combine (alice.github.io), CRLF + whitespace-around-colon +
    * wildcard-with-anchor (deep.www.ck), case-insensitive agent match +
    * a query-string wildcard (shop.foo.ck). assets.bucket.s3.amazonaws.com
    * has NO row: the no-robots default-allow path. Metadata coverage for
    * robots_meta: crawl-delay in a `*` group (spam-tracker), in the
    * second of two combined specific groups (alice.github.io), in a
    * foreign-agent group (ads-network -> ignored), non-integer
    * (shop.foo.ck -> ignored); sitemap lines on spam-tracker and
    * good-site. */
  private val RobotsFixture: Seq[(String, String)] = Seq(
    "example.com" ->
      ("# robots for example.com\nUser-Agent: graftbot\nDisallow: /Docs/*1$\n" +
        "Allow: /Docs/1*\n\nUser-agent: *\nDisallow: /"),
    "news.example.co.uk" ->
      "User-agent: otherbot\nUser-agent: graftbot\nDisallow: /Docs/\nAllow: /Docs/2\nCrawl-delay: 5",
    "spam-tracker.net" ->
      "User-agent: *\nDisallow: /\nCrawl-delay: 10\nSitemap: https://spam-tracker.net/sm.xml",
    "www.good-site.org" ->
      "# only comments and an empty rule\nUser-agent: *\nDisallow:\nSitemap: https://www.good-site.org/sitemap.xml",
    "sub.deep.ads-network.com" -> "User-agent: otherbot\nDisallow: /\nCrawl-delay: 99",
    "cdn.mirror-example.com" -> "User-agent: *\nDisallow: /Docs\nAllow: /Docs/1",
    "192.168.0.1" -> "User-agent: *\nAllow: /Docs\nDisallow: /Docs\nDisallow: *utm_b=2$",
    "alice.github.io" ->
      "User-agent: graftbot\nDisallow: /Docs/3\n\nUser-agent: graftbot\nDisallow: /Docs/4\nCrawl-delay: 7",
    "deep.www.ck" -> "User-agent:    *\r\n  Disallow  : /Docs/*9$\r\n",
    "shop.foo.ck" -> "User-agent: GraftBot\nDisallow: /*?*\nCrawl-delay: abc")

  /** robots bodies for the crawl end-to-end query's admission gate:
    * example.co.uk blocks graftbot's /doc/ fetches whose id ends in 3
    * (the raw path is "/doc/<id>?utm_x=1", so the rule needs the
    * wildcard-then-query spelling), and a foreign-agent-only file that
    * must gate nothing. */
  private val CrawlRobotsFixture: Seq[(String, String)] = Seq(
    "example.co.uk" -> "User-agent: graftbot\nDisallow: /doc/*3?*",
    "good-site.org" -> "User-agent: otherbot\nDisallow: /")

  /** A string as a DuckDB expression, newlines/CRs spelled as chr()
    * concats so robots bodies survive SQL embedding. */
  private def sqlTextLit(s: String): String =
    "'" + s.replace("'", "''")
      .replace("\r", "' || chr(13) || '")
      .replace("\n", "' || chr(10) || '") + "'"

  /** Stop-word probe for the quality_filter query, adapted to the
    * synthetic corpus vocabulary; the oracle list is generated from this
    * constant so the two spellings cannot drift. */
  private val QualityProbeWords =
    Seq("the", "a", "table", "data", "row", "value", "scan", "join")

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The eviction bounds contract at one counter budget, shared by
    * `topn_approx_bounds` and `topn_budget_sweep`: the bounded-sketch
    * report joined to its exact GROUP BY twin, reduced to the
    * schedule-INdependent facts — every reported interval contains the
    * true count, eviction fired (max, not min: "eviction happened" is
    * the robust claim — today the bound is uniform per report, but a
    * per-item bound would make min() demand EVERY item lost something),
    * and the report size is the budget. `has_eviction` is the sketch's
    * STICKY loss bound surfacing as max_error > 0: it accrues on every
    * prune that discards positive mass, INCLUDING the final policy-A
    * pack, so on an add path it equals `distinct > budget` exactly — not
    * `distinct > 3*budget`, which misses the window (b, 3b] where the
    * pack discards without policy B ever firing (the oracle SQL's
    * equivalence note has the full argument; TopnStateSpec pins the
    * window case). */
  private def boundsContract(
      spark: SparkSession, dir: String, budget: Int): DataFrame = {
    val key = col("l_partkey").cast("string")
    val report = tbl(spark, dir, "lineitem")
      .agg(TopnFunctions.topn_add_agg_bounds(key, budget).as("u"))
      .select(explode(
        TopnFunctions.topn_with_bounds(col("u"), lit(budget))).as("r"))
      .select(col("r.item").as("item"), col("r.frequency").as("frequency"),
        col("r.max_error").as("max_error"))
    val exact = tbl(spark, dir, "lineitem")
      .groupBy(key.as("item"))
      .agg(count(lit(1)).as("true_freq"))
    report.join(exact, Seq("item"))
      .agg(
        min(col("frequency") <= col("true_freq") &&
          col("true_freq") <= col("frequency") + col("max_error"))
          .as("all_within_bounds"),
        (max(col("max_error")) > 0L).as("has_eviction"),
        count(lit(1)).as("n_report"))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * README.md:84-116 flow: per-month rollup sketches -> union -> top-10. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    TopnFunctions.register(spark)
    val orders = tbl(spark, "/root/testdata/sf0.001", "orders")
    val rollup = orders
      .groupBy(date_trunc("month", $"o_orderdate").as("month"))
      .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
    rollup
      .agg(TopnFunctions.topn_union_agg($"sketch", ExactN).as("merged"))
      .select(explode(TopnFunctions.topn($"merged", lit(10))).as("r"))
      .select($"r.item", $"r.frequency")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference parity: the sketch aggregate family -------------------

    // topn_add_agg + topn() through GROUP BY (SURVEY §2.1 rows 1,4; §2.5)
    "topn_add_agg_groupby" -> ((spark, dir) => {
      import spark.implicits._
      tbl(spark, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
        .select($"o_orderpriority", explode(TopnFunctions.topn($"sketch", lit(10))).as("r"))
        .select($"o_orderpriority", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"o_orderpriority", $"frequency".desc, $"item")
    }),

    // the fan-in path under the gate: per-priority sketches merged to ONE
    // global sketch through Rollups.hierarchicalUnion's intermediate
    // level (the 100k-partition final-reducer fix) — exact below
    // eviction by merge associativity, so the plain global top-10 oracle
    // must hash-match through the two-stage tree
    "topn_hierarchical_union" -> ((spark, dir) => {
      import spark.implicits._
      val perGroup = tbl(spark, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
      graft.operators.Rollups.hierarchicalUnion(perGroup, "sketch", ExactN, fanIn = 3)
        .select(explode(TopnFunctions.topn($"sketch", lit(10))).as("r"))
        .select($"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"frequency".desc, $"item")
    }),

    // the skew path under the gate: the same groupby build through
    // Rollups.saltedTopnAdd's two-level (key, salt) -> key aggregation —
    // hot group keys split across 32 reducers, merged by topn_union_agg.
    // Below eviction the split is exact (merge associativity), so the
    // UNSALTED oracle must hash-match, which is precisely the claim
    "topn_salted_groupby" -> ((spark, dir) => {
      import spark.implicits._
      graft.operators.Rollups.saltedTopnAdd(
        tbl(spark, dir, "orders")
          .select($"o_orderpriority", $"o_custkey".cast("string").as("cust")),
        "o_orderpriority", "cust", ExactN)
        .select($"o_orderpriority", explode(TopnFunctions.topn($"sketch", lit(10))).as("r"))
        .select($"o_orderpriority", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"o_orderpriority", $"frequency".desc, $"item")
    }),

    // heavy-path throughput anchor: sketch build over the full lineitem
    // table (600k rows at sf0.1), grouped by return flag
    "topn_lineitem_parts" -> ((spark, dir) => {
      import spark.implicits._
      tbl(spark, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(TopnFunctions.topn_add_agg($"l_partkey".cast("string"), ExactN).as("sketch"))
        .select($"l_returnflag", explode(TopnFunctions.topn($"sketch", lit(20))).as("r"))
        .select($"l_returnflag", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"l_returnflag", $"frequency".desc, $"item")
    }),

    // weighted sketch build over pre-aggregated (item, count) pairs —
    // identical result to the per-row build (add(item, w) == w unit adds)
    "topn_weighted_groupby" -> ((spark, dir) => {
      import spark.implicits._
      val counts = tbl(spark, dir, "orders")
        .groupBy($"o_orderpriority", $"o_custkey".cast("string").as("item"))
        .agg(count(lit(1)).as("w"))
      counts.groupBy($"o_orderpriority")
        .agg(TopnFunctions.topn_add_weighted_agg($"item", $"w", ExactN).as("sketch"))
        .select($"o_orderpriority", explode(TopnFunctions.topn($"sketch", lit(10))).as("r"))
        .select($"o_orderpriority", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"o_orderpriority", $"frequency".desc, $"item")
    }),

    // topn_union_agg re-aggregation of stored rollup sketches (§2.1 row 5;
    // README.md:100-116 incremental-rollup story)
    // heavy-change detection between two period sketches: top movers of
    // the customer-frequency distribution across the 1998-01-01 split —
    // the "what changed vs yesterday" query on stored rollups; exact at
    // this counter budget, so the oracle replays exact counts
    "topn_delta_periods" -> ((spark, dir) => {
      import spark.implicits._
      val o = tbl(spark, dir, "orders")
      def sk(pred: org.apache.spark.sql.Column) = o.filter(pred)
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("s"))
      val a = sk($"o_orderdate" < "1998-01-01").select($"s".as("sa"))
      val b = sk($"o_orderdate" >= "1998-01-01").select($"s".as("sb"))
      a.crossJoin(b)
        .select(posexplode(TopnFunctions.topn_delta($"sa", $"sb", 10))
          .as(Seq("pos", "r")))
        .select(($"pos" + 1).cast("long").as("rank"), $"r.item".as("item"),
          $"r.freq_a".as("freq_a"), $"r.freq_b".as("freq_b"),
          $"r.delta".as("delta"))
        .orderBy($"rank")
    }),

    // the windowed consumption shape of topn_delta: month-over-month top
    // movers via lag(sketch) over the stored rollup — the recurring
    // "what changed since last period" report. The lag window is the one
    // single-partition step, over the tiny period dimension (~dozens of
    // months), the same documented exception as the rollup ranking
    "topn_delta_monthly" -> ((spark, dir) => {
      import spark.implicits._
      val monthly = tbl(spark, dir, "orders")
        .groupBy(date_format(date_trunc("month", $"o_orderdate"), "yyyy-MM").as("month"))
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("s"))
      val w = org.apache.spark.sql.expressions.Window.orderBy($"month")
      monthly.withColumn("prev", lag($"s", 1).over(w))
        .filter($"prev".isNotNull)
        .select($"month",
          posexplode(TopnFunctions.topn_delta($"prev", $"s", 3)).as(Seq("pos", "r")))
        .select($"month", ($"pos" + 1).cast("long").as("rank"),
          $"r.item".as("item"), $"r.freq_a".as("freq_a"),
          $"r.freq_b".as("freq_b"), $"r.delta".as("delta"))
        .orderBy($"month", $"rank")
    }),

    // time-decayed consumption of the stored rollup: every month's
    // counts are halved once per 2 months of age (exact integer
    // right-shift, zero entries dropped) before the union — "who's hot
    // NOW", the recency-weighted sibling of topn_union_agg_rollup. The
    // decay is a no-shuffle map-values transform; the oracle replays the
    // shift arithmetic in integer SQL
    "topn_decayed_monthly" -> ((spark, dir) => {
      import spark.implicits._
      val monthly = tbl(spark, dir, "orders")
        .groupBy((year($"o_orderdate") * 12 + month($"o_orderdate"))
          .cast("long").as("midx"))
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("s"))
      graft.operators.Rollups.decayedUnion(
          monthly, "midx", "s", halfLifePeriods = 2, ExactN)
        .select(explode(TopnFunctions.topn($"s", lit(10))).as("r"))
        .select($"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"frequency".desc, $"item")
    }),

    "topn_union_agg_rollup" -> ((spark, dir) => {
      import spark.implicits._
      val monthly = tbl(spark, dir, "orders")
        .groupBy(date_trunc("month", $"o_orderdate").as("month"))
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
      monthly
        .agg(TopnFunctions.topn_union_agg($"sketch", ExactN).as("merged"))
        .select(explode(TopnFunctions.topn($"merged", lit(25))).as("r"))
        .select($"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"frequency".desc, $"item")
    }),

    // guaranteed count intervals: the bounded-sketch family
    // (topn_add_agg_bounds -> topn_union_agg_bounds -> topn_with_bounds)
    // turns the reference's accuracy ADVICE (README.md:21-23 "increase
    // topn.number_of_counters") into a measured per-query fact — here the
    // budget is exact, so every interval collapses: max_error = 0 IS the
    // oracle-checked claim (the forced-eviction side of the bound is
    // pinned by TopnStateSpec's property test; an inexact bound cannot be
    // hash-compared against an exact engine by construction)
    "topn_bounds_report" -> ((spark, dir) => {
      import spark.implicits._
      tbl(spark, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(TopnFunctions.topn_add_agg_bounds(
          $"o_custkey".cast("string"), ExactN).as("bs"))
        .agg(TopnFunctions.topn_union_agg_bounds($"bs", ExactN).as("u"))
        .select(explode(TopnFunctions.topn_with_bounds($"u", lit(25))).as("r"))
        .select($"r.item".as("item"), $"r.frequency".as("frequency"),
          $"r.max_error".as("max_error"))
        .orderBy($"frequency".desc, $"item")
    }),

    // the APPROXIMATE path under oracle watch: a counter budget of 16
    // against ~2000 distinct part keys FORCES policy-B eviction (every
    // partial state blows past the 3n threshold whatever the shuffle
    // schedule), and the row asserts the bounds contract IN-PLAN against
    // an exact GROUP BY twin: reported <= true <= reported + max_error
    // for every reported item, with the measured max_error non-zero.
    // Sketch CONTENT under eviction is schedule-dependent by design, so
    // the row emits only the schedule-INdependent facts (the ANN
    // recall-floor device): the contract booleans and the pinned report
    // size. The approximation IS the product (reference README.md:21-23);
    // this is the driver row that actually exercises it.
    "topn_approx_bounds" -> ((spark, dir) =>
      boundsContract(spark, dir, budget = 16)),

    // the reference's accuracy ADVICE as a measured sweep (README.md:21-23
    // "keep ~100x N counters"): the SAME bounds contract at three counter
    // budgets — the knob a user actually turns, under the driver gate at
    // each setting. Whether policy-B eviction fires is schedule-INdependent
    // per budget (distinct keys > 3b forces it in the merge phase alone;
    // <= 3b no partial can ever overflow), so the oracle COMPUTES it from
    // the distinct count — at sf0.01 all three budgets evict (~2000 keys),
    // at sf0.001 the 256 budget does not (200 keys < 768) and both
    // engines say so
    "topn_budget_sweep" -> ((spark, dir) =>
      Seq(16, 64, 256).map { budget =>
        boundsContract(spark, dir, budget)
          .select(lit(budget.toLong).as("budget"),
            col("all_within_bounds"), col("has_eviction"), col("n_report"))
      }.reduce(_ unionByName _).orderBy(col("budget"))),

    // the sweep's QUALITY curve — the reference's "~100x N counters for
    // accurate top-N" advice (README.md:21-23) with numbers under the
    // gate. Key shape matters: the driver tables' raw keys are
    // near-uniform (top-N on flat data is ill-posed — measured recall@10
    // 0/10 at any budget at sf0.1), so the row derives a HARMONIC key
    // from lineitem, floor(max_orderkey / l_orderkey): key v carries
    // ~M/v(v+1) rows — the Zipf-ish shape frequent-items sketches are
    // for, self-similar at every SF (the g_sliding precedent: synthesize
    // the shape the claim is about, from the driver's own table). Per
    // budget 16/64/256 vs the exact in-plan twin, with k=25 spanning the
    // smallest budget:
    //  - recall@25 floors 12/20/24 (measured 16/25/25 at sf0.001/0.01/0.1)
    //    and monotone rising across budgets;
    //  - report precision (every reported item truly top-25; measured
    //    exact at all budgets x SFs, asserted with a 2-item cushion);
    //  - max_error ceilings in basis points of the corpus, 150/30/5
    //    (measured ~72/5/0), and a strict 2x shrink per budget step.
    // Exact values the oracle RECOMPUTES (n_keys, true_top25_min) anchor
    // the claims; the sketch-side measurements surface as booleans (the
    // recall-floor doctrine — content under eviction is
    // schedule-dependent, the claims hold on any schedule with margin)
    "topn_budget_quality" -> ((spark, dir) => {
      import spark.implicits._
      val raw = tbl(spark, dir, "lineitem")
      val mx = raw.agg((max($"l_orderkey") + 1L).as("m"))
      val keyed = raw.crossJoin(broadcast(mx))
        .select(floor($"m" / ($"l_orderkey" + 1L)).cast("string").as("item"))
      val exact = keyed.groupBy($"item").agg(count(lit(1)).as("true_freq"))
      val top25 = exact.orderBy($"true_freq".desc, $"item").limit(25)
      val stats = exact.agg(
        count(lit(1)).as("n_keys"), sum($"true_freq").as("total"))
        .crossJoin(top25.agg(min($"true_freq").as("thr")))
      val perBudget = Seq(16, 64, 256).map { b =>
        val rep = keyed
          .agg(TopnFunctions.topn_add_agg_bounds($"item", b).as("u"))
          .select(explode(
            TopnFunctions.topn_with_bounds($"u", lit(25))).as("r"))
          .select($"r.item".as("item"), $"r.max_error".as("max_error"))
        rep.join(top25.select($"item", lit(1).as("hit")), Seq("item"), "left")
          .agg(count($"hit").as(s"m$b"), count(lit(1)).as(s"nrep$b"),
            max($"max_error").as(s"me$b"))
      }
      val floors = Map(16 -> 12, 64 -> 20, 256 -> 24)
      val ceilBp = Map(16 -> 150, 64 -> 30, 256 -> 5)
      val all = perBudget.foldLeft(stats)(_ crossJoin _)
      all.select(explode(array(Seq(16, 64, 256).map { b =>
        val prev = Map(64 -> 16, 256 -> 64).get(b)
        struct(
          lit(b.toLong).as("budget"), lit(25L).as("k"),
          $"n_keys", $"thr".as("true_top25_min"),
          (col(s"m$b") >= floors(b)).as("recall_floor_ok"),
          prev.map(p => col(s"m$b") >= col(s"m$p"))
            .getOrElse(lit(true)).as("recall_rises"),
          (col(s"m$b") >= col(s"nrep$b") - 2).as("precision_ok"),
          (col(s"me$b") * 10000L <= lit(ceilBp(b).toLong) * $"total")
            .as("width_ceiling_ok"),
          prev.map(p => col(s"me$b") * 2L <= col(s"me$p"))
            .getOrElse(lit(true)).as("width_shrinks"))
      }: _*)).as("q"))
        .select($"q.*").orderBy($"budget")
    }),

    // the OTHER approximate aggregate a 100 TB profile leans on, under
    // the same contract doctrine as topn_approx_bounds: Spark's built-in
    // HLL++ (functions-not-UDFs; deterministic for a fixed input) must
    // land within 5x its configured rsd of the exact distinct count,
    // asserted in-plan against the exact twin the oracle recomputes
    "distinct_count_bounds" -> ((spark, dir) => {
      import spark.implicits._
      tbl(spark, dir, "lineitem")
        .agg(
          countDistinct($"l_partkey").as("n_exact"),
          approx_count_distinct($"l_partkey", 0.05).as("__graft_approx"))
        .select($"n_exact",
          (abs($"__graft_approx" - $"n_exact") <=
            ($"n_exact" * 0.25).cast("long")).as("within_bound"))
    }),

    // scalar topn_add + topn_union pipeline (§2.1 rows 2,3)
    "topn_scalar_pipeline" -> ((spark, dir) => {
      import spark.implicits._
      val orders = tbl(spark, dir, "orders")
      val lo = orders.filter($"o_totalprice" < 50000)
        .agg(TopnFunctions.topn_add_agg($"o_orderpriority", ExactN).as("lo"))
      val hi = orders.filter($"o_totalprice" >= 50000)
        .agg(TopnFunctions.topn_add_agg($"o_orderpriority", ExactN).as("hi"))
      lo.crossJoin(hi)
        .select(TopnFunctions.topn_add(
          TopnFunctions.topn_union($"lo", $"hi"), lit("1-URGENT")).as("merged"))
        .select(explode(TopnFunctions.topn($"merged", lit(10))).as("r"))
        .select($"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"frequency".desc, $"item")
    }),

    // sketches through joins + CTEs on the pure SQL surface (§2.4,
    // reference sql/join_tests.sql), reported via the topn_rows generator
    "topn_join_cte_sql" -> ((spark, dir) => {
      TopnFunctions.register(spark)
      tbl(spark, dir, "orders").createOrReplaceTempView("orders_v")
      spark.conf.set(GraftConf.NumberOfCountersKey, ExactN.toString)
      try {
        spark.sql(
          """WITH lo AS (
            |  SELECT o_orderpriority, topn_add_agg(CAST(o_custkey AS STRING)) AS s
            |  FROM orders_v WHERE o_totalprice < 50000 GROUP BY o_orderpriority),
            |hi AS (
            |  SELECT o_orderpriority, topn_add_agg(CAST(o_custkey AS STRING)) AS s
            |  FROM orders_v WHERE o_totalprice >= 50000 GROUP BY o_orderpriority)
            |SELECT lo.o_orderpriority, t.item, t.frequency
            |FROM lo JOIN hi ON lo.o_orderpriority = hi.o_orderpriority
            |LATERAL VIEW topn_rows(topn_union(lo.s, hi.s), 10) t AS item, frequency
            |ORDER BY lo.o_orderpriority, t.frequency DESC, t.item""".stripMargin)
      } finally spark.conf.set(GraftConf.NumberOfCountersKey, "1000")
    }),

    // sliding window merge over daily rollups (§2.6; customer_reviews_query
    // .sql:58-70 "seven_days" frame)
    "topn_window_7day" -> ((spark, dir) => {
      import spark.implicits._
      val daily = tbl(spark, dir, "orders")
        .groupBy(date_format($"o_orderdate", "yyyy-MM-dd").as("day"))
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
      val w = Window.orderBy($"day").rowsBetween(-6, Window.currentRow)
      daily
        .withColumn("merged", TopnFunctions.topn_union_agg($"sketch", ExactN).over(w))
        .select($"day", explode(TopnFunctions.topn($"merged", lit(5))).as("r"))
        .select($"day", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"day", $"frequency".desc, $"item")
    }),

    // the same 7-day sliding merge via the scale-path rank equi-join
    // (no single-partition window sort; see graft.operators.Rollups)
    "topn_window_7day_scalable" -> ((spark, dir) => {
      import spark.implicits._
      val daily = tbl(spark, dir, "orders")
        .groupBy(date_format($"o_orderdate", "yyyy-MM-dd").as("day"))
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
      graft.operators.Rollups.slidingUnion(daily, "day", "sketch", frameRows = 7, ExactN)
        .select($"day", explode(TopnFunctions.topn($"sketch", lit(5))).as("r"))
        .select($"day", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"day", $"frequency".desc, $"item")
    }),

    // a WIDE frame (30 periods) through the prefix/suffix block
    // decomposition — O(1) merges per period instead of the O(frameRows)
    // the range-join/window forms pay (see Rollups.slidingUnionWideFrame)
    "topn_window_30day_scalable" -> ((spark, dir) => {
      import spark.implicits._
      val daily = tbl(spark, dir, "orders")
        .groupBy(date_format($"o_orderdate", "yyyy-MM-dd").as("day"))
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
      graft.operators.Rollups.slidingUnionWideFrame(daily, "day", "sketch", frameRows = 30, ExactN)
        .select($"day", explode(TopnFunctions.topn($"sketch", lit(5))).as("r"))
        .select($"day", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"day", $"frequency".desc, $"item")
    }),

    // events stream table (nanos-timestamp source) through the sketch path:
    // per-type hourly rollups -> union re-aggregation -> top-5 users
    "topn_events_by_type" -> ((spark, dir) => {
      import spark.implicits._
      val hourly = graft.sources.Tables.events(spark, dir)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
        .agg(TopnFunctions.topn_add_agg($"user_id".cast("string"), ExactN).as("sketch"))
      hourly
        .groupBy($"event_type")
        .agg(TopnFunctions.topn_union_agg($"sketch", ExactN).as("merged"))
        .select($"event_type", explode(TopnFunctions.topn($"merged", lit(5))).as("r"))
        .select($"event_type", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"event_type", $"frequency".desc, $"item")
    }),

    // --- beyond-reference: training-data pipeline operators --------------

    // as-of join (union-trick, one shuffle, no pair explosion): every
    // click stamped with the user's most recent preceding view — right
    // side pre-aggregated per (user, ts) so "latest" is well-defined
    // under timestamp collisions. The oracle is DuckDB's NATIVE ASOF
    // LEFT JOIN: two independent implementations of the same temporal
    // semantics hash-agreeing
    "asof_latest_view" -> ((spark, dir) => {
      import spark.implicits._
      val ev = graft.sources.Tables.events(spark, dir)
      val views = ev.filter($"event_type" === "view")
        .groupBy($"user_id", $"ts")
        .agg(max($"event_id").as("view_event_id"))
        .select($"user_id", $"ts".as("view_ts"), $"view_event_id")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", $"ts")
      graft.operators.AsofJoin.latestPreceding(
          clicks, views, Seq("user_id"), "ts", "view_ts",
          payloadCols = Seq("view_event_id", "view_ts"))
        // exact integer micros: raw TIMESTAMP reprs differ between the
        // two engines' python drivers (the DATE gotcha, timestamp form)
        .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
          $"view_event_id", unix_micros($"view_ts").as("view_ts_us"))
        .orderBy($"event_id")
    }),

    // attribution-window as-of: each purchase credited to the user's
    // latest preceding click ONLY when it is at most 1h old — the
    // maxGapSeconds variant of the union-trick join (bound applied
    // after the same single window pass; stale matches null out, plan
    // shape unchanged). Oracle: DuckDB native ASOF + an age CASE — two
    // independent spellings of the window-bounded semantics
    "attributed_purchases" -> ((spark, dir) => {
      import spark.implicits._
      val ev = graft.sources.Tables.events(spark, dir)
      val clicks = ev.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts")
        .agg(max($"event_id").as("click_event_id"))
        .select($"user_id", $"ts".as("click_ts"), $"click_event_id")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      graft.operators.AsofJoin.latestPreceding(
          purchases, clicks, Seq("user_id"), "ts", "click_ts",
          payloadCols = Seq("click_event_id", "click_ts"),
          maxGapSeconds = Some(3600L))
        .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
          $"click_event_id", unix_micros($"click_ts").as("click_ts_us"))
        .orderBy($"event_id")
    }),

    // burst detection: daily periods where a user's event count spikes
    // > 2 sigma above their OWN span baseline (silent days count as
    // zeros without materializing them) — exact integer moments, the
    // z-test cross-multiplied out of division, so the report is
    // hash-stable cross-engine
    "rate_anomalies_daily" -> ((spark, dir) => {
      import spark.implicits._
      graft.operators.Diagnostics.rateAnomalies(
          graft.sources.Tables.events(spark, dir), Seq("user_id"), "ts",
          periodSeconds = 86400L, k = 2)
        .orderBy($"user_id", $"period_start_us")
    }),

    // gap-based sessionization: per-user sessions at a 4h inactivity
    // gap, rolled up to (start, end, n_events, exact micros duration,
    // value sum as BIGINT cents — the sum itself is a DECIMAL(_,2),
    // scaled by 100 so both engines emit the same integer type: the
    // driver's hasher is sensitive to decimal WIDTH (Spark sum →
    // decimal(28,2), DuckDB → DECIMAL(38,2)) even when every value
    // agrees. One shuffle by user, per-key window, event_id tie-break
    "sessionize_events" -> ((spark, dir) => {
      import spark.implicits._
      val ev = graft.sources.Tables.events(spark, dir)
        .withColumn("value", $"value".cast("decimal(18,2)"))
      graft.operators.Sessions.stats(
          ev, Seq("user_id"), "ts", gapSeconds = 14400L,
          valueCol = Some("value"), orderCols = Seq("event_id"))
        .select($"user_id", $"session_seq",
          unix_micros($"session_start").as("session_start_us"),
          unix_micros($"session_end").as("session_end_us"),
          $"n_events", $"duration_us",
          ($"value_sum" * 100).cast("long").as("value_sum_cents"))
        .orderBy($"user_id", $"session_seq")
    }),

    // ordered-step conversion funnel: users reaching view -> click ->
    // purchase IN ORDER (each step strictly after the key's earliest
    // in-order completion of the previous one). Iterated conditional
    // min — one key-equi join + hash agg per step, never a corpus
    // window; the oracle replays the same chain
    "funnel_events" -> ((spark, dir) => {
      import spark.implicits._
      graft.operators.Sessions.funnelCounts(
          graft.sources.Tables.events(spark, dir), Seq("user_id"), "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy($"step_idx")
    }),

    // per-transition conversion latency for the same funnel — exact
    // integer micros (count / min / floored mean / max), all
    // transitions folded in ONE one-row aggregate over the per-key
    // step-time table; the oracle replays the chain plus the latency
    // joins
    "funnel_transitions" -> ((spark, dir) => {
      import spark.implicits._
      graft.operators.Sessions.funnelTransitions(
          graft.sources.Tables.events(spark, dir), Seq("user_id"), "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy($"step_idx")
    }),

    // WINDOWED funnel: view -> click -> purchase with every step inside
    // 24h of the SAME step-0 view (deadline-from-first semantics, where
    // greedy earliest-successor chaining is exact); one row per step-0
    // event, then one earliestFollowing window pass per hop — the
    // oracle replays the identical greedy chain with correlated MINs
    "funnel_windowed_events" -> ((spark, dir) => {
      import spark.implicits._
      graft.operators.Sessions.funnelWindowedCounts(
          graft.sources.Tables.events(spark, dir), Seq("user_id"), "ts",
          "event_type", Seq("view", "click", "purchase"),
          windowSeconds = 86400L)
        .orderBy($"step_idx")
    }),

    // DAU/MAU-style stickiness per 28-day epoch period — one distinct
    // over (user, day) collapses the corpus, one hash agg per period,
    // exact integer ppm
    "stickiness_28d" -> ((spark, dir) => {
      import spark.implicits._
      graft.operators.Sessions.stickiness(
          graft.sources.Tables.events(spark, dir), Seq("user_id"), "ts",
          periodDays = 28)
        .orderBy($"period_start_us")
    }),

    // cohort retention on epoch-aligned weekly periods: distinct
    // (user, period) first, one per-key window min for the cohort, one
    // hash agg — counting the distinct pairs IS the exact per-cell
    // user count, no count_distinct shuffle
    "retention_cohorts" -> ((spark, dir) => {
      import spark.implicits._
      graft.operators.Sessions.retentionCohorts(
          graft.sources.Tables.events(spark, dir), Seq("user_id"), "ts",
          periodSeconds = 7L * 86400L)
        .orderBy($"cohort_start_us", $"period_offset")
    }),

    // the flagship sketch composing with sessionization: top in-session
    // event trigram paths — per-session lead windows feed
    // topn_add_agg(path), so the report stays ONE bounded sketch at any
    // corpus size; 5 event types -> <= 125 distinct paths << 3N, exact,
    // so the oracle is a plain count + the sketch's tie order
    "topn_session_paths" -> ((spark, dir) => {
      import spark.implicits._
      val paths = graft.operators.Sessions.sessionPaths(
        graft.sources.Tables.events(spark, dir), Seq("user_id"), "ts",
        "event_type", gapSeconds = 14400L, pathLen = 3,
        orderCols = Seq("event_id"))
      paths
        .agg(TopnFunctions.topn_add_agg($"path", ExactN).as("sk"))
        .select(explode(TopnFunctions.topn($"sk", lit(10))).as("r"))
        .select($"r.item".as("path"), $"r.frequency".as("frequency"))
        .orderBy($"frequency".desc, $"path")
    }),

    // BPE ENCODE (not just count): the merge walk's actual pieces in
    // document order — one vocabulary join from token ids; the oracle
    // replays the identical replace chain and zips the piece list with
    // its ordinals. Sampled to every 25th doc: the check is the piece
    // CONTENT (count coverage is pack_bins_bpe's), not corpus volume
    "bpe_encode" -> ((spark, dir) => {
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
    }),

    // the tokenizer story end to end: corpus-derived vocabulary (dense
    // lexicographic ids) + documents re-expressed as token-id arrays —
    // model-ready shards. Vocab from the FULL corpus, output sampled to
    // every 25th doc (content check, not volume); ids emitted as a
    // joined string (the array-compare-safe spelling hashed_embedding
    // established). Spark runs the PRODUCTION walk; the oracle replays
    // the literal chain — their piece parity is CurationSpec-proven
    "bpe_token_ids" -> ((spark, dir) => {
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
    }),

    // BPE merge TRAINING — the step that produces the merge table the
    // encode/count/token-id queries consume: K corpus-wide
    // most-frequent-adjacent-pair iterations, each one scan + hash agg +
    // one-row argmax (Bpe.trainMerges doc). The oracle replays the ENTIRE
    // training run as unrolled CTEs with the learned pairs as scalar
    // subqueries (the classifier/PageRank doctrine applied to tokenizer
    // training), so DuckDB must learn the SAME rules in the SAME order
    // with the SAME counts — training is hash-checked, not spot-checked.
    // Parity with a transparent sequential trainer is BpeTrainSpec's.
    "bpe_train" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Bpe.trainMergesDF(
        tbl(spark, dir, "documents"), "text", iters = BpeTrainIters)
        .orderBy($"iter")
    }),

    // overlapping context-window chunking (RAG / long-doc training):
    // chunk k = tokens [3k, 3k+8), shortening at the tail — shuffle-free
    // generate; the oracle replays the slice arithmetic
    "chunk_documents" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.TextAnalysis.chunkTokens(
        tbl(spark, dir, "documents"), "doc_id", "text", width = 8, stride = 3)
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // the corpus report card: one scan, one global aggregate, a stacked
    // (metric, value) datasheet — integer metrics only so the whole card
    // hash-matches the oracle's replay
    "corpus_report" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.TextAnalysis.corpusReport(
        tbl(spark, dir, "documents").select($"text"), "text")
        .orderBy($"metric")
    }),

    // the per-split leakage audit a curation pipeline runs before
    // shipping shards: near-dup cluster labels -> cluster-keyed split
    // assignment (the split_by_cluster spelling) -> per split: doc
    // count, residual dup mass (non-representative cluster members
    // still present), contamination incidence vs the held-out benchmark
    // slice — and the headline guarantee as a measured number:
    // clusters straddling two splits (0 by construction of groupSplit;
    // this row PROVES it instead of asserting it)
    "corpus_split_report" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline._
      val docs = tbl(spark, dir, "documents").select($"doc_id", $"text")
      // labels from the shared store (dedup_clusters prices the build)
      val labels = spark.read
        .parquet(s"${dedupLabelStorePath(spark, dir)}/labels")
      val keyed = docs.select($"doc_id").join(labels, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
      val assigned = Sampling.groupSplit(keyed, "cluster_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select($"doc_id", $"cluster_id", $"split_name")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bench = docs.filter($"doc_id" % 31 === 4)
      val contaminated = Dedup.contamination(docs, bench, "doc_id", "text", n = 3)
        .filter($"n_shared_shingles" > 20L)
        .select($"doc_id", lit(1L).as("c"))
      val perSplit = assigned
        .join(contaminated, Seq("doc_id"), "left")
        .groupBy($"split_name")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"cluster_id" =!= $"doc_id", 1L).otherwise(0L)).as("n_dup_docs"),
          sum(coalesce($"c", lit(0L))).as("n_contaminated"))
      val straddle = assigned.groupBy($"cluster_id")
        .agg(countDistinct($"split_name").as("ns"))
        .filter($"ns" > 1)
        .agg(count(lit(1)).as("n_straddling_clusters"))
      perSplit.crossJoin(straddle).orderBy($"split_name")
    }),

    // text analysis: tokenization, quality, language-ID, fingerprint
    "text_stats" -> ((spark, dir) => {
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
    }),

    // exact dedup groups by normalized-md5 fingerprint
    "dedup_exact" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Dedup.exactGroups(tbl(spark, dir, "documents"), "doc_id", "text")
        .orderBy($"fingerprint")
    }),

    // exact word-trigram Jaccard near-dup pairs (shingle-join candidates)
    "dedup_jaccard_pairs" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Dedup.jaccardPairs(
        tbl(spark, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .orderBy($"doc_a", $"doc_b")
    }),

    // directed near-inclusion: |A∩B|/min(|A|,|B|) — catches a doc embedded
    // in a larger one, which symmetric Jaccard structurally misses
    "containment_pairs" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Dedup.containmentPairs(
        tbl(spark, dir, "documents"), "doc_id", "text", threshold = 0.6)
        .orderBy($"doc_small", $"doc_big")
    }),

    // MinHash+LSH near-dup pairs. Candidates are verified with EXACT
    // n-gram Jaccard, so output ⊆ the exact pair scan; on this corpus the
    // banding (8x4) catches every qualifying pair, so the exact-Jaccard
    // DuckDB oracle applies verbatim — a recall miss would surface as a
    // driver hash mismatch.
    "dedup_minhash_lsh" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Dedup.minhashLshPairs(
        tbl(spark, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .orderBy($"doc_a", $"doc_b")
    }),

    // SimHash blocking is exact-recall by pigeonhole (any pair within
    // maxDist agrees on >= 1 of maxDist+1 chunks), which no SQL engine can
    // re-derive (xxhash64 fingerprints) — so the driver-checked output IS
    // the verification: blocked pairs vs the O(n^2) brute-force scan over
    // the same fingerprints, reduced to constant-comparable booleans.
    "dedup_simhash" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      val blocked = graft.pipeline.Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
        .select($"doc_a", $"doc_b", lit(1).as("in_blocked"))
      val hashed = docs.select($"doc_id",
        graft.pipeline.Dedup.simhash64(graft.pipeline.TextAnalysis.tokens($"text")).as("sh"))
      val brute = hashed.as("a").join(hashed.as("b"), $"a.doc_id" < $"b.doc_id")
        .filter(bit_count($"a.sh".bitwiseXOR($"b.sh")) <= 3)
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"), lit(1).as("in_brute"))
      blocked.join(brute, Seq("doc_a", "doc_b"), "full_outer")
        .agg((count(lit(1)) > 0).as("has_pairs"),
          (count(when($"in_blocked".isNull || $"in_brute".isNull, 1)) === 0)
            .as("blocked_equals_brute"))
    }),

    // exact cosine top-10 neighbors for the first 20 vectors (brute force
    // via bounded-heap TopKAgg — map-side partial top-k)
    "ann_bruteforce_top10" -> ((spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      graft.pipeline.Similarity.bruteForceTopK(
        emb, emb.filter($"vec_id" < 20), "vec_id", "embedding", k = 10)
        .orderBy($"query_id", $"rank")
    }),

    // LSH-bucketed approximate neighbors, driver-verified per query
    // against the in-plan brute-force twin: emits (query_id, recall_ok)
    // where recall_ok = per-query recall >= 0.3 (deterministic seeded
    // planes; measured floor 0.5 on this corpus). A DuckDB-computable
    // constant-bound oracle — approximate results themselves are not
    // SQL-reproducible.
    "ann_lsh_top10" -> ((spark, dir) => {
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
    }),

    // IVF-quantized approximate neighbors, driver-verified like
    // ann_lsh_top10 (deterministic training; measured per-query floor 0.3,
    // bound 0.2)
    "ann_ivf_top10" -> ((spark, dir) => {
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
    }),

    // IVF-PQ: the compressed-index ANN tier (codes, not floats, in the
    // index — the one that fits 100 TB of embeddings), driver-verified
    // like the other approximate tiers. ADC shortlist of 50 reranked
    // exactly; measured per-query recall floor 0.4 at both sf0.01 and
    // sf0.1 (avg ~0.73), bound 0.3. Deterministic end to end (seeded
    // sample, lowest-index tie-breaks).
    "ann_ivfpq_top10" -> ((spark, dir) => {
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
    }),

    // Quantizer drift audit — the detection query that gates the
    // retrain-then-rebuild loop (Pq.driftScore doc): ADC-vs-exact rank
    // agreement for FROZEN models over (a) the training-distribution
    // corpus and (b) a planted shifted corpus under the same stale
    // models. Driver-verified like the other ANN tiers (deterministic
    // training, fixed-point agreement arithmetic): the stationary mean
    // must hold its measured floor while the planted shift must fall a
    // measured margin below it — recall decay that probes alone cannot
    // see (they still return k rows). Measured means: stationary
    // 510k/575k/435k e6 at sf0.001/0.01/0.1, drifted 180k/205k/185k —
    // floor 300k, margin 150k.
    "pq_drift_score" -> ((spark, dir) => {
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
    }),

    // top-50 most cosine-similar embedding pairs (embedding near-dup scan,
    // exact O(n^2) tier)
    "cosine_neardup_pairs" -> ((spark, dir) => {
      import spark.implicits._
      // knownCount keeps the auto-dispatch bar's n resolution job-free
      // (the r20 dispatch: past ExactTierMaxRows this tier self-routes
      // to lshNearDupPairs; every test SF sits far under the bar, so
      // the oracle keeps certifying the exact plan)
      graft.pipeline.Similarity.cosineNearDupPairs(
        tbl(spark, dir, "embeddings"), "vec_id", "embedding", topPairs = 50,
        knownCount = fixtureCount(spark, dir, "embeddings"))
        .orderBy($"rank")
    }),

    // the sub-quadratic 100 TB tier of the same scan, driver-verified
    // against the exact tier: emits the candidate-pair count and a
    // recall-floor boolean (bound 40/50; bits auto-sized from the corpus
    // count — Similarity.autoBits — so the floor holds at any SF: fewer
    // bits at small corpora only ADD candidates). Deterministic end to end.
    "lsh_neardup_pairs" -> ((spark, dir) => {
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
    }),

    // composed training-data pipeline: exact-dedup (keep min doc per
    // fingerprint) -> quality gate -> language sketch of surviving docs
    "pipeline_clean_corpus" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.TextAnalysis._
      val docs = tbl(spark, dir, "documents")
      val keep = graft.pipeline.Dedup.exactGroups(docs, "doc_id", "text")
        .select($"keep_id".as("doc_id"))
      docs.join(keep, "doc_id")
        .filter(qualityScore($"text") >= 0.5)
        .groupBy(languageId($"text").as("lang_pred"))
        .agg(TopnFunctions.topn_add_agg($"source", ExactN).as("sketch"),
          count(lit(1)).as("n_docs"))
        .select($"lang_pred", $"n_docs",
          explode(TopnFunctions.topn($"sketch", lit(3))).as("r"))
        .select($"lang_pred", $"n_docs", $"r.item".as("source"),
          $"r.frequency".as("frequency"))
        .orderBy($"lang_pred", $"frequency".desc, $"source")
    }),

    // multimodal: typed binary-payload pipeline, stub decoders
    "multimodal_decode_meta" -> ((spark, dir) => {
      import spark.implicits._
      val media = graft.pipeline.Multimodal.mediaFromDocuments(
        spark, tbl(spark, dir, "documents"))
      graft.pipeline.Multimodal.decodeMeta(media).toDF().orderBy($"media_id")
    }),

    "multimodal_frame_sample" -> ((spark, dir) => {
      import spark.implicits._
      val media = graft.pipeline.Multimodal.mediaFromDocuments(
        spark, tbl(spark, dir, "documents"))
      graft.pipeline.Multimodal.sampleFrames(media).toDF()
        .orderBy($"media_id", $"frame_idx")
    }),

    // REAL image near-dup tier end to end: deterministic synthetic PNGs
    // encoded on executors, javax.imageio decode, dHash, pigeonhole pair
    // scan. Real codec output is not SQL-reproducible, so — like the
    // other non-SQL tiers — the query carries its own in-plan audit (the
    // pair scan vs an independent brute-force Hamming self-join over the
    // SAME decoded hashes) and the oracle pins the constant booleans.
    "image_neardup_pairs" -> ((spark, dir) => {
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
    }),

    // REAL audio near-dup tier end to end: deterministic synthetic WAVs
    // encoded on executors, javax.sound PCM decode, gain-invariant
    // energy-envelope hash, pigeonhole pair scan — the audio twin of
    // image_neardup_pairs, same in-plan brute-force audit, same
    // constant-boolean oracle.
    "audio_neardup_pairs" -> ((spark, dir) => {
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
    }),

    // REAL video near-dup tier end to end: deterministic synthetic
    // AVI/MJPEG clips encoded on executors, RIFF container parse, imageio
    // per-frame decode, majority dHash, pigeonhole pair scan — the video
    // sibling of image/audio_neardup_pairs, same in-plan brute-force
    // audit, same constant-boolean oracle.
    "video_neardup_pairs" -> ((spark, dir) => {
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
    }),

    // duplicate CLUSTERS from the near-dup pair list: connected components
    // (large-star/small-star) over the MinHash+LSH pairs — the 100 TB
    // tiering (sub-quadratic candidate scan feeding the cluster pass).
    // LSH candidates are exact-Jaccard-verified, and the banding catches
    // every qualifying pair on this corpus (dedup_minhash_lsh proves
    // LSH == exact against the same oracle), so the recursive-CTE oracle
    // over the exact pairs applies verbatim.
    "dedup_clusters" -> ((spark, dir) => {
      import spark.implicits._
      val pairs = graft.pipeline.Dedup.minhashLshPairs(
        tbl(spark, dir, "documents"), "doc_id", "text", threshold = 0.5)
      graft.pipeline.Clustering.connectedComponents(pairs, "doc_a", "doc_b")
        .orderBy($"doc_id")
    }),

    // quality-aware cluster keeper: same LSH clusters as dedup_clusters,
    // but each cluster keeps its LONGEST member (token count, ties to the
    // smallest id) instead of the min-id one — the selection real
    // pipelines run (a truncated copy must not displace the original
    // just because it got the smaller id)
    "dedup_best_keeper" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents").select($"doc_id", $"text",
        size(graft.pipeline.TextAnalysis.tokens($"text")).cast("long").as("n_tokens"))
      // pairs from the shared store (dedup_clusters prices the build)
      val pairs = spark.read
        .parquet(s"${dedupLabelStorePath(spark, dir)}/pairs")
      graft.pipeline.Clustering.clusterKeepers(
        docs, "doc_id", "n_tokens", pairs, "doc_a", "doc_b")
        .orderBy($"doc_id")
    }),

    // PII redaction over documents with synthetic PII appended (the corpus
    // itself is clean, so the query injects one of each category per doc —
    // mirrored exactly in the oracle); verified via match counts + md5 of
    // the fully redacted text
    "pii_redact" -> ((spark, dir) => {
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
    }),

    // Gopher-style repetition/diversity quality signals per document
    // token-distribution Shannon entropy in exact 1e-6 fixed-point bits:
    // the distribution-shape quality signal (low entropy = templated
    // text), every log2 the FixedLog2 recurrence, per-term floors before
    // the order-independent integer sum
    "token_entropy" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.TextAnalysis.tokenEntropy(
        tbl(spark, dir, "documents"), "doc_id", "text")
        .orderBy($"doc_id")
    }),

    "repetition_stats" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.TextAnalysis.repetitionStats(
        tbl(spark, dir, "documents"), "doc_id", "text")
        .orderBy($"doc_id")
    }),

    // exact nearest-rank percentiles with NO global sort (datasheet
    // numbers: tokens-per-doc p25/p50/p90/p99) — the selectTopFraction
    // histogram device pointed at reporting; exact integer arithmetic
    "token_percentiles" -> ((spark, dir) => {
      import spark.implicits._
      val d = tbl(spark, dir, "documents").select(
        graft.pipeline.TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      graft.pipeline.Selection.exactPercentiles(
          d, "n_tokens", Seq(25, 50, 90, 99))
        .orderBy($"pct")
    }),

    // sketch-driven key-skew profile: the diagnostic an operator runs
    // BEFORE choosing salt buckets / AQE skew knobs — one pass, bounded
    // state, exact below eviction (the reference operator in its
    // engineering role; a groupBy-count profile of the same key shuffles
    // the corpus to learn what the sketch learns map-side)
    "skew_report" -> ((spark, dir) => {
      import spark.implicits._
      graft.operators.Diagnostics.keySkewReport(
        tbl(spark, dir, "orders"), "o_custkey", k = 20, counters = ExactN)
        .orderBy($"freq".desc, $"key")
    }),

    // deterministic hash-bucket train/val/test assignment (stable under
    // repartitioning, replays, and incremental ingestion)
    "split_assign" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Sampling.assignSplit(
        tbl(spark, dir, "documents"), "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select($"doc_id", $"bucket", $"split_name")
        .orderBy($"doc_id")
    }),

    // the strongest leakage control: split keyed by NEAR-DUP CLUSTER, so
    // near-identical documents can never straddle train and eval even
    // when they live on different domains (singletons key by their own
    // id — the degenerate one-doc cluster)
    "split_by_cluster" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents").select($"doc_id", $"text")
      // labels from the shared store (dedup_clusters prices the build)
      val labels = spark.read
        .parquet(s"${dedupLabelStorePath(spark, dir)}/labels")
      val keyed = docs.join(labels, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
      graft.pipeline.Sampling.groupSplit(keyed, "cluster_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select($"doc_id", $"cluster_id", $"bucket", $"split_name")
        .orderBy($"doc_id")
    }),

    // leakage-safe split keyed by registered DOMAIN: every page of a
    // domain lands in the same split (per-row hashing would scatter a
    // site's near-identical pages across train and eval)
    "split_by_domain" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.{Sampling, Urls}
      val docs = plantedUrls(spark, dir)
        .select($"doc_id", Urls.registeredDomain(Urls.urlHost($"url")).as("domain"))
      Sampling.groupSplit(docs, "domain",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select($"doc_id", $"domain", $"bucket", $"split_name")
        .orderBy($"doc_id")
    }),

    // deterministic corpus mixing: per-source keep rates (up-weight the
    // "curated" sources, down-sample the rest) applied by hash bucket —
    // reproducible membership, no RNG
    "corpus_mix" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Sampling.mixCorpus(
        tbl(spark, dir, "documents"), "doc_id", "source",
        pctByGroup = Map("src0" -> 100, "src1" -> 100, "src2" -> 100,
          "src3" -> 50, "src4" -> 50, "src5" -> 50),
        defaultPct = 25, salt = 7L)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy($"source")
    }),

    // token-budget sequence packing: contiguous greedy fill by global
    // token prefix-sum (scale-safe two-pass, no single-partition window);
    // reports per-bin doc and token totals
    "pack_bins" -> ((spark, dir) => {
      import spark.implicits._
      val withTokens = tbl(spark, dir, "documents").select($"doc_id",
        graft.pipeline.TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      graft.pipeline.Sampling.packByBudget(withTokens, "doc_id", "n_tokens", budget = 2048L)
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("bin_tokens"))
        .orderBy($"bin")
    }),

    // token-budget packing under the pluggable BPE tokenizer (demo merge
    // table): same packing operator, vocabulary-aware weights — budgets
    // now approximate an LLM context window instead of word counts. The
    // merge walk is a deterministic composition of string built-ins, so
    // DuckDB replays it bit-for-bit (Bpe.duckdbTokenCountSql).
    "pack_bins_bpe" -> ((spark, dir) => {
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
    }),

    // tokenizer evaluation: per-language fertility (BPE pieces per word)
    // and compression (bytes per piece) of the demo merge table, exact
    // integer ppm on group sums — the report a tokenizer-training run is
    // judged on, closing the train -> encode -> evaluate loop
    "bpe_fertility" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Bpe.fertilityReport(
        tbl(spark, dir, "documents"), "lang", "text")
        .orderBy($"grp")
    }),

    // test-set decontamination: training docs sharing word-trigrams with
    // the held-out slice (doc_id % 7 == 0 stands in for an eval benchmark)
    "decontaminate" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      graft.pipeline.Dedup.contamination(
        docs.filter($"doc_id" % 7 =!= 0), docs.filter($"doc_id" % 7 === 0),
        "doc_id", "text", n = 3)
        .orderBy($"doc_id")
    }),

    // the removal composition contamination only reports: drop training
    // docs sharing > 20 distinct trigram shingles with the held-out slice,
    // keep the rest (ids only — compact, fully oracle-replayable)
    "decontaminate_filter" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      graft.pipeline.Dedup.removeContaminated(
        docs.filter($"doc_id" % 7 =!= 0), docs.filter($"doc_id" % 7 === 0),
        "doc_id", "text", n = 3, maxSharedShingles = 20L)
        .select($"doc_id")
        .orderBy($"doc_id")
    }),

    // CCNet-style bigram-LM quality signal: self-trained add-one-smoothed
    // bigram model, per-doc mean conditional probability. Fixed-point
    // (floor(p * 1e9)) per bigram BEFORE the per-doc sum keeps the
    // aggregate an order-independent integer sum — bit-identical in DuckDB
    "lm_surprise" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      val model = graft.pipeline.LanguageModel.trainBigrams(docs, "text")
      graft.pipeline.LanguageModel.scoreDocs(docs, "doc_id", "text", model)
        .orderBy($"doc_id")
    }),

    // SemDeDup (arXiv:2303.09540): k-means cells + within-cell cosine
    // near-dup grouping + min-id keeper. Driver-verified like the ANN
    // tiers — k-means cells aren't SQL-reproducible, so the query emits
    // in-plan exact checks (an independent self-join spelling of the
    // within-cell pair scan) and the oracle pins the constant booleans
    "semantic_dedup" -> ((spark, dir) => {
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
    }),

    // the flagship sketch on the pipeline table: top-10 word trigrams per
    // language via topn_add_agg over the exploded trigram multiset — the
    // reference operator doing corpus n-gram statistics
    "topn_doc_trigrams" -> ((spark, dir) => {
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
    }),

    // temperature-scaled mixture weights (the XLM-R multinomial alpha
    // recipe) over the corpus sources, weighted by characters; n^alpha
    // runs on the FixedLog2/FixedExp2 IEEE-only pair so every ppm floor
    // is cross-engine deterministic — the oracle replays both
    // recurrences as unrolled CTE chains from the same generators
    "mix_temperature" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Mixture.temperatureWeights(
        tbl(spark, dir, "documents").select($"doc_id", $"source", $"n_chars"),
        "source", alphaNum = 7, alphaDen = 10, weightCol = Some("n_chars"))
        .orderBy($"grp")
    }),

    // the full mixing loop, measured and applied in one query: count-
    // based temperature rates over the (skewed) language distribution,
    // frozen to integer percents (a G-row bounded collect, the IVF-
    // centroid pattern), then realized by upsampleCorpus — the head
    // language downsamples below one epoch, the tail gains fractional
    // epochs, all hash-deterministic; the oracle recomputes the rates
    // from its own recurrence chain and replays the replication
    "mix_temperature_apply" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents").select($"doc_id", $"lang")
      val pct = graft.pipeline.Mixture.ratePercents(
        graft.pipeline.Mixture.temperatureWeights(docs, "lang", 1, 2))
      graft.pipeline.Sampling.upsampleCorpus(
        docs, "doc_id", "lang", pct, defaultPct = 100)
        .select($"doc_id", $"copy_id".cast("long").as("copy_id"), $"lang")
        .orderBy($"doc_id", $"copy_id")
    }),

    // deterministic training-order shuffle: shard + in-shard position as
    // a pure function of (id, salt) — stable across reruns and cluster
    // sizes, resumable at (shard, pos), reshuffled per epoch by salt;
    // the oracle replays the portable rank mix and the shard window
    "shuffle_order" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Sampling.shuffleOrder(
        tbl(spark, dir, "documents").select($"doc_id"),
        "doc_id", numShards = 16, salt = 2L)
        .select($"doc_id", $"shard".cast("long").as("shard"),
          $"pos".cast("long").as("pos"))
        .orderBy($"doc_id")
    }),

    // balanced per-source subset: exactly k docs per source by portable
    // hash rank — deterministic, replayable, oracle-replayable
    "sample_per_group" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Sampling.samplePerGroup(
        tbl(spark, dir, "documents").select($"doc_id", $"source"),
        "doc_id", "source", k = 20)
        .select($"doc_id", $"source", $"sample_rank".cast("long").as("sample_rank"))
        .orderBy($"source", $"sample_rank")
    }),

    // per-domain cap by explicit priority (the non-random sibling of
    // sample_per_group): keep the 25 longest documents per source —
    // partitioned window, ties by doc_id, oracle replays the same rank
    "domain_cap" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Selection.topKPerGroup(
        tbl(spark, dir, "documents").select($"doc_id", $"source", $"n_chars"),
        "doc_id", "source", k = 25, priority = $"n_chars")
        .select($"doc_id", $"source", $"n_chars",
          $"cap_rank".cast("long").as("cap_rank"))
        .orderBy($"source", $"cap_rank")
    }),

    // EXACT global top-20% selection by score with NO global sort: the
    // distinct-score histogram + prefix-sum threshold shape
    // (Selection.selectTopFraction). n_chars is integral and tie-heavy at
    // this corpus, so the threshold tie-trim path is exercised; the
    // oracle replays the identical keep set with a plain ORDER BY LIMIT
    // (fine at oracle scale; the operator exists precisely so the engine
    // never has to do that at 100 TB).
    "select_top_pct" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Selection.selectTopFraction(
        tbl(spark, dir, "documents")
          .select($"doc_id", $"n_chars".cast("long").as("score")),
        "doc_id", "score", pct = 20)
        .orderBy($"doc_id")
    }),

    // Gopher-style rule-based quality flags (arXiv:2112.11446 Table A1):
    // exact integer arithmetic end to end, every rule flag replayed by
    // the oracle. The stop-word probe is adapted to the synthetic
    // corpus's vocabulary (QualityProbeWords), as the paper localizes it
    // per language.
    "quality_filter" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Quality.gopherFlags(
        tbl(spark, dir, "documents"), "doc_id", "text",
        minWords = 20L, maxWords = 100000L, stopWords = QualityProbeWords)
        .orderBy($"doc_id")
    }),

    // C4's term-blocklist device (Raffel et al. 2020 §2.2) generalized
    // to phrases: per-doc hit counts against a curated list, matched
    // case-insensitively on word boundaries. The list mixes a unigram, a
    // two-word phrase, a punctuated/cased spelling that only matches
    // because of normalization, and a never-occurring term
    "term_blocklist" -> ((spark, dir) => {
      import spark.implicits._
      val terms = Seq("dup", "Slow Join", "(vector)", "zeppelin").toDF("term")
      graft.pipeline.Quality.blocklistHits(
        tbl(spark, dir, "documents"), "doc_id", "text", terms)
        .orderBy($"doc_id")
    }),

    // CCNet-style line-level boilerplate dedup (arXiv:1911.00359): the
    // corpus has no newline structure, so pseudo-lines are fixed 8-token
    // windows; a line occurring in >1 distinct docs is boilerplate. The
    // planted duplicate docs make the strip non-vacuous.
    "line_dedup" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Lines.dedupLines(
        graft.pipeline.Lines.tokenWindowLines(
          tbl(spark, dir, "documents"), "doc_id", "text", width = 8),
        maxDocFreq = 1L, joiner = " ")
        .orderBy($"doc_id")
    }),

    // Unicode normalization pass (custom codegen'd expression, NFC +
    // control strip): the synthetic corpus is ASCII (fast-path identity),
    // so the query PLANTS a decomposed accent (e + U+0301), a BEL and a
    // CRLF on every doc — both engines build the same dirty string and
    // must produce the identical normalized md5 (DuckDB: nfc_normalize)
    "text_normalize" -> ((spark, dir) => {
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
    }),

    // JSONL source/sink round-trip: the corpus (text salted with the JSON
    // hard cases — newline, quote, backslash, tab, multibyte) is written
    // as line-delimited JSON shards and read back through the explicit-
    // schema reader; output is the read-back rows themselves, so the
    // straight-SQL oracle over the parquet table is hash-exact only if
    // BOTH the writer's escaping and the reader's parsing are faithful
    "jsonl_roundtrip" -> ((spark, dir) => {
      import spark.implicits._
      val dirty = concat($"text", lit("\n\"json\\edge\t"), lit("é€"))
      val docs = tbl(spark, dir, "documents")
        .select($"doc_id", $"lang", $"source", dirty.as("text"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
      graft.sources.Tables.writeJsonl(docs, tmp, shards = 4)
      graft.sources.Tables.jsonl(spark, tmp,
          "doc_id BIGINT, lang STRING, source STRING, text STRING")
        .select($"doc_id", $"lang", $"source", md5($"text").as("text_md5"))
        .orderBy($"doc_id")
    }),

    // daily-ingest near-dup: the new batch's fingerprints against the
    // persisted store via the asymmetric pigeonhole join, then the
    // incremental CC relabel — audited in-plan against the batch twins
    // (pairs == batch pairs beyond the store's own; labels == batch CC),
    // constant-boolean oracle like the other self-auditing tiers
    "incremental_neardup" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.{Clustering, Dedup, TextAnalysis}
      val fps = tbl(spark, dir, "documents")
        .select($"doc_id", Dedup.simhash64(TextAnalysis.tokens($"text")).as("fp"))
      val store = fps.filter($"doc_id" % 5 =!= 0)
      val fresh = fps.filter($"doc_id" % 5 === 0)

      val inc = Dedup.incrementalFingerprintPairs(fresh, store, "doc_id", "fp", 3)
        .select($"doc_a", $"doc_b")
      val batch = Dedup.fingerprintPairs(fps, "doc_id", "fp", 3)
      val storeOnly = Dedup.fingerprintPairs(store, "doc_id", "fp", 3)
      val expected = batch.select($"doc_a", $"doc_b")
        .exceptAll(storeOnly.select($"doc_a", $"doc_b"))
      val pairMism = inc.exceptAll(expected).unionAll(expected.exceptAll(inc))
        .agg(count(lit(1)).as("n_pair_mism"))

      val merged = Clustering.incrementalUpdate(
        Clustering.connectedComponents(storeOnly, "doc_a", "doc_b"),
        Dedup.incrementalFingerprintPairs(fresh, store, "doc_id", "fp", 3),
        "doc_a", "doc_b")
      val batchLabels = Clustering.connectedComponents(batch, "doc_a", "doc_b")
      val labelMism = merged.withColumnRenamed("cluster_id", "m_cid")
        .join(batchLabels.withColumnRenamed("cluster_id", "b_cid"),
          Seq("doc_id"), "full_outer")
        .filter($"m_cid".isNull || $"b_cid".isNull || $"m_cid" =!= $"b_cid")
        .agg(count(lit(1)).as("n_label_mism"))
      val total = inc.agg(count(lit(1)).as("n_pairs"))

      pairMism.crossJoin(labelMism).crossJoin(total)
        .select(
          ($"n_pair_mism" === 0).as("pairs_match_batch"),
          ($"n_label_mism" === 0).as("labels_match_batch"),
          ($"n_pairs" > 0).as("has_pairs"))
    }),

    // boilerplate pruning with the flagship sketch doing the heavy-hitter
    // work: top-k most frequent 8-token line windows (occurrence counts,
    // bounded sketch state instead of a distinct-lines-sized frequency
    // table), stripped from every document. Counter budget makes the
    // sketch exact at this SF, so the oracle replays the rule with an
    // exact GROUP BY + the pinned (freq desc, hash asc) top-k order.
    "boilerplate_prune" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Lines.stripSketchBoilerplate(
        graft.pipeline.Lines.tokenWindowLines(
          tbl(spark, dir, "documents"), "doc_id", "text", width = 8),
        k = 20, minCount = 3L, counters = ExactN, joiner = " ")
        .select($"doc_id", $"n_lines", $"n_boilerplate_lines",
          md5($"clean_text").as("clean_md5"))
        .orderBy($"doc_id")
    }),

    // duplicated-span detection (exact substring dedup at token-window
    // granularity, Lee et al. 2022): per-doc span counts, corpus-wide
    // duplicated spans, and global first-occurrence retention
    "span_dedup_stats" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Spans.spanStats(
        tbl(spark, dir, "documents"), "doc_id", "text", n = 10, stride = 5)
        .orderBy($"doc_id")
    }),

    // the rewrite spanStats only measures: cut non-keeper duplicated
    // 8-token chunks and rebuild the text (Lee et al. retention at
    // token-window resolution); the oracle replays chunking, keeper
    // choice AND the position-ordered reassembly (md5 of the rebuilt
    // text keeps the compared output compact)
    "span_drop_rewrite" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Spans.dropDuplicatedSpans(
        tbl(spark, dir, "documents"), "doc_id", "text", n = 8)
        .select($"doc_id", $"n_spans", $"n_dropped_spans",
          md5($"clean_text").as("clean_md5"))
        .orderBy($"doc_id")
    }),

    // Lee et al. ExactSubstr at ARBITRARY alignment (stride-1 windows):
    // a duplicated run collides at ANY offset, where the chunk-grid
    // rewrite above only catches grid-aligned dups. The corpus has no
    // organic cross-doc runs, so the query plants straddling copies:
    // for doc_id % 9 == 2, a 12-token infix (source positions 2..13)
    // re-enters a synthetic doc at position 1 — a different alignment
    // mod 8. Planted ids sit at +100M: the (doc_id, pos) packing needs
    // NON-NEGATIVE ids, so the negative-id planting convention of
    // cross_corpus_dedup deliberately does not apply here
    "exact_substr_rewrite" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents").select($"doc_id", $"text")
      val planted = docs.filter($"doc_id" % 9 === 2)
        .select(($"doc_id" + 100000000L).as("doc_id"),
          concat_ws(" ",
            concat(lit("pfx"), $"doc_id"),
            array_join(
              slice(graft.pipeline.TextAnalysis.tokens($"text"), 3, 12), " "),
            concat(lit("sfx"), $"doc_id")).as("text"))
      graft.pipeline.Spans.dropDuplicatedSubstrings(
        docs.unionByName(planted), "doc_id", "text", n = 8)
        .select($"doc_id", $"n_tokens", $"n_dropped_tokens",
          md5($"clean_text").as("clean_md5"))
        .orderBy($"doc_id")
    }),

    // span-level decontamination: excise from each training doc exactly
    // the >= 8-token runs it shares with the held-out slice (doc_id % 7
    // == 0 as the eval benchmark), keeping the rest — the surgical
    // sibling of decontaminate_filter's whole-doc drop. Planted
    // contaminated docs (+2e8 ids embedding a 12-token test slice
    // between unique pfx/sfx markers) make the excision non-vacuous and
    // alignment-independent
    "decontaminate_scrub" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents").select($"doc_id", $"text")
      val test = docs.filter($"doc_id" % 7 === 0)
      val planted = test.filter($"doc_id" % 21 === 0)
        .select(($"doc_id" + 200000000L).as("doc_id"),
          concat_ws(" ",
            concat(lit("pfx"), $"doc_id"),
            array_join(
              slice(graft.pipeline.TextAnalysis.tokens($"text"), 3, 12), " "),
            concat(lit("sfx"), $"doc_id")).as("text"))
      val train = docs.filter($"doc_id" % 7 =!= 0).unionByName(planted)
      graft.pipeline.Spans.scrubSharedSubstrings(
        train, test, "doc_id", "text", n = 8)
        .select($"doc_id", $"n_tokens", $"n_dropped_tokens",
          md5($"clean_text").as("clean_md5"))
        .orderBy($"doc_id")
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
    "decontaminate_semantic" -> ((spark, dir) => {
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
    }),

    // crawl front door: raw HTML -> text (codegen'd HtmlToText: strip
    // tags/script/style/comments, decode entities once, one line per
    // block element, pinned whitespace chain). The documents table has
    // no HTML, so the query wraps each doc's payload in a well-formed
    // fixture — '&' and '<' pre-stripped from the payload so every
    // entity/tag in play is planted and the oracle's RE2 replace chain
    // is exactly equivalent to the kernel on these shapes
    "html_extract" -> ((spark, dir) => {
      import spark.implicits._
      val payload = regexp_replace($"text", "[&<]", " ")
      val html = concat(
        lit("<html><head><title>t</title><style>p{x:1}</style>"),
        lit("<script>var a = 1 < 2;</script></head>"),
        lit("<body><!-- hidden <p>no</p> --><h1>Doc "), $"doc_id",
        lit("</h1><p class=\"b\">"), payload,
        lit("</p><ul><li>A &amp; B</li><li>&#72;&#x49;&nbsp;!</li></ul>"),
        lit("<div>tail</div></body></html>"))
      tbl(spark, dir, "documents")
        .select($"doc_id",
          graft.pipeline.TextAnalysis.htmlToText(html).as("clean"))
        .select($"doc_id",
          size(split($"clean", "\n", -1)).cast("long").as("n_lines"),
          md5($"clean").as("text_md5"))
        .orderBy($"doc_id")
    }),

    // RFC 6596 canonical-link extraction: planted <link rel=canonical>
    // declarations in BOTH attribute orders (doc_id%3: rel-first /
    // href-first / absent) — the page-author canonicalization signal the
    // recrawl keep-latest chain consumes
    "html_canonical" -> ((spark, dir) => {
      import spark.implicits._
      val link = when(pmod($"doc_id", lit(3)) === 0,
          concat(lit("<link rel=\"canonical\" href=\"https://corpus.test/c/"),
            $"doc_id", lit("\">")))
        .when(pmod($"doc_id", lit(3)) === 1,
          concat(lit("<link href='https://corpus.test/c/"), $"doc_id",
            lit("' rel=canonical>")))
        .otherwise(lit(""))
      val html = concat(lit("<html><head><title>t</title>"), link,
        lit("</head><body><p>"), regexp_replace($"text", "[&<]", " "),
        lit("</p></body></html>"))
      tbl(spark, dir, "documents")
        .select($"doc_id", graft.pipeline.Urls.htmlCanonicalUrl(html).as("canonical"))
        .select($"doc_id", $"canonical", ($"canonical" =!= "").as("has_canonical"))
        .orderBy($"doc_id")
    }),

    // sitemaps.org <loc> extraction: one synthetic sitemap per host
    // (8 hosts over the corpus; entries carry planted inner whitespace
    // to exercise the trim), the URL-discovery channel Robots.sitemapsOf
    // points the crawler at
    "sitemap_locs" -> ((spark, dir) => {
      import spark.implicits._
      val pieces = tbl(spark, dir, "documents")
        .select(pmod($"doc_id", lit(8)).as("host_id"),
          struct($"doc_id",
            concat(lit("<url><loc>\n https://h"), pmod($"doc_id", lit(8)),
              lit(".test/p/"), $"doc_id", lit(" \n</loc></url>")).as("p")).as("s"))
      pieces.groupBy($"host_id")
        .agg(concat(lit("<urlset>"),
          concat_ws("", transform(sort_array(collect_list($"s")),
            x => x.getField("p"))), lit("</urlset>")).as("xml"))
        .select($"host_id".cast("long").as("host_id"),
          graft.pipeline.Urls.sitemapLocs($"xml").as("locs"))
        .select($"host_id", size($"locs").cast("long").as("n_locs"),
          md5(array_join($"locs", " ")).as("locs_md5"))
        .orderBy($"host_id")
    }),

    // WARC ingestion front door (ISO 28500, the Common Crawl container):
    // synthetic member-per-record .warc.gz and plain files are built ON
    // EXECUTORS from the corpus docs (8 files, half gzipped, request +
    // response + warcinfo records), parsed back by Warc.warcDocuments,
    // and audited in-plan against the planted HTML — plus a garbage file
    // that must parse to nothing and a clipped file whose final record
    // must carry the truncated flag. Constant-boolean oracle (binary
    // container parse is not SQL-reproducible), the multimodal pattern
    "warc_extract" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.Warc
      val base = tbl(spark, dir, "documents")
        .filter($"doc_id" < 60)
        .select($"doc_id",
          concat(lit("<html><body><h1>D"), $"doc_id", lit("</h1><p>"),
            regexp_replace($"text", "[&<]", " "),
            lit("</p></body></html>")).as("html"))
      val files = base
        .withColumn("file_id", pmod($"doc_id", lit(8)))
        .groupBy($"file_id")
        .agg(sort_array(collect_list(
          struct($"doc_id".as("_1"), $"html".as("_2")))).as("items"))
        .select($"file_id".as("_1"), $"items".as("_2"))
        .as[(Long, Seq[(Long, String)])]
        .map { case (fid, items) =>
          Warc.WarcFile(fid, Warc.syntheticWarc(
            items.map { case (id, h) => (s"https://corpus.test/doc/$id", h) },
            gzipped = fid % 2 == 0))
        }
      val garbage = Seq(1000L).toDS().map(id =>
        Warc.WarcFile(id, s"totally not a warc $id".getBytes("UTF-8")))
      val truncated = Seq(9999L).toDS().map { id =>
        val whole = Warc.syntheticWarc(
          Seq(("https://corpus.test/trunc", "<p>clip me please</p>")),
          gzipped = false)
        Warc.WarcFile(id, java.util.Arrays.copyOfRange(whole, 0, whole.length - 10))
      }
      val parsed = Warc.warcDocuments(files.union(garbage).union(truncated))

      val organic = parsed.filter($"file_id" < 1000)
      val cmp = organic
        .select(regexp_extract($"target_uri", "doc/([0-9]+)", 1)
          .cast("long").as("doc_id"), $"html".as("got"))
        .join(base.withColumnRenamed("html", "want"), Seq("doc_id"), "full_outer")
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"got".isNull || $"want".isNull || $"got" =!= $"want",
            lit(1)).otherwise(lit(0))).as("n_bad"))
      // expected counts derived IN-PLAN from the corpus (not hard-coded),
      // so the audit holds at every scale factor
      val exp = base.agg(count(lit(1)).as("n_base"),
        sum(when(pmod($"doc_id", lit(2)) === 0, lit(1)).otherwise(lit(0)))
          .as("n_base_even"))
      val gzc = organic.filter(pmod($"file_id", lit(2)) === 0)
        .agg(count(lit(1)).as("n_gz"))
      val cor = parsed.filter($"file_id" === 1000L)
        .agg(count(lit(1)).as("n_corrupt"))
      val tr = parsed.filter($"file_id" === 9999L)
        .agg(count(lit(1)).as("n_trunc"),
          sum(when($"truncated", lit(1)).otherwise(lit(0))).as("n_flagged"))
      cmp.crossJoin(exp).crossJoin(gzc).crossJoin(cor).crossJoin(tr).select(
        ($"n_base" > 0 && $"n_rows" === $"n_base" && $"n_bad" === 0)
          .as("html_match"),
        ($"n_gz" === $"n_base_even").as("gzip_files_parsed"),
        ($"n_corrupt" === 0).as("corrupt_is_empty"),
        ($"n_trunc" === 1 && $"n_flagged" === 1).as("truncated_flagged"))
    }),

    // URL-level curation (C4/RefinedWeb family): host extraction,
    // registered-domain reduction, canonicalization, and a domain
    // blocklist anti join. The documents table has no URL column, so the
    // query plants one per doc from deterministic variant classes —
    // mixed-case hosts, userinfo, default and non-default ports, a
    // multi-part suffix, an IPv4 literal, tracking params, fragments —
    // and the oracle replays the identical construction plus the pinned
    // regex chain (shared constants export the suffix set and tracking
    // alternation, so the two engines cannot drift)
    "url_filter" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.Urls
      val blocked = Seq("Ads-Network.com", "spam-tracker.net").toDF("domain")
      Urls.withUrlColumns(
        Urls.filterBlockedDomains(plantedUrls(spark, dir), "url", blocked),
        "url")
        .select($"doc_id", $"host", $"domain", $"url_norm")
        .orderBy($"doc_id")
    }),

    // robots.txt crawl-admission gate (RFC 9309): planted per-host robots
    // bodies parsed into the graftbot rule table, then every planted URL
    // gets its longest-match verdict — group selection, `*`/`$` wildcards,
    // allow-wins ties, default-allow for unknown hosts all in play. The
    // oracle replays parse + grading + LIKE-translated matching from the
    // SAME constants via Robots.rulesSqlCtes
    "robots_gate" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.Robots
      val robots = RobotsFixture.toDF("host", "robots_txt")
      val rules = Robots.parseRules(robots, RobotsAgent)
      Robots.withRobotsVerdict(plantedUrls(spark, dir), "url", "doc_id", rules)
        .select($"doc_id", $"host", $"path", $"allowed")
        .orderBy($"doc_id")
    }),

    // robots metadata surfaces: per-host politeness delay for the agent
    // (group-scoped, specific-beats-*, max across combined groups,
    // integer-only pinned) and the file-scoped sitemap directives —
    // what a crawl scheduler reads next to the admission rules
    "robots_meta" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.Robots
      val robots = RobotsFixture.toDF("host", "robots_txt")
      val delays = Robots.crawlDelays(robots, RobotsAgent)
      val sitemaps = Robots.sitemapsOf(robots)
        .groupBy($"host")
        .agg(array_join(sort_array(collect_list($"sitemap")), "|").as("sitemaps_str"))
      robots.select($"host").distinct()
        .join(delays, Seq("host"), "left")
        .join(sitemaps, Seq("host"), "left")
        .select($"host",
          coalesce($"crawl_delay_s", lit(-1L)).as("crawl_delay_s"),
          coalesce($"sitemaps_str", lit("")).as("sitemaps_str"))
        .orderBy($"host")
    }),

    // recrawl snapshot versioning: each doc planted as 1-3 fetches whose
    // URL spelling drifts (tracking param on odd snaps — urlNormalize
    // collapses them to one page), content changing every 1st or 2nd
    // snap, one timestamp tie broken by the fetch id. keepLatest +
    // changeLog reduce to (latest version, churn stats) per canonical
    // URL; the oracle replays the same windows over the shared URL chain
    "recrawl_latest" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.Recrawl
      val snaps = tbl(spark, dir, "documents")
        .select($"doc_id", explode(sequence(lit(0), pmod($"doc_id", lit(3)))).as("snap"))
        .select($"doc_id", $"snap",
          ($"doc_id" * 10 + $"snap").as("fetch_id"),
          expr("1000 + (snap div 2)").cast("long").as("fetch_ts"),
          concat(lit("https://h"), pmod($"doc_id", lit(50)),
            lit(".example.com/p/"), $"doc_id",
            when(pmod($"snap", lit(2)) === 1, lit("?utm_source=s&x=1"))
              .otherwise(lit("?x=1"))).as("url"),
          concat(lit("content-"), $"doc_id", lit("-v"),
            expr("snap div (1 + doc_id % 2)")).as("content"))
      val changes = Recrawl.changeLog(snaps, "url", "fetch_ts", "fetch_id", "content")
        .groupBy($"url_norm")
        .agg(sum(when($"status" === "changed", 1).otherwise(0))
          .cast("long").as("n_changed"))
      Recrawl.keepLatest(snaps, "url", "fetch_ts", "fetch_id")
        .join(changes, Seq("url_norm"))
        .select($"url_norm", $"fetch_id".as("latest_id"),
          $"n_versions".cast("long").as("n_versions"), $"n_changed",
          md5($"content").as("content_md5"))
        .orderBy($"url_norm")
    }),

    // recrawl keyed by the AUTHOR-declared canonical (RFC 6596,
    // htmlCanonicalUrl's output): mirror-host fetches declaring an
    // absolute canonical fuse with the main page's versions; a relative
    // declaration is ignored (falls back to the fetch URL). Non-vacuous:
    // without the override the mirror snapshots would be separate keys
    "recrawl_canonical" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.Recrawl
      val snaps = tbl(spark, dir, "documents")
        .select($"doc_id", explode(sequence(lit(0), pmod($"doc_id", lit(3)))).as("snap"))
        .select($"doc_id", $"snap",
          ($"doc_id" * 10 + $"snap").as("fetch_id"),
          expr("1000 + snap").cast("long").as("fetch_ts"),
          when(pmod($"snap", lit(2)) === 1,
            concat(lit("https://m"), pmod($"doc_id", lit(50)),
              lit(".example.com/mirror/"), $"doc_id", lit("?x=1")))
            .otherwise(concat(lit("https://h"), pmod($"doc_id", lit(50)),
              lit(".example.com/p/"), $"doc_id", lit("?x=1"))).as("url"),
          when(pmod($"snap", lit(2)) === 1,
            concat(lit("https://h"), pmod($"doc_id", lit(50)),
              lit(".example.com/p/"), $"doc_id", lit("?x=1")))
            .when(pmod($"doc_id", lit(5)) === 0,
              concat(lit("/p/"), $"doc_id"))
            .otherwise(lit("")).as("canonical"),
          concat(lit("content-"), $"doc_id", lit("-v"),
            expr("snap div (1 + doc_id % 2)")).as("content"))
      val changes = Recrawl.changeLog(snaps, "url", "fetch_ts", "fetch_id",
          "content", canonicalCol = Some("canonical"))
        .groupBy($"url_norm")
        .agg(sum(when($"status" === "changed", 1).otherwise(0))
          .cast("long").as("n_changed"))
      Recrawl.keepLatest(snaps, "url", "fetch_ts", "fetch_id",
          canonicalCol = Some("canonical"))
        .join(changes, Seq("url_norm"))
        .select($"url_norm", $"fetch_id".as("latest_id"),
          $"n_versions".cast("long").as("n_versions"), $"n_changed",
          md5($"content").as("content_md5"))
        .orderBy($"url_norm")
    }),

    // the flagship sketch consuming the URL operators: top registered
    // domains per shard via topn_add_agg — URL-level corpus statistics
    // with bounded state, the reference operator on crawl metadata
    "topn_url_domains" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.Urls
      plantedUrls(spark, dir)
        .select(pmod($"doc_id", lit(3)).as("shard"),
          Urls.registeredDomain(Urls.urlHost($"url")).as("domain"))
        .groupBy($"shard")
        .agg(TopnFunctions.topn_add_agg($"domain", ExactN).as("sketch"))
        .select($"shard", explode(TopnFunctions.topn($"sketch", lit(5))).as("r"))
        .select($"shard", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"shard", $"frequency".desc, $"item")
    }),

    // outlink extraction feeding the URL operators: anchors planted in
    // the canonical <a href="..."> spelling (two absolute links per doc
    // + a relative one every third doc), extracted by the codegen'd
    // html_links kernel, then host/domain/normalize per link. The oracle
    // replays extraction as regexp_extract_all + the SAME urlSqlCtes
    // chain the url_filter oracle uses
    "html_links" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.{TextAnalysis, Urls}
      val dArr = array(PagerankDomains.map(lit): _*)
      val hostA = element_at(dArr, (pmod($"doc_id", lit(7)) + 1).cast("int"))
      val hostB = element_at(dArr, (pmod($"doc_id", lit(5)) + 1).cast("int"))
      val html = concat(
        lit("<p>intro</p><a href=\"https://"), hostA, lit("/d/"), $"doc_id",
        lit("?utm_x=1&q=2\">one</a><div><a href=\"http://"), hostB,
        lit("/p\">two</a></div>"),
        when(pmod($"doc_id", lit(3)) === 0,
          concat(lit("<a href=\"/rel/"), $"doc_id", lit("\">rel</a>")))
          .otherwise(lit("")))
      tbl(spark, dir, "documents").select($"doc_id", html.as("html"))
        .select($"doc_id", explode(TextAnalysis.htmlLinks($"html")).as("url"))
        .select($"doc_id", $"url",
          Urls.registeredDomain(Urls.urlHost($"url")).as("domain"),
          Urls.urlNormalize($"url").as("url_norm"))
        .orderBy($"doc_id", $"url")
    }),

    // anchor-text statistics per link TARGET: (href, text) pairs from the
    // codegen'd html_anchors kernel (inner-tag strip + whitespace
    // collapse), target reduced to its registered domain, anchor terms
    // counted with the reference sketch — "what the web calls this
    // domain", the classic target-side relevance/spam signal. The oracle
    // replays extraction as regexp_extract_all pairs + the shared URL
    // chain + exact GROUP BY with the pinned tie order
    "topn_anchor_terms" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.{TextAnalysis, Urls}
      val dArr = array(PagerankDomains.map(lit): _*)
      val hostA = element_at(dArr, (pmod($"doc_id", lit(7)) + 1).cast("int"))
      val hostB = element_at(dArr, (pmod($"doc_id", lit(5)) + 1).cast("int"))
      val html = concat(
        lit("<p>intro</p><a href=\"https://"), hostA, lit("/d/"), $"doc_id",
        lit("\">Visit <b>Portal</b>  page "), pmod($"doc_id", lit(4)),
        lit("</a><div><a href=\"http://"), hostB,
        lit("/p\">  mirror   copy  </a></div>"),
        when(pmod($"doc_id", lit(3)) === 0,
          concat(lit("<a href=\"/rel/"), $"doc_id", lit("\">relative link</a>")))
          .otherwise(lit("")))
      tbl(spark, dir, "documents").select($"doc_id", html.as("html"))
        .select(explode(TextAnalysis.htmlAnchors($"html")).as("a"))
        .select(Urls.registeredDomain(Urls.urlHost($"a.href")).as("domain"),
          explode(split($"a.text", " ")).as("term"))
        .filter($"domain" =!= "" && $"term" =!= "")
        .groupBy($"domain")
        .agg(TopnFunctions.topn_add_agg($"term", ExactN).as("sketch"))
        .select($"domain", explode(TopnFunctions.topn($"sketch", lit(6))).as("r"))
        .select($"domain", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"domain", $"frequency".desc, $"item")
    }),

    // domain-graph PageRank (the web-curation quality prior) in exact
    // integer fixed point — the Classifier training doctrine applied to
    // graph iteration: the oracle replays all K iterations as unrolled
    // CTE stages generated from the same constants. The planted graph
    // (7 domains; src by doc_id%7, dst by doc_id%3, plus one extra
    // planted edge) has asymmetric in/out degrees and dangling-decay
    // dynamics, so the ranks discriminate every rule
    "domain_pagerank" -> ((spark, dir) => {
      import spark.implicits._
      val dArr = array(PagerankDomains.map(lit): _*)
      val base = tbl(spark, dir, "documents").select(
        element_at(dArr, (pmod($"doc_id", lit(7)) + 1).cast("int")).as("src"),
        element_at(dArr, (pmod($"doc_id", lit(3)) + 1).cast("int")).as("dst"))
      val planted = Seq((PagerankDomains(2), PagerankDomains(6))).toDF("src", "dst")
      graft.pipeline.Graph.pageRank(
        base.unionByName(planted), "src", "dst", iterations = PagerankIters)
        .orderBy($"rank_e6".desc, $"node")
    }),

    // crawl-frontier prioritization (the scheduler side of the front
    // door): outlinks canonicalized, already-fetched pages removed by ONE
    // keyed anti join on the canonical URL, the remainder prioritized by
    // their target domain's PageRank, capped at 3 frontier slots per
    // domain (hash-partitioned rank window, no global sort). The oracle
    // replays extraction, both shared URL chains, the unrolled PageRank,
    // the NOT IN anti join, and the same capped window
    "crawl_frontier" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.Selection
      val (fetched, links) = frontierBase(spark, dir)
      val cand = links.select($"url_norm", $"domain").distinct()
        .join(fetched, Seq("url_norm"), "left_anti")
      val edges = links.select($"src", $"domain".as("dst"))
      val ranks = graft.pipeline.Graph.pageRank(edges, "src", "dst",
        iterations = PagerankIters)
      val prioritized = cand.join(ranks, cand("domain") === ranks("node"), "left")
        .select($"url_norm", $"domain", coalesce($"rank_e6", lit(0L)).as("rank_e6"))
      Selection.topKPerGroup(prioritized, "url_norm", "domain", 3, $"rank_e6")
        .select($"domain", $"url_norm", $"rank_e6", $"cap_rank")
        .orderBy($"domain", $"url_norm")
    }),

    // the frontier with BOTH discovery channels: outlinks AND sitemaps
    // (per-host sitemap XML bodies -> sitemapLocs -> the same URL chain),
    // unioned into one candidate set with per-channel provenance flags;
    // overlap planted (every 6th doc's sitemap repeats its outlink
    // target) so via_link AND via_sitemap both-true rows exist. Rank
    // edges come from links only — a sitemap asserts existence, not
    // endorsement.
    "crawl_frontier_sitemaps" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.{Selection, Urls}
      val (fetched, links) = frontierBase(spark, dir)

      val sitemaps = tbl(spark, dir, "documents")
        .filter($"doc_id" % 50 === 0)
        .select(plantedHost(7).as("host"), struct($"doc_id",
          concat(
            lit("<url><loc>\n https://"), plantedHost(7), lit("/a/"), $"doc_id",
            lit("?utm_z=1 \n</loc></url>"),
            when(pmod($"doc_id", lit(6)) === 0,
              concat(lit("<url><loc>https://"), plantedHost(5), lit("/d/"),
                pmod($"doc_id", lit(40)), lit("</loc></url>")))
              .otherwise(lit(""))).as("p")).as("s"))
        .groupBy($"host")
        .agg(concat(lit("<urlset>"),
          concat_ws("", transform(sort_array(collect_list($"s")),
            x => x.getField("p"))), lit("</urlset>")).as("xml"))
      val smCand = sitemaps
        .select(explode(Urls.sitemapLocs($"xml")).as("lurl"))
        .select(Urls.urlNormalize($"lurl").as("url_norm"),
          Urls.registeredDomain(Urls.urlHost($"lurl")).as("domain"))

      val cand = links.select($"url_norm", $"domain", lit(1).as("src_l"))
        .unionByName(smCand.select($"url_norm", $"domain", lit(0).as("src_l")))
        .join(fetched, Seq("url_norm"), "left_anti")
        .groupBy($"url_norm", $"domain")
        .agg((max($"src_l") === 1).as("via_link"),
          (min($"src_l") === 0).as("via_sitemap"))
      val edges = links.select($"src", $"domain".as("dst"))
      val ranks = graft.pipeline.Graph.pageRank(edges, "src", "dst",
        iterations = PagerankIters)
      val prioritized = cand.join(ranks, cand("domain") === ranks("node"), "left")
        .select($"url_norm", $"domain", $"via_link", $"via_sitemap",
          coalesce($"rank_e6", lit(0L)).as("rank_e6"))
      Selection.topKPerGroup(prioritized, "url_norm", "domain", 3, $"rank_e6")
        .select($"domain", $"url_norm", $"via_link", $"via_sitemap",
          $"rank_e6", $"cap_rank")
        .orderBy($"domain", $"url_norm")
    }),

    // the full PageRank surface in one gate: WEIGHTED edges (per-pair
    // weight sums drive proportional rank splits), a PERSONALIZED
    // teleport prior concentrated on a 2-domain seed set (non-seed nodes
    // get zero restart mass — reachable only through links), and the
    // L1-delta CONVERGENCE stop, whose stopped iteration is emitted as a
    // column so the oracle must land on the identical K by replaying the
    // same first-at-or-under-tolerance rule over the same exact integers
    "domain_pagerank_personalized" -> ((spark, dir) => {
      import spark.implicits._
      val dArr = array(PagerankDomains.map(lit): _*)
      val edges = tbl(spark, dir, "documents").select(
        element_at(dArr, (pmod($"doc_id", lit(7)) + 1).cast("int")).as("src"),
        element_at(dArr, (pmod($"doc_id", lit(3)) + 1).cast("int")).as("dst"),
        (pmod($"doc_id", lit(4)) + 1).as("w"))
      val prior = Seq((PagerankDomains(3), 3L), (PagerankDomains(0), 1L))
        .toDF("node", "prior")
      val (ranks, k) = graft.pipeline.Graph.pageRankConverged(
        edges, "src", "dst", maxIterations = PprMaxIters, tolE6 = PprTolE6,
        dampingPct = PprDamping, weightCol = Some("w"),
        personalization = Some(prior))
      ranks.withColumn("stopped_k", lit(k.toLong))
        .orderBy($"rank_e6".desc, $"node")
    }),

    // the crawl product's whole pitch in ONE flow (the reference analog:
    // sql/customer_reviews_query.sql:2-70's chained ingest -> rollup ->
    // re-aggregation -> report, done for the web-crawl domain): WARC
    // container bytes -> parsed records -> robots.txt admission (RFC
    // 9309, packed join-once gate) -> html_to_text + html_links ->
    // registered-domain URL gating -> link-graph PageRank as the
    // selection prior (top-4 domains) -> token-budget packed shards.
    // The binary container leg is audited IN-PLAN (round-trip equality
    // against the planted pages — not SQL-reproducible) and emitted as a
    // constant boolean column; everything from the text stage on is
    // HASH-EXACT against the oracle's replay of the same chain from the
    // documents table. Stage-boundary persists on the two multi-consumer
    // tables (base: files + audit; parsed: audit + text + link graph) —
    // the pipeline_full_curation doctrine.
    "pipeline_crawl_corpus" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.{Sampling, TextAnalysis, Urls, Warc}
      val dArr = array(PagerankDomains.map(lit): _*)
      val base = tbl(spark, dir, "documents").select($"doc_id",
        concat(lit("https://"),
          element_at(dArr, (pmod($"doc_id", lit(7)) + 1).cast("int")),
          lit("/doc/"), $"doc_id", lit("?utm_x=1#f")).as("url"),
        concat(lit("<html><body><h1>D"), $"doc_id", lit("</h1><p>"),
          regexp_replace($"text", "[&<]", " "),
          lit("</p><a href=\"https://"),
          element_at(dArr, (pmod($"doc_id", lit(5)) + 1).cast("int")),
          lit("/l/"), $"doc_id", lit("\">a</a><a href=\"https://"),
          element_at(dArr, (pmod($"doc_id", lit(3)) + 1).cast("int")),
          lit("/m\">b</a></body></html>")).as("html"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val files = base
        .withColumn("file_id", pmod($"doc_id", lit(16)))
        .groupBy($"file_id")
        .agg(sort_array(collect_list(
          struct($"url".as("_1"), $"html".as("_2")))).as("items"))
        .select($"file_id".as("_1"), $"items".as("_2"))
        .as[(Long, Seq[(String, String)])]
        .map { case (fid, items) =>
          Warc.WarcFile(fid, Warc.syntheticWarc(items, gzipped = fid % 2 == 0)) }
      val parsed = Warc.warcDocuments(files)
        .select($"target_uri".as("url"), $"html")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // container-leg audit: every planted page comes back byte-identical.
      // The equality is decided on a per-page (length, xxhash64) DIGEST
      // computed BEFORE the exchange (guide §2.3: shuffle keys + metadata,
      // not payloads) — the full_outer join previously shuffled every html
      // body twice just to compare bytes; the 16-byte digest pair carries
      // the same verdict (a silent corruption would need an xxhash64
      // collision AT the same length on the same URL), and byte-level
      // parser fidelity itself stays spec-pinned in WarcSpec.
      val digest = (h: org.apache.spark.sql.Column) =>
        struct(length(h).as("l"), xxhash64(h).as("h"))
      val warcOk = parsed.select($"url", digest($"html").as("got"))
        .join(base.select($"url", digest($"html").as("want")),
          Seq("url"), "full_outer")
        .agg(count(lit(1)).as("n"),
          // the digest STRUCT of a NULL html is non-null with NULL fields,
          // and struct equality treats NULL fields as equal — without the
          // explicit field checks a page NULL on both sides would pass
          // the audit where the oracle's `html IS NULL` spelling flags it
          // (r20 ADVICE)
          sum(when($"got".isNull || $"want".isNull ||
            $"got.l".isNull || $"want.l".isNull || $"got" =!= $"want",
            lit(1)).otherwise(lit(0))).as("bad"))
        .crossJoin(base.agg(count(lit(1)).as("n_base")))
        .select(($"n_base" > 0 && $"n" === $"n_base" && $"bad" === 0)
          .as("warc_roundtrip_ok"))
      // from here on the engine consumes PARSED crawl rows only
      val docs = parsed.select(
        regexp_extract($"url", "/doc/([0-9]+)", 1).cast("long").as("doc_id"),
        $"url", TextAnalysis.htmlToText($"html").as("text"))
      // robots admission (RFC 9309) gates CONTENT, not link observation:
      // the link graph below still sees every parsed page, but a
      // disallowed fetch contributes no document — the packed join-once
      // gate, same as the streaming recipe
      val admitted = graft.pipeline.Robots.filterDisallowedPacked(
        docs, "url", graft.pipeline.Robots.packRules(
          graft.pipeline.Robots.parseRules(
            CrawlRobotsFixture.toDF("host", "robots_txt"), RobotsAgent)))
      val edges = parsed.select(
        Urls.registeredDomain(Urls.urlHost($"url")).as("src"),
        explode(TextAnalysis.htmlLinks($"html")).as("link"))
        .select($"src", Urls.registeredDomain(Urls.urlHost($"link")).as("dst"))
      val ranks = graft.pipeline.Graph.pageRank(edges, "src", "dst",
        iterations = PagerankIters)
      val top4 = ranks.orderBy($"rank_e6".desc, $"node").limit(4)
        .select($"node".as("domain"))
      val blocked = Seq("ads-network.com", "spam-tracker.net").toDF("domain")
      val gated = Urls.filterBlockedDomains(admitted, "url", blocked)
        .select($"doc_id",
          Urls.registeredDomain(Urls.urlHost($"url")).as("domain"),
          TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
        .join(top4, Seq("domain"))
        .filter($"n_tokens" >= 10)
      Sampling.packByBudget(gated, "doc_id", "n_tokens", budget = 2048L)
        .select($"doc_id", $"domain", $"n_tokens", $"bin")
        .crossJoin(warcOk)
        .orderBy($"doc_id")
    }),

    // DSIR-style importance weights (arXiv:2302.03169): per-doc
    // log-likelihood-ratio sums against the lang='en' target slice, over
    // the paper's hashed feature space (8192 buckets) so the stats table
    // is bounded regardless of vocabulary size
    "dsir_weights" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Dsir.importanceWeightsHashed(
        tbl(spark, dir, "documents"), "doc_id", "text", col("lang") === "en",
        numBuckets = DsirBuckets)
        .orderBy($"doc_id")
    }),

    // BM25 ranked retrieval: top 20 docs for a fixed 3-term query
    "bm25_search" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Bm25.topK(
        tbl(spark, dir, "documents"), "doc_id", "text",
        Seq("spark", "dup", "customer"), k = 20)
        .orderBy($"score_e6".desc, $"doc_id")
    }),

    // cross-corpus exact dedup through a Bloom-pruned anti join: docs
    // with doc_id % 5 == 0 play the incoming batch, the rest the
    // accumulated reference corpus. The bloom filter only prunes — the
    // verifying anti join makes the result EXACT at any fpp, so the
    // oracle is the plain anti join
    "cross_corpus_dedup" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      val ref = docs.filter($"doc_id" % 5 =!= 0)
      // the corpus has no byte-exact dups across the split, so the batch
      // carries re-keyed copies of some reference docs: every planted doc
      // must be dropped, every organic one kept — non-vacuous both ways.
      // Planted ids are NEGATIVE (-id - 1): collision-free with organic
      // non-negative ids at any scale factor, no stride assumption
      val planted = ref.filter($"doc_id" % 7 === 1)
        .select((-$"doc_id" - 1L).as("doc_id"), $"text")
      val incoming = docs.filter($"doc_id" % 5 === 0)
        .select($"doc_id", $"text")
        .unionByName(planted)
      graft.pipeline.Dedup.crossCorpusDedup(
        incoming, ref, "doc_id", "text",
        expectedRefItems = 10000L, fpp = 0.03)
        .select($"doc_id", $"fingerprint")
        .orderBy($"doc_id")
    }),

    // CCNet head/middle/tail bucketing by exact top-fraction thresholds
    // (30/40/30 by n_chars here; in production, by negated LM surprise) —
    // the corpus is never globally sorted or windowed; the oracle replays
    // the same ceil-k + (score desc, id) tie rule via ROW_NUMBER
    "ccnet_buckets" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Selection.assignFractionBuckets(
        tbl(spark, dir, "documents").select($"doc_id", $"n_chars"),
        "doc_id", "n_chars", headPct = 30, middlePct = 40)
        .select($"doc_id", $"bucket")
        .orderBy($"doc_id")
    }),

    // epoch-style upsampling (LLaMA-table mixing): src0 2.5 epochs, src1
    // 1.3, src2 dropped, everything else 1 epoch — whole copies always
    // kept, the fractional replica hash-selected with the same portable
    // bucket as split/sample, so the oracle replays selection exactly
    "corpus_upsample" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Sampling.upsampleCorpus(
        tbl(spark, dir, "documents").select($"doc_id", $"source"),
        "doc_id", "source",
        Map("src0" -> 250, "src1" -> 130, "src2" -> 0), defaultPct = 100)
        .select($"doc_id", $"copy_id".cast("long").as("copy_id"), $"source")
        .orderBy($"doc_id", $"copy_id")
    }),

    // feature-hashing document embeddings (Weinberger et al. 2009): the
    // exact integer histogram tier is pinned by hash (counts_str); the
    // normalized float tier — not a cross-engine hash target — is
    // audited in-plan per doc (unit norm), the non-SQL-reproducible
    // pattern. The float tier re-runs the count plan; audit-only cost
    "hashed_embedding" -> ((spark, dir) => {
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
    }),

    // trainable quality classifier (fastText-style hashed features): 3
    // exact fixed-point GD steps on the lang='en' slice, then score every
    // doc — the oracle replays TRAINING itself (no transcendentals)
    "quality_classifier" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Classifier.trainScores(
        tbl(spark, dir, "documents"), "doc_id", "text", col("lang") === "en",
        numBuckets = ClsBuckets, iters = ClsIters,
        etaNum = ClsEtaNum, etaDen = ClsEtaDen, bigrams = true)
        .orderBy($"doc_id")
    }),

    // TRAINED multi-class language-ID (the fastText lid shape): one
    // linear head per language in the corpus, all trained at once over
    // one shared hashed-feature scan by exact fixed-point GD, then every
    // doc predicted by pinned argmax (score desc, class asc) — the
    // oracle replays the ENTIRE one-vs-rest training run plus the argmax
    // window, so the hash match covers the learned model, not just the
    // predictions. Class list comes from the data in BOTH engines.
    // Fixture truth: the testdata's languages share ONE synthetic
    // vocabulary (the lang column is text-uninformative by construction),
    // so majority-class prediction is the data optimum here — what this
    // row proves is cross-engine training exactness; learning CAPACITY
    // on separable data is pinned by ScoringSpec's random-corpus test
    // (>= 110/120 labels recovered).
    "language_classifier" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Classifier.trainMultiPredictions(
        tbl(spark, dir, "documents"), "doc_id", "text", "lang",
        numBuckets = ClsBuckets, iters = ClsIters,
        etaNum = ClsEtaNum, etaDen = ClsEtaDen)
        .orderBy($"doc_id")
    }),

    // the calibrated tier over the SAME training: per-doc margin
    // (top1 - top2, the thresholded-LID gate's input) and share_bp (the
    // predicted class's shifted-mass share in basis points — the exact
    // fixed-point stand-in for a softmax share a mixture weighter
    // consumes). The ENTIRE chain — K training iterations, argmax,
    // margin, share floor-division — replays in the oracle, so the hash
    // match covers the calibration arithmetic end to end
    "language_classifier_calibrated" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Classifier.calibratedFrom(
        lidModel(spark, dir), tbl(spark, dir, "documents"),
        "doc_id", "text", "lang")
        .orderBy($"doc_id")
    }),

    // the corpus-level language report CONSUMING the trained LID — the
    // shape a mixture/fertility decision actually reads: per PREDICTED
    // language, doc count, agreement with the labeled slice, and token
    // mass. Integer aggregates over the trained predictions, so the hash
    // match covers training -> argmax -> report end to end.
    "lang_report_trained" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      val preds = graft.pipeline.Classifier.predictionsFrom(
        lidModel(spark, dir), docs, "doc_id", "text", "lang")
      preds
        .join(docs.select($"doc_id",
          graft.pipeline.TextAnalysis.tokenCount($"text")
            .cast("long").as("__graft_nt")), "doc_id")
        .groupBy($"cls_pred".as("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"cls_actual" === $"cls_pred", 1L).otherwise(0L))
            .as("n_correct"),
          sum($"__graft_nt").as("n_tokens"))
        .orderBy($"lang_pred")
    }),

    // the thresholded-LID view of the SAME trained model: predictions
    // whose top1-top2 margin clears the corpus-median floor keep their
    // label, the rest land in an explicit 'und' bucket — the gate a
    // mixture weighter applies before trusting a language share. The
    // floor is the exact nearest-rank p50 of margin_e6 (self-calibrating
    // at any SF — raw one-vs-rest sums scale with corpus statistics, a
    // fixed e6 floor would not replay across scales), so training,
    // calibration, the percentile walk, the gate, and the rollup are ALL
    // inside the hash match
    "lang_report_gated" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      // persist boundary: the gate consumes its input twice (median
      // pass + gate pass) — scoreMulti's doc scan must not re-run
      val calibrated = graft.pipeline.Classifier.calibratedFrom(
        lidModel(spark, dir), docs, "doc_id", "text", "lang")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.pipeline.Classifier.gateAtMedianMargin(calibrated)
        .join(docs.select($"doc_id",
          graft.pipeline.TextAnalysis.tokenCount($"text")
            .cast("long").as("__graft_nt")), "doc_id")
        .groupBy($"cls_gated".as("lang_gated"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"cls_actual" === $"cls_gated", 1L).otherwise(0L))
            .as("n_correct"),
          sum($"__graft_nt").as("n_tokens"))
        .orderBy($"lang_gated")
    }),

    // the gate FEEDING the mixing decision: confident 'en' kept whole,
    // the undetermined bucket down-sampled hard (25%), everything else
    // at half — mixCorpus' deterministic hash keep over the GATED label,
    // reported as in/kept doc + token counts per bucket (the table a
    // mixture weighter actually ships). The keep rule is the portable
    // hash bucket, so training -> calibration -> gate -> sample ->
    // rollup hash-replays end to end
    "mixture_gated_lid" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      // persist boundaries: the gate reads its input twice, and the
      // in/kept rollups read the labeled table twice — without them the
      // whole scoring chain re-executes 4x (measured 3.5s -> ~1s at
      // sf0.1)
      val calibrated = graft.pipeline.Classifier.calibratedFrom(
        lidModel(spark, dir), docs, "doc_id", "text", "lang")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val gated = graft.pipeline.Classifier.gateAtMedianMargin(calibrated)
      val labeled = docs
        .select($"doc_id", graft.pipeline.TextAnalysis.tokenCount($"text")
          .cast("long").as("__graft_nt"))
        .join(gated.select($"doc_id", $"cls_gated"), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val kept = graft.pipeline.Sampling.mixCorpus(labeled, "doc_id",
        "cls_gated", pctByGroup = Map("en" -> 100, "und" -> 25),
        defaultPct = 50)
      labeled
        .groupBy($"cls_gated".as("lang_gated"))
        .agg(count(lit(1)).as("n_docs_in"),
          sum($"__graft_nt").as("n_tokens_in"))
        .join(
          kept.groupBy($"cls_gated".as("lang_gated"))
            .agg(count(lit(1)).as("n_docs_kept"),
              sum($"__graft_nt").as("n_tokens_kept")),
          Seq("lang_gated"), "left")
        .select($"lang_gated", $"n_docs_in",
          coalesce($"n_docs_kept", lit(0L)).as("n_docs_kept"),
          $"n_tokens_in",
          coalesce($"n_tokens_kept", lit(0L)).as("n_tokens_kept"))
        .orderBy($"lang_gated")
    }),

    // train/serve split: the model trained on the EVEN half scores the
    // ODD half it never saw — the production serve pattern (frozen
    // model, out-of-sample docs; every other classifier row scores its
    // own training corpus). Report per language: training-slice label
    // counts vs held-out predictions + agreement, full-outer so a class
    // absent on either side still shows. Training on the half, scoring
    // of the other, the argmax, and the rollup all hash-replay
    "lang_holdout_report" -> ((spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      val train = docs.filter($"doc_id" % 2 === 0)
      val holdout = docs.filter($"doc_id" % 2 =!= 0)
      val w = graft.pipeline.Classifier.trainMulti(
        train, "doc_id", "text", "lang",
        numBuckets = ClsBuckets, iters = ClsIters,
        etaNum = ClsEtaNum, etaDen = ClsEtaDen)
      val preds = graft.pipeline.Classifier.predictionsFrom(
        graft.pipeline.Classifier.MultiModel(w, ClsBuckets),
        holdout, "doc_id", "text", "lang")
      val ta = train.groupBy($"lang")
        .agg(count(lit(1)).as("n_train_docs"))
      val ha = preds.groupBy($"cls_pred".as("lang"))
        .agg(count(lit(1)).as("n_holdout_pred"),
          sum(when($"cls_actual" === $"cls_pred", 1L).otherwise(0L))
            .as("n_holdout_agree"))
      ta.join(ha, Seq("lang"), "full_outer")
        .select($"lang",
          coalesce($"n_train_docs", lit(0L)).as("n_train_docs"),
          coalesce($"n_holdout_pred", lit(0L)).as("n_holdout_pred"),
          coalesce($"n_holdout_agree", lit(0L)).as("n_holdout_agree"))
        .orderBy($"lang")
    }),

    // example packing (GPT-style pretraining layout): the corpus as one
    // token stream cut into 512-token training sequences, documents
    // SPLIT across boundaries so every context window is exactly full —
    // pack_bins' whole-doc twin keeps bins ragged instead. Pure integer
    // arithmetic over a prefix sum; the oracle replays it with a window
    // sum + per-doc series expansion
    "pack_sequences" -> ((spark, dir) => {
      import spark.implicits._
      val d = tbl(spark, dir, "documents").select($"doc_id",
        graft.pipeline.TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      graft.pipeline.Sampling.packSequences(d, "doc_id", "n_tokens", seqLen = 512L)
        .select($"doc_id", $"seq_id", $"frag_start", $"frag_len")
        .orderBy($"doc_id", $"seq_id")
    }),

    // SFT packing with loss masks: each doc a (prompt, response) pair —
    // prompt = the first third of its tokens (deterministic synthetic
    // split) — packed as a token stream with per-fragment loss intervals
    // in SEQUENCE coordinates (response spans train, prompt spans don't).
    // Pure integer arithmetic; the oracle replays layout AND mask
    "pack_sft_sequences" -> ((spark, dir) => {
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
    }),

    // multi-turn chat SFT: documents re-shaped into conversations (conv
    // = doc_id % 101, 8-token turns alternating user/assistant), rendered
    // with <|role|> headers + per-assistant-turn loss intervals, then
    // tiled into 512-token windows with the intervals clipped to sequence
    // coordinates — the multi-interval generalization of
    // pack_sft_sequences' single prompt prefix. Exact integer arithmetic
    // + whitespace tokens end to end; the oracle replays turn chunking,
    // conversation rebuild, offsets, window tiling and clipping
    "chat_sft_pack" -> ((spark, dir) => {
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
    }),

    // the materialized chat deliverable: chat_sft_pack's conversations as
    // word-id arrays packed by Chat.packTokenIds — rendered tokens get
    // dense lexicographic ids (the buildVocab doctrine at word level, so
    // the oracle replays the vocab as ROW_NUMBER over distinct tokens),
    // and each 256-token window carries input_ids + doc_starts +
    // in-window loss intervals, the loader-consumable form of the
    // multi-turn mask. The oracle rebuilds the rendered token stream
    // turn-by-turn (header + content positions), re-derives the ids, and
    // replays the tiling, slicing and interval clipping
    "chat_pack_token_ids" -> ((spark, dir) => {
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
    }),

    // the materialized training sequences behind pack_sequences: each
    // 512-token context window's actual text, assembled in stream order
    // from every document fragment it overlaps (md5 keeps the compared
    // output compact); the oracle rebuilds the same stream with a global
    // token position
    "pack_sequences_text" -> ((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Sampling.assembleSequences(
        tbl(spark, dir, "documents"), "doc_id", "text", seqLen = 512L)
        .select($"seq_id", $"n_tokens", md5($"seq_text").as("seq_md5"))
        .orderBy($"seq_id")
    }),

    // the tokenizer -> packing composition closed: corpus-derived BPE
    // vocabulary -> documents as token-id arrays -> fixed 256-token
    // training windows of input_ids with doc_starts boundaries — NO text
    // round-trip (a BPE merge spanning a fragment cut makes
    // text-then-retokenize inexact). Spark runs the production vocab
    // walk; the oracle replays the literal chain, the prefix sum, and
    // the window tiling, and checks every id and every boundary
    "pack_token_sequences" -> ((spark, dir) => {
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
    }),

    // the SFT deliverable: BPE token-id docs whose first third is prompt,
    // packed into 256-token windows with in-window loss intervals — the
    // loader ORs them into per-window loss masks. Interval arithmetic is
    // pack_sft_sequences' (oracle replays layout + mask over the same
    // BPE id stream); rendered as strings like pack_token_sequences
    "pack_masked_token_ids" -> ((spark, dir) => {
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
    }),

    // THE PRODUCT IN ONE QUERY: the full daily-curation chain — bloom
    // front door (exact dedup vs the reference corpus) -> near-dup
    // candidates + CC keep-list within the batch -> decontamination vs a
    // held-out benchmark slice -> Gopher rule gate -> trained-classifier
    // scores -> CCNet head/middle/tail bucketing (tail cut) -> epoch
    // upsampling (head 2x) -> budget-packed shards. Every stage is an
    // operator with its own green oracle row; this chains their SQL
    // spellings end to end, classifier TRAINING included. Planted
    // re-keyed reference copies prove the front door fires; the rest of
    // the knobs are the per-operator query defaults.
    // the attrition funnel over the SAME chain — the per-stage survivor
    // counts a pipeline operator reads before shipping: how much mass the
    // exact front door, the near-dup keep-list, decontamination, the
    // quality gate, and the classifier tail cut each removed. One shared
    // MATERIALIZED stage store with pipeline_full_curation
    // (curationStorePath), so the funnel can never describe a different
    // chain than the one that ships — and prices COUNTS over the written
    // stage tables, not a second full chain run (parquet-footer counts:
    // the cost a production funnel report actually has).
    "curation_funnel" -> ((spark, dir) => {
      import spark.implicits._
      val p = curationStorePath(spark, dir)
      Seq(
        "00_incoming" -> "incoming",
        "01_exact_front_door" -> "fresh",
        "02_neardup_keep" -> "kept",
        "03_decontaminated" -> "decon",
        "04_quality_gate" -> "gophered",
        "05_head_middle" -> "bucketed")
        .map { case (stage, t) =>
          spark.read.parquet(s"$p/$t")
            .agg(count(lit(1)).cast("long").as("n_docs"))
            .select(lit(stage).as("stage"), $"n_docs")
        }
        .reduce(_ unionByName _)
        .orderBy($"stage")
    }),

    "pipeline_full_curation" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline._
      val p = curationStorePath(spark, dir)
      val Seq(bucketed, fresh, labels) = Seq("bucketed", "fresh", "labels")
        .map(t => spark.read.parquet(s"$p/$t"))
      val upsampled = Sampling.upsampleCorpus(
        bucketed.select($"doc_id", $"bucket", $"text"),
        "doc_id", "bucket", Map("head" -> 200, "middle" -> 100), defaultPct = 0)
      val weighted = upsampled.select(
        ($"doc_id" * 4 + $"copy_id").as("uid"), $"doc_id",
        $"copy_id".cast("long").as("copy_id"),
        TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      // leakage-safe split keyed by NEAR-DUP CLUSTER (the split_by_cluster
      // spelling), reusing the SAME labels the keep stage derived — cluster
      // members share a split by construction, so near-identical documents
      // (and every upsampled copy) can never straddle train and eval. The
      // assignment is over the full post-front-door batch, so it is stable
      // even for docs later removed by dedup/decon/quality.
      val assigned = Sampling.groupSplit(
        fresh.join(labels, Seq("doc_id"), "left")
          .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id")),
        "cluster_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select($"doc_id", $"split_name")
      val withSplit = weighted.join(assigned, Seq("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // pack PER SPLIT: shards are train-only or eval-only — a shared bin
      // would mix splits inside one shard file
      val packed = Seq("train", "val", "test").map { s =>
        Sampling.packByBudget(
          withSplit.filter($"split_name" === s), "uid", "n_tokens", budget = 2048L)
      }.reduce(_ unionByName _)
      packed
        .select($"doc_id", $"copy_id", $"n_tokens", $"split_name", $"bin")
        .orderBy($"doc_id", $"copy_id")
    })
  )

  /** Cache key for per-JVM fixture-derived state: the data dir PLUS a
    * cheap fixture fingerprint, so a fixture regenerated at the same dir
    * within one JVM gets a fresh entry instead of a stale cache hit.
    * The fingerprint folds in the part files' total length, count, and
    * max mtime — not the directory mtime alone, whose 1-second (or
    * coarser) resolution on several filesystems would let a same-second
    * rewrite serve the old corpus from the stores. */
  private def fixtureKey(dir: String, name: String): String = {
    val root = new java.io.File(s"$dir/$name.parquet")
    // a table may be one parquet FILE (the driver fixtures) or a Spark
    // directory of part files — fold length(s) + count + max mtime into
    // the key either way, so a same-second rewrite still misses
    val parts = Option(root.listFiles()).filter(_.nonEmpty)
      .getOrElse(Array(root))
    val sig = parts.foldLeft((0L, 0L, root.lastModified())) {
      case ((len, n, mt), f) => (len + f.length(), n + 1, math.max(mt, f.lastModified()))
    }
    s"$dir/$name@${sig._1}:${sig._2}:${sig._3}"
  }

  /** Temp directories created by per-JVM caches, deleted recursively at
    * JVM exit (File.deleteOnExit cannot remove non-empty directories). */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempDirs.forEach { d =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
            .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => }
      }
    }))
  }

  /** Once-per-JVM materialized fingerprint store for
    * `incremental_neardup_op`: the op prices a daily probe against
    * PERSISTED state, so the state must exist before the clock starts.
    * Keyed on [[fixtureKey]]; the temp dirs are reaped at JVM exit. */
  private val incStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def incrementalStorePath(spark: SparkSession, dir: String): String =
    incStoreCache.computeIfAbsent(fixtureKey(dir, "documents"), _ => {
      import graft.pipeline.{Dedup, TextAnalysis}
      val fps = tbl(spark, dir, "documents")
        .filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          Dedup.simhash64(TextAnalysis.tokens(col("text"))).as("fp"))
      val out = java.nio.file.Files
        .createTempDirectory("graft_inc_store").toString
      tempDirs.add(out)
      fps.write.mode("overwrite").parquet(s"$out/fps")
      fps.select(col("doc_id"), col("doc_id").as("cluster_id"))
        .write.mode("overwrite").parquet(s"$out/labels")
      out
    })

  /** Once-per-JVM row count of a fixture table (same [[fixtureKey]]
    * staleness rule) — the table-stats stand-in that lets AutoBits callers
    * skip the per-call plan-build count() job (Similarity.lshNearDupPairs
    * `knownCount`): at cluster scale the catalog serves this number; here
    * one parquet-footer count per JVM per fixture does. */
  private val tableCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def fixtureCount(spark: SparkSession, dir: String, name: String): Long =
    tableCountCache.computeIfAbsent(fixtureKey(dir, name),
      _ => tbl(spark, dir, name).count())

  /**
   * Operator-only subplans of the queries whose CORRECTNESS spelling
   * embeds an in-plan verification twin (`dedup_simhash` carries an O(n²)
   * brute-force check, the `ann_*`/`lsh_neardup_pairs` queries a
   * brute-force recall comparison, `semantic_dedup` an independent
   * self-join + CC audit). The twins are the right correctness design —
   * approximate output is not SQL-reproducible — but they dominate the
   * measured time, so Bench times THESE alongside: the operator a user
   * actually runs, without its verifier. Not part of the driver's oracle
   * gate (the twinned queries stay in [[queries]]).
   */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the monthly rollup at the reference's DEFAULT budget (1000
    // counters, topn.c:49) — what a production user pays for the
    // mergeable sketch. topn_union_agg_rollup keeps ExactN (2M) because
    // hash-matching the DuckDB oracle IS the correctness gate, but that
    // budget is ~2000x the default and prices verification, not use
    // (the r16 anchor-basket note quantifies the gap)
    "topn_rollup_budget1000_op" -> ((spark, dir) => {
      import spark.implicits._
      val monthly = tbl(spark, dir, "orders")
        .groupBy(date_trunc("month", $"o_orderdate").as("month"))
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), 1000).as("sketch"))
      monthly
        .agg(TopnFunctions.topn_union_agg($"sketch", 1000).as("merged"))
        .select(explode(TopnFunctions.topn($"merged", lit(25))).as("r"))
        .select($"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"frequency".desc, $"item")
    }),
    // the NAIVE wide frame: the same 30-period merge via slidingUnion's
    // rank-range join, which replicates every period's sketch 30x — the
    // head-to-head twin that prices slidingUnionWideFrame's decomposition
    "topn_window_30day_rangejoin_op" -> ((spark, dir) => {
      import spark.implicits._
      val daily = tbl(spark, dir, "orders")
        .groupBy(date_format($"o_orderdate", "yyyy-MM-dd").as("day"))
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
      graft.operators.Rollups.slidingUnion(daily, "day", "sketch", frameRows = 30, ExactN)
        .select($"day", explode(TopnFunctions.topn($"sketch", lit(5))).as("r"))
        .select($"day", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"day", $"frequency".desc, $"item")
    }),
    // the NAIVE as-of: inequality join (user, view_ts <= ts) exploding
    // every (click, preceding view) pair before a per-click argmax — the
    // spelling asof_latest_view's union-trick window avoids; timed
    // head-to-head so the plan claim is a measured fact
    "asof_rangejoin_op" -> ((spark, dir) => {
      import spark.implicits._
      val ev = graft.sources.Tables.events(spark, dir)
      val views = ev.filter($"event_type" === "view")
        .groupBy($"user_id", $"ts").agg(max($"event_id").as("view_event_id"))
        .select($"user_id".as("v_user"), $"ts".as("view_ts"), $"view_event_id")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", $"ts")
      clicks.join(views, $"user_id" === $"v_user" && $"view_ts" <= $"ts", "left")
        .groupBy($"event_id", $"user_id", $"ts")
        .agg(max(struct($"view_ts", $"view_event_id")).as("m"))
        .select($"event_id", $"user_id", $"ts",
          $"m.view_event_id".as("view_event_id"), $"m.view_ts".as("view_ts"))
    }),
    "dedup_simhash_op" -> ((spark, dir) => {
      graft.pipeline.Dedup.simhashPairs(
        tbl(spark, dir, "documents"), "doc_id", "text", maxDist = 3)
    }),
    "ann_lsh_top10_op" -> ((spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      graft.pipeline.Similarity.lshTopK(
        emb, emb.filter($"vec_id" < 20), "vec_id", "embedding", k = 10, dim = 64)
    }),
    "ann_ivf_top10_op" -> ((spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      val model = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 16)
      graft.pipeline.IVF.topK(
        emb, emb.filter($"vec_id" < 20), "vec_id", "embedding", k = 10, model, nprobe = 4)
    }),
    "ann_ivfpq_top10_op" -> ((spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      val ivf = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 16)
      val pq = graft.pipeline.Pq.train(emb, "vec_id", "embedding", m = 16, ks = 16)
      graft.pipeline.Pq.topK(
        emb, emb.filter($"vec_id" < 20), "vec_id", "embedding", k = 10,
        pq, ivf, nprobe = 8, rerank = 50)
    }),
    // the audit a user actually schedules: one driftScore pass over the
    // LIVE corpus (the correctness row adds the planted-shift twin, which
    // is verification, not operator cost)
    "pq_drift_op" -> ((spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings")
      val ivf = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 16)
      val pq = graft.pipeline.Pq.train(emb, "vec_id", "embedding", m = 16, ks = 16)
      graft.pipeline.Pq.driftScore(
        graft.pipeline.Pq.index(emb, "vec_id", "embedding", pq, ivf),
        emb, emb.filter($"vec_id" < 20), "vec_id", "embedding",
        k = 10, pq, ivf, nprobe = 8, rerank = 50)
    }),
    "lsh_neardup_pairs_op" -> ((spark, dir) => {
      graft.pipeline.Similarity.lshNearDupPairs(
        tbl(spark, dir, "embeddings"), "vec_id", "embedding", topPairs = 50, dim = 64,
        knownCount = fixtureCount(spark, dir, "embeddings"))
    }),
    "semantic_dedup_op" -> ((spark, dir) => {
      val emb = tbl(spark, dir, "embeddings")
      val model = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 8)
      graft.pipeline.SemDedup.labels(emb, "vec_id", "embedding", model, 0.4)
    }),
    // the decontamination a user actually runs: probed-cell operator +
    // removal, WITHOUT the correctness row's brute-force cross-join audit
    "decontaminate_semantic_op" -> ((spark, dir) => {
      import spark.implicits._
      val emb = tbl(spark, dir, "embeddings").select($"vec_id", $"embedding")
      val evalSet = emb.filter($"vec_id" % 13 === 0)
      val train = emb.filter($"vec_id" % 13 =!= 0)
      val model = graft.pipeline.IVF.train(emb, "vec_id", "embedding", k = 8)
      graft.pipeline.SemDedup.removeContaminatedSemantic(
        train, evalSet, "vec_id", "embedding", model, tau = 0.9, nprobe = 2)
    }),
    // the embedding a user computes (the correctness query adds the
    // integer-tier join + unit-norm audit on top)
    "hashed_embedding_op" -> ((spark, dir) => {
      graft.pipeline.Embedding.hashedEmbedding(
        tbl(spark, dir, "documents"), "doc_id", "text", 64)
    }),
    // the daily-ingest path alone: incremental candidates + incremental
    // relabel. The correctness query's batch twins, store CC and label
    // comparison are verification, not operator cost — in production the
    // store's labels are PERSISTED state, so the twin seeds them as
    // singletons (a no-prior-merges store) rather than re-deriving them
    // The store's fingerprints AND labels are PERSISTED state written by
    // yesterday's run, so they materialize to parquet ONCE per JVM and
    // the row prices the PROBE (fresh fp compute + candidate join +
    // relabel) over a read store. Rebuilding the store inside the row was
    // what made the r12/r13 recordings swing ±50%: the rebuild's
    // shuffle-write I/O dominated and priced the machine, not the op.
    "incremental_neardup_op" -> ((spark, dir) => {
      import spark.implicits._
      import graft.pipeline.{Clustering, Dedup, TextAnalysis}
      val storeDir = incrementalStorePath(spark, dir)
      val store = spark.read.parquet(s"$storeDir/fps")
      val storeLabels = spark.read.parquet(s"$storeDir/labels")
      val fresh = tbl(spark, dir, "documents")
        .filter($"doc_id" % 5 === 0)
        .select($"doc_id",
          Dedup.simhash64(TextAnalysis.tokens($"text")).as("fp"))
      Clustering.incrementalUpdate(storeLabels,
        Dedup.incrementalFingerprintPairs(fresh, store, "doc_id", "fp", 3),
        "doc_a", "doc_b")
    }),
    // the production-vocabulary BPE tier end-to-end at real vocabulary
    // size: the demo rules (which actually fire on text) padded to 50k
    // with synthetic rules the rank-ordered worklist skips — most of a
    // real 50k vocabulary never fires on any one document, so this IS
    // the production cost shape. One plan node, one scan, one 1-row agg;
    // the demo-vocabulary twin with its SQL-replayable literal chain is
    // measured by `pack_bins_bpe`
    "bpe_vocab_count_op" -> ((spark, dir) => {
      import spark.implicits._
      val merges = graft.pipeline.Bpe.DemoMerges ++
        (0 until 50000).map(i => (s"Z$i", s"Q$i"))
      tbl(spark, dir, "documents")
        .select(graft.pipeline.Bpe.tokenCountVocab($"text", merges).as("n"))
        .agg(sum($"n").as("total_bpe_tokens"))
    }),

    // the production ENCODE tier at the same 50k-rule vocabulary — the
    // pieces materialize (hashed so the full arrays are consumed, not
    // pruned to a size); bit_xor folds the hashes order-free, where an
    // ANSI sum of 64-bit hashes overflows
    "bpe_vocab_encode_op" -> ((spark, dir) => {
      import spark.implicits._
      val merges = graft.pipeline.Bpe.DemoMerges ++
        (0 until 50000).map(i => (s"Z$i", s"Q$i"))
      tbl(spark, dir, "documents")
        .select(xxhash64(graft.pipeline.Bpe.encodeVocab($"text", merges)).as("h"))
        .agg(bit_xor($"h").as("pieces_hash_sum"))
    }))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** The full-curation oracle's stage CTEs (front door through the
    * head/middle/tail bucketing, classifier training included) — shared
    * by the `pipeline_full_curation` and `curation_funnel` oracles. */
  private lazy val curationOracleCtes: String = {
    val (clsCtes, clsOut) = graft.pipeline.Classifier.classifierCtes(
      "gq", "lang = 'en'", ClsBuckets, ClsIters, ClsEtaNum, ClsEtaDen, prefix = "pc")
    s"""fp0 AS (
        |  SELECT doc_id, text, lang,
        |         md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS f
        |  FROM documents),
        |refd AS (SELECT doc_id, text, lang, f FROM fp0 WHERE doc_id % 5 <> 0),
        |pl AS (SELECT -doc_id - 1 AS doc_id, text, lang, f FROM refd WHERE doc_id % 7 = 1),
        |inc AS (SELECT doc_id, text, lang, f FROM fp0 WHERE doc_id % 5 = 0
        |        UNION ALL SELECT doc_id, text, lang, f FROM pl),
        |fresh AS (SELECT doc_id, text, lang FROM inc i
        |          WHERE NOT EXISTS (SELECT 1 FROM refd r WHERE r.f = i.f)),
        |jt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM fresh),
        |jsh AS (SELECT doc_id,
        |          CASE WHEN len(toks) >= 3
        |               THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |               ELSE [] END AS shingles
        |        FROM jt),
        |jex AS (SELECT doc_id, unnest(shingles) AS s FROM jsh),
        |jshared AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS ns
        |            FROM jex x JOIN jex y ON x.s = y.s AND x.doc_id < y.doc_id
        |            GROUP BY 1, 2),
        |jsz AS (SELECT doc_id, len(shingles) AS n FROM jsh),
        |jpairs AS (SELECT a AS u, b AS v
        |           FROM jshared JOIN jsz za ON jshared.a = za.doc_id
        |                        JOIN jsz zb ON jshared.b = zb.doc_id
        |           WHERE CAST(ns AS DOUBLE) / CAST(za.n + zb.n - ns AS DOUBLE) >= 0.5),
        |jsym AS (SELECT u, v FROM jpairs UNION SELECT v, u FROM jpairs),
        |jreach AS (SELECT u, v FROM jsym
        |           UNION SELECT r.u, s2.v FROM jreach r JOIN jsym s2 ON r.v = s2.u),
        |jlab AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM jreach GROUP BY u),
        |keepd AS (SELECT fr.doc_id, fr.text, fr.lang
        |          FROM fresh fr LEFT JOIN jlab l ON fr.doc_id = l.doc_id
        |          WHERE l.cluster_id IS NULL OR l.cluster_id = fr.doc_id),
        |bt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        |       FROM documents WHERE doc_id % 31 = 4),
        |bsh AS (SELECT doc_id,
        |          CASE WHEN len(toks) >= 3
        |               THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |               ELSE [] END AS shingles
        |        FROM bt),
        |bex AS (SELECT DISTINCT unnest(shingles) AS s FROM bsh),
        |kt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM keepd),
        |ksh AS (SELECT doc_id,
        |          CASE WHEN len(toks) >= 3
        |               THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |               ELSE [] END AS shingles
        |        FROM kt),
        |kex AS (SELECT doc_id, unnest(shingles) AS s FROM ksh),
        |flagged AS (SELECT kex.doc_id FROM kex JOIN bex ON kex.s = bex.s
        |            GROUP BY 1 HAVING COUNT(DISTINCT kex.s) > 20),
        |decon AS (SELECT k.doc_id, k.text, k.lang FROM keepd k
        |          WHERE k.doc_id NOT IN (SELECT doc_id FROM flagged)),
        |gt AS (SELECT doc_id, text, lang,
        |              regexp_split_to_array(trim(text), '\\s+') AS toks,
        |              regexp_split_to_array(text, '\\n') AS lns
        |       FROM decon),
        |gf AS (SELECT doc_id, text, lang,
        |         CAST(len(toks) AS BIGINT) AS n_words,
        |         CAST(COALESCE(list_sum(list_transform(toks, w -> length(w))), 0) AS BIGINT) AS sum_word_len,
        |         CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        |         CAST(len(lns) AS BIGINT) AS n_lines,
        |         CAST(len(list_filter(lns, l -> starts_with(ltrim(l), '- ') OR starts_with(ltrim(l), '* '))) AS BIGINT) AS bullet_lines,
        |         CAST(len(list_filter(lns, l -> ends_with(rtrim(l), '...'))) AS BIGINT) AS ellipsis_lines,
        |         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hash_marks,
        |         CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS ellipses,
        |         CAST(len(list_intersect(list_distinct(list_transform(toks, w -> lower(w))),
        |              [${QualityProbeWords.map(w => s"'$w'").mkString(", ")}])) AS BIGINT) AS stop_hits
        |       FROM gt),
        |gq AS (SELECT doc_id, text, lang FROM gf
        |       WHERE n_words >= 20 AND n_words <= 100000
        |         AND sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words
        |         AND 10 * bullet_lines <= 9 * n_lines
        |         AND 10 * ellipsis_lines <= 3 * n_lines
        |         AND 10 * (hash_marks + ellipses) <= n_words
        |         AND 5 * alpha_words >= 4 * n_words
        |         AND stop_hits >= 2),
        |$clsCtes,
        |rk AS (SELECT q.doc_id, q.text, s.score_e6,
        |              ROW_NUMBER() OVER (ORDER BY s.score_e6 DESC, q.doc_id) AS rnk,
        |              COUNT(*) OVER () AS n
        |       FROM gq q JOIN $clsOut s ON q.doc_id = s.doc_id),
        |bucketed AS (SELECT doc_id, text,
        |               CASE WHEN rnk <= (30 * n + 99) // 100 THEN 'head'
        |                    WHEN rnk <= (70 * n + 99) // 100 THEN 'middle'
        |                    ELSE 'tail' END AS bucket
        |             FROM rk)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "topn_add_agg_groupby" ->
      """SELECT o_orderpriority, item, frequency FROM (
        |  SELECT o_orderpriority, CAST(o_custkey AS VARCHAR) AS item,
        |         COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY COUNT(*) DESC, CAST(o_custkey AS VARCHAR)) AS rn
        |  FROM orders GROUP BY 1, 2) t
        |WHERE rn <= 10
        |ORDER BY o_orderpriority, frequency DESC, item""".stripMargin,

    // exact below eviction through the fan-in tree -> the flat global
    // top-10 is the oracle
    "topn_hierarchical_union" ->
      """SELECT item, frequency FROM (
        |  SELECT CAST(o_custkey AS VARCHAR) AS item,
        |         COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
        |                            CAST(o_custkey AS VARCHAR)) AS rn
        |  FROM orders GROUP BY 1) t
        |WHERE rn <= 10
        |ORDER BY frequency DESC, item""".stripMargin,

    // the salted two-level build is exact below eviction, so the plain
    // unsalted count/rank oracle applies verbatim
    "topn_salted_groupby" ->
      """SELECT o_orderpriority, item, frequency FROM (
        |  SELECT o_orderpriority, CAST(o_custkey AS VARCHAR) AS item,
        |         COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY COUNT(*) DESC, CAST(o_custkey AS VARCHAR)) AS rn
        |  FROM orders GROUP BY 1, 2) t
        |WHERE rn <= 10
        |ORDER BY o_orderpriority, frequency DESC, item""".stripMargin,

    // weighted build is semantically identical to the per-row build
    "topn_weighted_groupby" ->
      """SELECT o_orderpriority, item, frequency FROM (
        |  SELECT o_orderpriority, CAST(o_custkey AS VARCHAR) AS item,
        |         COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY COUNT(*) DESC, CAST(o_custkey AS VARCHAR)) AS rn
        |  FROM orders GROUP BY 1, 2) t
        |WHERE rn <= 10
        |ORDER BY o_orderpriority, frequency DESC, item""".stripMargin,

    // inner join keeps only priorities present in both halves (all of
    // them, on this data); union of the half-sketches = full counts
    "topn_join_cte_sql" ->
      """SELECT o_orderpriority, item, frequency FROM (
        |  SELECT o_orderpriority, CAST(o_custkey AS VARCHAR) AS item,
        |         COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY COUNT(*) DESC, CAST(o_custkey AS VARCHAR)) AS rn
        |  FROM orders GROUP BY 1, 2) t
        |WHERE rn <= 10
        |ORDER BY o_orderpriority, frequency DESC, item""".stripMargin,

    "topn_lineitem_parts" ->
      """SELECT l_returnflag, item, frequency FROM (
        |  SELECT l_returnflag, CAST(l_partkey AS VARCHAR) AS item,
        |         COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                            ORDER BY COUNT(*) DESC, CAST(l_partkey AS VARCHAR)) AS rn
        |  FROM lineitem GROUP BY 1, 2) t
        |WHERE rn <= 20
        |ORDER BY l_returnflag, frequency DESC, item""".stripMargin,

    // exact per-month counts; each month's item universe = the union of
    // its and the previous month's items; same pinned ranking per month
    // the decay replayed per (month, item) count — halving each term
    // before the sum is identical to halving the per-month sketch entries
    // before the union (both are exact at this budget); total-zero items
    // are excluded like zero entries never enter a sketch
    "topn_decayed_monthly" ->
      """WITH m AS (
        |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS midx,
        |         CAST(o_custkey AS VARCHAR) AS item, COUNT(*) AS c
        |  FROM orders GROUP BY 1, 2),
        |mx AS (SELECT MAX(midx) AS maxp FROM m),
        |d AS (SELECT item,
        |             CAST(SUM(c // (CAST(1 AS BIGINT) <<
        |               CAST(LEAST(62, (maxp - midx) // 2) AS INT))) AS BIGINT)
        |               AS frequency
        |      FROM m, mx GROUP BY item HAVING frequency > 0)
        |SELECT item, frequency FROM (
        |  SELECT item, frequency,
        |         ROW_NUMBER() OVER (ORDER BY frequency DESC, item) AS rn
        |  FROM d) t
        |WHERE rn <= 10 ORDER BY frequency DESC, item""".stripMargin,

    "topn_delta_monthly" ->
      """WITH m AS (
        |  SELECT STRFTIME(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        |         CAST(o_custkey AS VARCHAR) AS item, COUNT(*) AS f
        |  FROM orders GROUP BY 1, 2),
        |mo AS (SELECT DISTINCT month FROM m),
        |pairs AS (SELECT month, LAG(month) OVER (ORDER BY month) AS pmonth FROM mo),
        |it AS (SELECT p.month, m.item
        |       FROM pairs p JOIN m ON m.month IN (p.month, p.pmonth)
        |       WHERE p.pmonth IS NOT NULL
        |       GROUP BY 1, 2),
        |j AS (SELECT it.month, it.item,
        |        CAST(COALESCE(a.f, 0) AS BIGINT) AS freq_a,
        |        CAST(COALESCE(b.f, 0) AS BIGINT) AS freq_b
        |      FROM it
        |      JOIN pairs p ON p.month = it.month
        |      LEFT JOIN m a ON a.month = p.pmonth AND a.item = it.item
        |      LEFT JOIN m b ON b.month = it.month AND b.item = it.item),
        |r AS (SELECT month, item, freq_a, freq_b, freq_b - freq_a AS delta,
        |        ROW_NUMBER() OVER (PARTITION BY month
        |                           ORDER BY ABS(freq_b - freq_a) DESC, item) AS rank
        |      FROM j)
        |SELECT month, CAST(rank AS BIGINT) AS rank, item, freq_a, freq_b, delta
        |FROM r WHERE rank <= 3 ORDER BY month, rank""".stripMargin,

    // exact per-period counts, full-outer on item, pinned
    // (|delta| desc, item asc) order
    "topn_delta_periods" ->
      """WITH a AS (SELECT CAST(o_custkey AS VARCHAR) AS item, COUNT(*) AS fa
        |           FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |           GROUP BY 1),
        |b AS (SELECT CAST(o_custkey AS VARCHAR) AS item, COUNT(*) AS fb
        |      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |      GROUP BY 1),
        |j AS (SELECT COALESCE(a.item, b.item) AS item,
        |             CAST(COALESCE(fa, 0) AS BIGINT) AS freq_a,
        |             CAST(COALESCE(fb, 0) AS BIGINT) AS freq_b
        |      FROM a FULL OUTER JOIN b ON a.item = b.item),
        |r AS (SELECT item, freq_a, freq_b, freq_b - freq_a AS delta,
        |             ROW_NUMBER() OVER (ORDER BY ABS(freq_b - freq_a) DESC, item)
        |               AS rank
        |      FROM j)
        |SELECT CAST(rank AS BIGINT) AS rank, item, freq_a, freq_b, delta
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "topn_union_agg_rollup" ->
      """SELECT CAST(o_custkey AS VARCHAR) AS item, COUNT(*) AS frequency
        |FROM orders GROUP BY 1
        |ORDER BY frequency DESC, item LIMIT 25""".stripMargin,

    "topn_bounds_report" ->
      """SELECT CAST(o_custkey AS VARCHAR) AS item, COUNT(*) AS frequency,
        |       CAST(0 AS BIGINT) AS max_error
        |FROM orders GROUP BY 1
        |ORDER BY frequency DESC, item LIMIT 25""".stripMargin,

    // three budgets, one contract: the constant claims per setting
    // eviction is a COMPUTED fact, not a constant: the engine's flag is
    // max(max_error) > 0, i.e. the sketch's sticky loss bound, which
    // accrues whenever ANY prune — the mid-stream policy-B halving OR the
    // final policy-A pack — discards an entry with positive count. For an
    // add-path aggregation (every count >= 1) that is EXACTLY nd > b on
    // any distribution and any schedule: nd <= b means no partial can
    // ever exceed 3b (a state never holds more keys than it has seen)
    // and the final pack keeps everything, so the bound stays 0; nd > b
    // means the final pack alone must discard nd - b positive entries
    // even if no partial ever tripped policy B. The r16 spelling
    // (nd > 3*b) happened to agree at every driver SF because the
    // fixture's nd sits outside (b, 3b] for all three budgets — on a
    // distribution inside that window it would claim no eviction while
    // the pack provably discarded mass (the r16 ADVICE finding). The
    // report holds least(budget, distinct)
    "topn_budget_sweep" ->
      """WITH d AS (SELECT COUNT(DISTINCT l_partkey) AS nd FROM lineitem)
        |SELECT CAST(b AS BIGINT) AS budget, TRUE AS all_within_bounds,
        |       nd > b AS has_eviction,
        |       CAST(LEAST(b, nd) AS BIGINT) AS n_report
        |FROM (VALUES (16), (64), (256)) t(b), d ORDER BY budget""".stripMargin,

    // the oracle recomputes the exact anchors (distinct harmonic keys,
    // the true top-25 threshold) from the same derived key; the
    // sketch-side quality measurements are the constant boolean claims
    // (recall-floor doctrine)
    "topn_budget_quality" ->
      """WITH hk AS (
        |  SELECT CAST(CAST(FLOOR(m.m / (l_orderkey + 1)) AS BIGINT) AS VARCHAR) AS item
        |  FROM lineitem, (SELECT MAX(l_orderkey) + 1 AS m FROM lineitem) m),
        |e AS (SELECT item, COUNT(*) AS tf FROM hk GROUP BY 1),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys FROM e),
        |t AS (SELECT CAST(MIN(tf) AS BIGINT) AS thr FROM
        |        (SELECT tf FROM e ORDER BY tf DESC, item LIMIT 25))
        |SELECT CAST(b AS BIGINT) AS budget, CAST(25 AS BIGINT) AS k,
        |       s.n_keys, t.thr AS true_top25_min,
        |       TRUE AS recall_floor_ok, TRUE AS recall_rises,
        |       TRUE AS precision_ok, TRUE AS width_ceiling_ok,
        |       TRUE AS width_shrinks
        |FROM (VALUES (16), (64), (256)) v(b), s, t
        |ORDER BY budget""".stripMargin,

    // exact side recomputed by the oracle; the HLL estimate's bound is
    // the constant-boolean claim (Spark's HLL++ is deterministic, DuckDB
    // cannot replay it bit-for-bit — the recall-floor doctrine)
    "distinct_count_bounds" ->
      """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact,
        |       TRUE AS within_bound
        |FROM lineitem""".stripMargin,

    // the bounds CONTRACT is the deterministic fact; the evicted sketch's
    // content is schedule-dependent by design (the recall-floor doctrine).
    // Eviction/report size computed like topn_budget_sweep's (nd > budget
    // — the pack-inclusive equivalence argued there), SF-robust
    "topn_approx_bounds" ->
      """WITH d AS (SELECT COUNT(DISTINCT l_partkey) AS nd FROM lineitem)
        |SELECT TRUE AS all_within_bounds, nd > 16 AS has_eviction,
        |       CAST(LEAST(16, nd) AS BIGINT) AS n_report FROM d""".stripMargin,

    "topn_scalar_pipeline" ->
      """SELECT item, frequency FROM (
        |  SELECT o_orderpriority AS item,
        |         COUNT(*) + CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS frequency
        |  FROM orders GROUP BY 1) t
        |ORDER BY frequency DESC, item""".stripMargin,

    "topn_window_7day" ->
      """WITH daily AS (
        |  SELECT STRFTIME(o_orderdate, '%Y-%m-%d') AS day, CAST(o_custkey AS VARCHAR) AS item,
        |         COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |days AS (
        |  SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rk
        |  FROM (SELECT DISTINCT day FROM daily) d),
        |merged AS (
        |  SELECT d.day, dl.item, CAST(SUM(dl.cnt) AS BIGINT) AS frequency
        |  FROM days d
        |  JOIN days d2 ON d2.rk BETWEEN d.rk - 6 AND d.rk
        |  JOIN daily dl ON dl.day = d2.day
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT day, item, frequency,
        |         ROW_NUMBER() OVER (PARTITION BY day ORDER BY frequency DESC, item) AS rn
        |  FROM merged)
        |SELECT day, item, frequency FROM ranked WHERE rn <= 5
        |ORDER BY day, frequency DESC, item""".stripMargin,

    // identical semantics to topn_window_7day -> same oracle shape
    "topn_window_7day_scalable" ->
      """WITH daily AS (
        |  SELECT STRFTIME(o_orderdate, '%Y-%m-%d') AS day, CAST(o_custkey AS VARCHAR) AS item,
        |         COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |days AS (
        |  SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rk
        |  FROM (SELECT DISTINCT day FROM daily) d),
        |merged AS (
        |  SELECT d.day, dl.item, CAST(SUM(dl.cnt) AS BIGINT) AS frequency
        |  FROM days d
        |  JOIN days d2 ON d2.rk BETWEEN d.rk - 6 AND d.rk
        |  JOIN daily dl ON dl.day = d2.day
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT day, item, frequency,
        |         ROW_NUMBER() OVER (PARTITION BY day ORDER BY frequency DESC, item) AS rn
        |  FROM merged)
        |SELECT day, item, frequency FROM ranked WHERE rn <= 5
        |ORDER BY day, frequency DESC, item""".stripMargin,

    // the 30-period frame replayed exactly: same shape, rk - 29
    "topn_window_30day_scalable" ->
      """WITH daily AS (
        |  SELECT STRFTIME(o_orderdate, '%Y-%m-%d') AS day, CAST(o_custkey AS VARCHAR) AS item,
        |         COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |days AS (
        |  SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rk
        |  FROM (SELECT DISTINCT day FROM daily) d),
        |merged AS (
        |  SELECT d.day, dl.item, CAST(SUM(dl.cnt) AS BIGINT) AS frequency
        |  FROM days d
        |  JOIN days d2 ON d2.rk BETWEEN d.rk - 29 AND d.rk
        |  JOIN daily dl ON dl.day = d2.day
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT day, item, frequency,
        |         ROW_NUMBER() OVER (PARTITION BY day ORDER BY frequency DESC, item) AS rn
        |  FROM merged)
        |SELECT day, item, frequency FROM ranked WHERE rn <= 5
        |ORDER BY day, frequency DESC, item""".stripMargin,

    "topn_events_by_type" ->
      """SELECT event_type, item, frequency FROM (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS item, COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY COUNT(*) DESC, CAST(user_id AS VARCHAR)) AS rn
        |  FROM events GROUP BY 1, 2) t
        |WHERE rn <= 5
        |ORDER BY event_type, frequency DESC, item""".stripMargin,

    // DuckDB's NATIVE ASOF LEFT JOIN — an independent implementation of
    // the temporal-join semantics the union-trick window spells in Spark
    "asof_latest_view" ->
      """WITH v AS (SELECT user_id, ts AS view_ts, MAX(event_id) AS view_event_id
        |           FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us, v.view_event_id,
        |       epoch_us(v.view_ts) AS view_ts_us
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.ts >= v.view_ts
        |ORDER BY c.event_id""".stripMargin,

    // native ASOF, then the 1h attribution bound as an age CASE
    "attributed_purchases" ->
      """WITH c AS (SELECT user_id, ts AS click_ts,
        |                  MAX(event_id) AS click_event_id
        |           FROM events WHERE event_type = 'click'
        |           GROUP BY user_id, ts),
        |p AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase'),
        |a AS (SELECT p.event_id, p.user_id, p.ts, c.click_event_id,
        |             c.click_ts
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND p.ts >= c.click_ts)
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |       CASE WHEN click_ts IS NOT NULL
        |             AND epoch_us(ts) - epoch_us(click_ts) <= 3600000000
        |            THEN click_event_id END AS click_event_id,
        |       CASE WHEN click_ts IS NOT NULL
        |             AND epoch_us(ts) - epoch_us(click_ts) <= 3600000000
        |            THEN epoch_us(click_ts) END AS click_ts_us
        |FROM a ORDER BY event_id""".stripMargin,

    // the same exact integer moments and cross-multiplied z-test
    "rate_anomalies_daily" ->
      """WITH pp AS (SELECT user_id, epoch_us(ts) // 86400000000 AS p,
        |                   COUNT(*) AS c
        |            FROM events GROUP BY 1, 2),
        |m AS (SELECT user_id, MAX(p) - MIN(p) + 1 AS n, SUM(c) AS s,
        |             SUM(c * c) AS ssq
        |      FROM pp GROUP BY 1)
        |SELECT pp.user_id,
        |       CAST(pp.p * 86400000000 AS BIGINT) AS period_start_us,
        |       CAST(c AS BIGINT) AS n_events,
        |       CAST(n AS BIGINT) AS span_periods,
        |       CAST(s AS BIGINT) AS total_events
        |FROM pp JOIN m USING (user_id)
        |WHERE (n * c - s) > 0
        |  AND (n * c - s) * (n * c - s) > 4 * (n * ssq - s * s)
        |ORDER BY user_id, period_start_us""".stripMargin,

    // lag gap test + running-sum ordinal, then the per-session rollup;
    // epoch_us mirrors unix_micros' exact integer micros
    "sessionize_events" ->
      """WITH e AS (SELECT user_id, ts, event_id, epoch_us(ts) AS tu,
        |                  CAST(value AS DECIMAL(18,2)) AS v
        |           FROM events),
        |b AS (SELECT *, lag(tu) OVER (PARTITION BY user_id
        |                              ORDER BY tu, event_id) AS p FROM e),
        |s AS (SELECT *, SUM(CASE WHEN p IS NULL
        |                          OR tu - p > CAST(14400 AS BIGINT) * 1000000
        |                         THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY tu, event_id
        |              ROWS UNBOUNDED PRECEDING) AS session_seq
        |      FROM b)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |       CAST(MIN(tu) AS BIGINT) AS session_start_us,
        |       CAST(MAX(tu) AS BIGINT) AS session_end_us,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(MAX(tu) - MIN(tu) AS BIGINT) AS duration_us,
        |       CAST(SUM(v) * 100 AS BIGINT) AS value_sum_cents
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    // the iterated-conditional-min chain replayed step by step
    "funnel_events" ->
      """WITH e AS (SELECT user_id, event_type AS step, epoch_us(ts) AS tu
        |           FROM events),
        |s0 AS (SELECT user_id, MIN(tu) AS t0 FROM e
        |       WHERE step = 'view' GROUP BY user_id),
        |s1 AS (SELECT e.user_id, MIN(tu) AS t1 FROM e JOIN s0 USING (user_id)
        |       WHERE step = 'click' AND tu > t0 GROUP BY e.user_id),
        |s2 AS (SELECT e.user_id, MIN(tu) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE step = 'purchase' AND tu > t1 GROUP BY e.user_id)
        |SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step,
        |       CAST((SELECT COUNT(*) FROM s0) AS BIGINT) AS n_keys
        |UNION ALL SELECT 1, 'click', CAST((SELECT COUNT(*) FROM s1) AS BIGINT)
        |UNION ALL SELECT 2, 'purchase', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
        |ORDER BY step_idx""".stripMargin,

    // same chain, then each transition's latency distribution (floor
    // division matches Spark's DIV on these strictly-positive sums)
    "funnel_transitions" ->
      """WITH e AS (SELECT user_id, event_type AS step, epoch_us(ts) AS tu
        |           FROM events),
        |s0 AS (SELECT user_id, MIN(tu) AS t0 FROM e
        |       WHERE step = 'view' GROUP BY user_id),
        |s1 AS (SELECT e.user_id, MIN(tu) AS t1 FROM e JOIN s0 USING (user_id)
        |       WHERE step = 'click' AND tu > t0 GROUP BY e.user_id),
        |s2 AS (SELECT e.user_id, MIN(tu) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE step = 'purchase' AND tu > t1 GROUP BY e.user_id),
        |l1 AS (SELECT t1 - t0 AS l FROM s1 JOIN s0 USING (user_id)),
        |l2 AS (SELECT t2 - t1 AS l FROM s2 JOIN s1 USING (user_id))
        |SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step_from,
        |       'click' AS step_to,
        |       CAST(COUNT(*) AS BIGINT) AS n_converted,
        |       CAST(MIN(l) AS BIGINT) AS min_latency_us,
        |       CAST(CASE WHEN COUNT(*) = 0 THEN NULL
        |                 ELSE SUM(l) // COUNT(*) END AS BIGINT)
        |         AS avg_latency_us,
        |       CAST(MAX(l) AS BIGINT) AS max_latency_us
        |FROM l1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', 'purchase',
        |       CAST(COUNT(*) AS BIGINT), CAST(MIN(l) AS BIGINT),
        |       CAST(CASE WHEN COUNT(*) = 0 THEN NULL
        |                 ELSE SUM(l) // COUNT(*) END AS BIGINT),
        |       CAST(MAX(l) AS BIGINT)
        |FROM l2
        |ORDER BY step_idx""".stripMargin,

    // the greedy windowed chain replayed with correlated MINs: a NULL
    // t_i kills the chain (NULL comparisons exclude every candidate)
    "funnel_windowed_events" ->
      """WITH s0 AS (SELECT DISTINCT user_id, epoch_us(ts) AS t0
        |            FROM events WHERE event_type = 'view'),
        |c1 AS (SELECT user_id, t0,
        |       (SELECT MIN(epoch_us(e.ts)) FROM events e
        |        WHERE e.user_id = s0.user_id AND e.event_type = 'click'
        |          AND epoch_us(e.ts) > t0
        |          AND epoch_us(e.ts) <= t0 + 86400000000) AS t1
        |       FROM s0),
        |c2 AS (SELECT user_id, t0, t1,
        |       (SELECT MIN(epoch_us(e.ts)) FROM events e
        |        WHERE e.user_id = c1.user_id AND e.event_type = 'purchase'
        |          AND epoch_us(e.ts) > t1
        |          AND epoch_us(e.ts) <= t0 + 86400000000) AS t2
        |       FROM c1)
        |SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step,
        |       CAST((SELECT COUNT(DISTINCT user_id) FROM c2) AS BIGINT)
        |         AS n_keys
        |UNION ALL SELECT 1, 'click',
        |       CAST((SELECT COUNT(DISTINCT user_id) FROM c2
        |             WHERE t1 IS NOT NULL) AS BIGINT)
        |UNION ALL SELECT 2, 'purchase',
        |       CAST((SELECT COUNT(DISTINCT user_id) FROM c2
        |             WHERE t2 IS NOT NULL) AS BIGINT)
        |ORDER BY step_idx""".stripMargin,

    // same distinct day-pairs, same exact integer ppm
    "stickiness_28d" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |                  epoch_us(ts) // 86400000000 AS day
        |           FROM events),
        |p AS (SELECT user_id, day, day // 28 AS per FROM d)
        |SELECT CAST(per * CAST(28 AS BIGINT) * 86400000000 AS BIGINT)
        |         AS period_start_us,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_keys,
        |       CAST(COUNT(*) AS BIGINT) AS active_key_days,
        |       CAST(COUNT(*) * 1000000 // (28 * COUNT(DISTINCT user_id))
        |            AS BIGINT) AS stickiness_e6
        |FROM p GROUP BY per ORDER BY 1""".stripMargin,

    // epoch-aligned weekly periods via floor division; counting the
    // distinct (user, period) pairs is the exact per-cell user count
    "retention_cohorts" ->
      """WITH p AS (SELECT DISTINCT user_id,
        |                  epoch_us(ts) // 604800000000 AS pidx
        |           FROM events),
        |c AS (SELECT user_id, pidx,
        |             MIN(pidx) OVER (PARTITION BY user_id) AS c0
        |      FROM p)
        |SELECT CAST(c0 * 604800000000 AS BIGINT) AS cohort_start_us,
        |       CAST(pidx - c0 AS BIGINT) AS period_offset,
        |       CAST(COUNT(*) AS BIGINT) AS n_keys
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the sessionize CTE (same as sessionize_events), per-session lead
    // trigrams, exact counts, the sketch's (freq desc, item asc) ties
    "topn_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tu
        |           FROM events),
        |b AS (SELECT *, lag(tu) OVER (PARTITION BY user_id
        |                              ORDER BY tu, event_id) AS p FROM e),
        |s AS (SELECT *, SUM(CASE WHEN p IS NULL
        |                          OR tu - p > CAST(14400 AS BIGINT) * 1000000
        |                         THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY tu, event_id
        |              ROWS UNBOUNDED PRECEDING) AS session_seq
        |      FROM b),
        |w AS (SELECT event_type AS s0,
        |             lead(event_type, 1) OVER
        |               (PARTITION BY user_id, session_seq
        |                ORDER BY tu, event_id) AS s1,
        |             lead(event_type, 2) OVER
        |               (PARTITION BY user_id, session_seq
        |                ORDER BY tu, event_id) AS s2
        |      FROM s)
        |SELECT s0 || '>' || s1 || '>' || s2 AS path,
        |       CAST(COUNT(*) AS BIGINT) AS frequency
        |FROM w WHERE s0 IS NOT NULL AND s1 IS NOT NULL AND s2 IS NOT NULL
        |GROUP BY 1 ORDER BY frequency DESC, path LIMIT 10""".stripMargin,

    // the full K-iteration training replay, generated by the SAME code
    // path whose constants drive the Spark loop (Bpe.trainMergesCtes)
    "bpe_train" -> {
      val (ctes, fin) = graft.pipeline.Bpe.trainMergesCtes(
        "documents", BpeTrainIters)
      s"WITH $ctes\nSELECT iter, a, b, cnt FROM $fin ORDER BY iter"
    },

    // DuckDB zips multiple UNNESTs in one SELECT positionally — range()
    // supplies the ordinals posexplode emits
    "bpe_encode" ->
      s"""WITH t AS (
        |  SELECT doc_id, ${graft.pipeline.Bpe.duckdbEncodeSql("text")} AS pieces
        |  FROM documents WHERE doc_id % 25 = 0)
        |SELECT doc_id,
        |       CAST(UNNEST(range(len(pieces))) AS BIGINT) AS token_idx,
        |       UNNEST(pieces) AS piece
        |FROM t
        |ORDER BY doc_id, token_idx""".stripMargin,

    // the merge-walk replay counted per doc, then exact ppm floors on
    // the GROUP sums (one division per group — order-independent)
    "bpe_fertility" ->
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
        |FROM g ORDER BY grp""".stripMargin,

    // vocab = dense lexicographic rank over the distinct replayed pieces;
    // ids re-assembled per doc with list(... ORDER BY idx)
    "bpe_token_ids" ->
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
        |ORDER BY doc_id""".stripMargin,

    // list_slice is 1-based with an INCLUSIVE end, matching Spark's
    // slice(start, length) at begin = 3k+1, end = 3k+8; both clamp at
    // the array tail
    "chunk_documents" ->
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
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // every ingredient's DuckDB spelling is already hash-proven by
    // text_stats / dedup_exact / pii_redact; the card just aggregates them
    // cluster labels + cluster-keyed buckets (split_by_cluster spelling),
    // trigram contamination (decontaminate spelling) — composed per split
    "corpus_split_report" ->
      s"""WITH RECURSIVE
        |$jaccardClosureCtes,
        |labels AS (
        |  SELECT CAST(u AS BIGINT) AS doc_id,
        |         CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY u),
        |asg AS (
        |  SELECT d.doc_id,
        |         COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
        |         CASE WHEN CAST(('0x' || substr(md5('0:' ||
        |                CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)), 1, 15))
        |                AS BIGINT) % 100 < 80 THEN 'train'
        |              WHEN CAST(('0x' || substr(md5('0:' ||
        |                CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)), 1, 15))
        |                AS BIGINT) % 100 < 90 THEN 'val'
        |              ELSE 'test' END AS split_name
        |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
        |ct AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        |       FROM documents),
        |csh AS (SELECT doc_id,
        |          CASE WHEN len(toks) >= 3
        |               THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |               ELSE [] END AS shingles
        |        FROM ct),
        |cex AS (SELECT doc_id, unnest(shingles) AS s FROM csh),
        |bex AS (SELECT DISTINCT s FROM cex WHERE doc_id % 31 = 4),
        |flg AS (SELECT cex.doc_id FROM cex JOIN bex ON cex.s = bex.s
        |        GROUP BY 1 HAVING COUNT(DISTINCT cex.s) > 20),
        |per AS (SELECT split_name,
        |          CAST(COUNT(*) AS BIGINT) AS n_docs,
        |          CAST(SUM(CASE WHEN cluster_id <> doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |            AS n_dup_docs,
        |          CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM flg)
        |                        THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
        |        FROM asg GROUP BY 1),
        |str AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_straddling_clusters
        |        FROM (SELECT cluster_id FROM asg
        |              GROUP BY 1 HAVING COUNT(DISTINCT split_name) > 1))
        |SELECT split_name, n_docs, n_dup_docs, n_contaminated, n_straddling_clusters
        |FROM per CROSS JOIN str ORDER BY split_name""".stripMargin,

    "corpus_report" ->
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
        |ORDER BY metric""".stripMargin,

    "text_stats" ->
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
        |FROM s ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
        |       MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,

    "dedup_jaccard_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) >= 3
        |              THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |              ELSE [] END AS shingles
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |rare AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 1000),
        |fx AS (SELECT ex.doc_id, ex.s FROM ex JOIN rare ON ex.s = rare.s),
        |shared AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS ns
        |  FROM fx x JOIN fx y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(shingles) AS n FROM sh)
        |SELECT a AS doc_a, b AS doc_b,
        |       CAST(ns AS DOUBLE) / CAST(za.n + zb.n - ns AS DOUBLE) AS jaccard
        |FROM shared JOIN sz za ON shared.a = za.doc_id
        |            JOIN sz zb ON shared.b = zb.doc_id
        |WHERE CAST(ns AS DOUBLE) / CAST(za.n + zb.n - ns AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // same CTE skeleton as the jaccard oracle; only the denominator
    // (min size) and the size-orientation of the output pair differ
    "containment_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) >= 3
        |              THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |              ELSE [] END AS shingles
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |rare AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 1000),
        |fx AS (SELECT ex.doc_id, ex.s FROM ex JOIN rare ON ex.s = rare.s),
        |shared AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS ns
        |  FROM fx x JOIN fx y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(shingles) AS n FROM sh)
        |SELECT CASE WHEN za.n < zb.n THEN a WHEN zb.n < za.n THEN b
        |            ELSE LEAST(a, b) END AS doc_small,
        |       CASE WHEN za.n < zb.n THEN b WHEN zb.n < za.n THEN a
        |            ELSE GREATEST(a, b) END AS doc_big,
        |       CAST(ns AS DOUBLE) / CAST(LEAST(za.n, zb.n) AS DOUBLE) AS containment
        |FROM shared JOIN sz za ON shared.a = za.doc_id
        |            JOIN sz zb ON shared.b = zb.doc_id
        |WHERE CAST(ns AS DOUBLE) / CAST(LEAST(za.n, zb.n) AS DOUBLE) >= 0.6
        |ORDER BY doc_small, doc_big""".stripMargin,

    // minhashLshPairs exact-verifies candidates, so its output ⊆ the exact
    // scan; the banding catches every qualifying pair on this corpus, so
    // the exact-Jaccard oracle applies verbatim (note: no shingle-DF cap
    // here — LSH banding has no equivalent of jaccardPairs' maxShingleDf)
    "dedup_minhash_lsh" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) >= 3
        |              THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |              ELSE [] END AS shingles
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |shared AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS ns
        |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(shingles) AS n FROM sh)
        |SELECT a AS doc_a, b AS doc_b,
        |       CAST(ns AS DOUBLE) / CAST(za.n + zb.n - ns AS DOUBLE) AS jaccard
        |FROM shared JOIN sz za ON shared.a = za.doc_id
        |            JOIN sz zb ON shared.b = zb.doc_id
        |WHERE CAST(ns AS DOUBLE) / CAST(za.n + zb.n - ns AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_simhash" ->
      "SELECT TRUE AS has_pairs, TRUE AS blocked_equals_brute",

    "image_neardup_pairs" ->
      """SELECT TRUE AS pairs_match_brute, TRUE AS twins_found,
        |       TRUE AS corrupt_excluded, TRUE AS has_pairs""".stripMargin,

    "audio_neardup_pairs" ->
      """SELECT TRUE AS pairs_match_brute, TRUE AS twins_found,
        |       TRUE AS corrupt_excluded, TRUE AS has_pairs""".stripMargin,

    "video_neardup_pairs" ->
      """SELECT TRUE AS pairs_match_brute, TRUE AS twins_found,
        |       TRUE AS corrupt_excluded, TRUE AS has_pairs""".stripMargin,

    // trigram multiset + exact GROUP BY count + pinned tie order — the
    // sketch is exact at this counter budget, like every sketch oracle
    "topn_doc_trigrams" ->
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
        |ORDER BY lang, frequency DESC, item""".stripMargin,

    // rank expression generated from the same MixRounds as the plan
    // both fixed-point recurrences (log2, exp2) unrolled from the same
    // generators the Spark plan compiles — bit-identical doubles, so the
    // ppm floors cannot flake
    "mix_temperature" -> {
      val (stages, fin) = graft.pipeline.Mixture.temperatureSqlCtes(
        "mix_src", "source", "n_chars", 7, 10)
      s"""WITH mix_src AS (SELECT doc_id, source, n_chars FROM documents),
        |$stages
        |SELECT grp, n, share_ppm, temp_share_ppm, rate_ppm FROM $fin
        |ORDER BY grp""".stripMargin
    },

    // rates recomputed from the oracle's own recurrence chain (never
    // pasted constants), then the same floor/clamp and the
    // corpus_upsample replication spelling with rate-driven percents
    "mix_temperature_apply" -> {
      val (stages, fin) = graft.pipeline.Mixture.temperatureSqlCtes(
        "mix_src", "lang", "1", 1, 2)
      s"""WITH mix_src AS (SELECT doc_id, lang FROM documents),
        |$stages,
        |p AS (SELECT grp,
        |             LEAST(COALESCE(rate_ppm // 10000, 1000), 1000) AS pct
        |      FROM $fin),
        |f AS (SELECT d.doc_id, d.lang, p.pct
        |      FROM documents d JOIN p ON d.lang = p.grp),
        |r AS (SELECT doc_id, lang, pct // 100 AS whole, pct % 100 AS frac FROM f),
        |e AS (SELECT doc_id, lang, whole, frac,
        |             UNNEST(range(0, whole + CASE WHEN frac > 0 THEN 1 ELSE 0 END))
        |               AS copy_id
        |      FROM r)
        |SELECT doc_id, CAST(copy_id AS BIGINT) AS copy_id, lang FROM e
        |WHERE copy_id < whole
        |   OR ${graft.pipeline.Sampling.portableBucketSql("doc_id")} < frac
        |ORDER BY doc_id, copy_id""".stripMargin
    },

    "shuffle_order" -> {
      val (shardSql, rankSql) =
        graft.pipeline.Sampling.shuffleOrderSql("doc_id", 16, 2L)
      s"""SELECT doc_id, CAST($shardSql AS BIGINT) AS shard,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY $shardSql
        |         ORDER BY $rankSql, doc_id) AS BIGINT) AS pos
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    },

    "sample_per_group" ->
      s"""SELECT doc_id, source, sample_rank FROM (
        |  SELECT doc_id, source,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY ${graft.pipeline.Sampling.portableRankSql("doc_id")}, doc_id)
        |           AS BIGINT) AS sample_rank
        |  FROM documents) t
        |WHERE sample_rank <= 20
        |ORDER BY source, sample_rank""".stripMargin,

    "domain_cap" ->
      """SELECT doc_id, source, n_chars, cap_rank FROM (
        |  SELECT doc_id, source, n_chars,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY n_chars DESC, doc_id) AS BIGINT) AS cap_rank
        |  FROM documents) t
        |WHERE cap_rank <= 25
        |ORDER BY source, cap_rank""".stripMargin,

    // same keep set as the histogram+prefix-sum operator: the k highest
    // scores with threshold ties broken by ascending doc_id is exactly
    // ORDER BY (score DESC, doc_id) LIMIT k
    "select_top_pct" ->
      """WITH ranked AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
        |         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn,
        |         COUNT(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, score FROM ranked
        |WHERE rn <= (20 * n + 99) // 100
        |ORDER BY doc_id""".stripMargin,

    // every rule is exact integer arithmetic (cross-multiplied rational
    // thresholds), so the flags replay bit-identically; the stop list is
    // generated from the same QualityProbeWords constant as the plan
    // the blocklist spelled POST-normalization (the engine normalizes the
    // raw 'Slow Join' / '(vector)' spellings with the same regex pair the
    // token side uses); overlapping occurrences each count
    "term_blocklist" ->
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
        |FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY doc_id""".stripMargin,

    "quality_filter" ->
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
        |FROM f ORDER BY doc_id""".stripMargin,

    // identical 8-token pseudo-line packing, md5-keyed doc frequency, and
    // position-ordered reconstruction of the cleaned text
    "line_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |ln0 AS (
        |  SELECT doc_id, toks,
        |         UNNEST(range(0, ((len(toks) - 1) // 8) + 1)) AS i
        |  FROM t),
        |ln AS (
        |  SELECT doc_id, CAST(i AS INT) AS line_idx,
        |         array_to_string(toks[i*8+1 : i*8+8], ' ') AS line
        |  FROM ln0),
        |df AS (
        |  SELECT md5(line) AS h, COUNT(DISTINCT doc_id) AS ddf
        |  FROM ln GROUP BY 1),
        |j AS (SELECT ln.doc_id, ln.line_idx, ln.line, df.ddf
        |      FROM ln JOIN df ON md5(ln.line) = df.h)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CASE WHEN ddf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate_lines,
        |       COALESCE(STRING_AGG(CASE WHEN ddf <= 1 THEN line END, ' ' ORDER BY line_idx), '') AS clean_text
        |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // same 8-token pseudo-lines as line_dedup; the heavy set is the exact
    // top-20 by total occurrences (the sketch is exact at this counter
    // budget) with the sketch's pinned (freq desc, hash asc) tie order,
    // frequency floor 3; rebuild in position order, md5-compacted
    "boilerplate_prune" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |ln0 AS (
        |  SELECT doc_id, toks,
        |         UNNEST(range(0, ((len(toks) - 1) // 8) + 1)) AS i
        |  FROM t),
        |ln AS (
        |  SELECT doc_id, CAST(i AS INT) AS line_idx,
        |         array_to_string(toks[i*8+1 : i*8+8], ' ') AS line
        |  FROM ln0),
        |hv AS (
        |  SELECT h FROM (
        |    SELECT md5(line) AS h, COUNT(*) AS freq,
        |           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, md5(line)) AS rn
        |    FROM ln GROUP BY 1) x
        |  WHERE rn <= 20 AND freq >= 3),
        |j AS (SELECT ln.doc_id, ln.line_idx, ln.line, hv.h AS hit
        |      FROM ln LEFT JOIN hv ON md5(ln.line) = hv.h)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_boilerplate_lines,
        |       md5(COALESCE(STRING_AGG(CASE WHEN hit IS NULL THEN line END, ' '
        |         ORDER BY line_idx), '')) AS clean_md5
        |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "ann_lsh_top10" ->
      """SELECT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin,

    "ann_ivf_top10" ->
      """SELECT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin,

    "ann_ivfpq_top10" ->
      """SELECT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin,

    "pq_drift_score" ->
      """SELECT CAST(20 AS BIGINT) AS n_queries, TRUE AS stationary_ok,
        |       TRUE AS drift_detected""".stripMargin,

    "lsh_neardup_pairs" ->
      "SELECT CAST(50 AS BIGINT) AS n_pairs, TRUE AS recall_ok",

    "incremental_neardup" ->
      """SELECT TRUE AS pairs_match_batch, TRUE AS labels_match_batch,
        |       TRUE AS has_pairs""".stripMargin,

    // same dirty-string construction, DuckDB's standard-library NFC; both
    // engines implement Unicode canonical composition, so the md5s match
    // the salt spelled with chr(): chr(10) newline, chr(34) quote, a
    // literal backslash (DuckDB standard strings do not process escapes),
    // chr(9) tab, then the multibyte pair; md5 hashes the UTF-8 bytes in
    // both engines
    "jsonl_roundtrip" ->
      """SELECT doc_id, lang, source,
        |       md5(text || chr(10) || chr(34) || 'json\edge' || chr(9) || 'é€')
        |         AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_normalize" ->
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
        |FROM n ORDER BY doc_id""".stripMargin,

    "ann_bruteforce_top10" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
        |s AS (SELECT qid, cid, list_cosine_similarity(cv, qv) AS sim
        |      FROM c CROSS JOIN q WHERE cid != qid),
        |r AS (SELECT qid AS query_id, cid AS neighbor_id,
        |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
        |      FROM s)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "cosine_neardup_pairs" ->
      """WITH p AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |         list_cosine_similarity(a.embedding, b.embedding) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, ia, ib) AS BIGINT) AS rank,
        |       ia AS doc_a, ib AS doc_b
        |FROM p ORDER BY sim DESC, ia, ib LIMIT 50""".stripMargin,

    "pipeline_clean_corpus" ->
      """WITH keep AS (
        |  SELECT MIN(doc_id) AS doc_id
        |  FROM documents
        |  GROUP BY md5(lower(regexp_replace(text, '\s+', ' ', 'g')))),
        |scored AS (
        |  SELECT d.doc_id, d.source, d.text,
        |         regexp_split_to_array(trim(d.text), '\s+') AS toks,
        |         length(d.text) AS n_chars,
        |         length(d.text) - length(regexp_replace(d.text, '[.!?,;:]', '', 'g')) AS punct_c
        |  FROM documents d JOIN keep k ON d.doc_id = k.doc_id),
        |quality AS (
        |  SELECT doc_id, source,
        |         LEAST(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3
        |           + (1.0 - LEAST(CAST(punct_c AS DOUBLE) / CAST(n_chars AS DOUBLE) * 10.0, 1.0)) * 0.3
        |           + LEAST(CAST(len(list_filter(toks, w -> w IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE)
        |                   / CAST(len(toks) AS DOUBLE) * 5.0, 1.0) * 0.4 AS q,
        |         len(list_filter(toks, w -> w IN ('the','and','of','to','is'))) AS s_en,
        |         len(list_filter(toks, w -> w IN ('le','la','les','et','de'))) AS s_fr,
        |         len(list_filter(toks, w -> w IN ('el','los','las','es','y'))) AS s_es,
        |         len(list_filter(toks, w -> w IN ('der','die','das','und','ist'))) AS s_de
        |  FROM scored),
        |langd AS (
        |  SELECT doc_id, source,
        |         CASE WHEN s_en + s_fr + s_es + s_de = 0 THEN 'und'
        |              WHEN s_en >= GREATEST(s_fr, s_es, s_de) THEN 'en'
        |              WHEN s_fr >= GREATEST(s_es, s_de) THEN 'fr'
        |              WHEN s_es >= s_de THEN 'es'
        |              ELSE 'de' END AS lang_pred
        |  FROM quality WHERE q >= 0.5),
        |agg AS (
        |  SELECT lang_pred, source, COUNT(*) AS frequency
        |  FROM langd GROUP BY 1, 2),
        |tot AS (SELECT lang_pred, CAST(SUM(frequency) AS BIGINT) AS n_docs FROM agg GROUP BY 1),
        |ranked AS (
        |  SELECT a.lang_pred, t.n_docs, a.source, a.frequency,
        |         ROW_NUMBER() OVER (PARTITION BY a.lang_pred
        |                            ORDER BY a.frequency DESC, a.source) AS rn
        |  FROM agg a JOIN tot t ON a.lang_pred = t.lang_pred)
        |SELECT lang_pred, n_docs, source, frequency
        |FROM ranked WHERE rn <= 3
        |ORDER BY lang_pred, frequency DESC, source""".stripMargin,

    "multimodal_decode_meta" ->
      """SELECT doc_id AS media_id,
        |       ['image','audio','video'][(doc_id % 3) + 1] AS modality,
        |       CAST(strlen(text) AS BIGINT) AS byte_len,
        |       CAST(1 + strlen(text) % 640 AS BIGINT) AS width,
        |       CAST(1 + strlen(text) % 480 AS BIGINT) AS height,
        |       CAST(CASE WHEN doc_id % 3 = 2
        |                 THEN LEAST(8, 1 + strlen(text) // 1024)
        |                 ELSE 1 END AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,

    // connected components over the exact Jaccard pairs, via transitive
    // closure (small pair set at oracle scale); cluster_id = component min.
    // NO shingle-DF cap here: the Spark side clusters minhashLshPairs,
    // whose band buckets are tiled — never dropped (PairGen.allPairs,
    // hardMaxBucket unset) — so a capped oracle would undercount shared
    // shingles under heavy duplication and spuriously diverge. The oracle's
    // exact-pair equivalence IS corpus-contingent on banding recall: 8
    // bands x 4 rows catches a jaccard-0.5 pair w.p. ~0.4, and this corpus
    // happens to have no moderate-similarity pair the banding misses
    // (dedup_minhash_lsh proves LSH == exact against the same oracle). If
    // the test corpus ever gains such pairs, widen bands before blaming
    // the operator.
    "dedup_clusters" ->
      s"""WITH RECURSIVE
        |$jaccardClosureCtes
        |SELECT CAST(u AS BIGINT) AS doc_id,
        |       CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,

    // dedup_clusters' exact-Jaccard closure + the keeper window
    "dedup_best_keeper" ->
      s"""WITH RECURSIVE
        |$jaccardClosureCtes,
        |labels AS (
        |  SELECT CAST(u AS BIGINT) AS doc_id,
        |         CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY u),
        |scored AS (
        |  SELECT l.doc_id, l.cluster_id, CAST(len(t.toks) AS BIGINT) AS n_tokens
        |  FROM labels l JOIN t ON l.doc_id = t.doc_id)
        |SELECT doc_id, cluster_id, n_tokens,
        |       ROW_NUMBER() OVER (PARTITION BY cluster_id
        |                          ORDER BY n_tokens DESC, doc_id) = 1 AS kept
        |FROM scored ORDER BY doc_id""".stripMargin,

    "pii_redact" ->
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
        |FROM t ORDER BY doc_id""".stripMargin,

    // H = log2(n) - (1/n) * sum c*log2(c): log chains over DISTINCT count
    // and length values (joined back by value), per-term 1e-6 floors
    // before the integer sum, numerator clamped at 0 before the division
    "token_entropy" ->
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
        |ORDER BY nt.doc_id""".stripMargin,

    "repetition_stats" ->
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
        |ORDER BY loc.doc_id""".stripMargin,

    // bucket expression generated from Sampling.MixRounds (single source
    // of truth with the Spark-side hashBucket)
    // dedup_clusters' exact-Jaccard closure -> labels (singletons keyed
    // by their own id), then the same md5-prefix group bucket + CASE
    "split_by_cluster" ->
      s"""WITH RECURSIVE
        |$jaccardClosureCtes,
        |labels AS (
        |  SELECT CAST(u AS BIGINT) AS doc_id,
        |         CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY u),
        |keyed AS (
        |  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
        |b AS (
        |  SELECT doc_id, cluster_id,
        |         CAST((CAST(('0x' || substr(md5('0:' || CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100)
        |              AS BIGINT) AS bucket
        |  FROM keyed)
        |SELECT doc_id, cluster_id, bucket,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split_name
        |FROM b ORDER BY doc_id""".stripMargin,

    // the same planted-URL domain chain, bucket = the md5-prefix group
    // hash over '<salt>:<domain>' (Dsir.featureBucketSql at 100)
    "split_by_domain" -> {
      val (uC, uFin) = graft.pipeline.Urls.urlSqlCtes("u", "url", "sd")
      s"""WITH u AS (SELECT doc_id, $plantedUrlSql AS url FROM documents),
        |$uC,
        |b AS (
        |  SELECT doc_id, domain,
        |         CAST(${graft.pipeline.Dsir.featureBucketSql("'0:' || domain", 100)}
        |              AS BIGINT) AS bucket
        |  FROM $uFin)
        |SELECT doc_id, domain, bucket,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split_name
        |FROM b ORDER BY doc_id""".stripMargin
    },

    "token_percentiles" ->
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
        |GROUP BY pct, target_rank, n ORDER BY pct""".stripMargin,

    "skew_report" ->
      """WITH c AS (SELECT CAST(o_custkey AS VARCHAR) AS key,
        |                  CAST(COUNT(*) AS BIGINT) AS freq
        |           FROM orders GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_rows FROM orders)
        |SELECT key, freq,
        |       CAST(freq * 1000000 // total_rows AS BIGINT) AS share_e6,
        |       total_rows
        |FROM c CROSS JOIN t
        |ORDER BY freq DESC, key LIMIT 20""".stripMargin,

    "split_assign" ->
      s"""WITH b AS (
        |  SELECT doc_id,
        |         CAST(${graft.pipeline.Sampling.portableBucketSql("doc_id")} AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split_name
        |FROM b ORDER BY doc_id""".stripMargin,

    "corpus_mix" ->
      s"""SELECT source, COUNT(*) AS n_kept
        |FROM documents
        |WHERE ${graft.pipeline.Sampling.portableBucketSql("doc_id", 7L)} <
        |  CASE WHEN source IN ('src0','src1','src2') THEN 100
        |       WHEN source IN ('src3','src4','src5') THEN 50 ELSE 25 END
        |GROUP BY 1 ORDER BY source""".stripMargin,

    "pack_bins" ->
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
        |FROM c GROUP BY 1 ORDER BY bin""".stripMargin,

    "pack_bins_bpe" ->
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
        |FROM c GROUP BY 1 ORDER BY bin""".stripMargin,

    "decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) >= 3
        |              THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |              ELSE [] END AS shingles
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |test AS (SELECT doc_id AS test_id, s FROM ex WHERE doc_id % 7 = 0),
        |train AS (SELECT doc_id, s FROM ex WHERE doc_id % 7 <> 0)
        |SELECT train.doc_id,
        |       COUNT(DISTINCT train.s) AS n_shared_shingles,
        |       COUNT(DISTINCT test.test_id) AS n_test_docs
        |FROM train JOIN test ON train.s = test.s
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // the same contamination stats as `decontaminate`, flipped into the
    // anti-join keep set: train docs with <= 20 shared shingles survive
    "decontaminate_filter" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) >= 3
        |              THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |              ELSE [] END AS shingles
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |test AS (SELECT doc_id AS test_id, s FROM ex WHERE doc_id % 7 = 0),
        |train AS (SELECT doc_id, s FROM ex WHERE doc_id % 7 <> 0),
        |flagged AS (
        |  SELECT train.doc_id FROM train JOIN test ON train.s = test.s
        |  GROUP BY 1 HAVING COUNT(DISTINCT train.s) > 20)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 7 <> 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)
        |ORDER BY doc_id""".stripMargin,

    "multimodal_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS len
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT media_id, len, LEAST(8, 1 + len // 1024) AS n FROM v),
        |fr AS (SELECT media_id, CAST(UNNEST(range(0, n)) AS BIGINT) AS frame_idx,
        |              len // n AS stride
        |       FROM f)
        |SELECT media_id, frame_idx, CAST(frame_idx * stride AS BIGINT) AS frame_offset
        |FROM fr ORDER BY media_id, frame_idx""".stripMargin,

    // replays the identical bigram model + smoothed probability; the
    // fixed-point floor(p * 1e9) uses only correctly-rounded IEEE ops
    // (+ * /) on integer-valued doubles, so the per-bigram terms — and
    // their order-independent integer sums — are bit-identical
    "lm_surprise" ->
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
        |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "semantic_dedup" ->
      """SELECT TRUE AS partition_ok, TRUE AS keeper_min_ok,
        |       TRUE AS dropped_covered_ok, TRUE AS edges_merged_ok,
        |       TRUE AS cc_exact_ok, TRUE AS has_dups""".stripMargin,

    // identical window spans (DuckDB range() is stop-EXCLUSIVE, Spark
    // sequence() stop-inclusive — hence len-10+1), identical (doc_id,pos)
    // bigint packing, window aggregates over the span hash
    "span_dedup_stats" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sp0 AS (
        |  SELECT doc_id, toks, UNNEST(range(0, len(toks) - 10 + 1, 5)) AS st
        |  FROM t WHERE len(toks) >= 10),
        |sp AS (
        |  SELECT doc_id,
        |         CAST(doc_id * 1048576 + st AS BIGINT) AS packed,
        |         md5(array_to_string(toks[st+1 : st+10], ' ')) AS h
        |  FROM sp0),
        |w AS (SELECT doc_id, packed,
        |             COUNT(*) OVER (PARTITION BY h) AS n_occ,
        |             MIN(packed) OVER (PARTITION BY h) AS keep_key
        |      FROM sp)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_spans,
        |       CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |       CAST(SUM(CASE WHEN packed = keep_key THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_spans
        |FROM w GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // same chunking (non-overlapping 8-token windows, partial tail always
    // kept), same packed-min keeper, same space-joined reassembly; the
    // CASE hash gives partial chunks per-row-unique keys exactly like the
    // Spark plan, and COALESCE('') covers an all-chunks-dropped doc
    "span_drop_rewrite" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |         UNNEST(range(0, GREATEST((len(toks) - 1) // 8, 0) + 1)) AS ci
        |  FROM t),
        |ch AS (
        |  SELECT doc_id, ci,
        |         array_to_string(toks[ci*8+1 : ci*8+8], ' ') AS chunk,
        |         len(toks) >= (ci + 1) * 8 AS is_full,
        |         CAST(doc_id * 1048576 + ci AS BIGINT) AS packed
        |  FROM c),
        |w AS (
        |  SELECT doc_id, ci, chunk, is_full, packed,
        |         COUNT(*) OVER (PARTITION BY h) AS n_occ,
        |         MIN(packed) OVER (PARTITION BY h) AS keep_key
        |  FROM (SELECT *, CASE WHEN is_full THEN md5(chunk)
        |                       ELSE 'P' || doc_id || ':' || ci END AS h FROM ch)),
        |k AS (SELECT *, (NOT is_full) OR n_occ = 1 OR packed = keep_key AS keep FROM w)
        |SELECT doc_id,
        |       CAST(SUM(CASE WHEN is_full THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
        |       CAST(SUM(CASE WHEN is_full AND NOT keep THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dropped_spans,
        |       md5(COALESCE(string_agg(CASE WHEN keep THEN chunk END, ' '
        |         ORDER BY ci), '')) AS clean_md5
        |FROM k GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // stride-1 8-token windows over the planted union, the same
    // packed-min keeper, and the token-coverage retention rule: a token
    // is dropped iff some non-keeper duplicated window starting in
    // [j-7, j] covers it (the NOT EXISTS correlated range probe)
    "exact_substr_rewrite" ->
      """WITH pl AS (
        |  SELECT doc_id + 100000000 AS doc_id,
        |         'pfx' || CAST(doc_id AS VARCHAR) || ' ' ||
        |         array_to_string((regexp_split_to_array(trim(text), '\s+'))[3:14], ' ') ||
        |         ' sfx' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents WHERE doc_id % 9 = 2),
        |base AS (SELECT doc_id, text FROM documents
        |         UNION ALL SELECT doc_id, text FROM pl),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM base),
        |w AS (SELECT doc_id, UNNEST(range(0, len(toks) - 7)) AS s, toks
        |      FROM t WHERE len(toks) >= 8),
        |wh AS (SELECT doc_id, s,
        |              md5(array_to_string(toks[s+1 : s+8], ' ')) AS h,
        |              CAST(doc_id * 1048576 + s AS BIGINT) AS packed
        |       FROM w),
        |g AS (SELECT h, COUNT(*) AS cnt, MIN(packed) AS keep FROM wh GROUP BY 1),
        |d AS (SELECT wh.doc_id, wh.s FROM wh JOIN g USING (h)
        |      WHERE g.cnt >= 2 AND wh.packed <> g.keep),
        |tok AS (SELECT doc_id, UNNEST(range(0, len(toks))) AS j, toks FROM t),
        |tk AS (SELECT doc_id, j, toks[j+1] AS tkn, len(toks) AS n_toks FROM tok),
        |kept AS (
        |  SELECT tk.doc_id, j, tkn, n_toks,
        |         NOT EXISTS (SELECT 1 FROM d WHERE d.doc_id = tk.doc_id
        |                     AND d.s BETWEEN j - 7 AND j) AS keep
        |  FROM tk)
        |SELECT doc_id,
        |       CAST(MAX(n_toks) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped_tokens,
        |       md5(COALESCE(string_agg(CASE WHEN keep THEN tkn END, ' ' ORDER BY j), ''))
        |         AS clean_md5
        |FROM kept GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // same window/coverage replay as exact_substr_rewrite, but the drop
    // predicate is membership in the test slice's DISTINCT window-hash
    // set (no keeper: the test set retains its copy by definition)
    "decontaminate_scrub" ->
      """WITH te AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
        |pl AS (
        |  SELECT doc_id + 200000000 AS doc_id,
        |         'pfx' || CAST(doc_id AS VARCHAR) || ' ' ||
        |         array_to_string((regexp_split_to_array(trim(text), '\s+'))[3:14], ' ') ||
        |         ' sfx' || CAST(doc_id AS VARCHAR) AS text
        |  FROM te WHERE doc_id % 21 = 0),
        |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
        |       UNION ALL SELECT doc_id, text FROM pl),
        |tt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM tr),
        |tew AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks FROM te),
        |tews AS (SELECT UNNEST(range(0, len(toks) - 7)) AS s, toks
        |         FROM tew WHERE len(toks) >= 8),
        |teh AS (SELECT DISTINCT md5(array_to_string(toks[s+1 : s+8], ' ')) AS h
        |        FROM tews),
        |w AS (SELECT doc_id, UNNEST(range(0, len(toks) - 7)) AS s, toks
        |      FROM tt WHERE len(toks) >= 8),
        |d AS (SELECT doc_id, s FROM w
        |      WHERE md5(array_to_string(toks[s+1 : s+8], ' ')) IN (SELECT h FROM teh)),
        |tok AS (SELECT doc_id, UNNEST(range(0, len(toks))) AS j, toks FROM tt),
        |tk AS (SELECT doc_id, j, toks[j+1] AS tkn, len(toks) AS n_toks FROM tok),
        |kept AS (
        |  SELECT tk.doc_id, j, tkn, n_toks,
        |         NOT EXISTS (SELECT 1 FROM d WHERE d.doc_id = tk.doc_id
        |                     AND d.s BETWEEN j - 7 AND j) AS keep
        |  FROM tk)
        |SELECT doc_id,
        |       CAST(MAX(n_toks) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped_tokens,
        |       md5(COALESCE(string_agg(CASE WHEN keep THEN tkn END, ' ' ORDER BY j), ''))
        |         AS clean_md5
        |FROM kept GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // k-means cells aren't SQL-reproducible (semantic_dedup doctrine):
    // the query embeds the independent brute-force spelling in-plan and
    // the oracle pins the constant booleans
    "decontaminate_semantic" ->
      """SELECT TRUE AS found_equals_exact_ok, TRUE AS planted_all_found_ok,
        |       TRUE AS removal_ok, TRUE AS has_contamination""".stripMargin,

    // the same fixture construction, then an RE2 replace chain
    // equivalent to the kernel on well-formed input: script/style
    // content, comments, block tags to newline, generic tag strip,
    // literal entity replaces with &amp; LAST (= decode-once), the
    // pinned whitespace chain
    "html_extract" -> {
      val (h2t, h2tFin) = htmlToTextSqlCtes("f", "html", "h", "x")
      s"""WITH f AS (
        |  SELECT doc_id,
        |         '<html><head><title>t</title><style>p{x:1}</style>' ||
        |         '<script>var a = 1 < 2;</script></head>' ||
        |         '<body><!-- hidden <p>no</p> --><h1>Doc ' || CAST(doc_id AS VARCHAR) ||
        |         '</h1><p class="b">' || regexp_replace(text, '[&<]', ' ', 'g') ||
        |         '</p><ul><li>A &amp; B</li><li>&#72;&#x49;&nbsp;!</li></ul>' ||
        |         '<div>tail</div></body></html>' AS html
        |  FROM documents),
        |$h2t
        |SELECT doc_id,
        |       CAST(len(string_split(h, chr(10))) AS BIGINT) AS n_lines,
        |       md5(h) AS text_md5
        |FROM $h2tFin ORDER BY doc_id""".stripMargin
    },

    // same fixture + the same two RE2 extracts, leftmost-match in both
    // engines; DuckDB regexp_extract is COALESCE-guarded for no-match
    "html_canonical" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    '<html><head><title>t</title>' ||
        |    CASE WHEN doc_id % 3 = 0
        |           THEN '<link rel="canonical" href="https://corpus.test/c/'
        |                || CAST(doc_id AS VARCHAR) || '">'
        |         WHEN doc_id % 3 = 1
        |           THEN '<link href=''https://corpus.test/c/'
        |                || CAST(doc_id AS VARCHAR) || ''' rel=canonical>'
        |         ELSE '' END ||
        |    '</head><body><p>' || regexp_replace(text, '[&<]', ' ', 'g') ||
        |    '</p></body></html>' AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id,
        |    COALESCE(regexp_extract(html,
        |      '(?is)<link[^>]*[\s"'']rel\s*=\s*(?:["''](?:[^"''>]*\s)?)?canonical["''\s/](?:[^>]*[\s"''])?href\s*=\s*["'']?([^"''>\s]+)', 1), '') AS r1,
        |    COALESCE(regexp_extract(html,
        |      '(?is)<link[^>]*[\s"'']href\s*=\s*["'']?([^"''>\s]+)["'']?(?:[^>]*[\s"''])?rel\s*=\s*(?:["''](?:[^"''>]*\s)?)?canonical["''\s/>]', 1), '') AS r2
        |  FROM f)
        |SELECT doc_id,
        |       CASE WHEN r1 <> '' THEN r1 ELSE r2 END AS canonical,
        |       (CASE WHEN r1 <> '' THEN r1 ELSE r2 END) <> '' AS has_canonical
        |FROM x ORDER BY doc_id""".stripMargin,

    "sitemap_locs" ->
      """WITH p AS (
        |  SELECT doc_id % 8 AS host_id, doc_id,
        |         '<url><loc>' || chr(10) || ' https://h' || CAST(doc_id % 8 AS VARCHAR)
        |         || '.test/p/' || CAST(doc_id AS VARCHAR) || ' ' || chr(10)
        |         || '</loc></url>' AS piece
        |  FROM documents),
        |m AS (SELECT host_id,
        |             '<urlset>' || string_agg(piece, '' ORDER BY doc_id) || '</urlset>' AS xml
        |      FROM p GROUP BY 1),
        |l AS (SELECT host_id,
        |             regexp_extract_all(xml, '(?is)<loc>\s*([^<]*?)\s*</loc>', 1) AS locs
        |      FROM m)
        |SELECT CAST(host_id AS BIGINT) AS host_id,
        |       CAST(len(locs) AS BIGINT) AS n_locs,
        |       md5(array_to_string(locs, ' ')) AS locs_md5
        |FROM l ORDER BY host_id""".stripMargin,

    // binary container parse: in-plan audit (planted-HTML equality,
    // gzip parity, corrupt/truncated handling), constant-boolean oracle
    "warc_extract" ->
      ("SELECT TRUE AS html_match, TRUE AS gzip_files_parsed, " +
        "TRUE AS corrupt_is_empty, TRUE AS truncated_flagged"),

    // the same planted-URL construction, then the pinned chains replayed
    // step for step: host = authority minus userinfo/port, lowered;
    // registered domain by the shared multi-part-suffix set; normalize =
    // fragment strip, scheme://authority lowercase, default-port drop,
    // tracking-param strip (shared alternation) + separator repair,
    // trailing-slash drop; finally the blocklist as NOT IN on the domain
    "url_filter" ->
      s"""WITH u AS (SELECT doc_id, $plantedUrlSql AS url FROM documents),
        |${graft.pipeline.Urls.urlSqlCtes("u", "url")._1}
        |SELECT doc_id, host, domain, url_norm FROM ${graft.pipeline.Urls.urlSqlCtes("u", "url")._2}
        |WHERE domain NOT IN ('ads-network.com', 'spam-tracker.net')
        |ORDER BY doc_id""".stripMargin,

    // same planted URLs; the robots fixture embedded as VALUES; parse,
    // agent grading, and the LIKE-pattern translation generated from the
    // SAME Robots constants; verdict = the identical max(plen*2+allow)
    // integer fold with default-allow on no match / no host row
    "robots_gate" -> {
      val (rbCtes, rbRules) =
        graft.pipeline.Robots.rulesSqlCtes("rsrc", RobotsAgent)
      val fixture = RobotsFixture
        .map { case (h, t) => s"('$h', ${sqlTextLit(t)})" }
        .mkString(",\n        ")
      s"""WITH u AS (SELECT doc_id, $plantedUrlSql AS url FROM documents),
        |rsrc AS (SELECT * FROM (VALUES
        |        $fixture) AS t(host, robots_txt)),
        |$rbCtes,
        |uh AS (SELECT doc_id, url,
        |        lower(regexp_replace(regexp_replace(
        |          regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
        |          '^[^@]*@', ''), ':[0-9]*$$', '')) AS host,
        |        ${graft.pipeline.Robots.pathSql("url")} AS path FROM u),
        |cand AS (SELECT uh.doc_id, uh.host, uh.path, r.rule_allow, r.plen,
        |        (uh.path LIKE r.like_pat ESCAPE '\\') AS m
        |        FROM uh LEFT JOIN $rbRules r USING (host)),
        |v AS (SELECT doc_id, host, path,
        |        max(CASE WHEN m THEN plen * 2 + rule_allow END) AS best
        |      FROM cand GROUP BY 1, 2, 3)
        |SELECT doc_id, host, path, coalesce(best % 2 = 1, TRUE) AS allowed
        |FROM v ORDER BY doc_id""".stripMargin
    },

    // the same robots fixture; delays replay the group-selection CTEs
    // (the generator's documented intermediate contract), sitemaps read
    // the pre-filter parse CTE — shared constants end to end
    "robots_meta" -> {
      val (rbCtes, _) =
        graft.pipeline.Robots.rulesSqlCtes("rsrc", RobotsAgent)
      val fixture = RobotsFixture
        .map { case (h, t) => s"('$h', ${sqlTextLit(t)})" }
        .mkString(",\n        ")
      s"""WITH rsrc AS (SELECT * FROM (VALUES
        |        $fixture) AS t(host, robots_txt)),
        |$rbCtes,
        |d AS (SELECT g.host AS host, max(CAST(g.value AS BIGINT)) AS crawl_delay_s
        |      FROM rbg g JOIN rbua USING (host, grp) JOIN rbhl USING (host)
        |      WHERE g.field = 'crawl-delay' AND regexp_matches(g.value, '^[0-9]+$$')
        |        AND lvl = hlvl AND hlvl > 0
        |      GROUP BY 1),
        |sm AS (SELECT host, string_agg(value, '|' ORDER BY value) AS sitemaps_str
        |       FROM (SELECT DISTINCT host, value FROM rbp
        |             WHERE field = 'sitemap' AND value <> '')
        |       GROUP BY 1),
        |h AS (SELECT DISTINCT host FROM rsrc)
        |SELECT h.host AS host, coalesce(crawl_delay_s, -1) AS crawl_delay_s,
        |       coalesce(sitemaps_str, '') AS sitemaps_str
        |FROM h LEFT JOIN d USING (host) LEFT JOIN sm USING (host)
        |ORDER BY host""".stripMargin
    },

    // the same planted snapshots; url_norm via the SHARED urlSqlCtes
    // chain; latest pick, version count, and change log as the identical
    // windows (`//` floor division == Spark `div` on non-negatives;
    // IS DISTINCT FROM == the null-safe <=>)
    "recrawl_latest" -> {
      val (uCtes, uFin) = graft.pipeline.Urls.urlSqlCtes("s", "url", "rc")
      s"""WITH s AS (
        |  SELECT doc_id, r AS snap, doc_id * 10 + r AS fetch_id,
        |         CAST(1000 + r // 2 AS BIGINT) AS fetch_ts,
        |         'https://h' || CAST(doc_id % 50 AS VARCHAR) || '.example.com/p/' ||
        |           CAST(doc_id AS VARCHAR) ||
        |           (CASE WHEN r % 2 = 1 THEN '?utm_source=s&x=1' ELSE '?x=1' END) AS url,
        |         'content-' || CAST(doc_id AS VARCHAR) || '-v' ||
        |           CAST(r // (1 + doc_id % 2) AS VARCHAR) AS content
        |  FROM (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS r FROM documents)),
        |$uCtes,
        |w1 AS (SELECT url_norm, fetch_id, content,
        |         ROW_NUMBER() OVER (PARTITION BY url_norm
        |                            ORDER BY fetch_ts DESC, fetch_id DESC) AS rn,
        |         COUNT(*) OVER (PARTITION BY url_norm) AS n_versions,
        |         ROW_NUMBER() OVER (PARTITION BY url_norm
        |                            ORDER BY fetch_ts ASC, fetch_id ASC) AS rna,
        |         lag(content) OVER (PARTITION BY url_norm
        |                            ORDER BY fetch_ts ASC, fetch_id ASC) AS prev
        |       FROM $uFin),
        |ch AS (SELECT url_norm,
        |         CAST(SUM(CASE WHEN rna > 1 AND prev IS DISTINCT FROM content
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
        |       FROM w1 GROUP BY 1)
        |SELECT w1.url_norm AS url_norm, fetch_id AS latest_id,
        |       CAST(n_versions AS BIGINT) AS n_versions, n_changed,
        |       md5(content) AS content_md5
        |FROM w1 JOIN ch USING (url_norm) WHERE rn = 1
        |ORDER BY url_norm""".stripMargin
    },

    // same shape as recrawl_latest, but the url chain runs on the
    // canonical-override key (absolute http(s) canonical wins, anything
    // else falls back to the fetch URL)
    "recrawl_canonical" -> {
      val (uCtes, uFin) = graft.pipeline.Urls.urlSqlCtes("s", "keyu", "rcc")
      s"""WITH s0 AS (
        |  SELECT doc_id, r AS snap, doc_id * 10 + r AS fetch_id,
        |         CAST(1000 + r AS BIGINT) AS fetch_ts,
        |         CASE WHEN r % 2 = 1
        |              THEN 'https://m' || CAST(doc_id % 50 AS VARCHAR)
        |                   || '.example.com/mirror/' || CAST(doc_id AS VARCHAR) || '?x=1'
        |              ELSE 'https://h' || CAST(doc_id % 50 AS VARCHAR)
        |                   || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '?x=1'
        |         END AS url,
        |         CASE WHEN r % 2 = 1
        |              THEN 'https://h' || CAST(doc_id % 50 AS VARCHAR)
        |                   || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '?x=1'
        |              WHEN doc_id % 5 = 0 THEN '/p/' || CAST(doc_id AS VARCHAR)
        |              ELSE '' END AS canonical,
        |         'content-' || CAST(doc_id AS VARCHAR) || '-v' ||
        |           CAST(r // (1 + doc_id % 2) AS VARCHAR) AS content
        |  FROM (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS r FROM documents)),
        |s AS (SELECT *, CASE WHEN regexp_matches(lower(canonical), '^https?://')
        |                     THEN canonical ELSE url END AS keyu FROM s0),
        |$uCtes,
        |w1 AS (SELECT url_norm, fetch_id, content,
        |         ROW_NUMBER() OVER (PARTITION BY url_norm
        |                            ORDER BY fetch_ts DESC, fetch_id DESC) AS rn,
        |         COUNT(*) OVER (PARTITION BY url_norm) AS n_versions,
        |         ROW_NUMBER() OVER (PARTITION BY url_norm
        |                            ORDER BY fetch_ts ASC, fetch_id ASC) AS rna,
        |         lag(content) OVER (PARTITION BY url_norm
        |                            ORDER BY fetch_ts ASC, fetch_id ASC) AS prev
        |       FROM $uFin),
        |ch AS (SELECT url_norm,
        |         CAST(SUM(CASE WHEN rna > 1 AND prev IS DISTINCT FROM content
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
        |       FROM w1 GROUP BY 1)
        |SELECT w1.url_norm AS url_norm, fetch_id AS latest_id,
        |       CAST(n_versions AS BIGINT) AS n_versions, n_changed,
        |       md5(content) AS content_md5
        |FROM w1 JOIN ch USING (url_norm) WHERE rn = 1
        |ORDER BY url_norm""".stripMargin
    },

    // same planted URLs + shared chain, then exact GROUP BY count with
    // the sketch's pinned tie order (counters exact at this budget)
    "topn_url_domains" ->
      s"""WITH u AS (SELECT doc_id, $plantedUrlSql AS url FROM documents),
        |${graft.pipeline.Urls.urlSqlCtes("u", "url")._1}
        |, d AS (SELECT doc_id % 3 AS shard, domain
        |        FROM ${graft.pipeline.Urls.urlSqlCtes("u", "url")._2})
        |SELECT shard, item, frequency FROM (
        |  SELECT shard, domain AS item, COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY shard
        |                            ORDER BY COUNT(*) DESC, domain) AS rn
        |  FROM d GROUP BY 1, 2) x
        |WHERE rn <= 5
        |ORDER BY shard, frequency DESC, item""".stripMargin,

    // the same planted anchors, extraction replayed as a single RE2
    // regexp_extract_all (the fixtures use the canonical double-quoted
    // spelling), then the SHARED urlSqlCtes chain per link
    "html_links" -> {
      s"""WITH f AS (
        |  SELECT doc_id,
        |    '<p>intro</p><a href="https://' || (CASE doc_id % 7 ${domainCase(7)} END) ||
        |    '/d/' || CAST(doc_id AS VARCHAR) || '?utm_x=1&q=2">one</a>' ||
        |    '<div><a href="http://' || (CASE doc_id % 5 ${domainCase(5)} END) ||
        |    '/p">two</a></div>' ||
        |    (CASE WHEN doc_id % 3 = 0
        |          THEN '<a href="/rel/' || CAST(doc_id AS VARCHAR) || '">rel</a>'
        |          ELSE '' END) AS html
        |  FROM documents),
        |l AS (SELECT doc_id,
        |        unnest(regexp_extract_all(html, '<a href="([^"]*)"', 1)) AS url
        |      FROM f),
        |${graft.pipeline.Urls.urlSqlCtes("l", "url")._1}
        |SELECT doc_id, url, domain, url_norm
        |FROM ${graft.pipeline.Urls.urlSqlCtes("l", "url")._2}
        |ORDER BY doc_id, url""".stripMargin
    },

    // the same planted anchors with text: pairs extracted by one lazy
    // RE2 pattern (group 1 = href, group 2 = inner markup up to the
    // first </a> — identical to the kernel's close-tag scan on these
    // fixtures), inner tags stripped + whitespace collapsed the way the
    // kernel does, the SHARED urlSqlCtes chain for the target domain,
    // then exact GROUP BY count with the sketch's pinned tie order
    "topn_anchor_terms" -> {
      s"""WITH f AS (
        |  SELECT doc_id,
        |    '<p>intro</p><a href="https://' || (CASE doc_id % 7 ${domainCase(7)} END) ||
        |    '/d/' || CAST(doc_id AS VARCHAR) || '">Visit <b>Portal</b>  page ' ||
        |    CAST(doc_id % 4 AS VARCHAR) ||
        |    '</a><div><a href="http://' || (CASE doc_id % 5 ${domainCase(5)} END) ||
        |    '/p">  mirror   copy  </a></div>' ||
        |    (CASE WHEN doc_id % 3 = 0
        |          THEN '<a href="/rel/' || CAST(doc_id AS VARCHAR) || '">relative link</a>'
        |          ELSE '' END) AS html
        |  FROM documents),
        |x AS (SELECT doc_id,
        |        regexp_extract_all(html, '(?s)<a href="([^"]*)">(.*?)</a>', 1) AS hs,
        |        regexp_extract_all(html, '(?s)<a href="([^"]*)">(.*?)</a>', 2) AS ts
        |      FROM f),
        |p AS (SELECT doc_id, unnest(list_transform(range(1, len(hs) + 1),
        |        i -> struct_pack(href := hs[i], txt := ts[i]))) AS r FROM x),
        |links AS (SELECT r.href AS url,
        |        trim(regexp_replace(regexp_replace(r.txt, '<[^>]*>', '', 'g'),
        |          '[ \\t\\n\\r]+', ' ', 'g')) AS atext FROM p),
        |${graft.pipeline.Urls.urlSqlCtes("links", "url", "at")._1},
        |t AS (SELECT domain, unnest(string_split(atext, ' ')) AS term
        |      FROM ${graft.pipeline.Urls.urlSqlCtes("links", "url", "at")._2}),
        |g AS (SELECT domain, term FROM t WHERE domain <> '' AND term <> '')
        |SELECT domain, item, frequency FROM (
        |  SELECT domain, term AS item, COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY domain
        |                            ORDER BY COUNT(*) DESC, term) AS rn
        |  FROM g GROUP BY 1, 2) q
        |WHERE rn <= 6
        |ORDER BY domain, frequency DESC, item""".stripMargin
    },

    // the same planted edge list, then the K PageRank iterations
    // unrolled as CTE stages from the shared generator — integer `//`
    // on non-negative BIGINTs matches Spark's `div` exactly
    "domain_pagerank" -> {
      val (ctes, fin) = graft.pipeline.Graph.pageRankCtes("raw", PagerankIters)
      s"""WITH raw AS (
        |  SELECT (CASE doc_id % 7 ${domainCase(7)} END) AS src,
        |         (CASE doc_id % 3 ${domainCase(3)} END) AS dst
        |  FROM documents
        |  UNION ALL SELECT '${PagerankDomains(2)}', '${PagerankDomains(6)}'),
        |$ctes
        |SELECT node, rank_e6 FROM $fin
        |ORDER BY rank_e6 DESC, node""".stripMargin
    },

    // weighted edges (per-pair weight sums), seed-set personalization,
    // and the DATA-DRIVEN stop: all stages unrolled to the cap, each
    // stage's L1 delta computed, the reported iteration chosen by the
    // same first-at-or-under-tolerance rule the Spark loop applies
    // frontier replay: same pages/links, both shared URL chains, the
    // unrolled PageRank over the page->link domain graph, NOT IN against
    // the fetched canonical set, and the identical capped rank window
    "crawl_frontier" -> {
      val (fix, fFin, lFin) = frontierFixtureSql
      val (prc, prFin) = graft.pipeline.Graph.pageRankCtes(
        "edges", PagerankIters, prefix = "fq")
      s"""WITH $fix,
        |cand AS (SELECT DISTINCT url_norm, domain FROM $lFin
        |         WHERE url_norm NOT IN (SELECT url_norm FROM fetched)),
        |edges AS (SELECT p.domain AS src, l.domain AS dst
        |          FROM $fFin p JOIN $lFin l USING (doc_id)),
        |$prc,
        |pri AS (SELECT c.url_norm, c.domain,
        |          CAST(coalesce(k.rank_e6, 0) AS BIGINT) AS rank_e6
        |        FROM cand c LEFT JOIN $prFin k ON c.domain = k.node)
        |SELECT domain, url_norm, rank_e6, cap_rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
        |                               ORDER BY rank_e6 DESC, url_norm) AS cap_rank
        |  FROM pri) x
        |WHERE cap_rank <= 3
        |ORDER BY domain, url_norm""".stripMargin
    },

    "crawl_frontier_sitemaps" -> {
      val (fix, fFin, lFin) = frontierFixtureSql
      val (sU, sFin) = graft.pipeline.Urls.urlSqlCtes("smx", "smurl", "gs")
      val (prc, prFin) = graft.pipeline.Graph.pageRankCtes(
        "edges", PagerankIters, prefix = "gq")
      s"""WITH $fix,
        |sm0 AS (
        |  SELECT (CASE doc_id % 7 ${domainCase(7)} END) AS host, doc_id,
        |    '<url><loc>' || chr(10) || ' https://' || (CASE doc_id % 7 ${domainCase(7)} END)
        |    || '/a/' || CAST(doc_id AS VARCHAR) || '?utm_z=1 ' || chr(10) || '</loc></url>'
        |    || (CASE WHEN doc_id % 6 = 0
        |        THEN '<url><loc>https://' || (CASE doc_id % 5 ${domainCase(5)} END)
        |             || '/d/' || CAST(doc_id % 40 AS VARCHAR) || '</loc></url>'
        |        ELSE '' END) AS p
        |  FROM documents WHERE doc_id % 50 = 0),
        |sm AS (SELECT host,
        |         '<urlset>' || string_agg(p, '' ORDER BY doc_id) || '</urlset>' AS xml
        |       FROM sm0 GROUP BY 1),
        |smx AS (SELECT unnest(regexp_extract_all(xml,
        |          '(?is)<loc>\\s*([^<]*?)\\s*</loc>', 1)) AS smurl FROM sm),
        |$sU,
        |allc AS (SELECT url_norm, domain, 1 AS src_l FROM $lFin
        |         UNION ALL SELECT url_norm, domain, 0 AS src_l FROM $sFin),
        |cand AS (SELECT url_norm, domain,
        |           MAX(src_l) = 1 AS via_link, MIN(src_l) = 0 AS via_sitemap
        |         FROM allc
        |         WHERE url_norm NOT IN (SELECT url_norm FROM fetched)
        |         GROUP BY 1, 2),
        |edges AS (SELECT p.domain AS src, l.domain AS dst
        |          FROM $fFin p JOIN $lFin l USING (doc_id)),
        |$prc,
        |pri AS (SELECT c.url_norm, c.domain, c.via_link, c.via_sitemap,
        |          CAST(coalesce(k.rank_e6, 0) AS BIGINT) AS rank_e6
        |        FROM cand c LEFT JOIN $prFin k ON c.domain = k.node)
        |SELECT domain, url_norm, via_link, via_sitemap, rank_e6, cap_rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
        |                               ORDER BY rank_e6 DESC, url_norm) AS cap_rank
        |  FROM pri) x
        |WHERE cap_rank <= 3
        |ORDER BY domain, url_norm""".stripMargin
    },

    "domain_pagerank_personalized" -> {
      val (ctes, fin) = graft.pipeline.Graph.pageRankFlexCtes(
        "raw", PprMaxIters, PprDamping, "pz",
        weighted = true, persSrc = Some("pri"), tolE6 = Some(PprTolE6))
      s"""WITH raw AS (
        |  SELECT (CASE doc_id % 7 ${domainCase(7)} END) AS src,
        |         (CASE doc_id % 3 ${domainCase(3)} END) AS dst,
        |         CAST(doc_id % 4 + 1 AS BIGINT) AS w
        |  FROM documents),
        |pri AS (SELECT '${PagerankDomains(3)}' AS node, CAST(3 AS BIGINT) AS prior
        |        UNION ALL SELECT '${PagerankDomains(0)}', CAST(1 AS BIGINT)),
        |$ctes
        |SELECT node, rank_e6, (SELECT ks FROM pzks) AS stopped_k FROM $fin
        |ORDER BY rank_e6 DESC, node""".stripMargin
    },

    // the crawl chain replayed stage for stage from the documents table
    // (the WARC container leg is the in-plan audit -> constant TRUE):
    // same page/URL/anchor construction, the shared html_to_text stages,
    // link extraction as regexp_extract_all, the shared URL chain for
    // both the page URL and each link, the unrolled PageRank, the top-4
    // rank gate, blocklist NOT IN, token floor, running-sum bin packing
    "pipeline_crawl_corpus" -> {
      val (h2t, h2tFin) = htmlToTextSqlCtes("crawl", "html", "text", "cw")
      val (ownU, ownFin) = graft.pipeline.Urls.urlSqlCtes(h2tFin, "url", "cu")
      val (lnkU, lnkFin) = graft.pipeline.Urls.urlSqlCtes("links", "lurl", "cl")
      val (prc, prFin) = graft.pipeline.Graph.pageRankCtes("edges", PagerankIters, prefix = "cp")
      val (crbCtes, crbRules) =
        graft.pipeline.Robots.rulesSqlCtes("crsrc", RobotsAgent, "cr")
      val crFixture = CrawlRobotsFixture
        .map { case (h, t) => s"('$h', ${sqlTextLit(t)})" }
        .mkString(",\n        ")
      s"""WITH crawl AS (
        |  SELECT doc_id,
        |         'https://' || (CASE doc_id % 7 ${domainCase(7)} END) ||
        |           '/doc/' || CAST(doc_id AS VARCHAR) || '?utm_x=1#f' AS url,
        |         '<html><body><h1>D' || CAST(doc_id AS VARCHAR) || '</h1><p>' ||
        |         regexp_replace(text, '[&<]', ' ', 'g') ||
        |         '</p><a href="https://' || (CASE doc_id % 5 ${domainCase(5)} END) ||
        |           '/l/' || CAST(doc_id AS VARCHAR) || '">a</a>' ||
        |         '<a href="https://' || (CASE doc_id % 3 ${domainCase(3)} END) ||
        |           '/m">b</a></body></html>' AS html
        |  FROM documents),
        |$h2t,
        |$ownU,
        |links AS (SELECT doc_id,
        |            unnest(regexp_extract_all(html, '<a href="([^"]*)"', 1)) AS lurl
        |          FROM crawl),
        |$lnkU,
        |edges AS (SELECT a.domain AS src, b.domain AS dst
        |          FROM $ownFin a JOIN $lnkFin b USING (doc_id)),
        |$prc,
        |top4 AS (SELECT node AS domain FROM (
        |           SELECT node, ROW_NUMBER() OVER (ORDER BY rank_e6 DESC, node) AS rn
        |           FROM $prFin) WHERE rn <= 4),
        |crsrc AS (SELECT * FROM (VALUES
        |        $crFixture) AS t(host, robots_txt)),
        |$crbCtes,
        |crwp AS (SELECT doc_id, domain, text, host,
        |          ${graft.pipeline.Robots.pathSql("url")} AS rpath FROM $ownFin),
        |crwa AS (SELECT doc_id, domain, text,
        |          max(CASE WHEN rpath LIKE r.like_pat ESCAPE '\\'
        |                   THEN r.plen * 2 + r.rule_allow END) AS best
        |        FROM crwp LEFT JOIN $crbRules r USING (host)
        |        GROUP BY 1, 2, 3),
        |sel AS (SELECT doc_id, domain,
        |          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        |        FROM crwa
        |        WHERE coalesce(best % 2 = 1, TRUE)
        |          AND domain NOT IN ('ads-network.com', 'spam-tracker.net')
        |          AND domain IN (SELECT domain FROM top4)),
        |q AS (SELECT * FROM sel WHERE n_tokens >= 10),
        |c AS (SELECT doc_id, domain, n_tokens,
        |        CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |      FROM q)
        |SELECT doc_id, domain, n_tokens, (run - n_tokens) // 2048 AS bin,
        |       TRUE AS warc_roundtrip_ok
        |FROM c ORDER BY doc_id""".stripMargin
    },

    // exact-integer counts feed one LN() per hashed feature bucket; the
    // 1e-6 floor lands BEFORE the per-doc sum, which is therefore an
    // order-independent integer sum; the log2 is the FixedLog2 IEEE-only
    // recurrence, replayed below as its unrolled CTE chain — no libm.
    // The bucket expression is generated from the same constants as the
    // Spark plan (Dsir.featureBucketSql), smoothing V is the fixed bucket
    // count — the paper's hashed feature space, bounded at any vocabulary.
    "dsir_weights" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang = 'en' AS is_target,
        |         regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
        |ex AS (SELECT doc_id, is_target,
        |              ${graft.pipeline.Dsir.featureBucketSql("w", DsirBuckets)} AS f
        |       FROM (SELECT doc_id, is_target, unnest(toks) AS w FROM t)),
        |ws AS (SELECT f, COUNT(*) AS c_raw,
        |              SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_target
        |       FROM ex GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c_raw) AS BIGINT) AS n_raw,
        |               CAST(SUM(c_target) AS BIGINT) AS n_target,
        |               $DsirBuckets AS v
        |        FROM ws),
        |rat AS (SELECT f,
        |          ((CAST(c_target AS DOUBLE) + 1.0) * (CAST(n_raw AS DOUBLE) + CAST(v AS DOUBLE)))
        |          / ((CAST(c_raw AS DOUBLE) + 1.0) * (CAST(n_target AS DOUBLE) + CAST(v AS DOUBLE))) AS x
        |        FROM ws CROSS JOIN tot),
        |${dsirLogStages._1},
        |lr AS (SELECT f, CAST(FLOOR(1000000.0 * lg) AS BIGINT) AS lr_e6
        |       FROM ${dsirLogStages._2})
        |SELECT e.doc_id,
        |       MAX(e.is_target) AS is_target,
        |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(lr.lr_e6) AS BIGINT) AS weight_e6
        |FROM ex e JOIN lr USING (f)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // BM25 with Lucene's non-negative idf. Constants are spelled as the
    // same literal arithmetic Spark evaluates ((1.2 + 1.0), (1.0 - 0.75))
    // — double(1.2)+1.0 != double(2.2), so writing 2.2 would diverge.
    // Term order in the sum is fixed left-to-right in both engines.
    "bm25_search" ->
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
        |ORDER BY score_e6 DESC, doc_id LIMIT 20""".stripMargin,

    // the bloom filter is a pure pruner — the exact semantics is the
    // plain fingerprint anti join, which IS the oracle (NOT EXISTS, the
    // null-safe spelling matching Spark's left_anti)
    "cross_corpus_dedup" ->
      """WITH fp AS (
        |  SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents),
        |ref AS (SELECT fingerprint FROM fp WHERE doc_id % 5 <> 0),
        |planted AS (SELECT -doc_id - 1 AS doc_id, fingerprint
        |            FROM fp WHERE doc_id % 5 <> 0 AND doc_id % 7 = 1),
        |inc AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % 5 = 0
        |        UNION ALL SELECT doc_id, fingerprint FROM planted)
        |SELECT doc_id, fingerprint FROM inc i
        |WHERE NOT EXISTS (SELECT 1 FROM ref r WHERE r.fingerprint = i.fingerprint)
        |ORDER BY doc_id""".stripMargin,

    // the oracle's window rank IS the semantics being pinned; the Spark
    // plan computes the same sets threshold-wise without a global sort
    "ccnet_buckets" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk,
        |         COUNT(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN rk <= (30 * n + 99) // 100 THEN 'head'
        |            WHEN rk <= (70 * n + 99) // 100 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin,

    // whole epochs replicated via range(); the fractional replica uses
    // the shared portable bucket (integer `//` division — DuckDB CAST
    // of a .5 double would round-to-nearest where Spark truncates)
    "corpus_upsample" ->
      s"""WITH f AS (
        |  SELECT doc_id, source,
        |         CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 130
        |                     WHEN 'src2' THEN 0 ELSE 100 END AS pct
        |  FROM documents),
        |r AS (SELECT doc_id, source, pct // 100 AS whole, pct % 100 AS frac FROM f),
        |e AS (SELECT doc_id, source, whole, frac,
        |             UNNEST(range(0, whole + CASE WHEN frac > 0 THEN 1 ELSE 0 END))
        |               AS copy_id
        |      FROM r)
        |SELECT doc_id, CAST(copy_id AS BIGINT) AS copy_id, source FROM e
        |WHERE copy_id < whole
        |   OR ${graft.pipeline.Sampling.portableBucketSql("doc_id")} < frac
        |ORDER BY doc_id, copy_id""".stripMargin,

    // integer tier replayed exactly (generated from the same constants);
    // the float tier's unit-norm audit is in-plan, so its oracle column
    // is the constant TRUE
    "hashed_embedding" ->
      s"""SELECT doc_id, counts_str, TRUE AS norm_ok
         |FROM (${graft.pipeline.Embedding.hashedCountsSql(EmbDim)})
         |ORDER BY doc_id""".stripMargin,

    // the classifier oracle replays the ENTIRE K-step training run as
    // unrolled iteration CTEs generated from the same constants as the
    // Spark plan (Classifier.classifierSql) — exact integer arithmetic
    // throughout, so the hash match covers training, not just scoring
    "quality_classifier" ->
      graft.pipeline.Classifier.classifierSql(
        "lang = 'en'", ClsBuckets, ClsIters, ClsEtaNum, ClsEtaDen,
        bigrams = true),

    // one-vs-rest training replayed in full with a cls key threaded
    // through every iteration CTE, argmax as the identical
    // row_number-over-doc window (Classifier.multiClassifierCtes)
    "language_classifier" -> {
      val (ctes, fin) = graft.pipeline.Classifier.multiClassifierCtes(
        "documents", "lang", ClsBuckets, ClsIters, ClsEtaNum, ClsEtaDen)
      s"WITH $ctes\nSELECT doc_id, cls_actual, cls_pred, score_e6 FROM $fin ORDER BY doc_id"
    },

    // the same replay with the calibrated footer: margin + share in the
    // identical floor-division arithmetic (Classifier.multiClassifierCtes
    // calibrated = true)
    "language_classifier_calibrated" -> {
      val (ctes, fin) = graft.pipeline.Classifier.multiClassifierCtes(
        "documents", "lang", ClsBuckets, ClsIters, ClsEtaNum, ClsEtaDen,
        calibrated = true)
      s"WITH $ctes\nSELECT doc_id, cls_actual, cls_pred, score_e6, margin_e6, share_bp FROM $fin ORDER BY doc_id"
    },

    // the SAME training replay, aggregated the way a mixture decision
    // reads it (token-count spelling shared with text_stats)
    "lang_report_trained" -> {
      val (ctes, fin) = graft.pipeline.Classifier.multiClassifierCtes(
        "documents", "lang", ClsBuckets, ClsIters, ClsEtaNum, ClsEtaDen)
      s"""WITH $ctes
        |SELECT o.cls_pred AS lang_pred,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(CASE WHEN o.cls_actual = o.cls_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |       CAST(SUM(len(regexp_split_to_array(trim(d.text), '\\s+'))) AS BIGINT) AS n_tokens
        |FROM $fin o JOIN documents d USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // the calibrated replay + the exact nearest-rank p50 walk over
    // margin_e6 (the token_percentiles device) + the CASE gate + the
    // rollup — the whole thresholded-LID chain inside one hash match
    "lang_report_gated" -> {
      val (ctes, fin) = graft.pipeline.Classifier.multiClassifierCtes(
        "documents", "lang", ClsBuckets, ClsIters, ClsEtaNum, ClsEtaDen,
        calibrated = true)
      s"""WITH $ctes,
        |gn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM $fin),
        |gh AS (SELECT margin_e6 AS v, COUNT(*) AS c FROM $fin GROUP BY 1),
        |gr AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM gh),
        |gf AS (SELECT CAST(MIN(gr.v) AS BIGINT) AS fl
        |       FROM gr CROSS JOIN gn WHERE gr.run >= (50 * gn.n + 99) // 100),
        |gg AS (SELECT o.doc_id, o.cls_actual,
        |              CASE WHEN o.margin_e6 >= gf.fl THEN o.cls_pred
        |                   ELSE 'und' END AS cls_gated
        |       FROM $fin o CROSS JOIN gf)
        |SELECT g.cls_gated AS lang_gated,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(CASE WHEN g.cls_actual = g.cls_gated THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |       CAST(SUM(len(regexp_split_to_array(trim(d.text), '\\s+'))) AS BIGINT) AS n_tokens
        |FROM gg g JOIN documents d USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // gate + mixCorpus replay: the same calibrated/gate chain, then the
    // portable hash-bucket keep at the per-bucket percentage and the
    // in/kept rollup
    "mixture_gated_lid" -> {
      val (ctes, fin) = graft.pipeline.Classifier.multiClassifierCtes(
        "documents", "lang", ClsBuckets, ClsIters, ClsEtaNum, ClsEtaDen,
        calibrated = true)
      val bucket = graft.pipeline.Sampling.portableBucketSql("d.doc_id")
      s"""WITH $ctes,
        |gn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM $fin),
        |gh AS (SELECT margin_e6 AS v, COUNT(*) AS c FROM $fin GROUP BY 1),
        |gr AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM gh),
        |gf AS (SELECT CAST(MIN(gr.v) AS BIGINT) AS fl
        |       FROM gr CROSS JOIN gn WHERE gr.run >= (50 * gn.n + 99) // 100),
        |gg AS (SELECT o.doc_id,
        |              CASE WHEN o.margin_e6 >= gf.fl THEN o.cls_pred
        |                   ELSE 'und' END AS cls_gated
        |       FROM $fin o CROSS JOIN gf),
        |gm AS (SELECT g.cls_gated AS lang_gated, d.doc_id,
        |              CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT) AS nt,
        |              CAST($bucket AS BIGINT) AS bucket
        |       FROM gg g JOIN documents d USING (doc_id)),
        |gi AS (SELECT lang_gated, CAST(COUNT(*) AS BIGINT) AS n_docs_in,
        |              CAST(SUM(nt) AS BIGINT) AS n_tokens_in
        |       FROM gm GROUP BY 1),
        |gk AS (SELECT lang_gated, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
        |              CAST(SUM(nt) AS BIGINT) AS n_tokens_kept
        |       FROM gm
        |       WHERE bucket < (CASE lang_gated WHEN 'en' THEN 100
        |                            WHEN 'und' THEN 25 ELSE 50 END)
        |       GROUP BY 1)
        |SELECT gi.lang_gated, gi.n_docs_in,
        |       CAST(COALESCE(gk.n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
        |       gi.n_tokens_in,
        |       CAST(COALESCE(gk.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept
        |FROM gi LEFT JOIN gk USING (lang_gated)
        |ORDER BY 1""".stripMargin
    },

    // train on the even half (the full unrolled GD replay over that
    // slice), score the odd half under the trained weights CTE
    // (Classifier.scoreCtes — the identical feature + argmax spelling),
    // then the full-outer per-language rollup
    "lang_holdout_report" -> {
      val (ctes, _, wcte) = graft.pipeline.Classifier.multiClassifierCtesW(
        "(SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0)",
        "lang", ClsBuckets, ClsIters, ClsEtaNum, ClsEtaDen)
      val (sctes, sfin) = graft.pipeline.Classifier.scoreCtes(
        "(SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 <> 0)",
        "lang", wcte, ClsBuckets)
      s"""WITH $ctes,
        |$sctes,
        |ta AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_train_docs
        |       FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |ha AS (SELECT cls_pred AS lang,
        |       CAST(COUNT(*) AS BIGINT) AS n_holdout_pred,
        |       CAST(SUM(CASE WHEN cls_actual = cls_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_holdout_agree
        |       FROM $sfin GROUP BY 1)
        |SELECT lang,
        |       CAST(COALESCE(n_train_docs, 0) AS BIGINT) AS n_train_docs,
        |       CAST(COALESCE(n_holdout_pred, 0) AS BIGINT) AS n_holdout_pred,
        |       CAST(COALESCE(n_holdout_agree, 0) AS BIGINT) AS n_holdout_agree
        |FROM ta FULL OUTER JOIN ha USING (lang)
        |ORDER BY lang""".stripMargin
    },

    // same stream layout: exclusive prefix sum -> the range of sequence
    // ids a doc overlaps -> clamped fragment arithmetic, all integers
    "pack_sequences" ->
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
        |FROM e ORDER BY doc_id, seq_id""".stripMargin,

    // the same layout replay + the mask arithmetic in SQL: seq_off from
    // the stream offset, loss interval = fragment ∩ [prompt_len, total)
    "pack_sft_sequences" ->
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
        |FROM x ORDER BY doc_id, seq_id""".stripMargin,

    // turn chunking, conversation rebuild (ordered string_agg + per-turn
    // offset window), the same window tiling as pack_sft_sequences, then
    // interval clipping as a fragment x assistant-turn overlap join
    "chat_sft_pack" ->
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
        |ORDER BY conv_id, seq_id""".stripMargin,

    // chat_sft_pack's conversation rebuild continued into the id domain:
    // the rendered token stream is reconstructed turn-by-turn (header at
    // toff, content at toff+1..toff+nt), ids are ROW_NUMBER over the
    // distinct tokens (the word-level buildVocab replay), then the
    // pack_token_sequences tiling + slicing with the interval clipping
    // aggregated separately from the fragments (a fragment overlapping
    // two intervals must not double its length into n_tokens)
    "chat_pack_token_ids" ->
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
        |ORDER BY seq_id""".stripMargin,

    // the same stream with an explicit global token position: sequence
    // membership is gpos // 512, text rebuilt with ordered string_agg
    "pack_sequences_text" ->
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
        |FROM g GROUP BY 1 ORDER BY seq_id""".stripMargin,

    // bpe_token_ids' replay (vocab + per-doc id lists) feeding
    // pack_sequences' replay (exclusive prefix sum + window tiling),
    // fragments sliced from the id lists and stitched per window; the
    // in-window offset is the windowed exclusive SUM of fragment
    // lengths in doc order (windows tile from 0 by construction), and
    // doc_starts keeps only fragments at a document's token 0
    "pack_token_sequences" ->
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
        |ORDER BY seq_id""".stripMargin,

    // the same BPE id stream + prompt_len = n // 3, with the
    // pack_sft_sequences mask arithmetic rendered per window
    "pack_masked_token_ids" ->
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
        |ORDER BY seq_id""".stripMargin,

    // the whole curation chain, stage by stage in the same order as the
    // Spark plan: each block is the (already individually green) oracle
    // spelling of its operator, re-sourced from the previous stage —
    // fingerprint anti join, exact-Jaccard pairs + recursive closure,
    // shared-trigram decontamination, Gopher integer rules, the embedded
    // K-iteration classifier training replay (classifierCtes), the
    // ROW_NUMBER spelling of the exact fraction thresholds, epoch
    // replication, and the running-sum bin assignment
    // per-stage survivor counts over the same CTE chain as
    // pipeline_full_curation (shared prefix builder — the two oracles
    // cannot describe different chains)
    "curation_funnel" ->
      s"""WITH RECURSIVE $curationOracleCtes
        |SELECT stage, n_docs FROM (
        |  SELECT '00_incoming' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM inc
        |  UNION ALL SELECT '01_exact_front_door', CAST(COUNT(*) AS BIGINT) FROM fresh
        |  UNION ALL SELECT '02_neardup_keep', CAST(COUNT(*) AS BIGINT) FROM keepd
        |  UNION ALL SELECT '03_decontaminated', CAST(COUNT(*) AS BIGINT) FROM decon
        |  UNION ALL SELECT '04_quality_gate', CAST(COUNT(*) AS BIGINT) FROM gq
        |  UNION ALL SELECT '05_head_middle', CAST(COUNT(*) AS BIGINT)
        |            FROM bucketed WHERE bucket <> 'tail'
        |) ORDER BY stage""".stripMargin,

    "pipeline_full_curation" ->
      s"""WITH RECURSIVE $curationOracleCtes,
        |up AS (SELECT doc_id, text,
        |              CASE bucket WHEN 'head' THEN 200 WHEN 'middle' THEN 100 ELSE 0 END AS pct
        |       FROM bucketed WHERE bucket <> 'tail'),
        |upr AS (SELECT doc_id, text, pct // 100 AS whole, pct % 100 AS frac FROM up),
        |upe AS (SELECT doc_id, text, whole, frac,
        |               UNNEST(range(0, whole + CASE WHEN frac > 0 THEN 1 ELSE 0 END)) AS copy_id
        |        FROM upr),
        |ups AS (SELECT doc_id, text, CAST(copy_id AS BIGINT) AS copy_id FROM upe
        |        WHERE copy_id < whole
        |           OR ${graft.pipeline.Sampling.portableBucketSql("doc_id")} < frac),
        |pw AS (SELECT doc_id, copy_id, doc_id * 4 + copy_id AS uid,
        |              CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        |       FROM ups),
        |spl AS (SELECT fr.doc_id,
        |          CASE WHEN CAST(('0x' || substr(md5('0:' ||
        |                 CAST(COALESCE(l.cluster_id, fr.doc_id) AS VARCHAR)), 1, 15))
        |                 AS BIGINT) % 100 < 80 THEN 'train'
        |               WHEN CAST(('0x' || substr(md5('0:' ||
        |                 CAST(COALESCE(l.cluster_id, fr.doc_id) AS VARCHAR)), 1, 15))
        |                 AS BIGINT) % 100 < 90 THEN 'val'
        |               ELSE 'test' END AS split_name
        |        FROM fresh fr LEFT JOIN jlab l ON fr.doc_id = l.doc_id),
        |pc2 AS (SELECT pw.doc_id, copy_id, n_tokens, split_name,
        |              CAST(SUM(n_tokens) OVER (PARTITION BY split_name
        |                ORDER BY uid ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |       FROM pw JOIN spl ON pw.doc_id = spl.doc_id)
        |SELECT doc_id, copy_id, n_tokens, split_name, (run - n_tokens) // 2048 AS bin
        |FROM pc2 ORDER BY doc_id, copy_id""".stripMargin
  )
}
