package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Fixtures._

/** The crawl family of the query catalog: queries over the planted URL,
  * HTML, robots and link fixtures — extraction, URL filtering, robots
  * gating, recrawl, link graphs, PageRank, the frontier and the
  * end-to-end crawl corpus. */
private[graft] object CrawlQueries extends Family {

  /** CASE arm list mapping `doc_id % m` to the planted PagerankDomains —
    * shared by every oracle replaying the planted link/crawl fixtures. */
  private def domainCase(m: Int): String = (0 until m)
    .map(i => s"WHEN $i THEN '${PagerankDomains(i)}'").mkString(" ")

  /** `doc_id % mod`-indexed planted host over [[PagerankDomains]] — the
    * Column twin of [[domainCase]]. */
  private def plantedHost(mod: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    element_at(array(PagerankDomains.map(lit): _*),
      (pmod(col("doc_id"), lit(mod)) + 1).cast("int"))
  }

  /** The planted crawl fixture SHARED by the two frontier queries, written
    * once per fixture to the [[FixtureStore]]: pages with two outlinks
    * each, the fetched canonical set, and ONE link explode feeding both the
    * candidate set and the rank edges. Returns (fetched, links). */
  private def frontierBase(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val p = FixtureStore.stage("crawl_frontier", dir, "documents") { out =>
      import spark.implicits._
      import graft.pipeline.{TextAnalysis, Urls}
      val pages = tbl(spark, dir, "documents").select($"doc_id",
        concat(lit("https://"), plantedHost(7), lit("/d/"), $"doc_id").as("url"),
        concat(
          lit("<a href=\"https://"), plantedHost(5), lit("/d/"), pmod($"doc_id", lit(40)),
          lit("\">x</a><a href=\"https://"), plantedHost(7), lit("/n/"), $"doc_id",
          lit("?utm_y=1\">y</a>")).as("html"))
      pages.select(Urls.urlNormalize($"url").as("url_norm")).distinct()
        .write.mode("overwrite").parquet(s"$out/fetched")
      pages.select(
        Urls.registeredDomain(Urls.urlHost($"url")).as("src"),
        explode(TextAnalysis.htmlLinks($"html")).as("link"))
        .select($"src",
          Urls.urlNormalize($"link").as("url_norm"),
          Urls.registeredDomain(Urls.urlHost($"link")).as("domain"))
        .write.mode("overwrite").parquet(s"$out/links")
    }
    (spark.read.parquet(s"$p/fetched"), spark.read.parquet(s"$p/links"))
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

  lazy val entries: Seq[Entry] = Seq(
    // crawl front door: raw HTML -> text (codegen'd HtmlToText: strip
    // tags/script/style/comments, decode entities once, one line per
    // block element, pinned whitespace chain). The documents table has
    // no HTML, so the query wraps each doc's payload in a well-formed
    // fixture — '&' and '<' pre-stripped from the payload so every
    // entity/tag in play is planted and the oracle's RE2 replace chain
    // is exactly equivalent to the kernel on these shapes
    query("html_extract", (spark, dir) => {
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
    }, oracle = {
      // the same fixture construction, then an RE2 replace chain
      // equivalent to the kernel on well-formed input: script/style
      // content, comments, block tags to newline, generic tag strip,
      // literal entity replaces with &amp; LAST (= decode-once), the
      // pinned whitespace chain
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
    }),

    // RFC 6596 canonical-link extraction: planted <link rel=canonical>
    // declarations in BOTH attribute orders (doc_id%3: rel-first /
    // href-first / absent) — the page-author canonicalization signal the
    // recrawl keep-latest chain consumes
    query("html_canonical", (spark, dir) => {
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
    }, oracle =
      // same fixture + the same two RE2 extracts, leftmost-match in both
      // engines; DuckDB regexp_extract is COALESCE-guarded for no-match
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
        |FROM x ORDER BY doc_id""".stripMargin),

    // sitemaps.org <loc> extraction: one synthetic sitemap per host
    // (8 hosts over the corpus; entries carry planted inner whitespace
    // to exercise the trim), the URL-discovery channel Robots.sitemapsOf
    // points the crawler at
    query("sitemap_locs", (spark, dir) => {
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
    }, oracle =
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
        |FROM l ORDER BY host_id""".stripMargin),

    // WARC ingestion front door (ISO 28500, the Common Crawl container):
    // synthetic member-per-record .warc.gz and plain files are built ON
    // EXECUTORS from the corpus docs (8 files, half gzipped, request +
    // response + warcinfo records), parsed back by Warc.warcDocuments,
    // and audited in-plan against the planted HTML — plus a garbage file
    // that must parse to nothing and a clipped file whose final record
    // must carry the truncated flag. Constant-boolean oracle (binary
    // container parse is not SQL-reproducible), the multimodal pattern
    query("warc_extract", (spark, dir) => {
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
    }, oracle =
      // binary container parse: in-plan audit (planted-HTML equality,
      // gzip parity, corrupt/truncated handling), constant-boolean oracle
      ("SELECT TRUE AS html_match, TRUE AS gzip_files_parsed, " +
        "TRUE AS corrupt_is_empty, TRUE AS truncated_flagged")),

    // URL-level curation (C4/RefinedWeb family): host extraction,
    // registered-domain reduction, canonicalization, and a domain
    // blocklist anti join. The documents table has no URL column, so the
    // query plants one per doc from deterministic variant classes —
    // mixed-case hosts, userinfo, default and non-default ports, a
    // multi-part suffix, an IPv4 literal, tracking params, fragments —
    // and the oracle replays the identical construction plus the pinned
    // regex chain (shared constants export the suffix set and tracking
    // alternation, so the two engines cannot drift)
    query("url_filter", (spark, dir) => {
      import spark.implicits._
      import graft.pipeline.Urls
      val blocked = Seq("Ads-Network.com", "spam-tracker.net").toDF("domain")
      Urls.withUrlColumns(
        Urls.filterBlockedDomains(plantedUrls(spark, dir), "url", blocked),
        "url")
        .select($"doc_id", $"host", $"domain", $"url_norm")
        .orderBy($"doc_id")
    }, oracle =
      // the same planted-URL construction, then the pinned chains replayed
      // step for step: host = authority minus userinfo/port, lowered;
      // registered domain by the shared multi-part-suffix set; normalize =
      // fragment strip, scheme://authority lowercase, default-port drop,
      // tracking-param strip (shared alternation) + separator repair,
      // trailing-slash drop; finally the blocklist as NOT IN on the domain
      s"""WITH u AS (SELECT doc_id, $plantedUrlSql AS url FROM documents),
        |${graft.pipeline.Urls.urlSqlCtes("u", "url")._1}
        |SELECT doc_id, host, domain, url_norm FROM ${graft.pipeline.Urls.urlSqlCtes("u", "url")._2}
        |WHERE domain NOT IN ('ads-network.com', 'spam-tracker.net')
        |ORDER BY doc_id""".stripMargin),

    // robots.txt crawl-admission gate (RFC 9309): planted per-host robots
    // bodies parsed into the graftbot rule table, then every planted URL
    // gets its longest-match verdict — group selection, `*`/`$` wildcards,
    // allow-wins ties, default-allow for unknown hosts all in play. The
    // oracle replays parse + grading + LIKE-translated matching from the
    // SAME constants via Robots.rulesSqlCtes
    query("robots_gate", (spark, dir) => {
      import spark.implicits._
      import graft.pipeline.Robots
      val robots = RobotsFixture.toDF("host", "robots_txt")
      val rules = Robots.parseRules(robots, RobotsAgent)
      Robots.withRobotsVerdict(plantedUrls(spark, dir), "url", "doc_id", rules)
        .select($"doc_id", $"host", $"path", $"allowed")
        .orderBy($"doc_id")
    }, oracle = {
      // same planted URLs; the robots fixture embedded as VALUES; parse,
      // agent grading, and the LIKE-pattern translation generated from the
      // SAME Robots constants; verdict = the identical max(plen*2+allow)
      // integer fold with default-allow on no match / no host row
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
    }),

    // robots metadata surfaces: per-host politeness delay for the agent
    // (group-scoped, specific-beats-*, max across combined groups,
    // integer-only pinned) and the file-scoped sitemap directives —
    // what a crawl scheduler reads next to the admission rules
    query("robots_meta", (spark, dir) => {
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
    }, oracle = {
      // the same robots fixture; delays replay the group-selection CTEs
      // (the generator's documented intermediate contract), sitemaps read
      // the pre-filter parse CTE — shared constants end to end
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
    }),

    // recrawl snapshot versioning: each doc planted as 1-3 fetches whose
    // URL spelling drifts (tracking param on odd snaps — urlNormalize
    // collapses them to one page), content changing every 1st or 2nd
    // snap, one timestamp tie broken by the fetch id. keepLatest +
    // changeLog reduce to (latest version, churn stats) per canonical
    // URL; the oracle replays the same windows over the shared URL chain
    query("recrawl_latest", (spark, dir) => {
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
    }, oracle = {
      // the same planted snapshots; url_norm via the SHARED urlSqlCtes
      // chain; latest pick, version count, and change log as the identical
      // windows (`//` floor division == Spark `div` on non-negatives;
      // IS DISTINCT FROM == the null-safe <=>)
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
    }),

    // recrawl keyed by the AUTHOR-declared canonical (RFC 6596,
    // htmlCanonicalUrl's output): mirror-host fetches declaring an
    // absolute canonical fuse with the main page's versions; a relative
    // declaration is ignored (falls back to the fetch URL). Non-vacuous:
    // without the override the mirror snapshots would be separate keys
    query("recrawl_canonical", (spark, dir) => {
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
    }, oracle = {
      // same shape as recrawl_latest, but the url chain runs on the
      // canonical-override key (absolute http(s) canonical wins, anything
      // else falls back to the fetch URL)
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
    }),

    // the flagship sketch consuming the URL operators: top registered
    // domains per shard via topn_add_agg — URL-level corpus statistics
    // with bounded state, the reference operator on crawl metadata
    query("topn_url_domains", (spark, dir) => {
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
    }, oracle =
      // same planted URLs + shared chain, then exact GROUP BY count with
      // the sketch's pinned tie order (counters exact at this budget)
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
        |ORDER BY shard, frequency DESC, item""".stripMargin),

    // outlink extraction feeding the URL operators: anchors planted in
    // the canonical <a href="..."> spelling (two absolute links per doc
    // + a relative one every third doc), extracted by the codegen'd
    // html_links kernel, then host/domain/normalize per link. The oracle
    // replays extraction as regexp_extract_all + the SAME urlSqlCtes
    // chain the url_filter oracle uses
    query("html_links", (spark, dir) => {
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
    }, oracle = {
      // the same planted anchors, extraction replayed as a single RE2
      // regexp_extract_all (the fixtures use the canonical double-quoted
      // spelling), then the SHARED urlSqlCtes chain per link
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
    }),

    // anchor-text statistics per link TARGET: (href, text) pairs from the
    // codegen'd html_anchors kernel (inner-tag strip + whitespace
    // collapse), target reduced to its registered domain, anchor terms
    // counted with the reference sketch — "what the web calls this
    // domain", the classic target-side relevance/spam signal. The oracle
    // replays extraction as regexp_extract_all pairs + the shared URL
    // chain + exact GROUP BY with the pinned tie order
    query("topn_anchor_terms", (spark, dir) => {
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
    }, oracle = {
      // the same planted anchors with text: pairs extracted by one lazy
      // RE2 pattern (group 1 = href, group 2 = inner markup up to the
      // first </a> — identical to the kernel's close-tag scan on these
      // fixtures), inner tags stripped + whitespace collapsed the way the
      // kernel does, the SHARED urlSqlCtes chain for the target domain,
      // then exact GROUP BY count with the sketch's pinned tie order
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
    }),

    // domain-graph PageRank (the web-curation quality prior) in exact
    // integer fixed point — the Classifier training doctrine applied to
    // graph iteration: the oracle replays all K iterations as unrolled
    // CTE stages generated from the same constants. The planted graph
    // (7 domains; src by doc_id%7, dst by doc_id%3, plus one extra
    // planted edge) has asymmetric in/out degrees and dangling-decay
    // dynamics, so the ranks discriminate every rule
    query("domain_pagerank", (spark, dir) => {
      import spark.implicits._
      val dArr = array(PagerankDomains.map(lit): _*)
      val base = tbl(spark, dir, "documents").select(
        element_at(dArr, (pmod($"doc_id", lit(7)) + 1).cast("int")).as("src"),
        element_at(dArr, (pmod($"doc_id", lit(3)) + 1).cast("int")).as("dst"))
      val planted = Seq((PagerankDomains(2), PagerankDomains(6))).toDF("src", "dst")
      graft.pipeline.Graph.pageRank(
        base.unionByName(planted), "src", "dst", iterations = PagerankIters)
        .orderBy($"rank_e6".desc, $"node")
    }, oracle = {
      // the same planted edge list, then the K PageRank iterations
      // unrolled as CTE stages from the shared generator — integer `//`
      // on non-negative BIGINTs matches Spark's `div` exactly
      val (ctes, fin) = graft.pipeline.Graph.pageRankCtes("raw", PagerankIters)
      s"""WITH raw AS (
        |  SELECT (CASE doc_id % 7 ${domainCase(7)} END) AS src,
        |         (CASE doc_id % 3 ${domainCase(3)} END) AS dst
        |  FROM documents
        |  UNION ALL SELECT '${PagerankDomains(2)}', '${PagerankDomains(6)}'),
        |$ctes
        |SELECT node, rank_e6 FROM $fin
        |ORDER BY rank_e6 DESC, node""".stripMargin
    }),

    // crawl-frontier prioritization (the scheduler side of the front
    // door): outlinks canonicalized, already-fetched pages removed by ONE
    // keyed anti join on the canonical URL, the remainder prioritized by
    // their target domain's PageRank, capped at 3 frontier slots per
    // domain (hash-partitioned rank window, no global sort). The oracle
    // replays extraction, both shared URL chains, the unrolled PageRank,
    // the NOT IN anti join, and the same capped window
    query("crawl_frontier", (spark, dir) => {
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
    }, oracle = {
      // weighted edges (per-pair weight sums), seed-set personalization,
      // and the DATA-DRIVEN stop: all stages unrolled to the cap, each
      // stage's L1 delta computed, the reported iteration chosen by the
      // same first-at-or-under-tolerance rule the Spark loop applies
      // frontier replay: same pages/links, both shared URL chains, the
      // unrolled PageRank over the page->link domain graph, NOT IN against
      // the fetched canonical set, and the identical capped rank window
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
    }),

    // the frontier with BOTH discovery channels: outlinks AND sitemaps
    // (per-host sitemap XML bodies -> sitemapLocs -> the same URL chain),
    // unioned into one candidate set with per-channel provenance flags;
    // overlap planted (every 6th doc's sitemap repeats its outlink
    // target) so via_link AND via_sitemap both-true rows exist. Rank
    // edges come from links only — a sitemap asserts existence, not
    // endorsement.
    query("crawl_frontier_sitemaps", (spark, dir) => {
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
    }, oracle = {
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
    }),

    // the full PageRank surface in one gate: WEIGHTED edges (per-pair
    // weight sums drive proportional rank splits), a PERSONALIZED
    // teleport prior concentrated on a 2-domain seed set (non-seed nodes
    // get zero restart mass — reachable only through links), and the
    // L1-delta CONVERGENCE stop, whose stopped iteration is emitted as a
    // column so the oracle must land on the identical K by replaying the
    // same first-at-or-under-tolerance rule over the same exact integers
    query("domain_pagerank_personalized", (spark, dir) => {
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
    }, oracle = {
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
    query("pipeline_crawl_corpus", (spark, dir) => {
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
    }, oracle = {
      // the crawl chain replayed stage for stage from the documents table
      // (the WARC container leg is the in-plan audit -> constant TRUE):
      // same page/URL/anchor construction, the shared html_to_text stages,
      // link extraction as regexp_extract_all, the shared URL chain for
      // both the page URL and each link, the unrolled PageRank, the top-4
      // rank gate, blocklist NOT IN, token floor, running-sum bin packing
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
    })
  )
}
