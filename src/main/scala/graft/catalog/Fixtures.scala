package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture constants and their SQL twins shared by more than one family
  * of the catalog. */
private[graft] object Fixtures {

  /** Counter budget that exceeds every distinct count in the testdata, so
    * sketch results are exact (no policy-B eviction fires). */
  val ExactN = 2000000

  /** Stop-word probe for the quality_filter query, adapted to the
    * synthetic corpus vocabulary; the oracle list is generated from this
    * constant so the two spellings cannot drift. */
  val QualityProbeWords =
    Seq("the", "a", "table", "data", "row", "value", "scan", "join")

  def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Planted per-doc URL population shared by url_filter /
    * topn_url_domains: deterministic variant classes — mixed-case hosts,
    * userinfo, default and non-default ports, a multi-part suffix, an
    * IPv4 literal, a private-section hosted-platform subdomain
    * (user.github.io-style), a depth-3 private suffix (s3.amazonaws.com),
    * a wildcard-rule host (*.ck) and its exception (!www.ck), tracking
    * params, fragments. [[plantedUrlSql]] is the same construction for
    * the oracles. */
  def plantedUrls(spark: SparkSession, dir: String) = {
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

  /** The identical construction as a DuckDB scalar expression. */
  val plantedUrlSql: String =
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

  /** A fixture table's row count, counted once per fixture fingerprint —
    * the table-stats stand-in that lets AutoBits callers skip the per-call
    * plan-build count() job (Similarity.lshNearDupPairs `knownCount`): at
    * cluster scale the catalog serves this number; here one parquet-footer
    * count per JVM per fixture does. */
  def fixtureCount(spark: SparkSession, dir: String, name: String): Long =
    FixtureStore.value[java.lang.Long]("row_count", dir, name)(tbl(spark, dir, name).count())
}
