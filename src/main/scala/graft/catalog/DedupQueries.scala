package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Fixtures._

/** The dedup family of the query catalog: deduplication — exact, Jaccard,
  * containment, MinHash-LSH and SimHash pairs, near-dup clusters and the
  * cluster-keyed splits built on them, line, span and substring dedup,
  * decontamination and the incremental fingerprint store. */
private[graft] object DedupQueries extends Family {

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

  /** Near-dup pair + cluster-label tables over the FULL documents table at
    * threshold 0.5, written once per fixture to the [[FixtureStore]] — the
    * stage-store doctrine applied to the third recomputed boundary:
    * `dedup_clusters` keeps building in place (it IS the clustering
    * benchmark), while `dedup_best_keeper`, `split_by_cluster`, and
    * `corpus_split_report` read the written pairs / labels and price only
    * their own consumption (each re-derived the identical LSH scan + CC
    * rounds, ~1.5-2 s apiece at sf0.1). Oracles unchanged — the stored
    * tables are bit-identical to the in-place spelling. */
  private def dedupLabelStorePath(spark: SparkSession, dir: String): String =
    FixtureStore.stage("dedup_labels", dir, "documents") { out =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val pairs = graft.pipeline.Dedup.minhashLshPairs(
        docs, "doc_id", "text", threshold = 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val labels = graft.pipeline.Clustering.connectedComponents(
        pairs, "doc_a", "doc_b")
      pairs.write.mode("overwrite").parquet(s"$out/pairs")
      labels.write.mode("overwrite").parquet(s"$out/labels")
      pairs.unpersist(blocking = false)
    }

  /** The fingerprint store for `incremental_neardup_op`, written once per
    * fixture to the [[FixtureStore]]: the op prices a daily probe against
    * PERSISTED state, so the state must exist before the clock starts. */
  private def incrementalStorePath(spark: SparkSession, dir: String): String =
    FixtureStore.stage("incremental_store", dir, "documents") { out =>
      import graft.pipeline.{Dedup, TextAnalysis}
      val fps = tbl(spark, dir, "documents")
        .filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          Dedup.simhash64(TextAnalysis.tokens(col("text"))).as("fp"))
      fps.write.mode("overwrite").parquet(s"$out/fps")
      fps.select(col("doc_id"), col("doc_id").as("cluster_id"))
        .write.mode("overwrite").parquet(s"$out/labels")
    }

  lazy val entries: Seq[Entry] = Seq(
    // the per-split leakage audit a curation pipeline runs before
    // shipping shards: near-dup cluster labels -> cluster-keyed split
    // assignment (the split_by_cluster spelling) -> per split: doc
    // count, residual dup mass (non-representative cluster members
    // still present), contamination incidence vs the held-out benchmark
    // slice — and the headline guarantee as a measured number:
    // clusters straddling two splits (0 by construction of groupSplit;
    // this row PROVES it instead of asserting it)
    query("corpus_split_report", (spark, dir) => {
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
    }, oracle =
      // cluster labels + cluster-keyed buckets (split_by_cluster spelling),
      // trigram contamination (decontaminate spelling) — composed per split
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
        |FROM per CROSS JOIN str ORDER BY split_name""".stripMargin),

    // exact dedup groups by normalized-md5 fingerprint
    query("dedup_exact", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.Dedup.exactGroups(tbl(spark, dir, "documents"), "doc_id", "text")
        .orderBy($"fingerprint")
    }, oracle =
      """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
        |       MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin),

    // exact word-trigram Jaccard near-dup pairs (shingle-join candidates)
    query("dedup_jaccard_pairs", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.Dedup.jaccardPairs(
        tbl(spark, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .orderBy($"doc_a", $"doc_b")
    }, oracle =
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
        |ORDER BY doc_a, doc_b""".stripMargin),

    // directed near-inclusion: |A∩B|/min(|A|,|B|) — catches a doc embedded
    // in a larger one, which symmetric Jaccard structurally misses
    query("containment_pairs", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.Dedup.containmentPairs(
        tbl(spark, dir, "documents"), "doc_id", "text", threshold = 0.6)
        .orderBy($"doc_small", $"doc_big")
    }, oracle =
      // same CTE skeleton as the jaccard oracle; only the denominator
      // (min size) and the size-orientation of the output pair differ
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
        |ORDER BY doc_small, doc_big""".stripMargin),

    // MinHash+LSH near-dup pairs. Candidates are verified with EXACT
    // n-gram Jaccard, so output ⊆ the exact pair scan; on this corpus the
    // banding (8x4) catches every qualifying pair, so the exact-Jaccard
    // DuckDB oracle applies verbatim — a recall miss would surface as a
    // oracle hash mismatch.
    query("dedup_minhash_lsh", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.Dedup.minhashLshPairs(
        tbl(spark, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .orderBy($"doc_a", $"doc_b")
    }, oracle =
      // minhashLshPairs exact-verifies candidates, so its output ⊆ the exact
      // scan; the banding catches every qualifying pair on this corpus, so
      // the exact-Jaccard oracle applies verbatim (note: no shingle-DF cap
      // here — LSH banding has no equivalent of jaccardPairs' maxShingleDf)
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
        |ORDER BY doc_a, doc_b""".stripMargin),

    // SimHash blocking is exact-recall by pigeonhole (any pair within
    // maxDist agrees on >= 1 of maxDist+1 chunks), which no SQL engine can
    // re-derive (xxhash64 fingerprints) — so the oracle-checked output IS
    // the verification: blocked pairs vs the O(n^2) brute-force scan over
    // the same fingerprints, reduced to constant-comparable booleans.
    query("dedup_simhash", (spark, dir) => {
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
    }, oracle =
      "SELECT TRUE AS has_pairs, TRUE AS blocked_equals_brute"),

    benchOnly("dedup_simhash_op", (spark, dir) => {
      graft.pipeline.Dedup.simhashPairs(
        tbl(spark, dir, "documents"), "doc_id", "text", maxDist = 3)
    }),

    // duplicate CLUSTERS from the near-dup pair list: connected components
    // (large-star/small-star) over the MinHash+LSH pairs — the 100 TB
    // tiering (sub-quadratic candidate scan feeding the cluster pass).
    // LSH candidates are exact-Jaccard-verified, and the banding catches
    // every qualifying pair on this corpus (dedup_minhash_lsh proves
    // LSH == exact against the same oracle), so the recursive-CTE oracle
    // over the exact pairs applies verbatim.
    query("dedup_clusters", (spark, dir) => {
      import spark.implicits._
      val pairs = graft.pipeline.Dedup.minhashLshPairs(
        tbl(spark, dir, "documents"), "doc_id", "text", threshold = 0.5)
      graft.pipeline.Clustering.connectedComponents(pairs, "doc_a", "doc_b")
        .orderBy($"doc_id")
    }, oracle =
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
      s"""WITH RECURSIVE
        |$jaccardClosureCtes
        |SELECT CAST(u AS BIGINT) AS doc_id,
        |       CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin),

    // quality-aware cluster keeper: same LSH clusters as dedup_clusters,
    // but each cluster keeps its LONGEST member (token count, ties to the
    // smallest id) instead of the min-id one — the selection real
    // pipelines run (a truncated copy must not displace the original
    // just because it got the smaller id)
    query("dedup_best_keeper", (spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents").select($"doc_id", $"text",
        size(graft.pipeline.TextAnalysis.tokens($"text")).cast("long").as("n_tokens"))
      // pairs from the shared store (dedup_clusters prices the build)
      val pairs = spark.read
        .parquet(s"${dedupLabelStorePath(spark, dir)}/pairs")
      graft.pipeline.Clustering.clusterKeepers(
        docs, "doc_id", "n_tokens", pairs, "doc_a", "doc_b")
        .orderBy($"doc_id")
    }, oracle =
      // dedup_clusters' exact-Jaccard closure + the keeper window
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
        |FROM scored ORDER BY doc_id""".stripMargin),

    // the strongest leakage control: split keyed by NEAR-DUP CLUSTER, so
    // near-identical documents can never straddle train and eval even
    // when they live on different domains (singletons key by their own
    // id — the degenerate one-doc cluster)
    query("split_by_cluster", (spark, dir) => {
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
    }, oracle =
      // bucket expression generated from Sampling.MixRounds (single source
      // of truth with the Spark-side hashBucket)
      // dedup_clusters' exact-Jaccard closure -> labels (singletons keyed
      // by their own id), then the same md5-prefix group bucket + CASE
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
        |FROM b ORDER BY doc_id""".stripMargin),

    // test-set decontamination: training docs sharing word-trigrams with
    // the held-out slice (doc_id % 7 == 0 stands in for an eval benchmark)
    query("decontaminate", (spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      graft.pipeline.Dedup.contamination(
        docs.filter($"doc_id" % 7 =!= 0), docs.filter($"doc_id" % 7 === 0),
        "doc_id", "text", n = 3)
        .orderBy($"doc_id")
    }, oracle =
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
        |GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // the removal composition contamination only reports: drop training
    // docs sharing > 20 distinct trigram shingles with the held-out slice,
    // keep the rest (ids only — compact, fully oracle-replayable)
    query("decontaminate_filter", (spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      graft.pipeline.Dedup.removeContaminated(
        docs.filter($"doc_id" % 7 =!= 0), docs.filter($"doc_id" % 7 === 0),
        "doc_id", "text", n = 3, maxSharedShingles = 20L)
        .select($"doc_id")
        .orderBy($"doc_id")
    }, oracle =
      // the same contamination stats as `decontaminate`, flipped into the
      // anti-join keep set: train docs with <= 20 shared shingles survive
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
        |ORDER BY doc_id""".stripMargin),

    // CCNet-style line-level boilerplate dedup (arXiv:1911.00359): the
    // corpus has no newline structure, so pseudo-lines are fixed 8-token
    // windows; a line occurring in >1 distinct docs is boilerplate. The
    // planted duplicate docs make the strip non-vacuous.
    query("line_dedup", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.Lines.dedupLines(
        graft.pipeline.Lines.tokenWindowLines(
          tbl(spark, dir, "documents"), "doc_id", "text", width = 8),
        maxDocFreq = 1L, joiner = " ")
        .orderBy($"doc_id")
    }, oracle =
      // identical 8-token pseudo-line packing, md5-keyed doc frequency, and
      // position-ordered reconstruction of the cleaned text
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
        |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // daily-ingest near-dup: the new batch's fingerprints against the
    // persisted store via the asymmetric pigeonhole join, then the
    // incremental CC relabel — audited in-plan against the batch twins
    // (pairs == batch pairs beyond the store's own; labels == batch CC),
    // constant-boolean oracle like the other self-auditing tiers
    query("incremental_neardup", (spark, dir) => {
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
    }, oracle =
      """SELECT TRUE AS pairs_match_batch, TRUE AS labels_match_batch,
        |       TRUE AS has_pairs""".stripMargin),

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
    benchOnly("incremental_neardup_op", (spark, dir) => {
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

    // boilerplate pruning with the flagship sketch doing the heavy-hitter
    // work: top-k most frequent 8-token line windows (occurrence counts,
    // bounded sketch state instead of a distinct-lines-sized frequency
    // table), stripped from every document. Counter budget makes the
    // sketch exact at this SF, so the oracle replays the rule with an
    // exact GROUP BY + the pinned (freq desc, hash asc) top-k order.
    query("boilerplate_prune", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.Lines.stripSketchBoilerplate(
        graft.pipeline.Lines.tokenWindowLines(
          tbl(spark, dir, "documents"), "doc_id", "text", width = 8),
        k = 20, minCount = 3L, counters = ExactN, joiner = " ")
        .select($"doc_id", $"n_lines", $"n_boilerplate_lines",
          md5($"clean_text").as("clean_md5"))
        .orderBy($"doc_id")
    }, oracle =
      // same 8-token pseudo-lines as line_dedup; the heavy set is the exact
      // top-20 by total occurrences (the sketch is exact at this counter
      // budget) with the sketch's pinned (freq desc, hash asc) tie order,
      // frequency floor 3; rebuild in position order, md5-compacted
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
        |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // duplicated-span detection (exact substring dedup at token-window
    // granularity, Lee et al. 2022): per-doc span counts, corpus-wide
    // duplicated spans, and global first-occurrence retention
    query("span_dedup_stats", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.Spans.spanStats(
        tbl(spark, dir, "documents"), "doc_id", "text", n = 10, stride = 5)
        .orderBy($"doc_id")
    }, oracle =
      // identical window spans (DuckDB range() is stop-EXCLUSIVE, Spark
      // sequence() stop-inclusive — hence len-10+1), identical (doc_id,pos)
      // bigint packing, window aggregates over the span hash
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
        |FROM w GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // the rewrite spanStats only measures: cut non-keeper duplicated
    // 8-token chunks and rebuild the text (Lee et al. retention at
    // token-window resolution); the oracle replays chunking, keeper
    // choice AND the position-ordered reassembly (md5 of the rebuilt
    // text keeps the compared output compact)
    query("span_drop_rewrite", (spark, dir) => {
      import spark.implicits._
      graft.pipeline.Spans.dropDuplicatedSpans(
        tbl(spark, dir, "documents"), "doc_id", "text", n = 8)
        .select($"doc_id", $"n_spans", $"n_dropped_spans",
          md5($"clean_text").as("clean_md5"))
        .orderBy($"doc_id")
    }, oracle =
      // same chunking (non-overlapping 8-token windows, partial tail always
      // kept), same packed-min keeper, same space-joined reassembly; the
      // CASE hash gives partial chunks per-row-unique keys exactly like the
      // Spark plan, and COALESCE('') covers an all-chunks-dropped doc
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
        |FROM k GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // Lee et al. ExactSubstr at ARBITRARY alignment (stride-1 windows):
    // a duplicated run collides at ANY offset, where the chunk-grid
    // rewrite above only catches grid-aligned dups. The corpus has no
    // organic cross-doc runs, so the query plants straddling copies:
    // for doc_id % 9 == 2, a 12-token infix (source positions 2..13)
    // re-enters a synthetic doc at position 1 — a different alignment
    // mod 8. Planted ids sit at +100M: the (doc_id, pos) packing needs
    // NON-NEGATIVE ids, so the negative-id planting convention of
    // cross_corpus_dedup deliberately does not apply here
    query("exact_substr_rewrite", (spark, dir) => {
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
    }, oracle =
      // stride-1 8-token windows over the planted union, the same
      // packed-min keeper, and the token-coverage retention rule: a token
      // is dropped iff some non-keeper duplicated window starting in
      // [j-7, j] covers it (the NOT EXISTS correlated range probe)
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
        |FROM kept GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // span-level decontamination: excise from each training doc exactly
    // the >= 8-token runs it shares with the held-out slice (doc_id % 7
    // == 0 as the eval benchmark), keeping the rest — the surgical
    // sibling of decontaminate_filter's whole-doc drop. Planted
    // contaminated docs (+2e8 ids embedding a 12-token test slice
    // between unique pfx/sfx markers) make the excision non-vacuous and
    // alignment-independent
    query("decontaminate_scrub", (spark, dir) => {
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
    }, oracle =
      // same window/coverage replay as exact_substr_rewrite, but the drop
      // predicate is membership in the test slice's DISTINCT window-hash
      // set (no keeper: the test set retains its copy by definition)
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
        |FROM kept GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // cross-corpus exact dedup through a Bloom-pruned anti join: docs
    // with doc_id % 5 == 0 play the incoming batch, the rest the
    // accumulated reference corpus. The bloom filter only prunes — the
    // verifying anti join makes the result EXACT at any fpp, so the
    // oracle is the plain anti join
    query("cross_corpus_dedup", (spark, dir) => {
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
    }, oracle =
      // the bloom filter is a pure pruner — the exact semantics is the
      // plain fingerprint anti join, which IS the oracle (NOT EXISTS, the
      // null-safe spelling matching Spark's left_anti)
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
        |ORDER BY doc_id""".stripMargin)
  )
}
