package graft.pipeline

import org.apache.spark.sql.DataFrame

/**
 * Size-aware build-side selection for CANDIDATES × PAYLOAD verify joins —
 * the ladder [[Similarity.lshNearDupPairs]] shipped in round 17 (measured
 * there at x32: 109 s with the sort-merge fallback, 66.8 s conf-only,
 * 55.3 s size-aware — the full three-design table is in
 * docs/BENCH_NOTES.md), factored out so the Dedup/SemDedup verify joins
 * ride the same decision instead of conf-only.
 *
 * The problem shape: the candidate side of a verify join comes out of a
 * pair GENERATOR, whose fanout is invisible to the planner — its stats
 * are structurally underestimated — while the payload side (shingle
 * arrays, vectors) carries heavy build rows. Past the broadcast
 * threshold the stats ladder can keep sort-merge even under
 * `spark.sql.join.preferSortMergeJoin=false`, sorting the ~1000×-larger
 * candidate stream. The fix needs ONE trustworthy number: the payload
 * side's size, estimated from its row count (already known, or one
 * column-pruned count() at plan-build — the [[Similarity.AutoBits]]
 * precedent) times a per-row width.
 *
 * Decision (Similarity's shipped design, plus the r21 broadcast tier):
 *  - estimate AT OR UNDER the session's autoBroadcastJoinThreshold, or
 *    UNKNOWN (`estBytes = None`): NO hint — Spark's size-based
 *    BroadcastHashJoin is strictly best below the threshold (measured:
 *    x1 2.1 s broadcast vs 2.7 s hinted) and a hint would bypass it;
 *    unknown sizes fall to the stats ladder under the recommended
 *    `preferSortMergeJoin=false` deployment conf.
 *  - estimate over the session threshold but AT OR UNDER
 *    [[BroadcastMaxBytesKey]] (default 256 MiB), broadcast enabled:
 *    hint `broadcast` — the candidate stream is then NEVER shuffled at
 *    all (the 10 MB session default is tuned for arbitrary joins, not
 *    for a verify join whose stream side is ~1000x more rows; measured
 *    at the g_lsh_neardup x32 point, 64M candidates x ~280 B verify
 *    rows: the two stream shuffles this removes were the bulk of the
 *    row's 61.8 s — see OPTIMIZATION_r21.md). A few hundred MB of
 *    broadcast is routine executor memory at production scale; the cap
 *    is a session conf so deployments size it to their executors, and
 *    0 disables the tier outright.
 *  - estimate provably OVER the cap (or broadcast disabled):
 *    hint `shuffle_hash` on the payload side — the hash table builds on
 *    the side whose per-partition memory scales gently
 *    (|payload|/partitions) and the candidate stream is never sorted.
 *
 * The threshold and the cap are read from the payload frame's OWN
 * session (the thread-local active session can belong to another
 * session in a multi-session JVM — the r17 fix).
 */
private[graft] object VerifyJoin {

  /** Sentinel for per-row-width parameters ([[Dedup.minhashLshPairs]]'
    * `setRowBytes`): MEASURE the width from a bounded sample of the
    * data instead of assuming a constant — the r18 nit closed: a
    * long-document corpus (1k+ tokens, ~20 KB of shingles per doc)
    * flips its verify-join regime with no caller hint, because the
    * estimate comes from its own documents. */
  val AutoRowBytes = -1L

  /** Fallback per-document width of a word-n-gram shingle-set build
    * row, used when the caller supplied `knownCount` (a promise of
    * zero plan-build jobs — so no width sample runs either) but no
    * width: a shingle set is ~(tokens − n + 1) UTF8 strings of ~3
    * words each — at the corpus's ~54-token documents that is ~50 ×
    * (20 B chars + 16 B object overhead) ≈ 1.8 KB, rounded down to
    * keep the boundary conservative toward broadcast (the regime both
    * designs price within ~25% of each other; the catastrophic choice
    * this ladder prevents — sorting the candidate stream — only needs
    * the estimate to be the right order of magnitude). Long-document
    * corpora that also pass `knownCount` should pass their own width. */
  val ShingleSetRowBytes = 1024L

  /** Measured [[ShingleSetRowBytes]]: the average estimated in-memory
    * build-row size of a document's shingle set over (up to)
    * `sampleDocs` documents — per shingle its UTF-8 bytes + 16 B object
    * overhead, + 24 B per row (8 B id + array header). One BOUNDED job
    * at plan-build (a LocalLimit: executes only until `sampleDocs` rows
    * are collected); an empty corpus falls back to the constant.
    *
    * MEMOIZED per (session, corpus plan, textCol, n): the r19 default
    * path paid the sample once per OPERATOR CALL, which cost the bench's
    * dedup family 1.4-1.7x (the round's one measured regression) — a
    * corpus's width is a property of the corpus, so one sample per
    * corpus per session is the honest price. The key is the analyzed
    * plan's SEMANTIC hash (two independent reads of the same parquet
    * path canonicalize equal — the CacheManager's own matching rule);
    * the session guard serves an entry only to the session object that
    * built it, and evicts stopped sessions' entries on access. Same
    * caveat as Spark's plan cache: content changing UNDER an identical
    * plan (an appended file) is invisible until a new session — a width
    * estimate only ever trades broadcast vs shuffled-hash near the
    * boundary, so staleness is benign by the operator's own contract. */
  private val widthCache = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.SparkSession, Long)]()

  /** Count of width-sample JOBS actually executed (cache misses) — the
    * spec's observability hook for "one sample job per corpus". */
  private[graft] val widthSampleJobs = new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def sampledShingleRowBytes(
      docs: DataFrame,
      textCol: String,
      n: Int,
      sampleDocs: Int = 256): Long = {
    val spark = docs.sparkSession
    widthCache.entrySet()
      .removeIf(e => e.getValue._1.sparkContext.isStopped)
    val key = s"${System.identityHashCode(spark)}:" +
      s"${docs.queryExecution.analyzed.semanticHash()}:$textCol:$n:$sampleDocs"
    widthCache.compute(key, (_, held) =>
      if (held != null && (held._1 eq spark)) held
      else (spark, measureShingleRowBytes(docs, textCol, n, sampleDocs)))._2
  }

  private def measureShingleRowBytes(
      docs: DataFrame,
      textCol: String,
      n: Int,
      sampleDocs: Int): Long = {
    import org.apache.spark.sql.functions._
    widthSampleJobs.incrementAndGet()
    val row = docs
      .select(TextAnalysis.wordShingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .limit(sampleDocs)
      .select((aggregate(col("sh"), lit(0L),
        (acc, s) => acc + octet_length(s).cast("long") + lit(16L)) +
        lit(24L)).as("bytes"))
      .agg(avg(col("bytes")).as("avg_bytes"))
      .head()
    if (row.isNullAt(0)) ShingleSetRowBytes
    else math.max(1L, math.ceil(row.getDouble(0)).toLong)
  }

  /** Session conf: upper bound (bytes; size suffixes like "256m" accepted)
    * for the ladder's explicit-broadcast tier. The session's own
    * autoBroadcastJoinThreshold stays authoritative BELOW itself; this cap
    * only governs payloads the 10 MB-default threshold would have sent to
    * shuffled-hash. 0 (or negative) disables the tier — the pre-r21
    * two-tier ladder. */
  val BroadcastMaxBytesKey = "spark.graft.verify.broadcastMaxBytes"
  val DefaultBroadcastMaxBytes: Long = 256L << 20

  private def broadcastMaxBytes(payload: DataFrame): Long = {
    val raw = payload.sparkSession.conf
      .get(BroadcastMaxBytesKey, DefaultBroadcastMaxBytes.toString)
    try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
    catch { case _: NumberFormatException => DefaultBroadcastMaxBytes }
  }

  /** The payload side of a verify join: unhinted at or under the session
    * broadcast threshold (Spark's own size-based BroadcastHashJoin is
    * strictly best there); hinted `broadcast` when the estimate exceeds
    * the threshold but fits [[BroadcastMaxBytesKey]] and broadcasting is
    * enabled (the r21 tier — the candidate stream never shuffles);
    * hinted `shuffle_hash` past the cap or with broadcast disabled. A
    * NON-POSITIVE estimate never hints — before the `b > 0` guard,
    * `Some(0)` under a DISABLED broadcast threshold (`threshold < 0`)
    * hinted shuffle_hash, contradicting the "at 0 estimated bytes the
    * ladder never hints" contract streaming callers relied on (r19
    * ADVICE; those callers now pass an explicit opt-out, see
    * [[SemDedup.LadderOptOut]], but the guard keeps the zero-estimate
    * semantics honest for anyone else). */
  def sizeAwareBuild(payload: DataFrame, estBytes: Option[Long]): DataFrame = {
    val threshold =
      payload.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val over = estBytes.exists(b => b > 0 && (threshold < 0 || b > threshold))
    if (!over) payload
    else if (threshold >= 0 && estBytes.exists(_ <= broadcastMaxBytes(payload)))
      payload.hint("broadcast")
    else payload.hint("shuffle_hash")
  }
}
