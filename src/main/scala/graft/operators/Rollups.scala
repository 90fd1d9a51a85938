package graft.operators

import graft.TopnFunctions
import graft.expressions.TopnUnionScalar
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.storage.StorageLevel

/**
 * Rollup-table operators for sketch maintenance — the reference's
 * "INSERT ... SELECT topn_add_agg ... GROUP BY, then topn_union_agg over
 * intervals" pattern (reference README.md:73-116,
 * sql/customer_reviews_query.sql) expressed as reusable plan builders.
 */
object Rollups {

  /**
   * Skew-safe sketch build: two-level aggregation salting the group key.
   * Level 1 groups by (key, salt) — hot keys split across `saltBuckets`
   * reducers; level 2 merges the per-salt sketches with `topn_union_agg`.
   * Because sketches are mergeable, this is EXACT below the eviction
   * threshold and carries the same approximation contract above it —
   * salting a sketch aggregate is semantically just another partial/final
   * split, which is the whole point of the mergeable design.
   */
  def saltedTopnAdd(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      numCounters: Int,
      saltBuckets: Int = 32): DataFrame = {
    val salted = df
      .withColumn("__salt", pmod(xxhash64(col(itemCol)), lit(saltBuckets)))
      .groupBy(col(groupCol), col("__salt"))
      .agg(TopnFunctions.topn_add_agg(col(itemCol), numCounters).as("__partial"))
    salted
      .groupBy(col(groupCol))
      .agg(TopnFunctions.topn_union_agg(col("__partial"), numCounters).as("sketch"))
  }

  /**
   * Hierarchical global sketch union. A plain
   * `df.agg(topn_union_agg(sketch))` funnels every partition's partial
   * state into ONE final reducer — fine at hundreds of partitions, a
   * single-thread bottleneck at 100k. This fans in through an intermediate
   * level: partials are salted into `fanIn` groups, each group unions in
   * parallel, and only `fanIn` pre-merged sketches reach the final stage.
   * Identical result by merge associativity (exact below eviction; same
   * approximation contract above it).
   */
  def hierarchicalUnion(
      sketches: DataFrame,
      sketchCol: String,
      numCounters: Int,
      fanIn: Int = 64): DataFrame = {
    // fan-in key must be a pure function of the ROW, not of partition
    // layout (monotonically_increasing_id would re-deal rows on every
    // repartition, making above-eviction-threshold results vary run to
    // run). Spark refuses to hash MapType directly, so hash the canonical
    // JSON rendering — sketch maps materialize in the deterministic
    // (freq desc, key asc) pack order, so the rendering is stable.
    sketches
      .withColumn("__g", pmod(xxhash64(to_json(col(sketchCol))), lit(fanIn.toLong)))
      .groupBy(col("__g"))
      .agg(TopnFunctions.topn_union_agg(col(sketchCol), numCounters).as("__partial"))
      .agg(TopnFunctions.topn_union_agg(col("__partial"), numCounters).as(sketchCol))
  }

  /**
   * Sliding merge of per-period sketches over `ROWS (frameRows-1) PRECEDING
   * .. CURRENT ROW` — the scale path for the reference's seven_days window
   * (sql/customer_reviews_query.sql:58-70).
   *
   * A window with ORDER BY and no PARTITION BY forces ALL rollup rows into
   * one partition (both here and in PostgreSQL). This variant instead:
   *  1. ranks the distinct periods (a tiny dimension: one row per day/hour
   *     — the only single-partition step, over #periods rows, not data);
   *  2. builds the period->frame-member pair table by exploding each
   *     target's member ranks and equi-joining the rank dimension
   *     (broadcast hash join — never a nested-loop range join);
   *  3. re-aggregates sketches with `topn_union_agg` grouped by the target
   *     period — an ordinary shuffled aggregation, fully parallel in the
   *     number of periods x groups.
   *
   * Identical results to the window form (merge below eviction threshold is
   * order-free; above it, both forms are approximate by design).
   */
  def slidingUnion(
      rollup: DataFrame,
      periodCol: String,
      sketchCol: String,
      frameRows: Int,
      numCounters: Int): DataFrame = {
    require(frameRows >= 1, s"frameRows must be >= 1, got $frameRows")
    val spark = rollup.sparkSession
    import spark.implicits._

    val ranked = rollup.select(col(periodCol)).distinct()
      .withColumn("rk", row_number().over(Window.orderBy(col(periodCol))))

    // (target period) -> (member period) pairs inside the frame, built as
    // an EQUI join: each target explodes its frameRows member ranks and
    // joins the rank dimension on equality. The obvious spelling — a rank
    // BETWEEN range join — plans as a BroadcastNestedLoopJoin and pays
    // O(#periods^2) pair evaluations REGARDLESS of frame width (measured
    // 7s+ at 40k periods before any merge work); the explode form is
    // O(#periods x frameRows) rows through a hash join.
    // start clamped INSIDE the sequence: an unclamped rk-(frameRows-1)
    // start would materialize a frameRows-length array per period before
    // any filter — a "merge everything so far" caller passing a huge
    // frameRows would generate mostly-dead elements (and Spark's sequence
    // caps near 2^31); clamping bounds the array at min(rk, frameRows)
    val frame = ranked
      .select(col(periodCol).as("target_period"),
        explode(sequence(
          greatest(lit(1), col("rk") - (frameRows - 1)), col("rk"))).as("m_rk"))
      .join(broadcast(ranked
        .select(col(periodCol).as("member_period"), col("rk").as("m_rk"))),
        Seq("m_rk"))
      .select(col("target_period"), col("member_period"))

    rollup
      .join(broadcast(frame), col(periodCol) === col("member_period"))
      .groupBy(col("target_period").as(periodCol + "_out"))
      .agg(TopnFunctions.topn_union_agg(col(sketchCol), numCounters).as(sketchCol))
      .withColumnRenamed(periodCol + "_out", periodCol)
  }

  /** Frame width at which [[slidingUnionWideFrame]] overtakes
    * [[slidingUnion]], from the g_sliding_*_w bench sweep (10k-period
    * synthetic rollup, 200 uniques/day, 100 counters, local[32]): the
    * range-join form grows with width (~0.5s at w=7 -> ~2s at w=365 — the
    * frameRows-fold sketch replication is intrinsic to its shape) while
    * the block-decomposed form is ~flat (~1.1-1.4s at any width); the
    * curves cross around w ~= 100 at that shape. The constant is a
    * heuristic for [[slidingMerge]], not a semantic knob — both forms
    * produce identical results at every width (ScaleOpsSpec). */
  val SlidingMergeCrossover = 100

  /**
   * Auto-dispatching sliding merge — the one entry point users should
   * reach for: picks [[slidingUnion]] (narrow frames: smaller fixed
   * costs, replication bounded by the narrow width) or
   * [[slidingUnionWideFrame]] (wide frames: ~3 merges per period at any
   * width) by the measured [[SlidingMergeCrossover]], so callers don't
   * need to know two spellings exist. Results are identical on either
   * side of the dispatch; only the plan shape changes.
   */
  def slidingMerge(
      rollup: DataFrame,
      periodCol: String,
      sketchCol: String,
      frameRows: Int,
      numCounters: Int): DataFrame =
    if (frameRows < SlidingMergeCrossover)
      slidingUnion(rollup, periodCol, sketchCol, frameRows, numCounters)
    else
      slidingUnionWideFrame(rollup, periodCol, sketchCol, frameRows, numCounters)

  /**
   * Time-decayed global merge over a stored rollup: each period's counts
   * are HALVED once per `halfLifePeriods` of age before the union —
   * "what's trending now" instead of "what's cumulative". Decay is an
   * exact integer right-shift, `floor(count / 2^((max_idx - idx) DIV
   * halfLifePeriods))`, so the result is deterministic and
   * oracle-replayable in integer SQL — no floating-point decay drift.
   * Entries shifted to zero are dropped BEFORE the union (they would
   * occupy merge counters while contributing nothing, and the reference
   * sketch never stores zero counts).
   *
   * `periodIdxCol` must be a NUMERIC period ordinal (a month index, a
   * day number — not a raw timestamp): age is measured in index units.
   *
   * Scale shape: one periods-sized max aggregate broadcast into a
   * map-values transform (per-row, no shuffle), then the ordinary
   * partial/final union agg — decay adds NO shuffle and no new exchange
   * over the rollup. The shift clamps at 62 (a BIGINT count shifted 62
   * is 0 for any realistic count; an unclamped age would overflow the
   * shift amount, not the count).
   */
  def decayedUnion(
      rollup: DataFrame,
      periodIdxCol: String,
      sketchCol: String,
      halfLifePeriods: Int,
      numCounters: Int): DataFrame = {
    require(halfLifePeriods >= 1,
      s"halfLifePeriods must be >= 1, got $halfLifePeriods")
    require(!rollup.columns.contains("__graft_maxp"),
      "input already has a '__graft_maxp' column; rename it — " +
        "decayedUnion uses it internally")
    val aged = rollup
      .crossJoin(broadcast(
        rollup.agg(max(col(periodIdxCol).cast("long")).as("__graft_maxp"))))
      .withColumn(sketchCol, expr(
        s"""map_filter(
           |  transform_values(`$sketchCol`, (k, v) ->
           |    CAST(v AS BIGINT) DIV shiftleft(CAST(1 AS BIGINT),
           |      CAST(LEAST(62L, (__graft_maxp - CAST(`$periodIdxCol` AS BIGINT))
           |                      DIV ${halfLifePeriods}L) AS INT))),
           |  (k, v) -> v > 0)""".stripMargin))
    aged.agg(
      TopnFunctions.topn_union_agg(col(sketchCol), numCounters).as(sketchCol))
  }

  /**
   * Sliding merge for WIDE frames. [[slidingUnion]] replicates every
   * period's sketch `frameRows` times through the range join, so a 90- or
   * 365-period frame multiplies shuffle volume and merge work by the frame
   * width — and because sketch merge is not invertible, a moving window
   * frame cannot subtract the departing period either. This variant uses
   * the classic prefix/suffix block decomposition for non-invertible
   * sliding aggregation instead:
   *
   *  1. pre-merge to ONE sketch per period (cheap, periods-sized), rank the
   *     periods, and cut the rank axis into blocks of `frameRows`;
   *  2. within each block compute two RUNNING merges — `pre(t)` = block
   *     start..t (rank asc) and `suf(s)` = s..block end (rank desc). Both
   *     are growing frames, so Spark's window operator folds each period
   *     into the buffer exactly once: O(1) merges per period instead of
   *     the O(frameRows) a moving frame re-merges, and the blocks
   *     parallelize across the cluster;
   *  3. a frame ending at rank t starts at s = t-frameRows+1. When s lands
   *     in t's own block it is provably the block START (with block width
   *     == frame width, same-block happens only at t <= frameRows or t at
   *     a block end), so `pre(t)` alone IS the frame; otherwise s is in
   *     the previous block and the frame is the disjoint union
   *     `suf(s) ++ pre(t)`, stitched by a 1:1 equi-join on rank.
   *
   * Total cost: ~3 merges per period (pre + suf + stitch) at ANY frame
   * width, vs `frameRows` merges in [[slidingUnion]] — at a 365-period
   * frame that is a 100x reduction in both shuffle bytes and merge work.
   *
   * Block width is NOT a tunable knob: it must equal `frameRows`, because
   * that is the unique width for which every frame either starts exactly
   * at its own block's start (pre(t) alone is the frame) or spans exactly
   * two adjacent blocks (suf(s) ++ pre(t) is a disjoint cover) — the proof
   * in step 3. A narrower block (e.g. the sqrt-decomposition's
   * sqrt(frame)) would let frames span full MIDDLE blocks, adding
   * per-period middle-block merges and a variable-arity stitch for no
   * gain: the ~3-merges-per-period invariant already holds at every
   * width, and the per-block state is frameRows sketch rows — small at
   * any realistic frame. (ScaleOpsSpec pins equality with the range-join
   * form at w = 1/7/13/30/90/365/beyond-#periods.)
   *
   * Measured crossover (g_sliding_*_w bench rows, 10k-period synthetic
   * rollup, 200 uniques/day, 100 counters, local[32], after
   * [[slidingUnion]]'s frame join moved to the explode+equi form): this
   * form is ~flat in width (~1.3s at w = 7..365) while the range-join
   * form grows with it (0.97s at w=7 -> 2.3s at w=365 — the
   * frameRows-fold replication is intrinsic to its shape). Below the
   * crossover (narrow frames) the range-join's smaller fixed costs win:
   * [[slidingUnion]] stays the right spelling for the 7-day frame, this
   * one for wide frames.
   *
   * Exactly the window/range-join result below the eviction threshold
   * (merge is order-free there). Above it, the running merges prune after
   * each period (the aggregate finalizer is policy A), which is the same
   * approximation contract as the reference's repeated `topn_add`/`union`
   * pipeline — and the rank-pinned merge order makes the approximate
   * result DETERMINISTIC across runs and repartitions, which the
   * hash-partitioned re-aggregation in [[slidingUnion]] does not pin.
   *
   * The per-period running table (3 sketches x #periods) is persisted:
   * it is consumed twice (frame-end and frame-start sides of the stitch
   * join) and re-deriving it would re-run the caller's rollup aggregation
   * — the multi-consumer lesson from the curation chain. It is
   * periods-sized (bounded by counters x periods), never corpus-sized.
   * The persist lives inside the RETURNED lazy plan, so it cannot be
   * released here; a long-lived service issuing many of these should
   * `spark.catalog.clearCache()` between query batches (the block is
   * periods-sized, so the leak is small — unlike the corpus-sized
   * tables pageRank now releases itself).
   */
  def slidingUnionWideFrame(
      rollup: DataFrame,
      periodCol: String,
      sketchCol: String,
      frameRows: Int,
      numCounters: Int): DataFrame = {
    require(frameRows >= 1, s"frameRows must be >= 1, got $frameRows")

    // one sketch per period: makes the ROWS-based running frames and the
    // 1:1 rank stitch well-defined even when the input rollup carries
    // several rows per period (e.g. per-group partials)
    val perPeriod = rollup
      .groupBy(col(periodCol))
      .agg(TopnFunctions.topn_union_agg(col(sketchCol), numCounters).as(sketchCol))

    // rank the periods: the only single-partition step, over the tiny
    // period dimension (one row per day/hour), same as slidingUnion
    val ranked = perPeriod.select(col(periodCol)).distinct()
      .withColumn("__rk", row_number().over(Window.orderBy(col(periodCol))))
    val withBlock = perPeriod
      .join(broadcast(ranked), periodCol)
      .withColumn("__blk", expr(s"(__rk - 1) div $frameRows"))

    val preW = Window.partitionBy(col("__blk")).orderBy(col("__rk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sufW = Window.partitionBy(col("__blk")).orderBy(col("__rk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = withBlock
      .withColumn("__pre", TopnFunctions.topn_union_agg(col(sketchCol), numCounters).over(preW))
      .withColumn("__suf", TopnFunctions.topn_union_agg(col(sketchCol), numCounters).over(sufW))
      .select(col(periodCol), col("__rk"), col("__blk"), col("__pre"), col("__suf"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val union = GraftShim.column(TopnUnionScalar(
      GraftShim.expression(col("__suf_s")),
      GraftShim.expression(col("__pre")), numCounters))
    runs
      .join(
        runs.select(col("__rk").as("__rk_s"), col("__blk").as("__blk_s"),
          col("__suf").as("__suf_s")),
        col("__rk_s") === col("__rk") - (frameRows - 1) &&
          col("__blk_s") =!= col("__blk"),
        "left")
      .select(col(periodCol),
        when(col("__suf_s").isNull, col("__pre")).otherwise(union).as(sketchCol))
  }
}
