package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Fixtures._

/** The sketch family of the query catalog: the reference's sketch surface —
  * `topn_add_agg`, `topn_union_agg`, the scalars, the fan-in and skew
  * builds, the eviction bounds and the sliding-window merges, each run
  * with a counter budget that keeps the sketch exact. */
private[graft] object SketchQueries extends Family {

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

  lazy val entries: Seq[Entry] = Seq(
    // topn_add_agg + topn() through GROUP BY (SURVEY §2.1 rows 1,4; §2.5)
    query("topn_add_agg_groupby", (spark, dir) => {
      import spark.implicits._
      tbl(spark, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
        .select($"o_orderpriority", explode(TopnFunctions.topn($"sketch", lit(10))).as("r"))
        .select($"o_orderpriority", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"o_orderpriority", $"frequency".desc, $"item")
    }, oracle =
      """SELECT o_orderpriority, item, frequency FROM (
        |  SELECT o_orderpriority, CAST(o_custkey AS VARCHAR) AS item,
        |         COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY COUNT(*) DESC, CAST(o_custkey AS VARCHAR)) AS rn
        |  FROM orders GROUP BY 1, 2) t
        |WHERE rn <= 10
        |ORDER BY o_orderpriority, frequency DESC, item""".stripMargin),

    // the fan-in path under the gate: per-priority sketches merged to ONE
    // global sketch through Rollups.hierarchicalUnion's intermediate
    // level (the 100k-partition final-reducer fix) — exact below
    // eviction by merge associativity, so the plain global top-10 oracle
    // must hash-match through the two-stage tree
    query("topn_hierarchical_union", (spark, dir) => {
      import spark.implicits._
      val perGroup = tbl(spark, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
      graft.operators.Rollups.hierarchicalUnion(perGroup, "sketch", ExactN, fanIn = 3)
        .select(explode(TopnFunctions.topn($"sketch", lit(10))).as("r"))
        .select($"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"frequency".desc, $"item")
    }, oracle =
      // exact below eviction through the fan-in tree -> the flat global
      // top-10 is the oracle
      """SELECT item, frequency FROM (
        |  SELECT CAST(o_custkey AS VARCHAR) AS item,
        |         COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
        |                            CAST(o_custkey AS VARCHAR)) AS rn
        |  FROM orders GROUP BY 1) t
        |WHERE rn <= 10
        |ORDER BY frequency DESC, item""".stripMargin),

    // the skew path under the gate: the same groupby build through
    // Rollups.saltedTopnAdd's two-level (key, salt) -> key aggregation —
    // hot group keys split across 32 reducers, merged by topn_union_agg.
    // Below eviction the split is exact (merge associativity), so the
    // UNSALTED oracle must hash-match, which is precisely the claim
    query("topn_salted_groupby", (spark, dir) => {
      import spark.implicits._
      graft.operators.Rollups.saltedTopnAdd(
        tbl(spark, dir, "orders")
          .select($"o_orderpriority", $"o_custkey".cast("string").as("cust")),
        "o_orderpriority", "cust", ExactN)
        .select($"o_orderpriority", explode(TopnFunctions.topn($"sketch", lit(10))).as("r"))
        .select($"o_orderpriority", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"o_orderpriority", $"frequency".desc, $"item")
    }, oracle =
      // the salted two-level build is exact below eviction, so the plain
      // unsalted count/rank oracle applies verbatim
      """SELECT o_orderpriority, item, frequency FROM (
        |  SELECT o_orderpriority, CAST(o_custkey AS VARCHAR) AS item,
        |         COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY COUNT(*) DESC, CAST(o_custkey AS VARCHAR)) AS rn
        |  FROM orders GROUP BY 1, 2) t
        |WHERE rn <= 10
        |ORDER BY o_orderpriority, frequency DESC, item""".stripMargin),

    // heavy-path throughput anchor: sketch build over the full lineitem
    // table (600k rows at sf0.1), grouped by return flag
    query("topn_lineitem_parts", (spark, dir) => {
      import spark.implicits._
      tbl(spark, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(TopnFunctions.topn_add_agg($"l_partkey".cast("string"), ExactN).as("sketch"))
        .select($"l_returnflag", explode(TopnFunctions.topn($"sketch", lit(20))).as("r"))
        .select($"l_returnflag", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"l_returnflag", $"frequency".desc, $"item")
    }, oracle =
      """SELECT l_returnflag, item, frequency FROM (
        |  SELECT l_returnflag, CAST(l_partkey AS VARCHAR) AS item,
        |         COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                            ORDER BY COUNT(*) DESC, CAST(l_partkey AS VARCHAR)) AS rn
        |  FROM lineitem GROUP BY 1, 2) t
        |WHERE rn <= 20
        |ORDER BY l_returnflag, frequency DESC, item""".stripMargin),

    // weighted sketch build over pre-aggregated (item, count) pairs —
    // identical result to the per-row build (add(item, w) == w unit adds)
    query("topn_weighted_groupby", (spark, dir) => {
      import spark.implicits._
      val counts = tbl(spark, dir, "orders")
        .groupBy($"o_orderpriority", $"o_custkey".cast("string").as("item"))
        .agg(count(lit(1)).as("w"))
      counts.groupBy($"o_orderpriority")
        .agg(TopnFunctions.topn_add_weighted_agg($"item", $"w", ExactN).as("sketch"))
        .select($"o_orderpriority", explode(TopnFunctions.topn($"sketch", lit(10))).as("r"))
        .select($"o_orderpriority", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"o_orderpriority", $"frequency".desc, $"item")
    }, oracle =
      // weighted build is semantically identical to the per-row build
      """SELECT o_orderpriority, item, frequency FROM (
        |  SELECT o_orderpriority, CAST(o_custkey AS VARCHAR) AS item,
        |         COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY COUNT(*) DESC, CAST(o_custkey AS VARCHAR)) AS rn
        |  FROM orders GROUP BY 1, 2) t
        |WHERE rn <= 10
        |ORDER BY o_orderpriority, frequency DESC, item""".stripMargin),

    // topn_union_agg re-aggregation of stored rollup sketches (§2.1 row 5;
    // README.md:100-116 incremental-rollup story)
    // heavy-change detection between two period sketches: top movers of
    // the customer-frequency distribution across the 1998-01-01 split —
    // the "what changed vs yesterday" query on stored rollups; exact at
    // this counter budget, so the oracle replays exact counts
    query("topn_delta_periods", (spark, dir) => {
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
    }, oracle =
      // exact per-period counts, full-outer on item, pinned
      // (|delta| desc, item asc) order
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
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin),

    // the windowed consumption shape of topn_delta: month-over-month top
    // movers via lag(sketch) over the stored rollup — the recurring
    // "what changed since last period" report. The lag window is the one
    // single-partition step, over the tiny period dimension (~dozens of
    // months), the same documented exception as the rollup ranking
    query("topn_delta_monthly", (spark, dir) => {
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
    }, oracle =
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
        |FROM r WHERE rank <= 3 ORDER BY month, rank""".stripMargin),

    // time-decayed consumption of the stored rollup: every month's
    // counts are halved once per 2 months of age (exact integer
    // right-shift, zero entries dropped) before the union — "who's hot
    // NOW", the recency-weighted sibling of topn_union_agg_rollup. The
    // decay is a no-shuffle map-values transform; the oracle replays the
    // shift arithmetic in integer SQL
    query("topn_decayed_monthly", (spark, dir) => {
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
    }, oracle =
      // exact per-month counts; each month's item universe = the union of
      // its and the previous month's items; same pinned ranking per month
      // the decay replayed per (month, item) count — halving each term
      // before the sum is identical to halving the per-month sketch entries
      // before the union (both are exact at this budget); total-zero items
      // are excluded like zero entries never enter a sketch
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
        |WHERE rn <= 10 ORDER BY frequency DESC, item""".stripMargin),

    query("topn_union_agg_rollup", (spark, dir) => {
      import spark.implicits._
      val monthly = tbl(spark, dir, "orders")
        .groupBy(date_trunc("month", $"o_orderdate").as("month"))
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
      monthly
        .agg(TopnFunctions.topn_union_agg($"sketch", ExactN).as("merged"))
        .select(explode(TopnFunctions.topn($"merged", lit(25))).as("r"))
        .select($"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"frequency".desc, $"item")
    }, oracle =
      """SELECT CAST(o_custkey AS VARCHAR) AS item, COUNT(*) AS frequency
        |FROM orders GROUP BY 1
        |ORDER BY frequency DESC, item LIMIT 25""".stripMargin),

    // the monthly rollup at the reference's DEFAULT budget (1000
    // counters, topn.c:49) — what a production user pays for the
    // mergeable sketch. topn_union_agg_rollup keeps ExactN (2M) because
    // hash-matching the DuckDB oracle IS the correctness gate, but that
    // budget is ~2000x the default and prices verification, not use
    // (the r16 anchor-basket note quantifies the gap)
    benchOnly("topn_rollup_budget1000_op", (spark, dir) => {
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

    // guaranteed count intervals: the bounded-sketch family
    // (topn_add_agg_bounds -> topn_union_agg_bounds -> topn_with_bounds)
    // turns the reference's accuracy ADVICE (README.md:21-23 "increase
    // topn.number_of_counters") into a measured per-query fact — here the
    // budget is exact, so every interval collapses: max_error = 0 IS the
    // oracle-checked claim (the forced-eviction side of the bound is
    // pinned by TopnStateSpec's property test; an inexact bound cannot be
    // hash-compared against an exact engine by construction)
    query("topn_bounds_report", (spark, dir) => {
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
    }, oracle =
      """SELECT CAST(o_custkey AS VARCHAR) AS item, COUNT(*) AS frequency,
        |       CAST(0 AS BIGINT) AS max_error
        |FROM orders GROUP BY 1
        |ORDER BY frequency DESC, item LIMIT 25""".stripMargin),

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
    // this is the oracle row that actually exercises it.
    query("topn_approx_bounds", (spark, dir) =>
      boundsContract(spark, dir, budget = 16), oracle =
      // the bounds CONTRACT is the deterministic fact; the evicted sketch's
      // content is schedule-dependent by design (the recall-floor doctrine).
      // Eviction/report size computed like topn_budget_sweep's (nd > budget
      // — the pack-inclusive equivalence argued there), SF-robust
      """WITH d AS (SELECT COUNT(DISTINCT l_partkey) AS nd FROM lineitem)
        |SELECT TRUE AS all_within_bounds, nd > 16 AS has_eviction,
        |       CAST(LEAST(16, nd) AS BIGINT) AS n_report FROM d""".stripMargin),

    // the reference's accuracy ADVICE as a measured sweep (README.md:21-23
    // "keep ~100x N counters"): the SAME bounds contract at three counter
    // budgets — the knob a user actually turns, under the oracle gate at
    // each setting. Whether policy-B eviction fires is schedule-INdependent
    // per budget (distinct keys > 3b forces it in the merge phase alone;
    // <= 3b no partial can ever overflow), so the oracle COMPUTES it from
    // the distinct count — at sf0.01 all three budgets evict (~2000 keys),
    // at sf0.001 the 256 budget does not (200 keys < 768) and both
    // engines say so
    query("topn_budget_sweep", (spark, dir) =>
      Seq(16, 64, 256).map { budget =>
        boundsContract(spark, dir, budget)
          .select(lit(budget.toLong).as("budget"),
            col("all_within_bounds"), col("has_eviction"), col("n_report"))
      }.reduce(_ unionByName _).orderBy(col("budget")), oracle =
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
      // (nd > 3*b) happened to agree at every fixture SF because the
      // fixture's nd sits outside (b, 3b] for all three budgets — on a
      // distribution inside that window it would claim no eviction while
      // the pack provably discarded mass (the r16 ADVICE finding). The
      // report holds least(budget, distinct)
      """WITH d AS (SELECT COUNT(DISTINCT l_partkey) AS nd FROM lineitem)
        |SELECT CAST(b AS BIGINT) AS budget, TRUE AS all_within_bounds,
        |       nd > b AS has_eviction,
        |       CAST(LEAST(b, nd) AS BIGINT) AS n_report
        |FROM (VALUES (16), (64), (256)) t(b), d ORDER BY budget""".stripMargin),

    // the sweep's QUALITY curve — the reference's "~100x N counters for
    // accurate top-N" advice (README.md:21-23) with numbers under the
    // gate. Key shape matters: the fixture tables' raw keys are
    // near-uniform (top-N on flat data is ill-posed — measured recall@10
    // 0/10 at any budget at sf0.1), so the row derives a HARMONIC key
    // from lineitem, floor(max_orderkey / l_orderkey): key v carries
    // ~M/v(v+1) rows — the Zipf-ish shape frequent-items sketches are
    // for, self-similar at every SF (the g_sliding precedent: synthesize
    // the shape the claim is about, from the fixture's own table). Per
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
    query("topn_budget_quality", (spark, dir) => {
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
    }, oracle =
      // the oracle recomputes the exact anchors (distinct harmonic keys,
      // the true top-25 threshold) from the same derived key; the
      // sketch-side quality measurements are the constant boolean claims
      // (recall-floor doctrine)
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
        |ORDER BY budget""".stripMargin),

    // the OTHER approximate aggregate a 100 TB profile leans on, under
    // the same contract doctrine as topn_approx_bounds: Spark's built-in
    // HLL++ (functions-not-UDFs; deterministic for a fixed input) must
    // land within 5x its configured rsd of the exact distinct count,
    // asserted in-plan against the exact twin the oracle recomputes
    query("distinct_count_bounds", (spark, dir) => {
      import spark.implicits._
      tbl(spark, dir, "lineitem")
        .agg(
          countDistinct($"l_partkey").as("n_exact"),
          approx_count_distinct($"l_partkey", 0.05).as("__graft_approx"))
        .select($"n_exact",
          (abs($"__graft_approx" - $"n_exact") <=
            ($"n_exact" * 0.25).cast("long")).as("within_bound"))
    }, oracle =
      // exact side recomputed by the oracle; the HLL estimate's bound is
      // the constant-boolean claim (Spark's HLL++ is deterministic, DuckDB
      // cannot replay it bit-for-bit — the recall-floor doctrine)
      """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact,
        |       TRUE AS within_bound
        |FROM lineitem""".stripMargin),

    // scalar topn_add + topn_union pipeline (§2.1 rows 2,3)
    query("topn_scalar_pipeline", (spark, dir) => {
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
    }, oracle =
      """SELECT item, frequency FROM (
        |  SELECT o_orderpriority AS item,
        |         COUNT(*) + CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS frequency
        |  FROM orders GROUP BY 1) t
        |ORDER BY frequency DESC, item""".stripMargin),

    // sketches through joins + CTEs on the pure SQL surface (§2.4,
    // reference sql/join_tests.sql), reported via the topn_rows generator
    query("topn_join_cte_sql", (spark, dir) => {
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
    }, oracle =
      // inner join keeps only priorities present in both halves (all of
      // them, on this data); union of the half-sketches = full counts
      """SELECT o_orderpriority, item, frequency FROM (
        |  SELECT o_orderpriority, CAST(o_custkey AS VARCHAR) AS item,
        |         COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY COUNT(*) DESC, CAST(o_custkey AS VARCHAR)) AS rn
        |  FROM orders GROUP BY 1, 2) t
        |WHERE rn <= 10
        |ORDER BY o_orderpriority, frequency DESC, item""".stripMargin),

    // sliding window merge over daily rollups (§2.6; customer_reviews_query
    // .sql:58-70 "seven_days" frame)
    query("topn_window_7day", (spark, dir) => {
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
    }, oracle =
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
        |ORDER BY day, frequency DESC, item""".stripMargin),

    // the same 7-day sliding merge via the scale-path rank equi-join
    // (no single-partition window sort; see graft.operators.Rollups)
    query("topn_window_7day_scalable", (spark, dir) => {
      import spark.implicits._
      val daily = tbl(spark, dir, "orders")
        .groupBy(date_format($"o_orderdate", "yyyy-MM-dd").as("day"))
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
      graft.operators.Rollups.slidingUnion(daily, "day", "sketch", frameRows = 7, ExactN)
        .select($"day", explode(TopnFunctions.topn($"sketch", lit(5))).as("r"))
        .select($"day", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"day", $"frequency".desc, $"item")
    }, oracle =
      // identical semantics to topn_window_7day -> same oracle shape
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
        |ORDER BY day, frequency DESC, item""".stripMargin),

    // a WIDE frame (30 periods) through the prefix/suffix block
    // decomposition — O(1) merges per period instead of the O(frameRows)
    // the range-join/window forms pay (see Rollups.slidingUnionWideFrame)
    query("topn_window_30day_scalable", (spark, dir) => {
      import spark.implicits._
      val daily = tbl(spark, dir, "orders")
        .groupBy(date_format($"o_orderdate", "yyyy-MM-dd").as("day"))
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
      graft.operators.Rollups.slidingUnionWideFrame(daily, "day", "sketch", frameRows = 30, ExactN)
        .select($"day", explode(TopnFunctions.topn($"sketch", lit(5))).as("r"))
        .select($"day", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"day", $"frequency".desc, $"item")
    }, oracle =
      // the 30-period frame replayed exactly: same shape, rk - 29
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
        |ORDER BY day, frequency DESC, item""".stripMargin),

    // the NAIVE wide frame: the same 30-period merge via slidingUnion's
    // rank-range join, which replicates every period's sketch 30x — the
    // head-to-head twin that prices slidingUnionWideFrame's decomposition
    benchOnly("topn_window_30day_rangejoin_op", (spark, dir) => {
      import spark.implicits._
      val daily = tbl(spark, dir, "orders")
        .groupBy(date_format($"o_orderdate", "yyyy-MM-dd").as("day"))
        .agg(TopnFunctions.topn_add_agg($"o_custkey".cast("string"), ExactN).as("sketch"))
      graft.operators.Rollups.slidingUnion(daily, "day", "sketch", frameRows = 30, ExactN)
        .select($"day", explode(TopnFunctions.topn($"sketch", lit(5))).as("r"))
        .select($"day", $"r.item".as("item"), $"r.frequency".as("frequency"))
        .orderBy($"day", $"frequency".desc, $"item")
    }),

    // events stream table (nanos-timestamp source) through the sketch path:
    // per-type hourly rollups -> union re-aggregation -> top-5 users
    query("topn_events_by_type", (spark, dir) => {
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
    }, oracle =
      """SELECT event_type, item, frequency FROM (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS item, COUNT(*) AS frequency,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY COUNT(*) DESC, CAST(user_id AS VARCHAR)) AS rn
        |  FROM events GROUP BY 1, 2) t
        |WHERE rn <= 5
        |ORDER BY event_type, frequency DESC, item""".stripMargin)
  )
}
