package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Fixtures._

/** The event family of the query catalog: event analytics over
  * `events` — as-of joins, attribution, sessions, funnels, retention
  * and rate anomalies. */
private[graft] object EventQueries extends Family {

  lazy val entries: Seq[Entry] = Seq(
    // as-of join (union-trick, one shuffle, no pair explosion): every
    // click stamped with the user's most recent preceding view — right
    // side pre-aggregated per (user, ts) so "latest" is well-defined
    // under timestamp collisions. The oracle is DuckDB's NATIVE ASOF
    // LEFT JOIN: two independent implementations of the same temporal
    // semantics hash-agreeing
    query("asof_latest_view", (spark, dir) => {
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
    }, oracle =
      // DuckDB's NATIVE ASOF LEFT JOIN — an independent implementation of
      // the temporal-join semantics the union-trick window spells in Spark
      """WITH v AS (SELECT user_id, ts AS view_ts, MAX(event_id) AS view_event_id
        |           FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us, v.view_event_id,
        |       epoch_us(v.view_ts) AS view_ts_us
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.ts >= v.view_ts
        |ORDER BY c.event_id""".stripMargin),

    // the NAIVE as-of: inequality join (user, view_ts <= ts) exploding
    // every (click, preceding view) pair before a per-click argmax — the
    // spelling asof_latest_view's union-trick window avoids; timed
    // head-to-head so the plan claim is a measured fact
    benchOnly("asof_rangejoin_op", (spark, dir) => {
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

    // attribution-window as-of: each purchase credited to the user's
    // latest preceding click ONLY when it is at most 1h old — the
    // maxGapSeconds variant of the union-trick join (bound applied
    // after the same single window pass; stale matches null out, plan
    // shape unchanged). Oracle: DuckDB native ASOF + an age CASE — two
    // independent spellings of the window-bounded semantics
    query("attributed_purchases", (spark, dir) => {
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
    }, oracle =
      // native ASOF, then the 1h attribution bound as an age CASE
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
        |FROM a ORDER BY event_id""".stripMargin),

    // burst detection: daily periods where a user's event count spikes
    // > 2 sigma above their OWN span baseline (silent days count as
    // zeros without materializing them) — exact integer moments, the
    // z-test cross-multiplied out of division, so the report is
    // hash-stable cross-engine
    query("rate_anomalies_daily", (spark, dir) => {
      import spark.implicits._
      graft.operators.Diagnostics.rateAnomalies(
          graft.sources.Tables.events(spark, dir), Seq("user_id"), "ts",
          periodSeconds = 86400L, k = 2)
        .orderBy($"user_id", $"period_start_us")
    }, oracle =
      // the same exact integer moments and cross-multiplied z-test
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
        |ORDER BY user_id, period_start_us""".stripMargin),

    // gap-based sessionization: per-user sessions at a 4h inactivity
    // gap, rolled up to (start, end, n_events, exact micros duration,
    // value sum as BIGINT cents — the sum itself is a DECIMAL(_,2),
    // scaled by 100 so both engines emit the same integer type: the
    // oracle's hasher is sensitive to decimal WIDTH (Spark sum →
    // decimal(28,2), DuckDB → DECIMAL(38,2)) even when every value
    // agrees. One shuffle by user, per-key window, event_id tie-break
    query("sessionize_events", (spark, dir) => {
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
    }, oracle =
      // lag gap test + running-sum ordinal, then the per-session rollup;
      // epoch_us mirrors unix_micros' exact integer micros
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
        |ORDER BY user_id, session_seq""".stripMargin),

    // ordered-step conversion funnel: users reaching view -> click ->
    // purchase IN ORDER (each step strictly after the key's earliest
    // in-order completion of the previous one). Iterated conditional
    // min — one key-equi join + hash agg per step, never a corpus
    // window; the oracle replays the same chain
    query("funnel_events", (spark, dir) => {
      import spark.implicits._
      graft.operators.Sessions.funnelCounts(
          graft.sources.Tables.events(spark, dir), Seq("user_id"), "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy($"step_idx")
    }, oracle =
      // the iterated-conditional-min chain replayed step by step
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
        |ORDER BY step_idx""".stripMargin),

    // per-transition conversion latency for the same funnel — exact
    // integer micros (count / min / floored mean / max), all
    // transitions folded in ONE one-row aggregate over the per-key
    // step-time table; the oracle replays the chain plus the latency
    // joins
    query("funnel_transitions", (spark, dir) => {
      import spark.implicits._
      graft.operators.Sessions.funnelTransitions(
          graft.sources.Tables.events(spark, dir), Seq("user_id"), "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy($"step_idx")
    }, oracle =
      // same chain, then each transition's latency distribution (floor
      // division matches Spark's DIV on these strictly-positive sums)
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
        |ORDER BY step_idx""".stripMargin),

    // WINDOWED funnel: view -> click -> purchase with every step inside
    // 24h of the SAME step-0 view (deadline-from-first semantics, where
    // greedy earliest-successor chaining is exact); one row per step-0
    // event, then one earliestFollowing window pass per hop — the
    // oracle replays the identical greedy chain with correlated MINs
    query("funnel_windowed_events", (spark, dir) => {
      import spark.implicits._
      graft.operators.Sessions.funnelWindowedCounts(
          graft.sources.Tables.events(spark, dir), Seq("user_id"), "ts",
          "event_type", Seq("view", "click", "purchase"),
          windowSeconds = 86400L)
        .orderBy($"step_idx")
    }, oracle =
      // the greedy windowed chain replayed with correlated MINs: a NULL
      // t_i kills the chain (NULL comparisons exclude every candidate)
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
        |ORDER BY step_idx""".stripMargin),

    // DAU/MAU-style stickiness per 28-day epoch period — one distinct
    // over (user, day) collapses the corpus, one hash agg per period,
    // exact integer ppm
    query("stickiness_28d", (spark, dir) => {
      import spark.implicits._
      graft.operators.Sessions.stickiness(
          graft.sources.Tables.events(spark, dir), Seq("user_id"), "ts",
          periodDays = 28)
        .orderBy($"period_start_us")
    }, oracle =
      // same distinct day-pairs, same exact integer ppm
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
        |FROM p GROUP BY per ORDER BY 1""".stripMargin),

    // cohort retention on epoch-aligned weekly periods: distinct
    // (user, period) first, one per-key window min for the cohort, one
    // hash agg — counting the distinct pairs IS the exact per-cell
    // user count, no count_distinct shuffle
    query("retention_cohorts", (spark, dir) => {
      import spark.implicits._
      graft.operators.Sessions.retentionCohorts(
          graft.sources.Tables.events(spark, dir), Seq("user_id"), "ts",
          periodSeconds = 7L * 86400L)
        .orderBy($"cohort_start_us", $"period_offset")
    }, oracle =
      // epoch-aligned weekly periods via floor division; counting the
      // distinct (user, period) pairs is the exact per-cell user count
      """WITH p AS (SELECT DISTINCT user_id,
        |                  epoch_us(ts) // 604800000000 AS pidx
        |           FROM events),
        |c AS (SELECT user_id, pidx,
        |             MIN(pidx) OVER (PARTITION BY user_id) AS c0
        |      FROM p)
        |SELECT CAST(c0 * 604800000000 AS BIGINT) AS cohort_start_us,
        |       CAST(pidx - c0 AS BIGINT) AS period_offset,
        |       CAST(COUNT(*) AS BIGINT) AS n_keys
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // the flagship sketch composing with sessionization: top in-session
    // event trigram paths — per-session lead windows feed
    // topn_add_agg(path), so the report stays ONE bounded sketch at any
    // corpus size; 5 event types -> <= 125 distinct paths << 3N, exact,
    // so the oracle is a plain count + the sketch's tie order
    query("topn_session_paths", (spark, dir) => {
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
    }, oracle =
      // the sessionize CTE (same as sessionize_events), per-session lead
      // trigrams, exact counts, the sketch's (freq desc, item asc) ties
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
        |GROUP BY 1 ORDER BY frequency DESC, path LIMIT 10""".stripMargin)
  )
}
