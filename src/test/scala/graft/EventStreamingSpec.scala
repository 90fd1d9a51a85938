package graft

import graft.operators.Sessions
import graft.streaming.{ActivityStreaming, FunnelStreaming}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Streaming activity/retention and funnel maintenance: committed-store
 * reports must equal their one-shot batch operators over the full event
 * history, with fixtures engineered so the cross-batch paths fire by
 * construction (first-activity and conversion chains straddling batch
 * cuts), plus replay/ordering/params-pin/compaction protocol checks.
 */
class EventStreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private lazy val ev = graft.sources.Tables
    .events(spark, "/root/testdata/sf0.001")
    .select($"event_id", $"user_id", $"ts", $"event_type").cache()

  private val Steps = Seq("view", "click", "purchase")
  private val Week = 7L * 86400L

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/s"

  // ---- activity / retention -----------------------------------------

  private def collectRetention(df: org.apache.spark.sql.DataFrame) = df
    .select($"cohort_start_us", $"period_offset", $"n_keys")
    .as[(Long, Long, Long)].collect().toSet

  test("streaming activity: committed report == one-shot retentionCohorts, any split") {
    // split by event_id % 3 — deliberately NOT time-ordered: activity
    // pairs are monotone, so arrival order must not matter
    val store = tmp("graft_act")
    for (i <- 0 until 3)
      ActivityStreaming.activityBatch(ev.filter($"event_id" % 3 === i),
        i.toLong, store, Seq("user_id"), "ts", Week, "sc")
    val got = collectRetention(ActivityStreaming.committedRetention(
      spark, store, Seq("user_id"), Week))
    val want = collectRetention(Sessions.retentionCohorts(
      ev, Seq("user_id"), "ts", Week))
    assert(got === want)
    assert(want.exists(_._2 > 0),
      "fixture must contain returning keys (offset > 0) or the test is vacuous")

    // replay of a committed batch is a no-op
    ActivityStreaming.activityBatch(ev.filter($"event_id" % 3 === 1), 1L,
      store, Seq("user_id"), "ts", Week, "sc")
    assert(collectRetention(ActivityStreaming.committedRetention(
      spark, store, Seq("user_id"), Week)) === got)
  }

  test("empty stores read as empty, reserved key names fail fast") {
    import graft.streaming.RateStreaming
    val none = tmp("graft_empty_store")
    assert(ActivityStreaming.committedPairs(spark, none).columns.isEmpty)
    assert(RateStreaming.committedCounts(spark, none).columns.isEmpty)
    assert(FunnelStreaming.committedState(spark, none).isEmpty)
    val bad = ev.withColumnRenamed("user_id", "period_idx")
    intercept[IllegalArgumentException] {
      ActivityStreaming.activityBatch(bad, 0L, tmp("graft_g1"),
        Seq("period_idx"), "ts", Week, "sc")
    }
    intercept[IllegalArgumentException] {
      RateStreaming.rateBatch(bad, 0L, tmp("graft_g2"),
        Seq("period_idx"), "ts", Week, "sc")
    }
    val bad2 = ev.withColumnRenamed("user_id", "__graft_t0")
    intercept[IllegalArgumentException] {
      FunnelStreaming.funnelBatch(bad2, 0L, tmp("graft_g3"),
        Seq("__graft_t0"), "ts", "event_type", Steps, "sc")
    }
  }

  test("streaming activity: params pin holds on write and read") {
    val store = tmp("graft_act_pin")
    ActivityStreaming.activityBatch(ev, 0L, store, Seq("user_id"), "ts",
      Week, "sc")
    val e1 = intercept[IllegalStateException] {
      ActivityStreaming.activityBatch(ev, 1L, store, Seq("user_id"), "ts",
        86400L, "sc")
    }
    assert(e1.getMessage.contains("periodSeconds=86400"))
    val e2 = intercept[IllegalStateException] {
      ActivityStreaming.committedRetention(spark, store, Seq("user_id"), 86400L)
    }
    assert(e2.getMessage.contains("periodSeconds=86400"))
  }

  test("streaming activity: compactStore folds to one dir, same report, resumes") {
    val store = tmp("graft_act_cmp")
    for (i <- 0 until 2)
      ActivityStreaming.activityBatch(ev.filter($"event_id" % 3 === i),
        i.toLong, store, Seq("user_id"), "ts", Week, "sc")
    val dst = tmp("graft_act_cmp_dst")
    ActivityStreaming.compactStore(spark, store, dst)
    assert(collectRetention(ActivityStreaming.committedRetention(
        spark, dst, Seq("user_id"), Week)) ===
      collectRetention(ActivityStreaming.committedRetention(
        spark, store, Seq("user_id"), Week)))
    val dataDirs = new java.io.File(dst.stripSuffix("/s") + "/s/data").list()
    assert(dataDirs.length === 1, dataDirs.mkString(","))
    // replay below the committed version is a no-op; the next batch appends
    ActivityStreaming.activityBatch(ev.filter($"event_id" % 3 === 0), 1L,
      dst, Seq("user_id"), "ts", Week, "sc")
    ActivityStreaming.activityBatch(ev.filter($"event_id" % 3 === 2), 2L,
      dst, Seq("user_id"), "ts", Week, "sc")
    assert(collectRetention(ActivityStreaming.committedRetention(
        spark, dst, Seq("user_id"), Week)) ===
      collectRetention(Sessions.retentionCohorts(ev, Seq("user_id"), "ts", Week)))
  }

  test("streaming activity end-to-end: maintainActivity via readStream") {
    // two-file source dir, one file per micro-batch
    val dir = java.nio.file.Files.createTempDirectory("graft_act_in").toString
    ev.filter($"event_id" % 2 === 0).coalesce(1)
      .write.parquet(s"$dir/tmp0")
    ev.filter($"event_id" % 2 === 1).coalesce(1)
      .write.parquet(s"$dir/tmp1")
    val in = java.nio.file.Files.createTempDirectory("graft_act_src").toString
    for ((sub, name) <- Seq(("tmp0", "p0.parquet"), ("tmp1", "p1.parquet")))
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, sub)).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p, java.nio.file.Paths.get(in, name))
      }
    val store = tmp("graft_act_e2e")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_act_ck").toString
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = ActivityStreaming.maintainActivity(stream, store, Seq("user_id"),
      "ts", Week, checkpointLocation = Some(ckpt))
    try q.processAllAvailable() finally q.stop()
    assert(collectRetention(ActivityStreaming.committedRetention(
        spark, store, Seq("user_id"), Week)) ===
      collectRetention(Sessions.retentionCohorts(ev, Seq("user_id"), "ts", Week)))
  }

  // ---- per-period counts / bursts -----------------------------------

  private def collectAnomalies(df: org.apache.spark.sql.DataFrame) = df
    .select($"user_id", $"period_start_us", $"n_events", $"span_periods",
      $"total_events")
    .as[(Long, Long, Long, Long, Long)].collect().toSet

  test("streaming rates: committed bursts == one-shot, spike split across batches") {
    import graft.streaming.RateStreaming
    // plant a user whose day-4 spike (30 events) splits ~10/10/10 across
    // the three batches: the spike only reaches sigma-3 once the batch
    // partials are SUMMED (a single outlier among n periods caps at
    // z^2 = n-1, so 12 baseline days put the summed spike above 9 while
    // any unsummed fragment of it is far below)
    val planted = (0 to 11).flatMap { day =>
      val n = if (day == 4) 30 else 1
      (0 until n).map(i => (1000000L + day * 100L + i, 99999L,
        new java.sql.Timestamp(1704067200000L + day * 86400000L + i * 1000L),
        "view"))
    }.toDF("event_id", "user_id", "ts", "event_type")
    val all = ev.unionByName(planted)
    val store = tmp("graft_rate")
    for (i <- 0 until 3)
      RateStreaming.rateBatch(all.filter($"event_id" % 3 === i), i.toLong,
        store, Seq("user_id"), "ts", 86400L, "sc")
    val got = collectAnomalies(RateStreaming.committedAnomalies(
      spark, store, Seq("user_id"), 86400L, k = 3))
    val want = collectAnomalies(graft.operators.Diagnostics.rateAnomalies(
      all, Seq("user_id"), "ts", 86400L, k = 3))
    assert(got === want)
    assert(got.exists(_._1 == 99999L), "the planted spike must flag")

    // replay no-op
    RateStreaming.rateBatch(all.filter($"event_id" % 3 === 1), 1L, store,
      Seq("user_id"), "ts", 86400L, "sc")
    assert(collectAnomalies(RateStreaming.committedAnomalies(
      spark, store, Seq("user_id"), 86400L, k = 3)) === got)
  }

  test("streaming rates: params pin, compaction, resume") {
    import graft.streaming.RateStreaming
    val store = tmp("graft_rate_cmp")
    for (i <- 0 until 2)
      RateStreaming.rateBatch(ev.filter($"event_id" % 3 === i), i.toLong,
        store, Seq("user_id"), "ts", 86400L, "sc")
    val e1 = intercept[IllegalStateException] {
      RateStreaming.rateBatch(ev, 2L, store, Seq("user_id"), "ts", 3600L, "sc")
    }
    assert(e1.getMessage.contains("periodSeconds=3600"))
    val e2 = intercept[IllegalStateException] {
      RateStreaming.committedAnomalies(spark, store, Seq("user_id"), 3600L)
    }
    assert(e2.getMessage.contains("periodSeconds=3600"))
    val dst = tmp("graft_rate_cmp_dst")
    RateStreaming.compactStore(spark, store, dst)
    assert(new java.io.File(dst + "/data").list().length === 1)
    RateStreaming.rateBatch(ev.filter($"event_id" % 3 === 1), 1L, dst,
      Seq("user_id"), "ts", 86400L, "sc") // replay below version: no-op
    RateStreaming.rateBatch(ev.filter($"event_id" % 3 === 2), 2L, dst,
      Seq("user_id"), "ts", 86400L, "sc")
    assert(collectAnomalies(RateStreaming.committedAnomalies(
        spark, dst, Seq("user_id"), 86400L, k = 2)) ===
      collectAnomalies(graft.operators.Diagnostics.rateAnomalies(
        ev, Seq("user_id"), "ts", 86400L, k = 2)))
  }

  // ---- funnel --------------------------------------------------------

  private def collectCounts(df: org.apache.spark.sql.DataFrame) = df
    .select($"step_idx", $"step", $"n_keys")
    .as[(Long, String, Long)].collect().toSet

  /** Global-ts 3-way split (preserves per-key ts order). The cuts are
    * placed between some converting key's click and purchase, so a
    * conversion chain STRADDLES the batch boundary by construction. */
  private def funnelBatches = {
    val t = Sessions.funnelCounts(ev, Seq("user_id"), "ts", "event_type", Steps)
    assert(collectCounts(t).exists(r => r._1 == 2L && r._3 > 0),
      "fixture must contain full conversions")
    // a key's earliest in-order click time: cut there so its purchase
    // lands in a later batch
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id").agg(min($"ts").cast("string").as("ct"))
      .orderBy($"ct").select($"ct").as[String].collect()
    val cut1 = clicks(clicks.length / 3)
    val cut2 = clicks(2 * clicks.length / 3)
    val s = $"ts".cast("string")
    (ev.filter(s < cut1),
      ev.filter(s >= cut1 && s < cut2),
      ev.filter(s >= cut2))
  }

  test("streaming funnel: committed counts == one-shot funnelCounts across batches") {
    val (b0, b1, b2) = funnelBatches
    val store = tmp("graft_fun")
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex)
      FunnelStreaming.funnelBatch(b, i.toLong, store, Seq("user_id"), "ts",
        "event_type", Steps, "sc")
    val got = collectCounts(FunnelStreaming.committedCounts(
      spark, store, Seq("user_id"), Steps))
    val want = collectCounts(Sessions.funnelCounts(
      ev, Seq("user_id"), "ts", "event_type", Steps))
    assert(got === want,
      "incremental funnel state must reproduce the one-shot chain exactly")

    // the straddle path genuinely fired: some key's step times span
    // multiple batch time-ranges
    val b0Max = b0.agg(max(Sessions.tsMicros(b0, "ts"))).head.getLong(0)
    val st = FunnelStreaming.committedState(spark, store).get
    assert(st.filter(col("__graft_t0") <= b0Max &&
        col("__graft_t2") > b0Max).count() > 0,
      "fixture must contain a conversion straddling the batch-0/1 cut")

    // replay of a committed batch is a no-op
    FunnelStreaming.funnelBatch(b1, 1L, store, Seq("user_id"), "ts",
      "event_type", Steps, "sc")
    assert(collectCounts(FunnelStreaming.committedCounts(
      spark, store, Seq("user_id"), Steps)) === got)
  }

  // ---- bounded-disorder (watermark) tier -----------------------------

  /** (user, step, seconds) -> one-row-per-event frame with a timestamp
    * ts column and a distinct event_id. */
  private def evFix(rows: Seq[(Long, String, Long)]) =
    rows.zipWithIndex
      .map { case ((u, s, sec), i) => (i.toLong, u, s, sec) }
      .toDF("event_id", "user_id", "event_type", "sec")
      .select($"event_id", $"user_id", $"event_type",
        timestamp_seconds($"sec").as("ts"))

  test("streaming funnel watermark: within-window shuffled arrival == batch kernel; beyond fails") {
    val wm = 60L
    // u4's conversion arrives step-REVERSED across batches (click@290 in
    // b2, view@270 in b3) — only the maturity buffer can order it
    val b0 = evFix(Seq((1L, "view", 100L), (2L, "view", 150L)))
    val b1 = evFix(Seq((1L, "click", 200L), (3L, "view", 120L)))
    val b2 = evFix(Seq((2L, "click", 250L), (1L, "purchase", 300L),
      (3L, "click", 145L), (4L, "click", 290L)))
    val b3 = evFix(Seq((4L, "view", 270L), (9L, "view", 400L))) // 400 flushes
    val store = tmp("graft_funwm")
    for ((b, i) <- Seq(b0, b1, b2, b3).zipWithIndex)
      FunnelStreaming.funnelBatch(b, i.toLong, store, Seq("user_id"), "ts",
        "event_type", Steps, "sc", watermarkSeconds = wm)
    // matured prefix = events at or below the final cut (400 - 60)
    val all = evFix(Seq((1L, "view", 100L), (2L, "view", 150L),
      (1L, "click", 200L), (3L, "view", 120L), (2L, "click", 250L),
      (1L, "purchase", 300L), (3L, "click", 145L), (4L, "click", 290L),
      (4L, "view", 270L), (9L, "view", 400L)))
    val matured = all.filter(Sessions.tsMicros(all, "ts") <= (400L - wm) * 1000000L)
    val got = collectCounts(FunnelStreaming.committedCounts(
      spark, store, Seq("user_id"), Steps, watermarkSeconds = wm))
    val want = collectCounts(Sessions.funnelCounts(
      matured, Seq("user_id"), "ts", "event_type", Steps))
    assert(got === want,
      "watermark-tier funnel must equal the batch kernel over the matured prefix")
    // u4's reversed-arrival conversion was counted (view 270 < click 290)
    assert(collectCounts(FunnelStreaming.committedCounts(
      spark, store, Seq("user_id"), Steps, watermarkSeconds = wm))
      .exists(r => r._1 == 1L && r._3 >= 2L),
      "the step-reversed u4 chain must convert through step 1")
    // beyond-watermark arrival fails loudly: 330 <= cut 340
    val late = evFix(Seq((5L, "view", 330L)))
    val eL = intercept[IllegalStateException](
      FunnelStreaming.funnelBatch(late, 4L, store, Seq("user_id"), "ts",
        "event_type", Steps, "sc", watermarkSeconds = wm))
    assert(eL.getMessage.contains("beyond-watermark"))
    // the watermark is part of the params pin: a strict reader refuses
    val eP = intercept[IllegalStateException](
      FunnelStreaming.committedCounts(spark, store, Seq("user_id"), Steps))
    assert(eP.getMessage.contains("wm=60"))
    // NULL event times cannot be ordered by the cut — refused loudly
    // (both sides of the maturity split would silently drop them)
    val nullTs = Seq((8L, 6L, "view"))
      .toDF("event_id", "user_id", "event_type")
      .select($"event_id", $"user_id", $"event_type",
        lit(null).cast("timestamp").as("ts"))
    val eN = intercept[IllegalStateException](
      FunnelStreaming.funnelBatch(nullTs, 5L, store, Seq("user_id"), "ts",
        "event_type", Steps, "sc", watermarkSeconds = wm))
    assert(eN.getMessage.contains("NULL event time"))
  }

  test("streaming session watermark: within-window shuffled arrival == batch kernel; beyond fails") {
    import graft.streaming.SessionStreaming
    val gap = 100L
    val wm = 60L
    def sFix(rows: Seq[(Long, Long, Long)]) = rows
      .map { case (id, u, sec) => (id, u, sec) }
      .toDF("event_id", "user_id", "sec")
      .select($"event_id", $"user_id", timestamp_seconds($"sec").as("ts"))
    // u1's first two events arrive REVERSED across batches (150 then 100)
    val b0 = sFix(Seq((1L, 1L, 150L)))
    val b1 = sFix(Seq((2L, 1L, 100L), (3L, 2L, 120L), (4L, 1L, 400L)))
    val b2 = sFix(Seq((9L, 9L, 1000L))) // flush: cut -> 940
    val store = tmp("graft_sesswm")
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex)
      SessionStreaming.sessionBatch(b, i.toLong, store, Seq("user_id"), "ts",
        100L, None, Seq("event_id"), "sc", watermarkSeconds = wm)
    val all = sFix(Seq((1L, 1L, 150L), (2L, 1L, 100L), (3L, 2L, 120L),
      (4L, 1L, 400L), (9L, 9L, 1000L)))
    val matured = all.filter(Sessions.tsMicros(all, "ts") <= 940L * 1000000L)
    val got = SessionStreaming.committedSessions(spark, store)
      .select($"user_id", $"session_seq", $"session_start".cast("string"),
        $"session_end".cast("string"), $"n_events", $"duration_us")
      .as[(Long, Long, String, String, Long, Long)].collect().toSet
    val want = Sessions.stats(matured, Seq("user_id"), "ts", gap,
        None, Seq("event_id"))
      .select($"user_id", $"session_seq", $"session_start".cast("string"),
        $"session_end".cast("string"), $"n_events", $"duration_us")
      .as[(Long, Long, String, String, Long, Long)].collect().toSet
    assert(got === want,
      "watermark-tier sessions must equal the batch kernel over the matured prefix")
    // the reversed pair merged into ONE session [100, 150]
    assert(got.exists(r => r._1 == 1L && r._5 == 2L && r._6 == 50000000L),
      s"u1's reversed-arrival events must form one session, got $got")
    // beyond-watermark arrival fails loudly: 900 <= cut 940
    val eL = intercept[IllegalStateException](
      SessionStreaming.sessionBatch(sFix(Seq((5L, 1L, 900L))), 3L, store,
        Seq("user_id"), "ts", gap, None, Seq("event_id"), "sc",
        watermarkSeconds = wm))
    assert(eL.getMessage.contains("beyond-watermark"))
    // within-window arrival AFTER the flush still folds in exactly:
    // 950 > cut 940, matures when u9@1100 pushes the cut to 1040
    SessionStreaming.sessionBatch(sFix(Seq((6L, 2L, 950L))), 4L, store,
      Seq("user_id"), "ts", gap, None, Seq("event_id"), "sc",
      watermarkSeconds = wm)
    SessionStreaming.sessionBatch(sFix(Seq((10L, 9L, 1100L))), 5L, store,
      Seq("user_id"), "ts", gap, None, Seq("event_id"), "sc",
      watermarkSeconds = wm)
    val got2 = SessionStreaming.committedSessions(spark, store)
      .filter($"user_id" === 2L).count()
    assert(got2 === 2L, "u2's late 950 event must open its second session")
  }

  test("streaming funnel watermark end-to-end: maintainFunnel via readStream") {
    val wm = 60L
    val batches = Seq(
      Seq((1L, "view", 100L), (2L, "view", 150L)),
      Seq((1L, "click", 200L), (3L, "view", 120L)), // 120 late, in-window
      Seq((2L, "click", 250L), (1L, "purchase", 300L),
        (3L, "click", 145L), (4L, "click", 290L)),
      Seq((4L, "view", 270L), (9L, "view", 400L))) // u4 step-reversed; flush
    val dir = java.nio.file.Files.createTempDirectory("graft_fwm_in").toString
    val in = java.nio.file.Files.createTempDirectory("graft_fwm_src").toString
    for ((rows, i) <- batches.zipWithIndex) {
      evFix(rows).coalesce(1).write.parquet(s"$dir/tmp$i")
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, s"tmp$i")).forEach { p =>
        if (p.toString.endsWith(".parquet")) {
          val dst = java.nio.file.Paths.get(in, s"p$i.parquet")
          java.nio.file.Files.copy(p, dst)
          // file-source batch order follows modification time — pin it
          dst.toFile.setLastModified(1700000000000L + i * 10000L)
          ()
        }
      }
    }
    val store = tmp("graft_fwm_e2e")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fwm_ck").toString
    val stream = spark.readStream.schema(evFix(batches.head).schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = FunnelStreaming.maintainFunnel(stream, store, Seq("user_id"),
      "ts", "event_type", Steps, checkpointLocation = Some(ckpt),
      watermarkSeconds = wm)
    try q.processAllAvailable() finally q.stop()
    val all = evFix(batches.flatten)
    val matured = all.filter(
      Sessions.tsMicros(all, "ts") <= (400L - wm) * 1000000L)
    assert(collectCounts(FunnelStreaming.committedCounts(
        spark, store, Seq("user_id"), Steps, watermarkSeconds = wm)) ===
      collectCounts(Sessions.funnelCounts(
        matured, Seq("user_id"), "ts", "event_type", Steps)),
      "the real readStream drive must equal the batch kernel over the matured prefix")
  }

  test("watermark tier survives compaction: pending + hwm carry, stream resumes") {
    val wm = 60L
    val b0 = evFix(Seq((1L, "view", 100L), (2L, "view", 150L)))
    val b1 = evFix(Seq((1L, "click", 200L), (4L, "click", 290L)))
    val src = tmp("graft_funwm_src")
    for ((b, i) <- Seq(b0, b1).zipWithIndex)
      FunnelStreaming.funnelBatch(b, i.toLong, src, Seq("user_id"), "ts",
        "event_type", Steps, "sc", watermarkSeconds = wm)
    val dst = tmp("graft_funwm_dst")
    FunnelStreaming.compactStore(spark, src, dst)
    def counts(p: String) = collectCounts(FunnelStreaming.committedCounts(
      spark, p, Seq("user_id"), Steps, watermarkSeconds = wm))
    assert(counts(dst) === counts(src),
      "compaction must reproduce the committed report")
    // the buffered tail carried: the SAME flush batch (u4's view arriving
    // step-reversed + a far event) matures identically on both stores —
    // u4's conversion needs the PENDING click@290 from before the fold
    val flush = evFix(Seq((4L, "view", 270L), (9L, "view", 400L)))
    FunnelStreaming.funnelBatch(flush, 2L, src, Seq("user_id"), "ts",
      "event_type", Steps, "sc", watermarkSeconds = wm)
    FunnelStreaming.funnelBatch(flush, 2L, dst, Seq("user_id"), "ts",
      "event_type", Steps, "sc", watermarkSeconds = wm)
    val after = counts(dst)
    assert(after === counts(src),
      "resumed compacted store must stay equal to the original")
    assert(after.exists(r => r._1 == 1L && r._3 >= 2L),
      "u4's buffered click must convert once its view matures")
    // beyond-watermark refusal carries too (hwm moved with the fold)
    val eL = intercept[IllegalStateException](
      FunnelStreaming.funnelBatch(evFix(Seq((5L, "view", 330L))), 3L, dst,
        Seq("user_id"), "ts", "event_type", Steps, "sc",
        watermarkSeconds = wm))
    assert(eL.getMessage.contains("beyond-watermark"))
    // uncommitted leftovers are invisible: an orphan data dir with no
    // manifest (the crash shape) must not change any reader
    val before = counts(dst)
    graft.streaming.StreamWatermark.write(spark, dst, 99L,
      evFix(Seq((7L, "view", 9999L))).select(col("user_id"),
        col("event_type").as("__graft_step"),
        Sessions.tsMicros(evFix(Seq((7L, "view", 9999L))), "ts").as("__graft_tu")),
      9999000000L)
    assert(counts(dst) === before,
      "an uncommitted pending/wm dir must be invisible to readers")
  }

  test("a committed batch with only one watermark leaf fails loudly, never pairs across batches") {
    // the tier writes pending + wm together before the commit marker; a
    // committed batch found with one leaf is a broken writer, and reading
    // on (pairing this batch's hwm with an OLDER batch's buffer) would
    // decouple the buffer from its cut — the readers must refuse instead
    val store = tmp("graft_wm_orphan")
    val pend = evFix(Seq((7L, "view", 500L)))
      .select(col("user_id"), col("event_type").as("__graft_step"),
        Sessions.tsMicros(evFix(Seq((7L, "view", 500L))), "ts").as("__graft_tu"))
    graft.streaming.StreamWatermark.write(spark, store, 0L, pend, 100L)
    // drop ONE leaf, then commit the batch by hand (file:// store)
    def rmr(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    rmr(java.nio.file.Paths.get(s"$store/data/b=0/pending"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$store/_manifests"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$store/_manifests/m=0"), "b=0")
    for (read <- Seq(
        () => graft.streaming.StreamWatermark.committedHwm(spark, store),
        () => graft.streaming.StreamWatermark.committedPending(spark, store))) {
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("only one of its pending/wm leaves"),
        s"got: ${e.getMessage}")
    }
  }

  test("streaming funnel: out-of-order arrival fails, params pin holds") {
    val (b0, b1, _) = funnelBatches
    val store = tmp("graft_fun_ooo")
    FunnelStreaming.funnelBatch(b1, 0L, store, Seq("user_id"), "ts",
      "event_type", Steps, "sc")
    val ex = intercept[Exception] {
      FunnelStreaming.funnelBatch(b0, 1L, store, Seq("user_id"), "ts",
        "event_type", Steps, "sc")
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("out-of-order"), s"got: $msgs")
    val ex2 = intercept[IllegalStateException] {
      FunnelStreaming.funnelBatch(b0, 2L, store, Seq("user_id"), "ts",
        "event_type", Seq("view", "purchase"), "sc")
    }
    assert(ex2.getMessage.contains("steps=view>purchase"))
    val ex3 = intercept[IllegalStateException] {
      FunnelStreaming.committedCounts(spark, store, Seq("user_id"),
        Seq("view", "purchase"))
    }
    assert(ex3.getMessage.contains("steps=view>purchase"))
  }

  test("streaming funnel: compactStore folds the chain, same report, resumes") {
    val (b0, b1, b2) = funnelBatches
    val store = tmp("graft_fun_cmp")
    for ((b, i) <- Seq(b0, b1).zipWithIndex)
      FunnelStreaming.funnelBatch(b, i.toLong, store, Seq("user_id"), "ts",
        "event_type", Steps, "sc")
    val dst = tmp("graft_fun_cmp_dst")
    FunnelStreaming.compactStore(spark, store, dst)
    assert(collectCounts(FunnelStreaming.committedCounts(
        spark, dst, Seq("user_id"), Steps)) ===
      collectCounts(FunnelStreaming.committedCounts(
        spark, store, Seq("user_id"), Steps)))
    val dataDirs = new java.io.File(dst + "/data").list()
    assert(dataDirs.length === 1, dataDirs.mkString(","))
    // resume on the compacted store: batch 1 replays as a no-op, batch 2
    // appends — final report equals the one-shot over everything
    FunnelStreaming.funnelBatch(b1, 1L, dst, Seq("user_id"), "ts",
      "event_type", Steps, "sc")
    FunnelStreaming.funnelBatch(b2, 2L, dst, Seq("user_id"), "ts",
      "event_type", Steps, "sc")
    assert(collectCounts(FunnelStreaming.committedCounts(
        spark, dst, Seq("user_id"), Steps)) ===
      collectCounts(Sessions.funnelCounts(
        ev, Seq("user_id"), "ts", "event_type", Steps)))
  }

  test("filesPerBatch lifts the one-writer ceiling; files>1 parallelizes the fold") {
    import graft.streaming.RateStreaming
    def parts(dir: String): Int =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .count(_.getName.startsWith("part-"))
    val actStore = tmp("graft_act_fpb")
    val rateStore = tmp("graft_rate_fpb")
    val funStore = tmp("graft_fun_fpb")
    // the cap is a coalesce (no floor): at micro-batch scale AQE folds the
    // plan to one partition regardless, so observe the lifted ceiling with
    // AQE off, like ScoreStreamingSpec's filesPerBatch case
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      ActivityStreaming.activityBatch(ev, 0L, actStore, Seq("user_id"),
        "ts", Week, "sc", filesPerBatch = 4)
      RateStreaming.rateBatch(ev, 0L, rateStore, Seq("user_id"), "ts",
        86400L, "sc", filesPerBatch = 4)
      FunnelStreaming.funnelBatch(ev, 0L, funStore, Seq("user_id"), "ts",
        "event_type", Steps, "sc", filesPerBatch = 4)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(parts(s"$actStore/data/b=0/pairs") > 1)
    assert(parts(s"$rateStore/data/b=0/counts") > 1)
    assert(parts(s"$funStore/data/b=0/state") > 1)
    // contents identical to the single-file spelling: every committed
    // report equals its one-shot batch operator
    assert(collectRetention(ActivityStreaming.committedRetention(
        spark, actStore, Seq("user_id"), Week)) ===
      collectRetention(Sessions.retentionCohorts(ev, Seq("user_id"), "ts", Week)))
    assert(collectAnomalies(RateStreaming.committedAnomalies(
        spark, rateStore, Seq("user_id"), 86400L, k = 2)) ===
      collectAnomalies(graft.operators.Diagnostics.rateAnomalies(
        ev, Seq("user_id"), "ts", 86400L, k = 2)))
    assert(collectCounts(FunnelStreaming.committedCounts(
        spark, funStore, Seq("user_id"), Steps)) ===
      collectCounts(Sessions.funnelCounts(
        ev, Seq("user_id"), "ts", "event_type", Steps)))
    // files > 1 parallelizes the compaction fold (repartition on every
    // column — deterministic row-to-file assignment) without changing the
    // committed reads
    val actDst = tmp("graft_act_fpb_dst")
    ActivityStreaming.compactStore(spark, actStore, actDst, files = 3)
    assert(parts(s"$actDst/data/b=0/pairs") > 1)
    assert(collectRetention(ActivityStreaming.committedRetention(
        spark, actDst, Seq("user_id"), Week)) ===
      collectRetention(Sessions.retentionCohorts(ev, Seq("user_id"), "ts", Week)))
    val rateDst = tmp("graft_rate_fpb_dst")
    RateStreaming.compactStore(spark, rateStore, rateDst, files = 3)
    assert(parts(s"$rateDst/data/b=0/counts") > 1)
    assert(collectAnomalies(RateStreaming.committedAnomalies(
        spark, rateDst, Seq("user_id"), 86400L, k = 2)) ===
      collectAnomalies(RateStreaming.committedAnomalies(
        spark, rateStore, Seq("user_id"), 86400L, k = 2)))
    val funDst = tmp("graft_fun_fpb_dst")
    FunnelStreaming.compactStore(spark, funStore, funDst, files = 3)
    assert(parts(s"$funDst/data/b=0/state") > 1)
    assert(collectCounts(FunnelStreaming.committedCounts(
        spark, funDst, Seq("user_id"), Steps)) ===
      collectCounts(FunnelStreaming.committedCounts(
        spark, funStore, Seq("user_id"), Steps)))
    // the cap refuses nonsense
    intercept[IllegalArgumentException] {
      ActivityStreaming.activityBatch(ev, 1L, actStore, Seq("user_id"),
        "ts", Week, "sc", filesPerBatch = 0)
    }
  }

  /** Collect every WARN-or-above log message emitted while `body` runs
    * (a capture appender on the log4j2 root logger). */
  private def capturedWarns(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.LogManager
    val ctx = LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-warn-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        msgs.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(app, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    try body finally {
      root.removeAppender("graft-warn-capture")
      ctx.updateLoggers()
      app.stop()
    }
    scala.jdk.CollectionConverters.IteratorHasAsScala(msgs.iterator())
      .asScala.toSeq
  }

  test("compacting a long chain does not self-advise; the external read still does") {
    // a >CompactionAdviceLength chain, built cheaply: one real committed
    // batch, then filesystem clones of its data dir + commit markers (the
    // marker format is one plain file per batch — public store layout)
    val store = tmp("graft_act_advise")
    ActivityStreaming.activityBatch(ev.limit(50), 0L, store,
      Seq("user_id"), "ts", Week, "sc")
    val root = java.nio.file.Paths.get(store)
    def cloneDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      java.nio.file.Files.createDirectories(to)
      java.nio.file.Files.list(from).forEach { p =>
        java.nio.file.Files.copy(p, to.resolve(p.getFileName.toString))
      }
    }
    for (i <- 1 to 66) {
      cloneDir(root.resolve("data/b=0/pairs"), root.resolve(s"data/b=$i/pairs"))
      java.nio.file.Files.write(root.resolve(s"_manifests/m=$i"),
        s"b=$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // the fold itself must be advisory-silent (r17 ADVICE: compactStore
    // read through the advised reader and told the user to run the very
    // compaction in progress)
    val dst = tmp("graft_act_advise_dst")
    val during = capturedWarns {
      ActivityStreaming.compactStore(spark, store, dst)
    }
    assert(!during.exists(_.contains("consider")),
      s"compactStore must not self-advise; got: ${during.mkString(" | ")}")
    // positive control, proving the capture works: the ADVISED external
    // read over the same 67-batch source chain does WARN
    val external = capturedWarns {
      ActivityStreaming.committedPairs(spark, store).count()
    }
    assert(external.exists(m =>
        m.contains("consider") && m.contains("ActivityStreaming.compactStore")),
      s"the external reader should advise; got: ${external.mkString(" | ")}")
    // and the fold was correct: same pairs, one data dir
    assert(ActivityStreaming.committedPairs(spark, dst).count() ===
      ActivityStreaming.committedPairs(spark, store).count())
    assert(new java.io.File(s"$dst/data").list().length === 1)
  }

  test("compacting into a stamped destination: equal stamps are a no-op, a different pin fails and stays") {
    val store = tmp("graft_act_stamps")
    ActivityStreaming.activityBatch(ev.limit(50), 0L, store,
      Seq("user_id"), "ts", Week, "sc")
    val src = java.nio.file.Paths.get(store)
    def stamp(dst: String, name: String, body: String): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dst, name), body)
    }
    def read(dir: String, name: String): String =
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, name))
    def tempFiles(dir: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .map(_.getFileName.toString).filter(_.contains(".tmp-")).toSeq
    }
    // a destination already carrying the source's own stamps (a retried
    // compaction) folds as if it were empty
    val same = tmp("graft_act_stamps_same")
    for (name <- Seq("_graft_scope", "_graft_params"))
      stamp(same, name, java.nio.file.Files.readString(src.resolve(name)))
    ActivityStreaming.compactStore(spark, store, same)
    assert(ActivityStreaming.committedPairs(spark, same).count() ===
      ActivityStreaming.committedPairs(spark, store).count())
    assert(read(same, "_graft_params") === read(store, "_graft_params"))
    assert(tempFiles(same).isEmpty, tempFiles(same).mkString(","))
    // a destination pinned to other parameters keeps its pin and gets no data
    val other = tmp("graft_act_stamps_other")
    stamp(other, "_graft_params", "periodSeconds=86400,keys=user_id")
    val e = intercept[IllegalStateException](
      ActivityStreaming.compactStore(spark, store, other))
    assert(e.getMessage.contains("already carries a different _graft_params pin"),
      e.getMessage)
    assert(read(other, "_graft_params") === "periodSeconds=86400,keys=user_id")
    assert(!new java.io.File(s"$other/data").exists())
    assert(tempFiles(other).isEmpty, tempFiles(other).mkString(","))
  }
}
