package graft

import graft.streaming.TopnStreaming
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Loss-interval row for the chat-shard fixtures (top-level for the
  * Spark encoder; field names match the operators' off/len contract). */
case class IvRow(off: Long, len: Long)

/**
 * Streaming behavior, driven through the public file-source + memory-sink
 * API: the testdata events table is split into two parquet files consumed
 * as two micro-batches (maxFilesPerTrigger=1), proving sketch state
 * accumulates across batches and matches the batch-mode answer.
 */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private lazy val eventsBatch = graft.sources.Tables
    .events(spark, "/root/testdata/sf0.001").cache()

  private def twoBatchDir(): String = {
    val events = eventsBatch
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    events.filter($"event_id" % 2 === 0).coalesce(1).write.parquet(s"$dir/b0")
    events.filter($"event_id" % 2 === 1).coalesce(1).write.parquet(s"$dir/b1")
    val out = java.nio.file.Files.createTempDirectory("graft_stream_in").toString
    // flatten into one dir of two files
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/b0")).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(out, "part0.parquet"))
    }
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/b1")).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(out, "part1.parquet"))
    }
    out
  }

  test("windowed streaming sketches accumulate across micro-batches = batch answer") {
    val inDir = twoBatchDir()
    val stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)

    val sketches = TopnStreaming.windowedSketches(
      stream, "ts", "event_type", "user_id",
      windowDuration = "6 hours", watermark = "0 seconds", numCounters = 100000)

    val q = sketches.writeStream
      .outputMode("update").format("memory").queryName("win_sketches").start()
    try q.processAllAvailable() finally q.stop()

    // latest update per (window, event_type) must equal the batch rollup
    val got = spark.table("win_sketches")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"window_start", $"event_type").orderBy(lit(1))))
      // memory sink appends every update; the LAST row per key is the final state
      .groupBy($"window_start", $"event_type")
      .agg(last($"sketch").as("sketch"))
      .select($"window_start", $"event_type", explode($"sketch").as(Seq("item", "frequency")))

    val expected = eventsBatch
      .groupBy(window($"ts", "6 hours").getField("start").as("window_start"),
        $"event_type", $"user_id".cast("string").as("item"))
      .agg(count(lit(1)).as("frequency"))

    val mismatches = got.as("g").join(expected.as("e"),
        $"g.window_start" === $"e.window_start" &&
          $"g.event_type" === $"e.event_type" && $"g.item" === $"e.item", "full")
      .filter($"g.frequency".isNull || $"e.frequency".isNull ||
        $"g.frequency" =!= $"e.frequency")
      .count()
    assert(mismatches === 0)
  }

  test("runningTopK keeps bounded per-key state across batches = batch top-k") {
    val inDir = twoBatchDir()
    val stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .select($"event_type".as("key"), $"user_id".cast("string").as("item"))
      .as[TopnStreaming.KeyedItem]

    StreamingSpec.captured.clear()
    val q = TopnStreaming.runningTopK(stream, k = 5, numCounters = 100000)
      .toDF().writeStream
      .outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingSpec.captured.put(id,
          df.as[TopnStreaming.TopEntry].collect().toSeq)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    assert(StreamingSpec.captured.size >= 2, "expected two micro-batches")
    val lastBatch = StreamingSpec.captured.get(StreamingSpec.captured.keySet().asScala.max)

    // the final batch's emission per key reflects ALL data seen so far
    val expectedTop = eventsBatch
      .groupBy($"event_type", $"user_id".cast("string").as("item"))
      .agg(count(lit(1)).as("frequency"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"event_type")
          .orderBy($"frequency".desc, $"item")))
      .filter($"rk" <= 5)
      .as[(String, String, Long, Int)].collect()
      .map(r => (r._1, r._2, r._3)).toSet

    val gotKeys = lastBatch.map(_.key).toSet
    val got = lastBatch.map(e => (e.key, e.item, e.frequency)).toSet
    val expectedForKeys = expectedTop.filter(e => gotKeys.contains(e._1))
    assert(got === expectedForKeys)
    assert(gotKeys.nonEmpty)
  }

  test("streaming exact dedup keeps first-seen doc per fingerprint across batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_in").toString
    // batch 0: ids 1,2,5 — 1 and 5 are dups of each other (min 1 wins);
    // batch 1: id 3 repeats batch 0's text (swallowed), id 4 is new
    Seq((1L, "aaa aaa"), (2L, "bbb bbb"), (5L, "aaa aaa")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/tmp0")
    Seq((3L, "aaa aaa"), (4L, "ccc ccc")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/tmp1")
    val in = java.nio.file.Files.createTempDirectory("graft_dedup_src").toString
    for (b <- 0 to 1)
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/tmp$b")).forEach { p =>
        if (p.toString.endsWith(".parquet")) {
          val dst = java.nio.file.Paths.get(in, s"part$b.parquet")
          java.nio.file.Files.copy(p, dst)
          // the file source orders batches by modification time — pin it
          dst.toFile.setLastModified(1000000000000L + b * 60000L)
        }
      }

    val schema = spark.read.parquet(s"$dir/tmp0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = TopnStreaming.streamingExactDedup(stream, "doc_id", "text")
      .writeStream.outputMode("update").format("memory").queryName("dedup_keep").start()
    try q.processAllAvailable() finally q.stop()

    val kept = spark.table("dedup_keep").select($"doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 2L, 4L),
      "min id of the first batch wins; later duplicates are swallowed")
  }

  test("streamingFirstById stateTtl: expired ids re-admit (at-most-once per window)") {
    // the TTL doctrine on the scaladoc, pinned against TestGroupState —
    // the deterministic harness Spark ships for exactly this, because a
    // real-clock drive of ProcessingTimeTimeout deadlocks every one-shot
    // test harness (processAllAvailable never sees no-new-data,
    // AvailableNow parks awaiting a wake-up no source delivers; the
    // operational note on the operator). The lifecycle under TTL:
    //   t=1000  id 1 first seen       -> emits, TTL armed at t+1000
    //   t=1500  id 1 replayed (live)  -> swallowed, TTL re-armed
    //   t=2600  deadline passed       -> timed-out invocation removes state
    //   t=3000  id 1 re-ingested      -> NEW again, re-emits (new payload)
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.streaming.TopnStreaming.KeptDocText
    val fn = TopnStreaming.firstByIdTransition(Some("1 second"))
    val conf = GroupStateTimeout.ProcessingTimeTimeout()
    def state(held: Option[Boolean], nowMs: Long, timedOut: Boolean) =
      TestGroupState.create[Boolean](
        // explicit of/empty branch: ofNullable over a boxed-then-orNull
        // value coerces through scala's Boolean unboxing and loses the
        // absent case
        held.map(org.apache.spark.api.java.Optional.of[Boolean])
          .getOrElse(org.apache.spark.api.java.Optional.empty[Boolean]()),
        conf, nowMs, org.apache.spark.api.java.Optional.empty[Long](),
        timedOut)

    // first arrival: emits and arms the TTL one second out
    val s0 = state(None, 1000L, timedOut = false)
    assert(fn(1L, Iterator(KeptDocText(1L, "one-a")), s0).toList ===
      List(KeptDocText(1L, "one-a")))
    assert(s0.exists && s0.getTimeoutTimestampMs.get() === 2000L)

    // replay INSIDE the window: swallowed, TTL re-armed from now
    val s1 = state(Some(true), 1500L, timedOut = false)
    assert(fn(1L, Iterator(KeptDocText(1L, "one-a")), s1).isEmpty)
    assert(s1.exists && s1.getTimeoutTimestampMs.get() === 2500L)

    // deadline passed: the timed-out invocation forgets the id
    val s2 = state(Some(true), 2600L, timedOut = true)
    assert(fn(1L, Iterator.empty, s2).isEmpty)
    assert(s2.isRemoved, "expired state must be removed, not re-armed")

    // re-ingestion AFTER expiry: new again -> re-emits (the documented
    // at-most-once-per-window weakening)
    val s3 = state(None, 3000L, timedOut = false)
    assert(fn(1L, Iterator(KeptDocText(1L, "one-b")), s3).toList ===
      List(KeptDocText(1L, "one-b")))

    // and with NO TTL the transition never arms a deadline (life-of-
    // stream state, the default contract)
    val fnNoTtl = TopnStreaming.firstByIdTransition(None)
    val s4 = TestGroupState.create[Boolean](
      org.apache.spark.api.java.Optional.empty[Boolean](),
      GroupStateTimeout.NoTimeout(), 1000L,
      org.apache.spark.api.java.Optional.empty[Long](), false)
    assert(fnNoTtl(2L, Iterator(KeptDocText(2L, "two")), s4).toList ===
      List(KeptDocText(2L, "two")))
    assert(!s4.getTimeoutTimestampMs.isPresent)
  }

  test("crawl-frontier dedup: urlNormalize + streaming exact dedup across batches") {
    // the frontier recipe: canonicalize each discovered URL (a pure
    // projection, so it runs inside the stream), then first-seen-wins
    // exact dedup keyed by the canonical form — URLs differing only in
    // tracking params, default ports, or fragments are one frontier entry
    val dir = java.nio.file.Files.createTempDirectory("graft_frontier_in").toString
    Seq((1L, "https://h.io/p?utm_source=a"), (2L, "http://other.net/x"))
      .toDF("seq", "url").coalesce(1).write.parquet(s"$dir/tmp0")
    Seq((3L, "https://h.io:443/p#frag"), (4L, "https://new.org/y"))
      .toDF("seq", "url").coalesce(1).write.parquet(s"$dir/tmp1")
    val in = java.nio.file.Files.createTempDirectory("graft_frontier_src").toString
    for (b <- 0 to 1)
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/tmp$b")).forEach { p =>
        if (p.toString.endsWith(".parquet")) {
          val dst = java.nio.file.Paths.get(in, s"part$b.parquet")
          java.nio.file.Files.copy(p, dst)
          dst.toFile.setLastModified(1000000000000L + b * 60000L)
        }
      }

    val schema = spark.read.parquet(s"$dir/tmp0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .select($"seq".as("doc_id"),
        graft.pipeline.Urls.urlNormalize($"url").as("text"))
    val q = TopnStreaming.streamingExactDedup(stream, "doc_id", "text")
      .writeStream.outputMode("update").format("memory").queryName("frontier_keep").start()
    try q.processAllAvailable() finally q.stop()

    val kept2 = spark.table("frontier_keep").select($"doc_id").as[Long].collect().sorted
    // 3 normalizes to 1's canonical URL (default port + fragment) and is
    // swallowed cross-batch; 2 and 4 are distinct frontier entries
    assert(kept2 === Array(1L, 2L, 4L))
  }

  test("streaming near-dup pairs: cross-batch SimHash collisions, deduped = batch answer") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ndup_in").toString
    // ids 1/2 share a text (hamming 0); id 3 distinct; batch 1 brings id 4
    // duplicating id 1's text -> cross-batch pairs (1,4) and (2,4)
    val t1 = "alpha beta gamma delta epsilon zeta"
    val t2 = "totally different words in this one here"
    Seq((1L, t1), (2L, t1), (3L, t2)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/tmp0")
    Seq((4L, t1)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/tmp1")
    val in = java.nio.file.Files.createTempDirectory("graft_ndup_src").toString
    for (b <- 0 to 1)
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/tmp$b")).forEach { p =>
        if (p.toString.endsWith(".parquet")) {
          val dst = java.nio.file.Paths.get(in, s"part$b.parquet")
          java.nio.file.Files.copy(p, dst)
          dst.toFile.setLastModified(1000000000000L + b * 60000L)
        }
      }

    val schema = spark.read.parquet(s"$dir/tmp0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = TopnStreaming.streamingNearDupPairs(stream, "doc_id", "text")
      .writeStream.outputMode("append").format("memory").queryName("ndup_pairs").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("ndup_pairs")
      .dropDuplicates("doc_a", "doc_b")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    // = the batch tier's answer on the full corpus
    val batch = graft.pipeline.Dedup.simhashPairs(
      Seq((1L, t1), (2L, t1), (3L, t2), (4L, t1)).toDF("doc_id", "text"),
      "doc_id", "text")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(got === batch)
  }

  test("streaming rollup maintenance merges into the stored table = batch rollup") {
    val inDir = twoBatchDir()
    val rollupPath = java.nio.file.Files.createTempDirectory("graft_rollup").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rollup_ck").toString
    val stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)

    val q = TopnStreaming.maintainRollup(
      stream, rollupPath,
      periodExpr = date_format($"ts", "yyyy-MM-dd-HH"),
      groupCol = "event_type",
      itemExpr = $"user_id".cast("string"),
      numCounters = 100000,
      checkpointLocation = Some(ckpt))
    try q.processAllAvailable() finally q.stop()

    // stored rollup must now equal the batch-computed rollup
    val stored = TopnStreaming.committedRollup(spark, rollupPath)
      .select($"period", $"event_type", explode($"sketch").as(Seq("item", "frequency")))
    val expected = eventsBatch
      .groupBy(date_format($"ts", "yyyy-MM-dd-HH").as("period"),
        $"event_type", $"user_id".cast("string").as("item"))
      .agg(count(lit(1)).as("frequency"))
    val diff = stored.exceptAll(expected).count() + expected.exceptAll(stored).count()
    assert(diff === 0)
    // and the batch-side re-aggregation over the maintained table works
    val top = TopnStreaming.committedRollup(spark, rollupPath)
      .groupBy($"event_type")
      .agg(TopnFunctions.topn_union_agg($"sketch", 100000).as("merged"))
    assert(top.count() === eventsBatch.select($"event_type").distinct().count())
  }

  private def rollupItems(path: String) =
    TopnStreaming.committedRollup(spark, path)
      .select($"period", $"event_type", explode($"sketch").as(Seq("item", "frequency")))
      .as[(String, String, String, Long)].collect().toSet

  test("rollup replay after a crash between data write and commit does not double count") {
    val rollupPath = java.nio.file.Files.createTempDirectory("graft_crash").toString + "/t"
    val b0 = eventsBatch.filter($"event_id" % 2 === 0)
    val b1 = eventsBatch.filter($"event_id" % 2 === 1)
    def merge(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      TopnStreaming.mergeBatch(df, id, rollupPath,
        date_format($"ts", "yyyy-MM-dd-HH"), "event_type",
        $"user_id".cast("string"), 100000, scope = "test-scope")

    merge(b0, 0)
    merge(b1, 1)
    val committedState = rollupItems(rollupPath)

    // simulate the crash window: batch 1's data files are fully written but
    // the manifest commit never landed -> batch 1 is NOT committed
    val m1 = new org.apache.hadoop.fs.Path(s"$rollupPath/_manifests/m=1")
    val fs = m1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(m1, false), "fixture: manifest must exist")
    assert(TopnStreaming.committedVersion(spark, rollupPath) === Some(0L))

    // foreachBatch re-delivers batch 1 after restart: replay must rebuild
    // v=1 from v=0, not merge on top of the half-committed state
    merge(b1, 1)
    assert(TopnStreaming.committedVersion(spark, rollupPath) === Some(1L))
    assert(rollupItems(rollupPath) === committedState, "replay double-counted")

    // replay of an already-committed batch is a no-op
    merge(b1, 1)
    assert(rollupItems(rollupPath) === committedState)

    // frequencies equal the batch-computed truth (belt and braces)
    val expected = (b0 unionAll b1)
      .groupBy(date_format($"ts", "yyyy-MM-dd-HH").as("period"),
        $"event_type", $"user_id".cast("string").as("item"))
      .agg(count(lit(1)).as("frequency"))
      .as[(String, String, String, Long)].collect().toSet
    assert(rollupItems(rollupPath) === expected)
  }

  test("rollup with date-shaped periods survives partition-value type inference") {
    // period=2024-01-02 directories read back as DateType unless pinned to
    // string; a type fork would make the merge join miss every old row and
    // silently fork the rollup
    val rollupPath = java.nio.file.Files.createTempDirectory("graft_dates").toString + "/t"
    val b0 = eventsBatch.filter($"event_id" % 2 === 0)
    val b1 = eventsBatch.filter($"event_id" % 2 === 1)
    def merge(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      TopnStreaming.mergeBatch(df, id, rollupPath,
        date_format($"ts", "yyyy-MM-dd"), "event_type",
        $"user_id".cast("string"), 100000, scope = "date-scope")
    merge(b0, 0)
    merge(b1, 1) // merges INTO b0's rows — fails or forks if types split
    val got = rollupItems(rollupPath)
    val expected = eventsBatch
      .groupBy(date_format($"ts", "yyyy-MM-dd").as("period"),
        $"event_type", $"user_id".cast("string").as("item"))
      .agg(count(lit(1)).as("frequency"))
      .as[(String, String, String, Long)].collect().toSet
    assert(got === expected)
  }

  test("rollup survives a 10-batch churn: correctness, cleanup, stale-row filtering") {
    val rollupPath = java.nio.file.Files.createTempDirectory("graft_churn").toString + "/t"
    // 10 batches, each delivering the FULL event set: every period is
    // re-touched every batch, counts multiply by exactly 10, and all but
    // the last two data dirs must be reclaimed
    for (i <- 0 until 10) {
      TopnStreaming.mergeBatch(
        eventsBatch, i, rollupPath,
        date_format($"ts", "yyyy-MM-dd-HH"), "event_type",
        $"user_id".cast("string"), 100000, scope = "churn-scope")
    }
    assert(TopnStreaming.committedVersion(spark, rollupPath) === Some(9L))
    val expected = eventsBatch
      .groupBy(date_format($"ts", "yyyy-MM-dd-HH").as("period"),
        $"event_type", $"user_id".cast("string").as("item"))
      .agg((count(lit(1)) * 10).as("frequency"))
      .as[(String, String, String, Long)].collect().toSet
    assert(rollupItems(rollupPath) === expected)
    // only the dirs referenced by the last two manifests may remain
    val dataRoot = new org.apache.hadoop.fs.Path(s"$rollupPath/data")
    val fs = dataRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(dataRoot).map(_.getPath.getName).toSet
    assert(dirs === Set("b=8", "b=9"), s"stale data dirs not reclaimed: $dirs")
  }

  test("empty micro-batches commit nothing and do not wedge the rollup") {
    val rollupPath = java.nio.file.Files.createTempDirectory("graft_empty").toString + "/t"
    def merge(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      TopnStreaming.mergeBatch(df, id, rollupPath,
        date_format($"ts", "yyyy-MM-dd-HH"), "event_type",
        $"user_id".cast("string"), 100000, scope = "empty-scope")
    // streams deliver no-data micro-batches routinely; batch 0 being empty
    // must not commit a data-less version that later reads choke on
    merge(eventsBatch.filter(lit(false)), 0)
    assert(TopnStreaming.committedVersion(spark, rollupPath) === None)
    merge(eventsBatch, 1)
    merge(eventsBatch.filter(lit(false)), 2) // empty mid-stream too
    assert(TopnStreaming.committedVersion(spark, rollupPath) === Some(1L))
    val expected = eventsBatch
      .groupBy(date_format($"ts", "yyyy-MM-dd-HH").as("period"),
        $"event_type", $"user_id".cast("string").as("item"))
      .agg(count(lit(1)).as("frequency"))
      .as[(String, String, String, Long)].collect().toSet
    assert(rollupItems(rollupPath) === expected)
  }

  test("null periods roll up under the distinguished key instead of wedging the stream") {
    val rollupPath = java.nio.file.Files.createTempDirectory("graft_nullp").toString + "/t"
    val withNulls = eventsBatch.withColumn("ts",
      when($"event_id" % 5 === 0, lit(null).cast("timestamp")).otherwise($"ts"))
    TopnStreaming.mergeBatch(withNulls, 0, rollupPath,
      date_format($"ts", "yyyy-MM-dd-HH"), "event_type",
      $"user_id".cast("string"), 100000, scope = "null-scope")
    val got = rollupItems(rollupPath)
    assert(got.exists(_._1 === TopnStreaming.NullPeriodKey),
      "null-ts rows must land under the null-period key")
    val expected = withNulls
      .groupBy(coalesce(date_format($"ts", "yyyy-MM-dd-HH"),
        lit(TopnStreaming.NullPeriodKey)).as("period"),
        $"event_type", $"user_id".cast("string").as("item"))
      .agg(count(lit(1)).as("frequency"))
      .as[(String, String, String, Long)].collect().toSet
    assert(got === expected)
  }

  test("legacy v= rollup layout fails fast instead of silently reading as empty") {
    val rollupPath = java.nio.file.Files.createTempDirectory("graft_legacy").toString + "/t"
    val legacy = new org.apache.hadoop.fs.Path(s"$rollupPath/v=3/_SUCCESS")
    val fs = legacy.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(legacy.getParent)
    fs.create(legacy, true).close()
    val e = intercept[IllegalStateException](
      TopnStreaming.committedVersion(spark, rollupPath))
    assert(e.getMessage.contains("legacy v=<id> directory layout"))
  }

  test("rollup refuses a foreign checkpoint scope instead of silently skipping batches") {
    val rollupPath = java.nio.file.Files.createTempDirectory("graft_scope").toString + "/t"
    def merge(id: Long, scope: String): Unit =
      TopnStreaming.mergeBatch(eventsBatch, id, rollupPath,
        date_format($"ts", "yyyy-MM-dd-HH"), "event_type",
        $"user_id".cast("string"), 100000, scope)
    merge(0, "checkpoint-A")
    val e = intercept[IllegalStateException](merge(0, "checkpoint-B"))
    assert(e.getMessage.contains("different streaming checkpoint"))
    // the original scope still works
    merge(1, "checkpoint-A")
    assert(TopnStreaming.committedVersion(spark, rollupPath) === Some(1L))
  }

  private def withSessionBudget[T](n: Int)(body: => T): T = {
    spark.conf.set(GraftConf.NumberOfCountersKey, n.toString)
    try body finally spark.conf.set(GraftConf.NumberOfCountersKey, "1000")
  }

  /** (period, grp) -> the stored sketch's entries, in stored order. */
  private def storedEntries(df: org.apache.spark.sql.DataFrame) =
    df.select($"period", $"grp", map_entries($"sketch"))
      .as[(String, String, Seq[(String, Long)])].collect()
      .map { case (p, g, es) => (p, g) -> es }.toMap

  test("rollup merges at the caller's numCounters, not the session budget") {
    val rollupPath = java.nio.file.Files.createTempDirectory("graft_budget").toString + "/t"
    val items = (0 until 2000).map(i => ("d0", "g", s"item$i")).toDF("period", "grp", "item")
    withSessionBudget(1000) {
      for (id <- 0L to 1L) {
        TopnStreaming.mergeBatch(items, id, rollupPath, $"period", "grp", $"item",
          5000, scope = "budget-scope")
      }
    }
    val Seq(es) = storedEntries(TopnStreaming.committedRollup(spark, rollupPath)).values.toSeq
    assert(es.size === 2000, "the second touch pruned to the session budget")
    assert(es.map(_._2).sum === 4000L)
  }

  test("rollup merge == the full-outer topn_union merge, entry for entry and in order") {
    val n = 30
    // per cell 80 distinct items with counts 1..5 (many ties): each side
    // is packed to n, and the union re-packs to n
    def cells(seed: Int, keys: Seq[(String, String)]) =
      keys.flatMap { case (p, g) =>
        (0 until 80).flatMap(i => Seq.fill(1 + (i * 7 + seed + g.length) % 5)((p, g, s"i$i")))
      }.toDF("period", "grp", "item")
    val old = cells(1, Seq("d1" -> "a", "d1" -> "b", "d2" -> "a", "d2" -> "bb"))
    // d2/a in both, d2/bb only in old, d2/ccc and d3/a only in the delta;
    // d1 is untouched
    val delta = cells(3, Seq("d2" -> "a", "d2" -> "ccc", "d3" -> "a"))
    val rollupPath = java.nio.file.Files.createTempDirectory("graft_mergeq").toString + "/t"
    def merge(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      TopnStreaming.mergeBatch(df, id, rollupPath, $"period", "grp", $"item", n,
        scope = "mergeq-scope")
    withSessionBudget(n) {
      merge(old, 0)
      val before = TopnStreaming.committedRollup(spark, rollupPath)
      val sk = delta.groupBy($"period", $"grp")
        .agg(TopnFunctions.topn_add_agg($"item", n).as("sketch"))
      val periods = sk.select($"period").distinct()
      val expected = sk.join(before.join(periods, "period")
          .withColumnRenamed("sketch", "old_sketch"), Seq("period", "grp"), "full_outer")
        .select($"period", $"grp",
          when($"old_sketch".isNull, $"sketch").when($"sketch".isNull, $"old_sketch")
            .otherwise(TopnFunctions.topn_union($"old_sketch", $"sketch")).as("sketch"))
        .unionByName(before.join(periods, Seq("period"), "left_anti"))
      val want = storedEntries(expected)
      merge(delta, 1)
      val got = storedEntries(TopnStreaming.committedRollup(spark, rollupPath))
      assert(want.keySet === Set("d1" -> "a", "d1" -> "b", "d2" -> "a", "d2" -> "bb",
        "d2" -> "ccc", "d3" -> "a"))
      assert(want("d2" -> "a").size === n)
      assert(got === want)
    }
  }

  test("streaming cluster maintenance: incremental CC across batches == batch CC") {
    val path = java.nio.file.Files.createTempDirectory("graft_clusters").toString + "/t"
    // batch 1 bridges batch 0's components {1,2,3} and {10,11}, and grows
    // {20,21}; the self-pair contributes nothing (batch semantics)
    val all = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (3L, 10L), (21L, 22L), (5L, 5L))
    val (b0, b1) = all.splitAt(4)
    def run(pairs: Seq[(Long, Long)], id: Long): Unit =
      TopnStreaming.clusterBatch(pairs.toDF("a", "b"), id, path, "a", "b",
        scope = "test-scope")
    run(b0, 0)
    run(b1, 1)
    def committed() = TopnStreaming.committedClusters(spark, path)
      .as[(Long, Long)].collect().toMap
    val want = graft.pipeline.Clustering
      .connectedComponents(all.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(committed() === want)

    // crash window: data written, manifest commit lost -> replay rebuilds
    // from the previous snapshot, bit-identically
    val m1 = new org.apache.hadoop.fs.Path(s"$path/_manifests/m=1")
    val fs = m1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(m1, false), "fixture: manifest must exist")
    assert(TopnStreaming.committedVersion(spark, path) === Some(0L))
    run(b1, 1)
    assert(committed() === want, "crash replay diverged")

    // replay of a committed batch is a no-op
    run(b1, 1)
    assert(committed() === want)

    // foreign checkpoint scope fails fast, like the rollup
    val e = intercept[IllegalStateException](
      TopnStreaming.clusterBatch(b1.toDF("a", "b"), 2, path, "a", "b",
        scope = "other-checkpoint"))
    assert(e.getMessage.contains("different streaming checkpoint"))
  }

  test("daily-ingest loop: incremental candidates vs a growing store -> committed labels == batch CC") {
    // the full incremental ingest recipe, end to end: each arriving batch
    // generates pairs against the ACCUMULATED fingerprint store
    // (Dedup.incrementalFingerprintPairs — old-vs-old never recomputed),
    // folds them into the committed labeling (clusterBatch), and appends
    // its fingerprints to the store. Final labels must equal batch CC over
    // the all-at-once pair scan.
    import graft.pipeline.{Clustering, Dedup}
    val labels = java.nio.file.Files.createTempDirectory("graft_ingest").toString + "/t"
    val storeDir = java.nio.file.Files.createTempDirectory("graft_store").toString + "/fp"

    // 90 fingerprints, ids %3==1 are 1-3-bit twins of the previous id,
    // arriving as three 30-doc daily batches
    val rnd = new scala.util.Random(17)
    val fpMap = scala.collection.mutable.LinkedHashMap[Long, Long]()
    (0L until 90L).foreach { id =>
      fpMap(id) =
        if (id % 3 == 1) {
          val flips = 1 + rnd.nextInt(3)
          (0 until flips).foldLeft(fpMap(id - 1))((a, _) => a ^ (1L << rnd.nextInt(64)))
        } else rnd.nextLong()
    }
    val all = fpMap.toSeq.toDF("doc_id", "fp").cache()
    val emptyStore = Seq.empty[(Long, Long)].toDF("doc_id", "fp")

    (0 until 3).foreach { day =>
      val batch = all.filter($"doc_id" >= day * 30L && $"doc_id" < (day + 1) * 30L)
      val store =
        if (day == 0) emptyStore
        else spark.read.parquet(storeDir)
      val pairs = Dedup.incrementalFingerprintPairs(
        batch, store, "doc_id", "fp", maxDist = 3)
      TopnStreaming.clusterBatch(pairs, day.toLong, labels,
        "doc_a", "doc_b", scope = "ingest-test")
      batch.write.mode(if (day == 0) "overwrite" else "append").parquet(storeDir)
    }

    val committed = TopnStreaming.committedClusters(spark, labels)
      .as[(Long, Long)].collect().toMap
    val want = Clustering.connectedComponents(
      Dedup.fingerprintPairs(all, "doc_id", "fp", maxDist = 3),
      "doc_a", "doc_b").as[(Long, Long)].collect().toMap
    assert(committed === want,
      "three incremental days must converge to the batch labeling")
    assert(want.nonEmpty, "fixture must produce pairs")
  }

  test("frozen classifier scores a document stream identically to batch") {
    // train on a batch corpus, then run the quality gate INSIDE a
    // micro-batched stream as a pure projection (Classifier.scoreColumn)
    // — per-doc scores must equal the batch trainScores run exactly
    import graft.pipeline.Classifier
    val docs = (0L until 60L).map { id =>
      (id, (0 until 6).map(j => s"tok${(id + j * 11) % 25}").mkString(" "),
        id % 3 == 0)
    }.toDF("doc_id", "text", "tgt")
    val model = Classifier.Model(
      Classifier.train(docs, "doc_id", "text", $"tgt", numBuckets = 128, iters = 3),
      128)
    val want = Classifier.trainScores(docs, "doc_id", "text", $"tgt",
      numBuckets = 128, iters = 3)
      .select($"doc_id", $"score_e6").as[(Long, Long)].collect().toMap

    val dir = java.nio.file.Files.createTempDirectory("graft_clsstream").toString
    docs.filter($"doc_id" < 30L).write.parquet(s"$dir/in/b0")
    docs.filter($"doc_id" >= 30L).write.parquet(s"$dir/in/b1")
    val in = s"$dir/stream"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    var part = 0
    Seq("b0", "b1").foreach { b =>
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/in/$b")).forEach { p =>
        if (p.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(p,
            java.nio.file.Paths.get(in, s"part$part.parquet"))
          part += 1
        }
      }
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = stream
      .select($"doc_id", Classifier.scoreColumn($"text", model).as("score_e6"))
      .writeStream.outputMode("append")
      .format("memory").queryName("cls_stream").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("cls_stream")
      .as[(Long, Long)].collect().toMap
    assert(got === want,
      "streamed frozen-model scores must equal the batch training run's")
  }

  test("frozen temperature-mixture gate filters a stream identically to batch") {
    // the mixing recipe under streaming: measure temperature rates on a
    // reference corpus ONCE, freeze them as integer percents, and apply
    // mixCorpus inside the micro-batched stream — the gate is a stateless
    // deterministic hash filter, so the streamed keep set equals the
    // batch keep set for ANY batching (rates > 100% route to
    // upsampleCorpus exactly as in batch; here the web head downsamples)
    import graft.pipeline.{Mixture, Sampling}
    val docs = (0L until 300L).map(i =>
      (i, if (i % 10 < 7) "web" else if (i % 10 < 9) "books" else "code"))
      .toDF("doc_id", "source")
    val rates = Mixture.temperatureWeights(docs, "source", 1, 2)
      .select($"grp", $"rate_ppm").as[(String, Long)].collect()
    val pct = rates.map { case (g, r) =>
      g -> math.min(100L, r / 10000L).toInt
    }.toMap
    assert(pct("web") < 100 && pct.values.exists(_ == 100),
      s"fixture should downsample the head only, got $pct")
    val want = Sampling.mixCorpus(docs, "doc_id", "source", pct,
      defaultPct = 100)
      .select($"doc_id").as[Long].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("graft_mixstream").toString
    val in = s"$dir/stream"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    docs.filter($"doc_id" < 150L).coalesce(1)
      .write.parquet(s"$dir/in/b0")
    docs.filter($"doc_id" >= 150L).coalesce(1)
      .write.parquet(s"$dir/in/b1")
    var part = 0
    Seq("b0", "b1").foreach { b =>
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/in/$b")).forEach { p =>
        if (p.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(p,
            java.nio.file.Paths.get(in, s"part$part.parquet"))
          part += 1
        }
      }
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = Sampling.mixCorpus(stream.toDF(), "doc_id", "source", pct,
      defaultPct = 100)
      .select($"doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("mix_stream").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("mix_stream").as[Long].collect().toSet
    assert(got === want,
      "the frozen mixture gate must keep the identical doc set under " +
        "any micro-batching")
  }

  test("daily-ingest front door: bloom dedup drops exact re-sends before clustering") {
    // the complete front door: each day's batch is first exact-deduped
    // against the accumulated store with Dedup.bloomAntiJoin (re-sent
    // docs under fresh ids must never reach the store OR the labeling),
    // then near-dup clustered incrementally as in the loop above.
    import graft.pipeline.{Clustering, Dedup}
    val labels = java.nio.file.Files.createTempDirectory("graft_front").toString + "/t"
    val storeDir = java.nio.file.Files.createTempDirectory("graft_front_store").toString + "/fp"

    val rnd = new scala.util.Random(29)
    val fpMap = scala.collection.mutable.LinkedHashMap[Long, Long]()
    (0L until 60L).foreach { id =>
      fpMap(id) =
        if (id % 4 == 1) fpMap(id - 1) ^ (1L << rnd.nextInt(64)) // near-dup twin
        else rnd.nextLong()
    }
    val original = fpMap.toSeq.toDF("doc_id", "fp").cache()
    val asKeyed = (d: org.apache.spark.sql.DataFrame) =>
      d.withColumn("k", $"fp".cast("string"))

    (0 until 3).foreach { day =>
      val organic = original
        .filter($"doc_id" >= day * 20L && $"doc_id" < (day + 1) * 20L)
      // re-send 5 of the previous day's docs under fresh negative ids:
      // exact fingerprint dups the front door must swallow
      val resent =
        if (day == 0) organic.limit(0)
        else original
          .filter($"doc_id" >= (day - 1) * 20L && $"doc_id" < (day - 1) * 20L + 5L)
          .select((-$"doc_id" - 1L).as("doc_id"), $"fp")
      val batch = organic.unionByName(resent)
      val store =
        if (day == 0) Seq.empty[(Long, Long)].toDF("doc_id", "fp")
        else spark.read.parquet(storeDir)
      val fresh = Dedup.bloomAntiJoin(
        asKeyed(batch), asKeyed(store), "k", expectedRightItems = 100L)
        .drop("k").cache()
      val pairs = Dedup.incrementalFingerprintPairs(
        fresh, store, "doc_id", "fp", maxDist = 3)
      TopnStreaming.clusterBatch(pairs, day.toLong, labels,
        "doc_a", "doc_b", scope = "front-door-test")
      fresh.write.mode(if (day == 0) "overwrite" else "append").parquet(storeDir)
    }

    // no re-sent (negative) id may survive the front door
    val storedIds = spark.read.parquet(storeDir)
      .select($"doc_id").as[Long].collect().toSet
    assert(storedIds === (0L until 60L).toSet,
      "the store must hold exactly the first-occurrence corpus")
    // and the labeling equals batch CC over the deduped corpus
    val committed = TopnStreaming.committedClusters(spark, labels)
      .as[(Long, Long)].collect().toMap
    val want = Clustering.connectedComponents(
      Dedup.fingerprintPairs(original, "doc_id", "fp", maxDist = 3),
      "doc_a", "doc_b").as[(Long, Long)].collect().toMap
    assert(committed === want,
      "front-door dedup + incremental clustering must converge to batch CC")
    assert(want.nonEmpty, "fixture must produce pairs")
  }

  test("streaming banded-MinHash ingest reproduces batch minhashLshPairs and its clustering") {
    // the Jaccard-semantics streaming tier: per day, band keys of the new
    // batch equi-join the persisted store (band keys as state — the
    // fingerprint-store pattern), exact-Jaccard verification on
    // candidates only; pairs across all days must equal the batch
    // operator over the whole corpus, each pair exactly once, and the
    // incremental clustering must converge to batch CC over those pairs
    import graft.pipeline.{Clustering, Dedup}
    val labels = java.nio.file.Files.createTempDirectory("graft_mh_lbl").toString + "/t"
    val storeDir = java.nio.file.Files.createTempDirectory("graft_mh_store").toString + "/mh"

    val rnd = new scala.util.Random(37)
    val vocab = (0 until 40).map(i => s"w$i")
    val texts = scala.collection.mutable.LinkedHashMap[Long, String]()
    (0L until 60L).foreach { id =>
      texts(id) =
        if (id % 4 == 1) {
          // near-dup twin: one token of the previous doc mutated
          val t = texts(id - 1).split(" ")
          val k = rnd.nextInt(t.length)
          (t.take(k) ++ Seq(s"mut$id") ++ t.drop(k + 1)).mkString(" ")
        } else (0 until 12 + rnd.nextInt(8))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val all = texts.toSeq.toDF("doc_id", "text").cache()

    val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    (0 until 3).foreach { day =>
      val batchRows = Dedup.minhashStoreRows(
        all.filter($"doc_id" >= day * 20L && $"doc_id" < (day + 1) * 20L),
        "doc_id", "text")
      val store =
        if (day == 0) Dedup.minhashStoreRows(all.limit(0), "doc_id", "text")
        else spark.read.parquet(storeDir)
      val pairs = Dedup.incrementalMinhashPairs(batchRows, store, threshold = 0.5)
      got ++= pairs.select($"doc_a", $"doc_b").as[(Long, Long)].collect()
      TopnStreaming.clusterBatch(pairs, day.toLong, labels,
        "doc_a", "doc_b", scope = "minhash-ingest-test")
      batchRows.write.mode(if (day == 0) "overwrite" else "append").parquet(storeDir)
    }

    val want = Dedup.minhashLshPairs(all, "doc_id", "text", threshold = 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty, "fixture must produce near-dup pairs")
    assert(got.toSet === want,
      "cross-batch collisions must equal the batch operator's pairs")
    assert(got.size === got.toSet.size, "each pair must be emitted exactly once")
    val committed = TopnStreaming.committedClusters(spark, labels)
      .as[(Long, Long)].collect().toMap
    val batchCc = Clustering.connectedComponents(
      Dedup.minhashLshPairs(all, "doc_id", "text", threshold = 0.5),
      "doc_a", "doc_b").as[(Long, Long)].collect().toMap
    assert(committed === batchCc,
      "three incremental days must converge to the batch minhash labeling")
  }

  test("cluster commits rewrite only touched buckets; untouched files stay byte-identical") {
    val base = java.nio.file.Files.createTempDirectory("graft_cluster_buckets")
    val path = s"$base/t"
    val B = 8
    // batch 0: 20 two-doc components spread across the 8 hash buckets
    val b0 = (0L until 40L by 2L).map(i => (i, i + 1L))
    TopnStreaming.clusterBatch(b0.toDF("a", "b"), 0, path, "a", "b",
      scope = "bucket-scope", numBuckets = B)

    def dataFiles(): Map[String, String] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val root = java.nio.file.Paths.get(s"$path/data")
      val out = scala.collection.mutable.Map[String, String]()
      java.nio.file.Files.walk(root).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) {
          md.reset()
          out(p.toString) =
            md.digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
        }
      }
      out.toMap
    }
    val before = dataFiles()
    assert(before.nonEmpty)

    // batch 1 adds one doc to one component: exactly one doc relabels
    // (node 100 -> cluster 0), so exactly one bucket is touched
    TopnStreaming.clusterBatch(Seq((1L, 100L)).toDF("a", "b"), 1, path, "a", "b",
      scope = "bucket-scope", numBuckets = B)
    val after = dataFiles()

    // every pre-existing file is still there, byte-identical — untouched
    // buckets were not rewritten
    for ((f, h) <- before) assert(after.get(f) === Some(h),
      s"batch-0 file $f must survive a touched-bucket commit unmodified")
    // the new commit wrote a new data dir holding exactly ONE bucket
    val b1 = spark.read.parquet(s"$path/data/b=1")
    assert(b1.select("__graft_bucket").distinct().count() === 1L,
      "commit I/O must be proportional to touched buckets, not the corpus")

    // the committed labeling is still exactly the batch CC over all pairs
    val want = graft.pipeline.Clustering
      .connectedComponents((b0 :+ ((1L, 100L))).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    val got = TopnStreaming.committedClusters(spark, path)
      .as[(Long, Long)].collect().toMap
    assert(got === want)

    // a pairs batch internal to existing clusters commits no data, only a
    // manifest advancing the batch id
    TopnStreaming.clusterBatch(Seq((0L, 1L)).toDF("a", "b"), 2, path, "a", "b",
      scope = "bucket-scope", numBuckets = B)
    assert(TopnStreaming.committedVersion(spark, path) === Some(2L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/data/b=2")))
    assert(TopnStreaming.committedClusters(spark, path)
      .as[(Long, Long)].collect().toMap === want)

    // changing numBuckets over an existing labels table fails fast
    val e = intercept[IllegalStateException](
      TopnStreaming.clusterBatch(Seq((2L, 200L)).toDF("a", "b"), 3, path, "a", "b",
        scope = "bucket-scope", numBuckets = B + 1))
    assert(e.getMessage.contains("numBuckets"))
  }

  test("streamed semantic clustering equals batch SemDeDup over the concatenated corpus") {
    import graft.pipeline.{IVF, SemDedup}
    val r = new scala.util.Random(11)
    def rand() = Array.fill(16)(r.nextGaussian().toFloat)
    val base = (0L until 60L).map(i => (i, rand()))
    val copies = (0 until 10).flatMap { g =>
      val (_, v) = base(g)
      (0 until 1 + g % 3).map { c =>
        (100L + g * 10 + c, v.map(x => x + (r.nextGaussian() * 1e-3).toFloat))
      }
    }
    val all = base ++ copies
    val df = all.toDF("vec_id", "embedding")
    val model = IVF.train(df, "vec_id", "embedding", k = 4, sampleSize = 100)
    val store = java.nio.file.Files.createTempDirectory("graft_sem").toString + "/s"

    // id mod 3 split: every planted group's copies land in DIFFERENT
    // batches than their base, so cross-batch (new x resident) edges are
    // load-bearing, not incidental
    val batches = (0 until 3).map(i => all.filter(_._1 % 3 == i))
    def run(i: Int): Unit = TopnStreaming.semanticBatch(
      batches(i).toDF("vec_id", "embedding"), i, store,
      "vec_id", "embedding", model, tau = 0.9, scope = "sem-scope")
    (0 until 3).foreach(run)

    def committed() = TopnStreaming.committedSemanticLabels(spark, store, model)
      .as[(Long, Int, Long, Boolean)].collect().toSet
    val want = SemDedup.labels(df, "vec_id", "embedding", model, tau = 0.9)
      .as[(Long, Int, Long, Boolean)].collect().toSet
    assert(want.exists(!_._4), "premise: the planted near-dups must cluster")
    assert(committed() === want)

    // crash window: batch-2 labels manifest lost -> replay rebuilds
    val m2 = new org.apache.hadoop.fs.Path(s"$store/labels/_manifests/m=2")
    val fs = m2.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(m2, false), "fixture: manifest must exist")
    run(2)
    assert(committed() === want, "crash replay diverged")

    // replay of a committed batch is a no-op
    run(2)
    assert(committed() === want)

    // the vector store is partitioned by quantizer cell, so a batch's
    // resident read prunes to its touched cell= directories
    val b0dir = java.nio.file.Paths.get(s"$store/vectors/b=0")
    val cellDirs = java.nio.file.Files.list(b0dir).toArray.map(_.toString)
      .filter(_.matches(".*/cell=\\d+$"))
    assert(cellDirs.nonEmpty, "vector snapshots must be cell-partitioned")
  }

  test("committed semantic labels before any near-duplicate pair: every vector a singleton") {
    import graft.pipeline.{IVF, SemDedup}
    val r = new scala.util.Random(5)
    val vecs = (0L until 40L).map(i => (i, Array.fill(16)(r.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val model = IVF.train(df, "vec_id", "embedding", k = 4, sampleSize = 40)
    val root = java.nio.file.Files.createTempDirectory("graft_sem_single")
    try {
      val store = s"$root/s"
      (0 until 2).foreach { i =>
        TopnStreaming.semanticBatch(vecs.filter(_._1 % 2 == i).toDF("vec_id", "embedding"),
          i, store, "vec_id", "embedding", model, tau = 0.99, scope = "sem-single")
      }
      assert(TopnStreaming.committedClusters(spark, s"$store/labels").columns.isEmpty,
        "premise: no committed batch found a near-duplicate pair")
      val got = TopnStreaming.committedSemanticLabels(spark, store, model)
        .as[(Long, Int, Long, Boolean)].collect()
      assert(got.length === vecs.length)
      assert(got.forall { case (id, _, cluster, keep) => cluster == id && keep })
      assert(got.toSet === SemDedup.labels(df, "vec_id", "embedding", model, tau = 0.99)
        .as[(Long, Int, Long, Boolean)].collect().toSet)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("streaming WARC ingest: parse + canonical-URL dedup + frozen quality gate = batch twin") {
    import graft.pipeline.{Classifier, Dsir, TextAnalysis, Urls, Warc}
    // a frozen model: +0.1 bias admits everything EXCEPT docs carrying the
    // 'clickbait' token, whose bucket weight sinks the score below zero
    val buckets = 64
    val badBucket = Seq("clickbait").toDF("t")
      .select(Dsir.featureBucket($"t", buckets)).as[Long].head()
    val model = Classifier.Model(
      Seq((Classifier.BiasFeature, 100000L), (badBucket, -1000000L)).toDF("f", "w_e6"),
      buckets)

    // batch-0 shard (gzipped): u1a + u2; batch-1 shard (plain): u1b (same
    // canonical URL as u1a — different tracking spelling AND different
    // content, so cross-batch first-wins is observable) + u3 (quality-bad)
    val pages0 = Seq(
      ("https://site.io/p?utm_source=x", "<html><body><p>good words here</p></body></html>"),
      ("https://other.net/q", "<html><body><p>more fine text</p></body></html>"))
    val pages1 = Seq(
      ("https://site.io:443/p#frag", "<html><body><p>late duplicate body</p></body></html>"),
      ("https://spam.example/z", "<html><body><p>clickbait garbage</p></body></html>"))
    val in = java.nio.file.Files.createTempDirectory("graft_warc_stream").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "shard0.warc.gz"),
      Warc.syntheticWarc(pages0, gzipped = true))
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "shard1.warc"),
      Warc.syntheticWarc(pages1, gzipped = false))
    new java.io.File(in, "shard0.warc.gz").setLastModified(1000000000000L)
    new java.io.File(in, "shard1.warc").setLastModified(1000000060000L)

    val stream = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .option("maxFilesPerTrigger", "1").load(in)
    val q = graft.streaming.WarcStreaming
      .streamingWarcIngest(stream, model, minScoreE6 = 0L)
      .writeStream.outputMode("update").format("memory")
      .queryName("warc_ingest").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("warc_ingest")
      .select($"url_norm", $"target_uri", $"text", $"score_e6")
      .as[(String, String, String, Long)].collect().toSet

    // batch twin over the SAME kernels: all pages -> normalize + extract,
    // min-(uri, text) per canonical URL, frozen gate
    val batch = (pages0 ++ pages1).toDF("target_uri", "html")
      .select(Urls.urlNormalize($"target_uri").as("url_norm"),
        $"target_uri", TextAnalysis.htmlToText($"html").as("text"))
      .as[(String, String, String)].collect()
      .groupBy(_._1).map { case (_, rows) => rows.minBy(r => (r._2, r._3)) }
    val expected = batch.toSeq.toDF("url_norm", "target_uri", "text")
      .withColumn("score_e6", Classifier.scoreColumn($"text", model))
      .filter($"score_e6" >= 0L)
      .as[(String, String, String, Long)].collect().toSet
    assert(got === expected)

    // the content checks the equality already proves, spelled out: the
    // canonical-dup URL admits its BATCH-0 copy (state beats batch-1's
    // arrival), and the clickbait page is parsed but gated out
    assert(got.map(_._1) === Set("https://site.io/p", "https://other.net/q"))
    assert(got.find(_._1 === "https://site.io/p").get._3 === "good words here")

    // same stream with a term blocklist: the projection gate drops the
    // doc containing the listed phrase, and == the batch twin with the
    // identical blocklistHitCount filter
    val q2 = graft.streaming.WarcStreaming
      .streamingWarcIngest(stream, model, minScoreE6 = 0L,
        blockTerms = Seq("Fine Text"))
      .writeStream.outputMode("update").format("memory")
      .queryName("warc_ingest_bl").start()
    try q2.processAllAvailable() finally q2.stop()
    val gotBl = spark.table("warc_ingest_bl")
      .select($"url_norm").as[String].collect().toSet
    val expectedBl = expected.filter { case (_, _, text, _) =>
      Seq(text).toDF("text").select(
        graft.pipeline.Quality.blocklistHitCount($"text", Seq("Fine Text")))
        .as[Long].head() == 0L
    }.map(_._1)
    assert(gotBl === expectedBl)
    assert(gotBl === Set("https://site.io/p"),
      "the 'more fine text' page must fall to the phrase blocklist")
  }

  test("streaming WARC ingest: robots gate runs before URL-dedup state, = batch twin") {
    import graft.pipeline.{Classifier, Robots, TextAnalysis, Urls, Warc}
    val model = Classifier.Model(
      Seq((Classifier.BiasFeature, 100000L)).toDF("f", "w_e6"), 64)
    // other.net is fully disallowed; site.io blocks /blocked* and any
    // raw fetch whose path ends in the utm_track=1 tracking spelling
    val rules = Robots.parseRules(Seq(
      ("other.net", "User-agent: *\nDisallow: /"),
      ("site.io",
        "User-agent: graftbot\nDisallow: /blocked\nDisallow: *utm_track=1$"))
      .toDF("host", "robots_txt"), "graftbot")
    val pages0 = Seq(
      ("https://site.io/p?utm_source=x", "<html><body><p>good words here</p></body></html>"),
      ("https://site.io/blocked/1", "<html><body><p>robots says no</p></body></html>"),
      // disallowed by the tracking rule — but its CANONICAL url is the
      // clean /s, so this fetch must NOT occupy /s's dedup state
      ("https://site.io/s?utm_track=1", "<html><body><p>tracked fetch</p></body></html>"),
      ("https://other.net/q", "<html><body><p>disallowed host</p></body></html>"))
    val pages1 = Seq(
      // the allowed spelling of the same canonical URL, one batch later:
      // admitted iff the gate ran BEFORE the stateful dedup
      ("https://site.io/s", "<html><body><p>clean fetch</p></body></html>"))
    val in = java.nio.file.Files.createTempDirectory("graft_warc_robots").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "s0.warc"),
      Warc.syntheticWarc(pages0, gzipped = false))
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "s1.warc"),
      Warc.syntheticWarc(pages1, gzipped = false))
    new java.io.File(in, "s0.warc").setLastModified(1000000000000L)
    new java.io.File(in, "s1.warc").setLastModified(1000000060000L)

    val stream = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .option("maxFilesPerTrigger", "1").load(in)
    val q = graft.streaming.WarcStreaming
      .streamingWarcIngest(stream, model, minScoreE6 = 0L,
        robotsRules = Some(rules))
      .writeStream.outputMode("update").format("memory")
      .queryName("warc_ingest_robots").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("warc_ingest_robots")
      .select($"url_norm", $"target_uri", $"text", $"score_e6")
      .as[(String, String, String, Long)].collect().toSet

    // batch twin: extract -> packed robots gate -> first-wins -> score
    val extracted = (pages0 ++ pages1).toDF("target_uri", "html")
      .select(Urls.urlNormalize($"target_uri").as("url_norm"),
        $"target_uri", TextAnalysis.htmlToText($"html").as("text"))
    val expected = Robots.filterDisallowedPacked(
      extracted, "target_uri", Robots.packRules(rules))
      .as[(String, String, String)].collect()
      .groupBy(_._1).map { case (_, rows) => rows.minBy(r => (r._2, r._3)) }
      .toSeq.toDF("url_norm", "target_uri", "text")
      .withColumn("score_e6", Classifier.scoreColumn($"text", model))
      .filter($"score_e6" >= 0L)
      .as[(String, String, String, Long)].collect().toSet
    assert(got === expected)
    // spelled out: /p admitted, blocked path + disallowed host gone, and
    // the clean late /s fetch admitted despite its blocked batch-0 twin
    assert(got.map(_._1) === Set("https://site.io/p", "https://site.io/s"))
    assert(got.find(_._1 === "https://site.io/s").get._3 === "clean fetch")
  }

  // --- streaming PQ index maintenance --------------------------------------

  test("streaming PQ index: batches append under markers, probe == batch IVF-PQ") {
    import graft.pipeline.{IVF, Pq}
    import graft.streaming.PqStreaming
    val rnd = new scala.util.Random(71)
    val all = (0 until 300).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val allDf = all.toDF("vec_id", "embedding")
    // models frozen on the first batch — the train-once contract
    val b0 = all.filter(_._1 % 3 != 2).toDF("vec_id", "embedding")
    val b1 = all.filter(_._1 % 3 === 2).toDF("vec_id", "embedding")
    val ivf = IVF.train(b0, "vec_id", "embedding", k = 4, sampleSize = 300)
    val pq = Pq.train(b0, "vec_id", "embedding", m = 4, ks = 8, sampleSize = 300)
    val store = java.nio.file.Files.createTempDirectory("graft_pqidx").toString + "/s"

    PqStreaming.appendBatch(b0, 0L, "vec_id", "embedding", pq, ivf, store)
    PqStreaming.appendBatch(b1, 1L, "vec_id", "embedding", pq, ivf, store)
    assert(PqStreaming.committedBatches(spark, store) === Seq(0L, 1L))

    // committed index == the batch encode over the concatenated corpus
    val stored = PqStreaming.committedIndex(spark, store)
      .select($"cand_id", $"cell", $"codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    val direct = Pq.index(allDf, "vec_id", "embedding", pq, ivf)
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(stored === direct)

    // probe of the committed store == the in-memory plan over all vectors
    val qs = allDf.filter($"vec_id" < 5)
    val got = PqStreaming.searchCommitted(spark, store, qs, "vec_id", "embedding",
        k = 5, pq, ivf, nprobe = 2, rerank = 20, rerankWith = Some(allDf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Pq.topK(allDf, qs, "vec_id", "embedding", k = 5, pq, ivf,
        nprobe = 2, rerank = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)

    // replay of a committed batch is a no-op (no duplicate rows)
    PqStreaming.appendBatch(b0, 0L, "vec_id", "embedding", pq, ivf, store)
    assert(PqStreaming.committedIndex(spark, store).count() === all.size.toLong)
  }

  test("streaming PQ index: orphan batch dir is invisible until its replay commits") {
    import graft.pipeline.{IVF, Pq}
    import graft.streaming.PqStreaming
    val rnd = new scala.util.Random(73)
    val rows = (0 until 100).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val ivf = IVF.train(df, "vec_id", "embedding", k = 4, sampleSize = 100)
    val pq = Pq.train(df, "vec_id", "embedding", m = 4, ks = 8, sampleSize = 100)
    val store = java.nio.file.Files.createTempDirectory("graft_pqcrash").toString + "/s"

    // probing a store with no committed batch returns zero rows with the
    // output schema (never an unresolved-column failure)
    val pre = PqStreaming.searchCommitted(spark, store,
      df.filter($"vec_id" < 3), "vec_id", "embedding", k = 5, pq, ivf, nprobe = 2)
    assert(pre.columns.toSeq === Seq("query_id", "rank", "neighbor_id"))
    assert(pre.count() === 0L, "a pre-first-commit store is empty, not broken")

    // crash between data write and marker: data exists, no commit
    Pq.index(df, "vec_id", "embedding", pq, ivf)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$store/data/b=0")
    assert(PqStreaming.committedBatches(spark, store).isEmpty)
    assert(PqStreaming.committedIndex(spark, store).isEmpty,
      "an uncommitted batch directory must be invisible to readers")

    // the replay overwrites the orphan and commits it exactly once
    PqStreaming.appendBatch(df, 0L, "vec_id", "embedding", pq, ivf, store)
    assert(PqStreaming.committedBatches(spark, store) === Seq(0L))
    assert(PqStreaming.committedIndex(spark, store).count() === 100L)

    // empty batches commit nothing and do not wedge the store
    PqStreaming.appendBatch(df.filter($"vec_id" < 0), 1L,
      "vec_id", "embedding", pq, ivf, store)
    assert(PqStreaming.committedBatches(spark, store) === Seq(0L))
  }

  test("streaming PQ index: end-to-end through maintainIndex over a file stream") {
    import graft.pipeline.{IVF, Pq}
    import graft.streaming.PqStreaming
    val rnd = new scala.util.Random(79)
    val rows = (0 until 200).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val inDir = java.nio.file.Files.createTempDirectory("graft_pqin").toString
    df.filter($"vec_id" % 2 === 0).coalesce(1).write.parquet(s"$inDir/f0.parquet")
    df.filter($"vec_id" % 2 === 1).coalesce(1).write.parquet(s"$inDir/f1.parquet")
    val ivf = IVF.train(df, "vec_id", "embedding", k = 4, sampleSize = 200)
    val pq = Pq.train(df, "vec_id", "embedding", m = 4, ks = 8, sampleSize = 200)
    val store = java.nio.file.Files.createTempDirectory("graft_pqe2e").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pqck").toString

    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*")
    val q = PqStreaming.maintainIndex(stream, "vec_id", "embedding", pq, ivf, store, ckpt)
    try q.processAllAvailable() finally q.stop()

    val stored = PqStreaming.committedIndex(spark, store)
      .select($"cand_id", $"cell", $"codes").as[(Long, Int, Seq[Int])].collect().toSet
    val direct = Pq.index(df, "vec_id", "embedding", pq, ivf)
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(stored === direct, "streamed store must equal the batch encode")
  }

  test("streaming PQ index: rebuildIndex collapses the store, probes bit-identical, replay no-op") {
    import graft.pipeline.{IVF, Pq}
    import graft.streaming.PqStreaming
    val rnd = new scala.util.Random(83)
    val all = (0 until 240).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val df = all.toDF("vec_id", "embedding")
    val ivf = IVF.train(df, "vec_id", "embedding", k = 4, sampleSize = 240)
    val pq = Pq.train(df, "vec_id", "embedding", m = 4, ks = 8, sampleSize = 240)
    val base = java.nio.file.Files.createTempDirectory("graft_pqrebuild").toString
    val store = s"$base/old"
    val fresh = s"$base/new"
    // a long-running stream's shape: many small committed batches
    (0 until 6).foreach { b =>
      PqStreaming.appendBatch(df.filter($"vec_id" % 6 === b), b.toLong,
        "vec_id", "embedding", pq, ivf, store)
    }

    def parquetFiles(p: String): Seq[java.nio.file.Path] = {
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(root)) Seq.empty
      else {
        val s = java.nio.file.Files.walk(root)
        try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
          .asScala.filter(_.toString.endsWith(".parquet")).toSeq
        finally s.close()
      }
    }
    val filesBefore = parquetFiles(s"$store/data").size

    PqStreaming.rebuildIndex(spark, store, fresh)

    // file count collapses to one batch tree with one file per cell
    assert(PqStreaming.committedBatches(spark, fresh) === Seq(0L))
    val cells = spark.read.parquet(s"$fresh/data/b=0")
      .select("cell").distinct().count()
    val freshFiles = parquetFiles(s"$fresh/data")
    assert(freshFiles.size === cells, "repartition(cell) => one file per cell")
    assert(freshFiles.size < filesBefore,
      s"rebuild must shrink the file count (had $filesBefore)")

    // identical rows, bit-identical probe results; old store untouched
    def rows(p: String) = PqStreaming.committedIndex(spark, p)
      .select($"cand_id", $"cell", $"codes").as[(Long, Int, Seq[Int])].collect().toSet
    assert(rows(fresh) === rows(store))
    val qs = df.filter($"vec_id" < 5)
    def probe(p: String) = PqStreaming.searchCommitted(spark, p, qs,
        "vec_id", "embedding", k = 5, pq, ivf, nprobe = 2, rerank = 20,
        rerankWith = Some(df))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(fresh) === probe(store))
    assert(PqStreaming.committedBatches(spark, store) === (0L until 6L),
      "the old store's committed state must survive the rebuild unchanged")

    // retire pointer: old store points at the fresh one; fresh store is live
    assert(PqStreaming.retiredTo(spark, store) === Some(fresh))
    assert(PqStreaming.retiredTo(spark, fresh) === None)

    // replay no-op: a second call (crash-retry / double call) rewrites nothing
    val listing = freshFiles.map(p =>
      p.toString -> java.nio.file.Files.getLastModifiedTime(p)).toMap
    PqStreaming.rebuildIndex(spark, store, fresh)
    val listing2 = parquetFiles(s"$fresh/data").map(p =>
      p.toString -> java.nio.file.Files.getLastModifiedTime(p)).toMap
    assert(listing2 === listing, "an already-committed rebuild target is read-only")

    // in-place compaction is rejected up front
    val err = intercept[IllegalArgumentException] {
      PqStreaming.rebuildIndex(spark, store, store)
    }
    assert(err.getMessage.contains("FRESH path"))
  }

  test("streaming PQ index: reencodeStore rebuilds under NEW models, retires the old store") {
    import graft.pipeline.{IVF, Pq}
    import graft.streaming.PqStreaming
    val rnd = new scala.util.Random(97)
    val all = (0 until 200).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val df = all.toDF("vec_id", "embedding")
    val ivf = IVF.train(df, "vec_id", "embedding", k = 4, sampleSize = 200)
    val pq = Pq.train(df, "vec_id", "embedding", m = 4, ks = 8, sampleSize = 200)
    val base = java.nio.file.Files.createTempDirectory("graft_pqreenc").toString
    val store = s"$base/old"
    val fresh = s"$base/new"
    PqStreaming.appendBatch(df, 0L, "vec_id", "embedding", pq, ivf, store)

    // retrained models (different shape entirely — the drift-loop outcome)
    val ivf2 = IVF.train(df, "vec_id", "embedding", k = 8, sampleSize = 200)
    val pq2 = Pq.train(df, "vec_id", "embedding", m = 8, ks = 16, sampleSize = 200)
    PqStreaming.reencodeStore(spark, store, df, "vec_id", "embedding", pq2, ivf2, fresh)

    assert(PqStreaming.committedBatches(spark, fresh) === Seq(0L))
    assert(PqStreaming.retiredTo(spark, store) === Some(fresh))
    // the fresh store IS the new-model encode — probes under the new
    // models equal the batch IVF-PQ plan under those models
    val qs = df.filter($"vec_id" < 5)
    val got = PqStreaming.searchCommitted(spark, fresh, qs, "vec_id", "embedding",
        k = 5, pq2, ivf2, nprobe = 2, rerank = 20, rerankWith = Some(df))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Pq.topK(df, qs, "vec_id", "embedding", k = 5, pq2, ivf2,
        nprobe = 2, rerank = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    // old store untouched and still readable under the OLD models
    assert(PqStreaming.committedIndex(spark, store).count() === 200L)
    // idempotent + fresh-path contract shared with rebuildIndex
    PqStreaming.reencodeStore(spark, store, df, "vec_id", "embedding", pq2, ivf2, fresh)
    assert(PqStreaming.committedIndex(spark, fresh).count() === 200L)
    intercept[IllegalArgumentException] {
      PqStreaming.reencodeStore(spark, store, df, "vec_id", "embedding", pq2, ivf2, store)
    }
    // target-claim guard: a path produced by a DIFFERENT operation (or
    // different models — even same-shape ones PqAdc cannot catch) must be
    // refused, not silently retired-to with stale codes
    val err = intercept[IllegalArgumentException] {
      PqStreaming.reencodeStore(spark, store, df, "vec_id", "embedding", pq, ivf, fresh)
    }
    assert(err.getMessage.contains("cannot be reused"))
    val compacted = s"$base/compacted"
    PqStreaming.rebuildIndex(spark, store, compacted)
    intercept[IllegalArgumentException] {
      PqStreaming.reencodeStore(spark, store, df, "vec_id", "embedding",
        pq2, ivf2, compacted)
    }
    // an empty source has nothing to rebuild — retiring it to a data-less
    // target would dead-end readers, so it must fail fast
    intercept[IllegalArgumentException] {
      PqStreaming.rebuildIndex(spark, s"$base/neverwritten", s"$base/neverwritten2")
    }
  }

  test("streaming PQ index: driftScoreCommitted == batch driftScore; empty store is empty") {
    import graft.pipeline.{IVF, Pq}
    import graft.streaming.PqStreaming
    val rnd = new scala.util.Random(89)
    val all = (0 until 200).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val df = all.toDF("vec_id", "embedding")
    val ivf = IVF.train(df, "vec_id", "embedding", k = 4, sampleSize = 200)
    val pq = Pq.train(df, "vec_id", "embedding", m = 8, ks = 16, sampleSize = 200)
    val store = java.nio.file.Files.createTempDirectory("graft_pqdrift").toString + "/s"
    val qs = df.filter($"vec_id" < 10)

    // pre-commit: empty result with the output schema, not a failure
    val pre = PqStreaming.driftScoreCommitted(spark, store, df, qs,
      "vec_id", "embedding", k = 5, pq, ivf, nprobe = 2, rerank = 50)
    assert(pre.columns.toSeq === Seq("query_id", "agree_e6") && pre.count() === 0L)

    PqStreaming.appendBatch(df.filter($"vec_id" % 2 === 0), 0L,
      "vec_id", "embedding", pq, ivf, store)
    PqStreaming.appendBatch(df.filter($"vec_id" % 2 === 1), 1L,
      "vec_id", "embedding", pq, ivf, store)

    val got = PqStreaming.driftScoreCommitted(spark, store, df, qs,
        "vec_id", "embedding", k = 5, pq, ivf, nprobe = 2, rerank = 50)
      .as[(Long, Long)].collect().toSet
    val want = Pq.driftScore(Pq.index(df, "vec_id", "embedding", pq, ivf), df,
        qs, "vec_id", "embedding", k = 5, pq, ivf, nprobe = 2, rerank = 50)
      .as[(Long, Long)].collect().toSet
    assert(got === want,
      "the committed store's drift audit must equal the batch audit over the same rows")
  }

  // --- streaming SFT shard packing ---------------------------------------

  /** 30 SFT docs with lengths chosen so batch boundaries never land on a
    * window boundary — split windows are the case under test. */
  private def sftDocs: Seq[(Long, Seq[Long], Long)] =
    (0L until 30L).map { i =>
      val n = (i % 7) + 3 // 3..9 tokens; batch totals not divisible by 16
      val ids = (0L until n).map(j => i * 100 + j)
      (i, ids, n / 2)
    }

  private def sftDF(rows: Seq[(Long, Seq[Long], Long)]) =
    rows.toDF("doc_id", "ids", "prompt_len")

  private def collectShards(df: org.apache.spark.sql.DataFrame) = df
    .select($"seq_id", $"n_tokens", $"input_ids", $"doc_starts",
      to_json($"loss_intervals").as("li"))
    .as[(Long, Long, Seq[Long], Seq[Long], String)]
    .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  test("streaming SFT shards: committed store == one-shot batch pack, split windows stitched") {
    import graft.streaming.ShardStreaming
    val all = sftDocs
    val dir = java.nio.file.Files.createTempDirectory("graft_sft_in").toString
    for ((b, slice) <- Seq(all.slice(0, 11), all.slice(11, 23), all.slice(23, 30)).zipWithIndex.map(_.swap))
      sftDF(slice).coalesce(1).write.parquet(s"$dir/tmp$b")
    val in = java.nio.file.Files.createTempDirectory("graft_sft_src").toString
    for (b <- 0 to 2)
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/tmp$b")).forEach { p =>
        if (p.toString.endsWith(".parquet")) {
          val dst = java.nio.file.Paths.get(in, s"part$b.parquet")
          java.nio.file.Files.copy(p, dst)
          // the file source orders batches by modification time — pin it
          // (the append contract: ids ascend with arrival)
          dst.toFile.setLastModified(1000000000000L + b * 60000L)
        }
      }
    val store = java.nio.file.Files.createTempDirectory("graft_sft_store").toString + "/s"
    val schema = spark.read.parquet(s"$dir/tmp0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = ShardStreaming.maintainPackedShards(
      stream, store, "doc_id", "ids", "prompt_len", seqLen = 16L)
    try q.processAllAvailable() finally q.stop()

    val got = collectShards(ShardStreaming.committedPackedShards(spark, store))
    val want = collectShards(graft.pipeline.Sampling.packMaskedTokenIds(
      sftDF(all), "doc_id", "ids", "prompt_len", seqLen = 16L))
    assert(got === want,
      "incremental packing must reproduce the one-shot layout exactly")
    // the case under test really occurred: some window was stored split
    val nRows = graft.streaming.TopnStreaming.committedVersion(spark, store)
    assert(nRows.exists(_ >= 1), "expected at least two committed batches")
    assert(ShardStreaming.committedOffset(spark, store)
      === all.map(_._2.size.toLong).sum)
  }

  test("SFT shard protocol: replayed batch is a no-op, crashed batch recomputes, seqLen pin fails fast") {
    import graft.streaming.ShardStreaming
    val all = sftDocs
    val store = java.nio.file.Files.createTempDirectory("graft_sft_crash").toString + "/s"
    val (b0, b1) = (sftDF(all.take(15)), sftDF(all.drop(15)))
    ShardStreaming.packBatch(b0, 0L, store, "doc_id", "ids", "prompt_len", 16L, "sc")
    // crash simulation: batch 1's data dir written, manifest never committed
    graft.pipeline.Sampling.packMaskedTokenIdsFrom(
        b1, "doc_id", "ids", "prompt_len", 16L,
        ShardStreaming.committedOffset(spark, store))
      .write.mode("overwrite").parquet(s"$store/data/b=1")
    // the replay recomputes the same directory from the same offset
    ShardStreaming.packBatch(b1, 1L, store, "doc_id", "ids", "prompt_len", 16L, "sc")
    // a replay of an already-committed batch changes nothing
    val before = collectShards(ShardStreaming.committedPackedShards(spark, store))
    ShardStreaming.packBatch(b1, 1L, store, "doc_id", "ids", "prompt_len", 16L, "sc")
    ShardStreaming.packBatch(b0, 0L, store, "doc_id", "ids", "prompt_len", 16L, "sc")
    assert(collectShards(ShardStreaming.committedPackedShards(spark, store)) === before)
    assert(before === collectShards(graft.pipeline.Sampling.packMaskedTokenIds(
      sftDF(all), "doc_id", "ids", "prompt_len", 16L)))
    // resuming under a different window length is a layout corruption —
    // the params pin must refuse it
    val ex = intercept[IllegalStateException](
      ShardStreaming.packBatch(b1, 2L, store, "doc_id", "ids", "prompt_len", 32L, "sc"))
    assert(ex.getMessage.contains("seqLen"))
  }

  /** Chat docs: multi-interval masks, lengths chosen so batch boundaries
    * split windows (seqLen=16 below; totals not divisible by 16). */
  private def chatDocs: Seq[(Long, Seq[Long], Seq[(Long, Long)])] =
    (0L until 24L).map { i =>
      val n = (i % 9) + 4 // 4..12 tokens
      val ids = (0L until n).map(j => i * 100 + j)
      // up to two assistant spans: [1, 1+a) and [n-b, n)
      val a = (i % 3) + 1
      val ivs = Seq((1L, math.min(a, n - 1)), (n - 1, 1L))
        .filter { case (o, l) => l > 0 && o + l <= n }
        .foldLeft(Seq.empty[(Long, Long)]) { case (acc, iv) =>
          if (acc.exists { case (o, l) => iv._1 < o + l }) acc else acc :+ iv
        }
      (i, ids, ivs)
    }

  private def chatDF(rows: Seq[(Long, Seq[Long], Seq[(Long, Long)])]) =
    rows.map { case (i, ids, ivs) => (i, ids, ivs.map(x => IvRow(x._1, x._2))) }
      .toDF("doc_id", "ids", "ivs")

  test("interval shards: committed store == one-shot chat pack, replay no-op") {
    import graft.streaming.ShardStreaming
    val all = chatDocs
    val store = java.nio.file.Files.createTempDirectory("graft_chat_store").toString + "/s"
    val batches = Seq(all.slice(0, 9), all.slice(9, 17), all.slice(17, 24))
    for ((slice, b) <- batches.zipWithIndex)
      ShardStreaming.packIntervalBatch(
        chatDF(slice), b.toLong, store, "doc_id", "ids", "ivs", 16L, "sc")

    val got = collectShards(ShardStreaming.committedPackedShards(spark, store))
    val want = collectShards(graft.pipeline.Chat.packTokenIds(
      chatDF(all), "doc_id", "ids", "ivs", seqLen = 16L))
    assert(got === want,
      "incremental interval packing must reproduce the one-shot layout exactly")
    // multi-interval windows genuinely occurred
    assert(got.values.exists(_._4.count(_ == '{') >= 2))
    // replays change nothing
    ShardStreaming.packIntervalBatch(
      chatDF(batches(1)), 1L, store, "doc_id", "ids", "ivs", 16L, "sc")
    assert(collectShards(ShardStreaming.committedPackedShards(spark, store)) === got)
    assert(ShardStreaming.committedOffset(spark, store)
      === all.map(_._2.size.toLong).sum)
  }

  test("interval shards interoperate with the prompt_len tier's store format") {
    import graft.streaming.ShardStreaming
    val sft = sftDocs
    val store = java.nio.file.Files.createTempDirectory("graft_mixed_store").toString + "/s"
    // batch 0 from the prompt_len tier, batch 1 from the interval tier
    // spelling the SAME masks as intervals — one store, one reader
    val (b0, b1) = (sft.take(15), sft.drop(15))
    ShardStreaming.packBatch(
      sftDF(b0), 0L, store, "doc_id", "ids", "prompt_len", 16L, "sc")
    val b1ivs = b1.map { case (i, ids, p) =>
      (i, ids, Seq(IvRow(p, ids.size - p)).filter(_.len > 0))
    }.toDF("doc_id", "ids", "ivs")
    ShardStreaming.packIntervalBatch(
      b1ivs, 1L, store, "doc_id", "ids", "ivs", 16L, "sc")
    val got = collectShards(ShardStreaming.committedPackedShards(spark, store))
    val want = collectShards(graft.pipeline.Sampling.packMaskedTokenIds(
      sftDF(sft), "doc_id", "ids", "prompt_len", 16L))
    assert(got === want,
      "a prompt prefix is the one-interval special case — identical store")
  }

  // ---- streaming sessionization -------------------------------------

  /** Events as (rowset, per-key ts-ordered 3-way split on global ts).
    * The first cut lands INSIDE the longest multi-event session — its
    * final event falls in batch 1, so the cross-batch merge path is
    * exercised by construction, not fixture luck. Any global-ts split
    * preserves per-key ts order (the ingestion contract). */
  private def sessionEvents = {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select($"event_id", $"user_id", $"ts",
        $"value".cast("decimal(18,2)").as("value"))
    val straddleEnd = graft.operators.Sessions.stats(
        ev, Seq("user_id"), "ts", 7200L, None, Seq("event_id"))
      .filter($"n_events" >= 2)
      .orderBy($"duration_us".desc, $"user_id")
      .select($"session_end".cast("string")).head.getString(0)
    val n = ev.count()
    val cut1a = ev.filter($"event_id" === (2L * n / 3L))
      .select($"ts".cast("string")).head.getString(0)
    val cut1 = if (cut1a > straddleEnd) cut1a else straddleEnd
    val s = $"ts".cast("string")
    (ev,
      ev.filter(s < straddleEnd),
      ev.filter(s >= straddleEnd && s < cut1),
      ev.filter(s >= cut1))
  }

  private def collectSessions(df: org.apache.spark.sql.DataFrame) = df
    .select($"user_id", $"session_seq", $"session_start".cast("string"),
      $"session_end".cast("string"), $"n_events", $"duration_us",
      $"value_sum".cast("string"))
    .as[(Long, Long, String, String, Long, Long, String)].collect().toSet

  test("streaming sessions: committed store == one-shot stats, merges across batches") {
    import graft.streaming.SessionStreaming
    val (ev, b0, b1, b2) = sessionEvents
    val store = java.nio.file.Files.createTempDirectory("graft_sess").toString + "/s"
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex)
      SessionStreaming.sessionBatch(b, i.toLong, store, Seq("user_id"), "ts",
        7200L, Some("value"), Seq("event_id"), "sc")
    val got = collectSessions(SessionStreaming.committedSessions(spark, store))
    val want = collectSessions(graft.operators.Sessions.stats(
      ev, Seq("user_id"), "ts", 7200L, Some("value"), Seq("event_id")))
    assert(got === want,
      "incremental sessionization must reproduce the one-shot rollup exactly")

    // the merge path genuinely fired: some committed session spans a
    // batch boundary (starts in one slice's ts range, ends in a later one)
    val b0MaxTs = b0.agg(max($"ts".cast("string"))).head.getString(0)
    assert(want.exists(s => s._3 <= b0MaxTs && s._4 > b0MaxTs),
      "fixture must contain at least one session straddling batch 0/1")

    // replay of a committed batch is a no-op
    SessionStreaming.sessionBatch(b1, 1L, store, Seq("user_id"), "ts",
      7200L, Some("value"), Seq("event_id"), "sc")
    assert(collectSessions(SessionStreaming.committedSessions(spark, store)) === got)
  }

  test("streaming sessions: out-of-order arrival fails the batch, params pin holds") {
    import graft.streaming.SessionStreaming
    val (_, b0, b1, _) = sessionEvents
    val store = java.nio.file.Files.createTempDirectory("graft_sess_ooo").toString + "/s"
    SessionStreaming.sessionBatch(b1, 0L, store, Seq("user_id"), "ts",
      7200L, Some("value"), Seq("event_id"), "sc")
    val ex = intercept[Exception] {
      SessionStreaming.sessionBatch(b0, 1L, store, Seq("user_id"), "ts",
        7200L, Some("value"), Seq("event_id"), "sc")
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("out-of-order"), s"got: $msgs")
    // a resume with a different gap would change session boundaries
    val ex2 = intercept[IllegalStateException] {
      SessionStreaming.sessionBatch(b0, 2L, store, Seq("user_id"), "ts",
        3600L, Some("value"), Seq("event_id"), "sc")
    }
    assert(ex2.getMessage.contains("gapSeconds=3600"))
  }

  test("streaming sessions: compactStore folds the chain bit-for-bit and resumes") {
    import graft.streaming.SessionStreaming
    val (_, b0, b1, b2) = sessionEvents
    val base = java.nio.file.Files.createTempDirectory("graft_sess_cmp").toString
    val store = base + "/s"
    for ((b, i) <- Seq(b0, b1).zipWithIndex)
      SessionStreaming.sessionBatch(b, i.toLong, store, Seq("user_id"), "ts",
        7200L, Some("value"), Seq("event_id"), "sc")
    val before = collectSessions(SessionStreaming.committedSessions(spark, store))
    val folded = base + "/folded"
    SessionStreaming.compactStore(spark, store, folded)
    assert(collectSessions(SessionStreaming.committedSessions(spark, folded))
      === before, "the fold must reproduce the committed table bit-for-bit")
    // one data directory instead of one per batch
    assert(new java.io.File(s"$folded/data").listFiles().length === 1)
    // a replayed committed batch is a no-op on the fold...
    SessionStreaming.sessionBatch(b1, 1L, folded, Seq("user_id"), "ts",
      7200L, Some("value"), Seq("event_id"), "sc")
    assert(collectSessions(SessionStreaming.committedSessions(spark, folded))
      === before)
    // ...and the next real batch lands on either store identically
    SessionStreaming.sessionBatch(b2, 2L, store, Seq("user_id"), "ts",
      7200L, Some("value"), Seq("event_id"), "sc")
    SessionStreaming.sessionBatch(b2, 2L, folded, Seq("user_id"), "ts",
      7200L, Some("value"), Seq("event_id"), "sc")
    assert(collectSessions(SessionStreaming.committedSessions(spark, folded))
      === collectSessions(SessionStreaming.committedSessions(spark, store)))
  }

  test("streaming sessions: filesPerBatch caps batch files; files>1 parallelizes the fold") {
    import graft.streaming.SessionStreaming
    val (ev, b0, b1, b2) = sessionEvents
    val base = java.nio.file.Files.createTempDirectory("graft_sess_fpb").toString
    val store = base + "/s"
    def parts(dir: String): Int =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .count(_.getName.startsWith("part-"))
    // AQE folds micro-batch plans to one partition; disable it to observe
    // the lifted ceiling (the ScoreStreamingSpec pattern)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for ((b, i) <- Seq(b0, b1).zipWithIndex)
        SessionStreaming.sessionBatch(b, i.toLong, store, Seq("user_id"),
          "ts", 7200L, Some("value"), Seq("event_id"), "sc",
          filesPerBatch = 4)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // the open delta touches every key the batch saw — the sure spread
    assert(parts(s"$store/data/b=0/open") > 1)
    val before = collectSessions(SessionStreaming.committedSessions(spark, store))
    assert(before === collectSessions(graft.operators.Sessions.stats(
      b0.unionByName(b1), Seq("user_id"), "ts", 7200L, Some("value"),
      Seq("event_id"))))
    // parallel fold: multiple part files, identical committed table, resume
    val folded = base + "/folded"
    SessionStreaming.compactStore(spark, store, folded, files = 3)
    assert(parts(s"$folded/data/b=1/open") > 1)
    assert(collectSessions(SessionStreaming.committedSessions(spark, folded))
      === before)
    SessionStreaming.sessionBatch(b2, 2L, folded, Seq("user_id"), "ts",
      7200L, Some("value"), Seq("event_id"), "sc")
    assert(collectSessions(SessionStreaming.committedSessions(spark, folded))
      === collectSessions(graft.operators.Sessions.stats(
        ev, Seq("user_id"), "ts", 7200L, Some("value"), Seq("event_id"))))
  }

  test("streaming sessions: migrateStore recovers a legacy widened-decimal chain") {
    import graft.streaming.SessionStreaming
    val (ev, b0, b1, b2) = sessionEvents
    val base = java.nio.file.Files.createTempDirectory("graft_sess_mig").toString
    val store = base + "/s"
    for ((b, i) <- Seq(b0, b1).zipWithIndex)
      SessionStreaming.sessionBatch(b, i.toLong, store, Seq("user_id"), "ts",
        7200L, Some("value"), Seq("event_id"), "sc")
    // forge the PRE-schema-stable layout: before the batch-kernel cast,
    // every merge widened value_sum's decimal by one digit, so later
    // batches sat at a wider precision than batch 0 — rewrite batch 1's
    // leaves one digit wider, exactly what such a store holds on disk
    def widen(leaf: String): Unit = {
      val p = s"$store/data/b=1/$leaf"
      val df = spark.read.parquet(p).cache()
      df.count() // materialize before the source dir is replaced
      df.withColumn("value_sum", $"value_sum".cast("decimal(29,2)"))
        .coalesce(1).write.parquet(p + ".w")
      df.unpersist(blocking = true)
      def rm(q: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(q)) {
          val s = java.nio.file.Files.list(q)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.delete(q)
      }
      rm(java.nio.file.Paths.get(p))
      java.nio.file.Files.move(java.nio.file.Paths.get(p + ".w"),
        java.nio.file.Paths.get(p))
    }
    widen("closed"); widen("open")
    val want = collectSessions(graft.operators.Sessions.stats(
      b0.unionByName(b1), Seq("user_id"), "ts", 7200L, Some("value"),
      Seq("event_id")))
    // the modern coercion-free multi-root reader cannot serve this chain
    val legacy = scala.util.Try(
      collectSessions(SessionStreaming.committedSessions(spark, store)))
    assert(legacy.toOption.forall(_ !== want),
      "fixture must actually break the coercion-free read")
    // migrate: the dst reads at the batch-kernel type and the SAME stream
    // resumes against it
    val dst = base + "/migrated"
    SessionStreaming.migrateStore(spark, store, dst)
    assert(collectSessions(SessionStreaming.committedSessions(spark, dst))
      === want)
    val kernel = graft.operators.Sessions.stats(ev, Seq("user_id"), "ts",
      7200L, Some("value"), Seq("event_id")).schema("value_sum").dataType
    assert(SessionStreaming.committedSessions(spark, dst)
      .schema("value_sum").dataType === kernel)
    SessionStreaming.sessionBatch(b2, 2L, dst, Seq("user_id"), "ts",
      7200L, Some("value"), Seq("event_id"), "sc")
    assert(collectSessions(SessionStreaming.committedSessions(spark, dst))
      === collectSessions(graft.operators.Sessions.stats(
        ev, Seq("user_id"), "ts", 7200L, Some("value"), Seq("event_id"))))
  }

  test("migrateStore: all-leaves-widened legacy store needs the explicit kernel override") {
    import graft.streaming.SessionStreaming
    // a legacy store that was COMPACTED before migrating: ONE batch, its
    // value_sum already merge-widened — no unwidened leaf survives, so
    // the narrowest-leaf inference has no kernel evidence and the caller
    // must pass the type Sessions.stats produces (the documented fine
    // print; the second self-review's finding)
    val (ev, b0, b1, b2) = sessionEvents
    val base = java.nio.file.Files.createTempDirectory("graft_sess_mig2").toString
    val store = base + "/s"
    for ((b, i) <- Seq(b0.unionByName(b1)).zipWithIndex)
      SessionStreaming.sessionBatch(b, i.toLong, store, Seq("user_id"), "ts",
        7200L, Some("value"), Seq("event_id"), "sc")
    def widen(leaf: String): Unit = {
      val p = s"$store/data/b=0/$leaf"
      val df = spark.read.parquet(p).cache(); df.count()
      df.withColumn("value_sum", $"value_sum".cast("decimal(30,2)"))
        .coalesce(1).write.parquet(p + ".w")
      df.unpersist(blocking = true)
      def rm(q: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(q)) {
          val s = java.nio.file.Files.list(q)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.delete(q)
      }
      rm(java.nio.file.Paths.get(p))
      java.nio.file.Files.move(java.nio.file.Paths.get(p + ".w"),
        java.nio.file.Paths.get(p))
    }
    widen("closed"); widen("open")
    val kernel = graft.operators.Sessions.stats(ev, Seq("user_id"), "ts",
      7200L, Some("value"), Seq("event_id")).schema("value_sum").dataType
    val dst = base + "/migrated"
    SessionStreaming.migrateStore(spark, store, dst, valueType = Some(kernel))
    assert(SessionStreaming.committedSessions(spark, dst)
      .schema("value_sum").dataType === kernel,
      "the override must re-pin the batch-kernel type, not the widened fold's")
    // and the SAME stream appends at the kernel type without remixing
    SessionStreaming.sessionBatch(b2, 1L, dst, Seq("user_id"), "ts",
      7200L, Some("value"), Seq("event_id"), "sc")
    assert(collectSessions(SessionStreaming.committedSessions(spark, dst))
      === collectSessions(graft.operators.Sessions.stats(
        ev, Seq("user_id"), "ts", 7200L, Some("value"), Seq("event_id"))))
  }

  test("migrateStore: overflow fails loudly even under spark.sql.ansi.enabled=false") {
    import graft.streaming.SessionStreaming
    // the fail-loudly guarantee must live in the migration's own cast,
    // not in the session default (r17 ADVICE): Column.cast under
    // ansi=false silently NULLs an overflowing legacy value mid-migration
    val (_, b0, _, _) = sessionEvents
    val base = java.nio.file.Files.createTempDirectory("graft_sess_mig3").toString
    val store = base + "/s"
    SessionStreaming.sessionBatch(b0, 0L, store, Seq("user_id"), "ts",
      7200L, Some("value"), Seq("event_id"), "sc")
    // forge a widened leaf whose value cannot fit the target kernel
    def blow(leaf: String): Unit = {
      val p = s"$store/data/b=0/$leaf"
      val df = spark.read.parquet(p).cache(); df.count()
      df.withColumn("value_sum",
          lit("123456789012345678901234567890.12").cast("decimal(38,2)"))
        .coalesce(1).write.parquet(p + ".w")
      df.unpersist(blocking = true)
      def rm(q: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(q)) {
          val s = java.nio.file.Files.list(q)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.delete(q)
      }
      rm(java.nio.file.Paths.get(p))
      java.nio.file.Files.move(java.nio.file.Paths.get(p + ".w"),
        java.nio.file.Paths.get(p))
    }
    blow("closed"); blow("open")
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val e = intercept[Exception] {
        SessionStreaming.migrateStore(spark, store, base + "/migrated",
          valueType = Some(org.apache.spark.sql.types.DecimalType(20, 2)))
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(t =>
          Option(t.getMessage).exists(m =>
            m.contains("Decimal") || m.toLowerCase.contains("overflow"))),
        s"expected a decimal-overflow failure, got: $e")
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  private implicit class JavaSetOps[A](s: java.util.Set[A]) {
    def asScala: scala.collection.mutable.Set[A] =
      scala.jdk.CollectionConverters.SetHasAsScala(s).asScala
  }
}

object StreamingSpec {
  val captured = new java.util.concurrent.ConcurrentHashMap[
    Long, Seq[graft.streaming.TopnStreaming.TopEntry]]()
}
