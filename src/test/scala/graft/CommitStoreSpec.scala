package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.streaming.{CommitStore, StreamWatermark, TopnStreaming}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/**
 * The streaming stores' commit primitives, on the local filesystem: the
 * atomic publish, the write-once stamp, the manifest listing, the batch
 * guard, the keyed manifest and the footer-schema reads. A rename that refuses an existing destination
 * (HDFS semantics; the local filesystem replaces it instead) is modelled
 * by a filter filesystem.
 */
class CommitStoreSpec extends AnyFunSuite {

  private val local = FileSystem.getLocal(new Configuration())

  private def tmpRoot(prefix: String): Path =
    new Path(java.nio.file.Files.createTempDirectory(prefix).toString, "s")

  private def names(fs: FileSystem, dir: Path): Seq[String] =
    fs.listStatus(dir).toSeq.map(_.getPath.getName).sorted

  private def write(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
  }

  /** HDFS rename semantics: never replace an existing destination. When
    * `rival` is set, a concurrent writer publishes it just before this
    * rename runs. */
  private def hdfsLike(rival: Option[String] = None): FileSystem =
    new FilterFileSystem(local) {
      override def rename(src: Path, dst: Path): Boolean = {
        rival.foreach(write(local, dst, _))
        !local.exists(dst) && local.rename(src, dst)
      }
    }

  test("publish leaves no temp file and accepts a destination that already exists") {
    val root = tmpRoot("graft_cs_publish")
    val dst = new Path(root, "_manifests/m=0")
    assert(CommitStore.publish(local, dst, "b=0", "commit manifest"))
    assert(CommitStore.readText(local, dst) === "b=0")
    // a zombie's identical commit finds the destination in place
    val fs = hdfsLike()
    assert(!CommitStore.publish(fs, dst, "b=0", "commit manifest"))
    assert(CommitStore.readText(local, dst) === "b=0")
    assert(!names(local, dst.getParent).exists(_.contains(".tmp-")),
      names(local, dst.getParent).mkString(","))
    // a rename that fails with no destination in place is an error
    val never = new FilterFileSystem(local) {
      override def rename(src: Path, dst: Path): Boolean = false
    }
    val e = intercept[java.io.IOException](
      CommitStore.publish(never, new Path(root, "_manifests/m=1"), "b=1",
        "commit manifest"))
    assert(e.getMessage.contains("could not commit manifest"))
    assert(names(local, dst.getParent).filterNot(_.endsWith(".crc")) === Seq("m=0"))
  }

  test("write-once stamp: absent -> written, equal -> no-op, different -> the caller's error") {
    val root = tmpRoot("graft_cs_stamp")
    val stamp = new Path(root, "_graft_params")
    def check(fs: FileSystem, value: String): Unit =
      CommitStore.checkStamp(fs, root, "_graft_params", value,
        (stored, given) => s"pinned '$stored', given '$given'")
    check(local, "seqLen=8")
    assert(CommitStore.readText(local, stamp) === "seqLen=8")
    check(local, "seqLen=8")
    val e = intercept[IllegalStateException](check(local, "seqLen=16"))
    assert(e.getMessage === "pinned 'seqLen=8', given 'seqLen=16'")
    assert(CommitStore.readText(local, stamp) === "seqLen=8")
    // the caller picks the exception type
    intercept[IllegalArgumentException](
      CommitStore.checkStamp(local, root, "_graft_params", "seqLen=16",
        (_, _) => "taken", new IllegalArgumentException(_)))
    assert(!names(local, root).exists(_.contains(".tmp-")),
      names(local, root).mkString(","))

    // a writer that loses the first-write race is held to the winner's value
    val raced = tmpRoot("graft_cs_stamp_race")
    CommitStore.checkStamp(hdfsLike(Some("a")), raced, "_graft_scope", "a",
      (_, _) => "unreachable")
    val lost = tmpRoot("graft_cs_stamp_lost")
    val e2 = intercept[IllegalStateException](
      CommitStore.checkStamp(hdfsLike(Some("a")), lost, "_graft_scope", "b",
        (stored, given) => s"pinned '$stored', given '$given'"))
    assert(e2.getMessage === "pinned 'a', given 'b'")
    assert(CommitStore.readText(local, new Path(lost, "_graft_scope")) === "a")
    assert(!names(local, lost).exists(_.contains(".tmp-")),
      names(local, lost).mkString(","))
  }

  test("committedIds ignores temp and non-numeric names and sorts numerically") {
    val root = tmpRoot("graft_cs_ids")
    assert(CommitStore.committedIds(local, root, "_manifests", "m=").isEmpty)
    for (n <- Seq("m=9", "m=10", "m=2", ".m=11.tmp-0f3a", "m=x", "notes"))
      write(local, new Path(root, s"_manifests/$n"), "b=0")
    assert(CommitStore.committedIds(local, root, "_manifests", "m=") ===
      Seq(2L, 9L, 10L))
  }

  /** Spark jobs submitted while `body` runs. The listener bus is drained
    * before the listener joins and before it is read, so every job start
    * posted inside `body`, and only those, is counted. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = SparkTestSession.spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(60000L))
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drain()
    sc.addSparkListener(listener)
    try {
      val out = body
      drain()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("store reads submit no job before the query's own; a rollup commit at most 5") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val root = tmpRoot("graft_cs_jobs").toString

    // a rollup keyed by an INT group: the footer schema must round-trip it
    val rollup = s"$root/rollup"
    def events(periods: Seq[String], mult: Int) =
      (for (p <- periods; g <- 0 until 3; i <- 0 until 40) yield (p, g, s"i${i * mult % 17}"))
        .toDF("period", "grp", "item")
    def merge(id: Long, periods: String*): Unit =
      TopnStreaming.mergeBatch(events(periods, id.toInt + 1), id, rollup,
        $"period", "grp", $"item", 100, scope = "jobs-scope")
    merge(0, "d0", "d1", "d2")
    val (_, commitJobs) = jobsDuring(merge(1, "d2", "d3"))
    assert(commitJobs <= 5, s"a commit over stored periods ran $commitJobs jobs")
    val (table, readJobs) = jobsDuring(TopnStreaming.committedRollup(spark, rollup))
    assert(readJobs === 0)
    assert(table.schema("grp").dataType === IntegerType)
    assert(table.schema === spark.read.parquet(s"$rollup/data/b=1").schema)
    val totals = table.select($"period", explode($"sketch")).groupBy($"period")
      .agg(sum($"value")).as[(String, Long)].collect().toMap
    assert(totals === Map("d0" -> 120L, "d1" -> 120L, "d2" -> 240L, "d3" -> 120L))

    // a chain store: batch directories written one by one
    val dirs = (0 until 3).map { b =>
      val dir = CommitStore.dataDir(s"$root/chain", b, "pairs")
      CommitStore.writeBatchDir(
        Seq((b, b * 10L, s"k$b"), (b + 1, b * 10L + 1, "x")).toDF("key", "n", "tag"), 1, dir)
      dir
    }
    val (chain, chainJobs) = jobsDuring(
      CommitStore.readChain(spark, s"$root/chain", (0L until 3L), "pairs"))
    assert(chainJobs === 0)
    val inferred = spark.read.parquet(dirs: _*)
    assert(chain.schema === inferred.schema)
    assert(chain.as[(Int, Long, String)].collect().sorted ===
      inferred.as[(Int, Long, String)].collect().sorted)
    assert(chain.count() === 6)

    // a watermark store: the pending snapshot and the high-water mark
    val wm = s"$root/wm"
    val pending = Seq((7L, "view", 500L), (8L, "click", 900L)).toDF("user_id", "step", "tu")
    CommitStore.guard(pending, 0L, wm, "jobs-scope") { b =>
      StreamWatermark.write(spark, wm, b.id, pending, 1234L)
      b.commit()
    }
    val (buffered, pendingJobs) = jobsDuring(StreamWatermark.committedPending(spark, wm).get)
    assert(pendingJobs === 0)
    assert(buffered.schema === spark.read.parquet(s"$wm/data/b=0/pending").schema)
    assert(buffered.as[(Long, String, Long)].collect().sorted ===
      Array((7L, "view", 500L), (8L, "click", 900L)))
    val (hwm, hwmJobs) = jobsDuring(StreamWatermark.committedHwm(spark, wm))
    assert(hwmJobs === 0)
    assert(hwm === Some(1234L))

    // the two cell-partitioned stores, `b=<id>/cell=<c>` per batch: the
    // PQ index and the semantic store's vector snapshots, 8 batches each
    import graft.pipeline.{IVF, Pq, SemDedup}
    val rnd = new scala.util.Random(23)
    val base = (0L until 160L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val vecs = base ++ base.take(8).map { case (i, v) =>
      (1000L + i, v.map(x => x + (rnd.nextGaussian() * 1e-3).toFloat))
    }
    val vecDf = vecs.toDF("vec_id", "embedding")
    val ivf = IVF.train(vecDf, "vec_id", "embedding", k = 4, sampleSize = 200)
    val pq = Pq.train(vecDf, "vec_id", "embedding", m = 4, ks = 8, sampleSize = 200)
    val (pqStore, semStore) = (s"$root/pq", s"$root/sem")
    for (b <- 0 until 8) {
      val batch = vecs.filter(_._1 % 8 == b).toDF("vec_id", "embedding")
      graft.streaming.PqStreaming.appendBatch(batch, b, "vec_id", "embedding", pq, ivf, pqStore)
      TopnStreaming.semanticBatch(batch, b, semStore, "vec_id", "embedding", ivf,
        tau = 0.9, scope = "jobs-scope")
      if (Set(0, 3, 7)(b)) {
        val (index, indexJobs) =
          jobsDuring(graft.streaming.PqStreaming.committedIndex(spark, pqStore))
        assert(indexJobs === 0, s"committedIndex after ${b + 1} batches")
        // the per-batch inferred reads it replaces
        val inferred = (0 to b).map(i => spark.read.parquet(CommitStore.dataDir(pqStore, i)))
          .reduce(_ unionByName _)
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.select(to_json(struct(df.columns.map(col): _*))).as[String].collect().sorted.toSeq
        assert(index.schema === inferred.schema)
        assert(rows(index) === rows(inferred))
        val (labels, labelJobs) =
          jobsDuring(TopnStreaming.committedSemanticLabels(spark, semStore, ivf))
        assert(labelJobs === 0, s"committedSemanticLabels after ${b + 1} batches")
        val seen = vecs.filter(_._1 % 8 <= b).toDF("vec_id", "embedding")
        assert(labels.as[(Long, Int, Long, Boolean)].collect().toSet ===
          SemDedup.labels(seen, "vec_id", "embedding", ivf, tau = 0.9)
            .as[(Long, Int, Long, Boolean)].collect().toSet)
      }
    }
  }

  private def files(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(root)
    java.nio.file.Files.walk(base).iterator().asScala.toSeq
      .map(p => base.relativize(p).toString).sorted
  }

  test("the batch guard: scope, then the pin, then the replay rule, then the body") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val store = tmpRoot("graft_cs_guard").toString
    val one = Seq(1).toDF("x")
    val pin = CommitStore.Pin("p=1", (stored, given) => s"pinned '$stored', given '$given'")
    var ran = 0
    def run(id: Long, scope: String = "s", p: CommitStore.Pin = pin)(
        body: CommitStore.Batch => Unit = _ => ()): Unit =
      CommitStore.guard(one, id, store, scope, Some(p)) { b => ran += 1; body(b) }

    // the body's data directory exists before its manifest does
    run(0) { b =>
      assert(b.committed === None)
      CommitStore.writeBatchDir(one, 1, b.dir("leaf"))
      assert(local.exists(new Path(s"$store/data/b=0/leaf")))
      assert(CommitStore.committedVersion(spark, store) === None,
        "the manifest must not exist before the body commits")
      b.commit()
    }
    assert(ran === 1)
    assert(CommitStore.committedVersion(spark, store) === Some(0L))
    assert(CommitStore.readManifest(local, new Path(store), 0L) === "b=0")
    val committed = files(store)

    // a replayed batch id runs no body and writes no file
    run(0)()
    assert(ran === 1)
    assert(files(store) === committed)

    // a scope mismatch throws before the body runs, on a replay too
    for (id <- Seq(0L, 1L)) {
      val e = intercept[IllegalStateException](run(id, scope = "other")())
      assert(e.getMessage.startsWith(s"store at "), e.getMessage)
      assert(e.getMessage.contains("different streaming checkpoint"))
    }
    // a params mismatch throws with the caller's text, on a replay too,
    // and only after the scope check
    for (id <- Seq(0L, 1L)) {
      val e = intercept[IllegalStateException](run(id, p = pin.copy(value = "p=2"))())
      assert(e.getMessage === "pinned 'p=1', given 'p=2'")
    }
    val both = intercept[IllegalStateException](
      run(1L, scope = "other", p = pin.copy(value = "p=2"))())
    assert(both.getMessage.contains("different streaming checkpoint"))
    assert(ran === 1)
    assert(files(store) === committed)

    // an empty batch commits nothing unless the maintainer takes it itself
    CommitStore.guard(one.limit(0), 1L, store, "s", Some(pin)) { _ => ran += 1 }
    assert(ran === 1)
    CommitStore.guard(one.limit(0), 1L, store, "s", Some(pin), skipEmpty = false) { b =>
      assert(b.committed === Some(0L))
      ran += 1
    }
    assert(ran === 2)
  }

  test("keyed manifest: url-encoded sorted lines, and the GC keeps what the previous manifest names") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val body = CommitStore.keysBody(Map("x y" -> 1L, "a\tb" -> 2L))
    assert(body === "2\ta%09b\n1\tx+y")

    val store = tmpRoot("graft_cs_keyed").toString
    val root = new Path(store)
    val one = Seq(1).toDF("x")
    def commit(id: Long, touched: String*): Unit =
      CommitStore.guard(one, id, store, "s", skipEmpty = false) { b =>
        CommitStore.writeBatchDir(one, 1, b.dir())
        b.commitKeys(b.keys, touched.toSet)
      }
    def dirs(): Seq[String] = names(local, new Path(store, "data")).filter(_.startsWith("b="))
    def manifests(): Seq[String] = names(local, new Path(store, "_manifests"))
      .filter(_.startsWith("m="))
    commit(0, "k1", "k2")
    assert(CommitStore.readManifest(local, root, 0L) === "0\tk1\n0\tk2")
    commit(1, "k1")
    commit(2, "k2")
    // b=0 still named by the previous manifest (k2 -> 0); m=0 dropped
    assert(CommitStore.readKeys(local, root, 2L) === Map("k1" -> 1L, "k2" -> 2L))
    assert(dirs() === Seq("b=0", "b=1", "b=2"))
    assert(manifests() === Seq("m=1", "m=2"))
    commit(3, "k1", "k2")
    assert(dirs() === Seq("b=1", "b=2", "b=3"))
    assert(manifests() === Seq("m=2", "m=3"))
  }
}
