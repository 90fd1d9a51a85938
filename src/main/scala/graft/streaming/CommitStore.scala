package graft.streaming

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, struct}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

/**
 * The on-disk commit protocol every streaming maintainer shares: the
 * rollup and label stores ([[TopnStreaming]]), the chain stores
 * ([[ActivityStreaming]], [[RateStreaming]], [[FunnelStreaming]],
 * [[SessionStreaming]], [[ScoreStreaming]]), the shard store
 * ([[ShardStreaming]]) and the ANN index ([[PqStreaming]]). This object is
 * the one module that names the commit directories, publishes files and
 * reads them back, and it owns the protocol's control flow: a maintainer
 * states only its kernel — what one batch computes and which leaves it
 * writes.
 *
 *  - One streaming entry: [[maintain]] derives the scope, attaches the
 *    checkpoint and drives the maintainer's batch function from
 *    `foreachBatch`.
 *  - One batch guard: [[guard]] checks the scope stamp, then the
 *    maintainer's parameter [[Pin]], refuses a replayed batch id, skips an
 *    empty batch, and only then runs the body with its [[Batch]] handle
 *    (leaf directories, committed state, the commit point).
 *  - One keyed store: the rollup and label stores' manifests map keys to
 *    data directories ([[readKeys]], [[Batch.commitKeys]],
 *    [[committedKeyed]]).
 *  - One layout spelling: [[dataDir]] (and [[vectorsDir]], the semantic
 *    store's vector snapshots); chain reads take the store path, the batch
 *    ids and the leaf ([[readChain]], [[committedChain]]).
 *
 * Layout:
 * {{{
 *   storePath/_graft_scope        checkpoint identity (write-once stamp)
 *   storePath/_graft_params       the maintainer's parameter pin (write-once)
 *   storePath/_manifests/m=<id>   one manifest per committed batch
 *   storePath/data/b=<id>/...     the batch's data, written BEFORE its manifest
 * }}}
 * A manifest's body is the maintainer's: the keyed stores' key -> data-dir
 * map (`<dirId>\t<urlencoded key>` lines), the shard store's running token
 * offset, or `b=<id>` for the chain stores, whose committed state is the
 * chain of every committed data directory. The PQ index commits with empty
 * markers `_committed/b=<id>` instead, and binds a rebuild target with a
 * `_graft_rebuild_src` stamp.
 *
 *  - Commit point: a batch writes its data directory first, then
 *    [[publish]]es its manifest to a temp file and renames it into place.
 *    The single atomic rename IS the commit (no torn pointer, no _SUCCESS
 *    races); a rename that finds the manifest already there is a zombie
 *    query's commit of the same batch, byte-identical because the content
 *    is deterministic, and is accepted.
 *  - Replay rule: the committed state is the highest-numbered manifest
 *    ([[committedVersion]]). A batch whose id is at or below it returns
 *    before writing anything. A batch that crashed mid-write left no
 *    manifest, so its replay recomputes the SAME data directory from the
 *    SAME committed predecessors: an orphan is overwritten, never double
 *    counted, and readers never see it (they list manifests, not data).
 *  - GC rule (keyed stores): after each commit, data directories
 *    referenced by neither the new nor the previous manifest are deleted,
 *    and so are manifests older than the previous one. The previous
 *    manifest's window protects readers mid-scan. Chain stores keep every
 *    directory until [[foldInto]] folds the chain into a fresh path.
 *  - Scope binding: batch ids mean something only within one streaming
 *    checkpoint. [[checkScope]] records the checkpoint's identity in
 *    `_graft_scope` on the first batch; resuming the store under a
 *    DIFFERENT checkpoint fails fast instead of silently skipping (ids
 *    restart at 0 and read as replays) or double-counting batches. Without
 *    a checkpoint the scope is unique per call ([[scopeOf]]), so such a
 *    store cannot be resumed; there is no safe way to resume one.
 *    Parameter pins (`_graft_params` and friends) are the same write-once
 *    [[checkStamp]].
 */
private[graft] object CommitStore {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val ManifestDir = "_manifests"
  private val MarkerDir = "_committed"
  private val VectorsDir = "vectors"

  def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** A batch's data directory, or one of its leaves:
    * `storePath/data/b=<id>[/leaf]`. */
  def dataDir(storePath: String, id: Long, leaf: String = ""): String =
    if (leaf.isEmpty) s"$storePath/data/b=$id" else s"$storePath/data/b=$id/$leaf"

  /** The semantic store's vector snapshot of batch `id`:
    * `storePath/vectors/b=<id>`, written beside its `labels/` store. */
  def vectorsDir(storePath: String, id: Long): String = s"$storePath/$VectorsDir/b=$id"

  /** Batch ids with a [[vectorsDir]] snapshot under `storePath`, ascending. */
  def vectorIds(spark: SparkSession, storePath: String): Seq[Long] = {
    val (fs, root) = fsOf(spark, storePath)
    committedIds(fs, root, VectorsDir, "b=")
  }

  /** The store's checkpoint identity: a digest of the checkpoint location,
    * or a fresh id per call without one. */
  def scopeOf(checkpointLocation: Option[String]): String =
    checkpointLocation
      .map(c => java.security.MessageDigest.getInstance("MD5")
        .digest(c.getBytes(UTF_8))
        .map("%02x".format(_)).mkString)
      // no checkpoint -> no safe resume; a fresh scope per call makes any
      // restart over the same store fail fast instead of dropping batches
      .getOrElse(s"ephemeral-${java.util.UUID.randomUUID()}")

  /** The streaming entry every maintainer shares: derive the store's scope
    * from the checkpoint ([[scopeOf]]), attach the checkpoint when there is
    * one, and drive `batchFn(batch, batchId, scope)` from `foreachBatch`.
    * Returns the StreamingQuery; the caller owns its lifecycle. */
  def maintain(
      data: DataFrame,
      checkpointLocation: Option[String],
      outputMode: String = "append")(
      batchFn: (DataFrame, Long, String) => Unit): StreamingQuery = {
    val scope = scopeOf(checkpointLocation)
    val writer = data.writeStream
      .outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batchFn(batch, batchId, scope)
      }
    checkpointLocation.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }

  /** A write-once parameter pin the [[guard]] checks: `value` under
    * `file`; a different stored value fails with `mismatch(stored, given)`. */
  final case class Pin(
      value: String,
      mismatch: (String, String) => String,
      file: String = "_graft_params")

  /** One batch's view of its store, handed to a [[guard]] body: where its
    * leaves go, the committed version it builds on, and its commit point,
    * which the body calls LAST. */
  final class Batch private[CommitStore] (
      fs: FileSystem,
      root: Path,
      storePath: String,
      val id: Long,
      val committed: Option[Long]) {

    /** This batch's data directory, or one of its leaves. */
    def dir(leaf: String = ""): String = dataDir(storePath, id, leaf)

    /** The commit point: publish this batch's manifest (by default a chain
      * store's, which names its directory). */
    def commit(body: String = s"b=$id"): Unit = CommitStore.commit(fs, root, id, body)

    /** The committed keyed manifest; empty before the first commit. */
    def keys: Map[String, Long] =
      committed.map(readKeys(fs, root, _)).getOrElse(Map.empty)

    /** A keyed store's commit point: publish `manifest` with the `touched`
      * keys moved to this batch's directory, then garbage-collect (the GC
      * rule): drop data dirs referenced by neither the new nor the previous
      * manifest, and manifests older than the previous one. */
    def commitKeys(manifest: Map[String, Long], touched: Set[String]): Unit = {
      val next = manifest ++ touched.iterator.map(_ -> id)
      commit(keysBody(next))
      val live = next.values.toSet ++ manifest.values.toSet
      val data = new Path(root, "data")
      if (fs.exists(data)) {
        listIds(fs, data, "b=").filterNot(live)
          .foreach(d => fs.delete(new Path(data, s"b=$d"), true))
      }
      val manifests = new Path(root, ManifestDir)
      listIds(fs, manifests, "m=").filter(_ < committed.getOrElse(id))
        .foreach(m => fs.delete(new Path(manifests, s"m=$m"), false))
    }
  }

  /**
   * The batch guard every maintainer's `xBatch` runs under. In order: check
   * the scope stamp ([[checkScope]]); check the optional parameter `pin`
   * with the caller's mismatch text; return before writing anything when
   * `batchId` is at or below the committed version (a replay); return when
   * `skipEmpty` and the batch has no rows (an empty batch commits nothing);
   * and only then run `body` with the batch's [[Batch]] handle. The body
   * writes its leaves and calls the handle's commit last.
   */
  def guard(
      batch: DataFrame,
      batchId: Long,
      storePath: String,
      scope: String,
      pin: Option[Pin] = None,
      skipEmpty: Boolean = true)(body: Batch => Unit): Unit = {
    val spark = batch.sparkSession
    val (fs, root) = fsOf(spark, storePath)
    checkScope(fs, root, scope)
    pin.foreach(p => checkStamp(fs, root, p.file, p.value, p.mismatch))
    val committed = committedVersion(spark, storePath)
    if (!committed.exists(batchId <= _) && !(skipEmpty && batch.isEmpty)) {
      body(new Batch(fs, root, storePath, batchId, committed))
    }
  }

  /** A small file, read whole. */
  def readText(fs: FileSystem, p: Path): String = {
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, UTF_8)
  }

  /** Write `body` to `dst` atomically: a temp file beside it, then one
    * rename. True when this call placed the file; false when the rename
    * found `dst` already there (a concurrent writer won; the caller decides
    * whether its content is acceptable). The temp file never survives. */
  def publish(fs: FileSystem, dst: Path, body: String, what: String): Boolean = {
    val dir = dst.getParent
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".${dst.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    fs.rename(tmp, dst) || {
      fs.delete(tmp, false)
      if (!fs.exists(dst)) throw new java.io.IOException(s"could not $what $dst")
      false
    }
  }

  /** Write-once stamp file under `root`: the first writer records `value`;
    * later calls must present the same value or fail with
    * `fail(mismatch(stored, given))`. A writer that loses the first-write
    * race is checked against the winner's value. */
  def checkStamp(
      fs: FileSystem,
      root: Path,
      fileName: String,
      value: String,
      mismatch: (String, String) => String,
      fail: String => RuntimeException = new IllegalStateException(_)): Unit = {
    val p = new Path(root, fileName)
    if (fs.exists(p) || !publish(fs, p, value, "establish stamp at")) {
      val stored = readText(fs, p).trim
      if (stored != value) throw fail(mismatch(stored, value))
    }
  }

  /** The first batch records the checkpoint identity; later batches must
    * match it (see the object doc's scope binding). */
  private def checkScope(fs: FileSystem, root: Path, scope: String): Unit =
    checkStamp(fs, root, "_graft_scope", scope,
      (stored, given) =>
        s"store at $root was maintained under a different streaming " +
          s"checkpoint (scope $stored, this query: $given). Batch ids are " +
          "only meaningful within one checkpoint; continuing would " +
          "double-count or silently drop replayed batches. Resume with the " +
          "original checkpointLocation, or start a NEW store path.")

  /** Copy the source's scope and params stamps (compaction keeps the
    * stream's identity and parameter pins). They are write-once at the
    * destination too: a destination already carrying a DIFFERENT stamp (a
    * store initialized but never committed, or another stream's path) fails
    * loudly instead of having its identity silently clobbered; an equal
    * stamp is a no-op (an idempotent compaction retry). */
  def copyStamps(fs: FileSystem, root: Path, dfs: FileSystem, droot: Path): Unit =
    Seq("_graft_scope", "_graft_params").foreach { stamp =>
      val src = new Path(root, stamp)
      if (fs.exists(src)) {
        checkStamp(dfs, droot, stamp, readText(fs, src).trim,
          (_, _) =>
            s"compactStore: destination $droot already carries a " +
              s"different $stamp pin — it belongs to another stream " +
              "(or was initialized under other parameters); compact " +
              "into a fresh path instead of overwriting its identity")
      }
    }

  /** Ids named `<prefix><id>` in `root/dir`, ascending; temp files and
    * other names are ignored. The directory must exist. */
  private def listIds(fs: FileSystem, dir: Path, prefix: String): Seq[Long] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(prefix)) scala.util.Try(n.stripPrefix(prefix).toLong).toOption
      else None
    }.sorted

  /** Committed ids in `root/dir` (files `<prefix><id>`), ascending; empty
    * before the first commit. */
  def committedIds(
      fs: FileSystem, root: Path, dir: String, prefix: String): Seq[Long] = {
    val d = new Path(root, dir)
    if (fs.exists(d)) listIds(fs, d, prefix) else Seq.empty
  }

  /** Batch ids with a committed manifest, ascending. */
  def committedIds(spark: SparkSession, storePath: String): Seq[Long] = {
    val (fs, root) = fsOf(spark, storePath)
    committedIds(fs, root, ManifestDir, "m=")
  }

  /** Highest-numbered committed manifest id. None before the first commit.
    * Fails fast on a rollup written by the pre-manifest layout (v=<id>
    * directories) instead of silently reading it as empty. */
  def committedVersion(spark: SparkSession, storePath: String): Option[Long] = {
    val (fs, root) = fsOf(spark, storePath)
    val dir = new Path(root, ManifestDir)
    if (fs.exists(dir)) listIds(fs, dir, "m=").lastOption
    else {
      if (fs.exists(root) && fs.listStatus(root).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith("v="))) {
        throw new IllegalStateException(
          s"rollup at $root uses the legacy v=<id> directory layout; this " +
            "version reads manifest-committed rollups only. Migrate by " +
            "reading the newest v= directory and seeding a new rollup path " +
            "from it (or re-run the stream from scratch).")
      }
      None
    }
  }

  /** Body of the committed manifest `id`. */
  def readManifest(fs: FileSystem, root: Path, id: Long): String =
    readText(fs, new Path(root, s"$ManifestDir/m=$id"))

  /** The commit point: publish manifest `id` with `body`. */
  private def commit(fs: FileSystem, root: Path, id: Long, body: String): Unit =
    publish(fs, new Path(root, s"$ManifestDir/m=$id"), body, "commit manifest")

  /** A keyed manifest's body: one `<dirId>\t<urlencoded key>` line per
    * key, sorted. */
  def keysBody(entries: Map[String, Long]): String =
    entries.toSeq.sorted.map { case (key, dir) =>
      s"$dir\t${URLEncoder.encode(key, "UTF-8")}"
    }.mkString("\n")

  /** The keyed manifest `id`: key -> id of the data directory holding the
    * key's current rows. */
  def readKeys(fs: FileSystem, root: Path, id: Long): Map[String, Long] =
    readManifest(fs, root, id)
      .split("\n").iterator.filter(_.nonEmpty).map { line =>
        val Array(dir, enc) = line.split("\t", 2)
        URLDecoder.decode(enc, "UTF-8") -> dir.toLong
      }.toMap

  /** The table a keyed manifest names: the union of its data directories,
    * each filtered to the keys (`keyCol` values) the manifest maps to it,
    * read under `schema` (default: one data file's footer schema, so no
    * read submits a schema-inference job). None for an empty manifest. */
  def keyedTable(
      spark: SparkSession,
      storePath: String,
      manifest: Map[String, Long],
      keyCol: String,
      schema: Option[StructType] = None): Option[DataFrame] = {
    val dirs = manifest.groupBy(_._2).toSeq
      .map { case (id, byKey) => dataDir(storePath, id) -> byKey.keys.toSeq }
    lazy val pinned = schema.getOrElse(footerSchema(spark, dirs.map(_._1)))
    dirs.map { case (dir, keys) =>
      spark.read.schema(pinned).parquet(dir).filter(col(keyCol).isin(keys: _*))
    }.reduceOption(_ unionAll _)
  }

  /** The committed table of a keyed store; None before the first commit
    * (or while every commit so far was empty). */
  def committedKeyed(
      spark: SparkSession, storePath: String, keyCol: String): Option[DataFrame] = {
    val (fs, root) = fsOf(spark, storePath)
    committedVersion(spark, storePath)
      .flatMap(v => keyedTable(spark, storePath, readKeys(fs, root, v), keyCol))
  }

  /** Ids of the PQ index's committed batches, ascending. */
  def committedMarkers(spark: SparkSession, storePath: String): Seq[Long] = {
    val (fs, root) = fsOf(spark, storePath)
    committedIds(fs, root, MarkerDir, "b=")
  }

  /** The PQ index's commit point: an empty marker `_committed/b=<id>`. */
  def commitMarker(fs: FileSystem, root: Path, id: Long): Unit =
    publish(fs, new Path(root, s"$MarkerDir/b=$id"), "", "commit index batch")

  /**
   * The compaction/migration wrapper: refuse a source with no committed
   * batch or a destination that already holds a committed `kind` store,
   * pin the destination's stamps FIRST (`stamp`; a verbatim
   * [[copyStamps]] by default), so a destination bound to another stream
   * fails before any data lands there, run `fold(ids, v)` to write the
   * fold directory `b=<v>` (v = the source's committed version), and
   * commit `v` LAST, so a crash mid-fold leaves no committed destination.
   * A fold reads the source chain with [[readChain]] over `ids`, which
   * never advises compaction. The same stream then resumes against
   * `dstPath`: a replayed batch at or below `v` returns before writing,
   * the next real batch appends.
   */
  def foldInto(
      spark: SparkSession,
      srcPath: String,
      dstPath: String,
      op: String,
      kind: String,
      stamp: (FileSystem, Path, FileSystem, Path) => Unit = copyStamps)(
      fold: (Seq[Long], Long) => Unit): Unit = {
    val ids = committedIds(spark, srcPath)
    require(ids.nonEmpty, s"$op: no committed batches at $srcPath")
    require(committedIds(spark, dstPath).isEmpty,
      s"$op: $dstPath already holds a committed $kind store")
    val (fs, root) = fsOf(spark, srcPath)
    val (dfs, droot) = fsOf(spark, dstPath)
    stamp(fs, root, dfs, droot)
    val v = ids.max
    fold(ids, v)
    commit(dfs, droot, v, s"b=$v")
  }

  /** Committed-chain length past which the chain readers WARN that read
    * planning is paying per-batch file overhead — the signal to run the
    * store's `compactStore`. Advisory only; reads stay correct at any
    * length. */
  val CompactionAdviceLength = 64

  /** One WARN when a committed chain has outgrown the advice length. */
  def adviseCompaction(batches: Int, storePath: String, maintainer: String): Unit =
    if (batches > CompactionAdviceLength) {
      log.warn(s"$maintainer store at $storePath holds $batches committed " +
        "batches — read planning pays per-batch file overhead; consider " +
        s"$maintainer.compactStore to fold the chain")
    }

  /** Per-batch data-directory writer shared by the maintainers:
    * `filesPerBatch` caps the directory's parquet file count (coalesce —
    * a CAP, not a floor; no shuffle). 1, the default everywhere, keeps
    * micro-batch stores compact; raise it when a batch is large enough
    * that one writer task is the throughput ceiling (the firehose
    * regime). */
  def writeBatchDir(df: DataFrame, filesPerBatch: Int, path: String): Unit = {
    require(filesPerBatch >= 1,
      s"filesPerBatch must be >= 1 (got $filesPerBatch)")
    df.coalesce(filesPerBatch).write.mode("overwrite").parquet(path)
  }

  /** Fold writer for compaction/migration: `files` == 1 keeps the classic
    * single-file fold (byte-compatible with every store written so far);
    * `files` > 1 REPARTITIONS on every column — a deterministic
    * row-to-file assignment, stable across retries — so the fold's final
    * stage and its write run with `files` parallel tasks instead of one.
    * Compacting a long chain is exactly where the one-writer ceiling
    * bites at scale (the whole committed history flows through the
    * fold), so unlike the per-batch cap this path buys parallelism with
    * one extra shuffle. */
  def writeFoldDir(df: DataFrame, files: Int, path: String): Unit = {
    require(files >= 1, s"files must be >= 1 (got $files)")
    val out =
      if (files == 1) df.coalesce(1)
      else df.repartition(files, df.columns.toSeq.map(col): _*)
    out.write.mode("overwrite").parquet(path)
  }

  /** One multi-root parquet read of `leaf` over the batches `ids` of the
    * store: a SINGLE scan node whatever the chain length. The per-batch
    * read-then-unionAll spelling builds O(batches) plan nodes, and on a
    * long-lived store plan construction itself becomes the reader's
    * bottleneck — the file listing work is identical either way, the plan
    * size is not. Row order across roots is unspecified (as with union);
    * no caller depends on it. REQUIRES a schema-stable chain: unlike
    * union, a multi-root read performs no type coercion — every
    * maintainer pins its written types per batch (SessionStreaming casts
    * the merge-widened value_sum back to the batch-kernel decimal for
    * exactly this reason). The schema is read from one footer
    * ([[footerSchema]]), so building the read submits no job. */
  def readChain(
      spark: SparkSession, storePath: String, ids: Seq[Long], leaf: String = ""): DataFrame = {
    val paths = ids.map(dataDir(storePath, _, leaf))
    spark.read.schema(footerSchema(spark, paths)).parquet(paths: _*)
  }

  /** One multi-root read of partition-style batch roots `<base>/b=<id>`
    * (non-empty, one shared `<base>`), each written by
    * `partitionBy(partCol)`: a single scan node under the footer schema
    * plus the INT `partCol` (the type partition inference gives the
    * stores' cell ids), so building the read submits no job. The
    * `basePath` option makes the `b=` roots legal (multi-root partition
    * discovery rejects them as a conflicting structure otherwise); the `b`
    * column it then discovers is dropped. */
  def readPartitionedChain(
      spark: SparkSession, roots: Seq[String], partCol: String): DataFrame = {
    val (fs, first) = fsOf(spark, roots.head)
    val leaves = roots.flatMap { r =>
      Option(fs.globStatus(new Path(r, s"$partCol=*"))).toSeq.flatten.map(_.getPath.toString)
    }
    val schema = footerSchema(spark, leaves).add("b", LongType).add(partCol, IntegerType)
    spark.read.schema(schema).option("basePath", first.getParent.toString)
      .parquet(roots: _*).drop("b")
  }

  /** [[readChain]] over every committed batch; None before the first
    * commit. `advise` names the maintainer whose compaction advisory a
    * long chain triggers ([[adviseCompaction]]): an external read passes
    * it, a read inside a batch or a fold passes None and stays silent. */
  def committedChain(
      spark: SparkSession,
      storePath: String,
      leaf: String,
      advise: Option[String]): Option[DataFrame] = {
    val ids = committedIds(spark, storePath)
    if (ids.isEmpty) None
    else {
      advise.foreach(adviseCompaction(ids.size, storePath, _))
      Some(readChain(spark, storePath, ids, leaf))
    }
  }

  /** The batch-id column of the funnel and session stores' delta leaves. */
  val DeltaBatchCol = "__graft_delta_batch"

  /** The delta-chain fold of the funnel and session stores: each delta
    * leaf holds one row per touched key, tagged with its batch id in
    * [[DeltaBatchCol]], so max(struct(batch, ...)) IS each key's latest
    * row — no window, no driver state. The key is the leading columns
    * that satisfy `isKey`. */
  def latestPerKey(all: DataFrame, isKey: String => Boolean): DataFrame = {
    val dataCols = all.columns.toSeq.filter(_ != DeltaBatchCol)
    val keyCols = dataCols.takeWhile(isKey)
    val rest = dataCols.drop(keyCols.size)
    all
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct((col(DeltaBatchCol) +: rest.map(col)): _*)).as("__graft_latest"))
      .select((keyCols.map(col) ++ rest.map(c => col(s"__graft_latest.`$c`").as(c))): _*)
  }

  /** The footer key under which Spark's parquet writer stores the row
    * schema it wrote. */
  private val RowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The first parquet part file under `paths`. */
  private def firstPart(conf: Configuration, paths: Seq[String]): Path =
    paths.iterator.flatMap { p =>
      val dir = new Path(p)
      dir.getFileSystem(conf).listStatus(dir).iterator
        .map(_.getPath).filter(_.getName.startsWith("part-"))
    }.nextOption().getOrElse(throw new IllegalStateException(
      s"no parquet part file under ${paths.mkString(", ")}"))

  /** The row schema of the parquet data under `paths`, read on the driver
    * from the footer of the first part file found: the file and the key
    * Spark's own schema inference reads, without the Spark job that
    * inference submits on every read (even for one footer). Every store
    * directory is written by Spark, so the key is always there. */
  def footerSchema(spark: SparkSession, paths: Seq[String]): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val part = firstPart(conf, paths)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(part, conf))
    val json =
      try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(RowSchemaKey)
      finally reader.close()
    if (json == null) {
      throw new IllegalStateException(s"$part carries no Spark row schema")
    }
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** The first BIGINT column of the first row of a one-row leaf under
    * `dir` (the watermark tier's high-water mark), read on the driver
    * without a Spark job. */
  def firstLong(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val part = firstPart(conf, Seq(dir))
    val reader = ParquetReader.builder(new GroupReadSupport(), part).withConf(conf).build()
    try {
      val row = reader.read()
      if (row == null) throw new IllegalStateException(s"$part holds no row")
      row.getLong(0, 0)
    } finally reader.close()
  }
}
