package graft.streaming

import graft.pipeline.{IVF, Pq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming maintenance of a product-quantized ANN index: each
 * micro-batch of (id, vector) rows is encoded under FROZEN IVF + PQ
 * models (train once — a model retrained mid-stream would silently
 * re-cell and re-code the index) and appended as an immutable
 * cell-partitioned batch directory under a crash-safe marker commit.
 *
 * The daily-embedding-ingest story at 100 TB: vectors arrive
 * continuously, the index is always queryable at its last committed
 * state, and each batch costs one encode projection + one
 * partitioned write — never a rewrite of history.
 *
 * Operational note — small files: a long-running stream accumulates one
 * directory tree per batch, and probe planning cost grows with the file
 * count. Because batch directories are immutable and the markers are
 * the ONLY liveness signal, in-place compaction cannot be made safe for
 * concurrent readers under this scheme (a reader unioning old and new
 * copies would double-count candidates). The supported pattern is the
 * offline rebuild into a FRESH path — [[rebuildIndex]] is the one-call
 * operator: it collapses the committed batches to a single
 * `data/b=0/cell=*` tree (one file per cell), commits it under the same
 * marker protocol, and stamps the old store with a retire pointer
 * ([[retiredTo]]) that new queries follow. Old readers keep working
 * against the old store's unchanged committed state. Same train-once
 * models, so the rebuilt index holds the same rows. Because batch
 * directories are IMMUTABLE (append-only index; deletes are the
 * dedup store's job), the commit protocol is simpler than
 * [[TopnStreaming.maintainRollup]]'s manifest: data lands in
 * `data/b=<batchId>/cell=<c>/`, then one atomic rename of an empty
 * marker `_committed/b=<batchId>` publishes it. A replayed batch id
 * returns before writing; a crash between data and marker leaves an
 * orphan directory that the replay overwrites byte-identically
 * (deterministic encode) before committing.
 */
object PqStreaming {

  /** Ids of committed batches (empty before the first commit). */
  def committedBatches(spark: SparkSession, storePath: String): Seq[Long] =
    CommitStore.committedMarkers(spark, storePath)

  /** One micro-batch of the append protocol (exposed for deterministic
    * crash-path testing; [[maintainIndex]] drives it). */
  private[graft] def appendBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      pq: Pq.Model,
      ivf: IVF.Model,
      storePath: String): Unit = {
    val spark = batch.sparkSession
    val (fs, root) = CommitStore.fsOf(spark, storePath)
    if (committedBatches(spark, storePath).contains(batchId)) return
    if (batch.isEmpty) return

    Pq.index(batch, idCol, vecCol, pq, ivf)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(CommitStore.dataDir(storePath, batchId))
    CommitStore.commitMarker(fs, root, batchId)
  }

  /** The committed index: one read of the committed batch directories,
    * schema (cand_id, codes, cell). Empty-schema DataFrame before the
    * first commit. Orphan (uncommitted) directories are never read. */
  def committedIndex(spark: SparkSession, storePath: String): DataFrame = {
    val ids = committedBatches(spark, storePath)
    if (ids.isEmpty) spark.emptyDataFrame
    else CommitStore.readPartitionedChain(
      spark, ids.map(id => CommitStore.dataDir(storePath, id)), "cell")
  }

  /**
   * One-call offline rebuild of a committed index store into a FRESH
   * path — the close of the small-files contract in the object doc. A
   * long-running stream leaves one immutable directory tree per batch;
   * this reads the COMMITTED index (orphans never included), collapses
   * it to a single batch tree `data/b=0/cell=*` in `rebuiltPath` —
   * repartitioned on `cell` so each cell lands in one file — commits it
   * under the same atomic-marker protocol, and stamps the old store
   * with a retire pointer ([[retiredTo]]).
   *
   * Safety properties, all pinned by StreamingSpec:
   *  - the rebuilt store's [[searchCommitted]] results equal the old
   *    store's bit-identically (same (cand_id, codes, cell) rows, same
   *    frozen models — the rebuild moves bytes, it never re-encodes);
   *  - the old store is NOT mutated: its committed state stays readable
   *    throughout and after (concurrent readers are safe by
   *    construction — this is why compaction is a fresh path, not
   *    in-place);
   *  - replay no-op: a `rebuiltPath` that already has a committed batch
   *    returns without writing, so a crashed-and-retried rebuild (or a
   *    double call) cannot duplicate rows; a crash BETWEEN data and
   *    marker leaves an orphan the retry overwrites from the same
   *    committed source before committing.
   *
   * Streams writing to the old store after the rebuild snapshot keep
   * committing there (the pointer does not redirect writers); restart
   * the maintenance stream against `rebuiltPath` with a fresh
   * checkpoint to migrate, then drop the old store once its readers
   * drain.
   *
   * (The [[TopnStreaming.maintainClusters]] bucketed label store does
   * NOT need this operator: its manifest GC keeps live data directories
   * bounded by `numBuckets` — dirs referenced by neither the new nor
   * previous manifest are deleted at each commit — so file count is
   * O(numBuckets), not O(stream lifetime).)
   */
  def rebuildIndex(
      spark: SparkSession,
      storePath: String,
      rebuiltPath: String): Unit = {
    val (fs, root) = CommitStore.fsOf(spark, storePath)
    val (rfs, rroot) = CommitStore.fsOf(spark, rebuiltPath)
    requireDisjointTarget(fs.makeQualified(root), rfs.makeQualified(rroot),
      "rebuildIndex", storePath)
    // an empty source means nothing to rebuild — stamping a retire pointer
    // at a data-less target would silently dead-end readers that follow it
    // (and a mistyped source path would retire a live store)
    require(committedBatches(spark, storePath).nonEmpty,
      s"nothing to rebuild: $storePath has no committed batches")
    // bind the target to THIS rebuild before writing: a crash-retry of the
    // same call sees its own stamp and proceeds idempotently, while reusing
    // a path some OTHER rebuild/re-encode already produced fails fast
    // instead of retiring the old store to data it did not build
    claimRebuildTarget(rfs, rroot, s"rebuild:$storePath", "rebuildIndex")
    if (committedBatches(spark, rebuiltPath).isEmpty) {
      committedIndex(spark, storePath)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(CommitStore.dataDir(rebuiltPath, 0L))
      CommitStore.commitMarker(rfs, rroot, 0L)
    }
    writeRetirePointer(fs, root, rebuiltPath)
  }

  /** Retire pointer, written LAST — only after the rebuilt store is
    * committed (or was already); temp+rename so readers never see a
    * partial pointer. A re-stamp with the SAME target (the common
    * crash-retry) is a read-compare no-op, so it opens no delete/rename
    * window; only a genuine repoint deletes first, and [[retiredTo]]
    * tolerates that brief gap with one retry. */
  private def writeRetirePointer(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      rebuiltPath: String,
      attempts: Int = 3): Unit = {
    val dst = new org.apache.hadoop.fs.Path(root, "_retired")
    if (fs.exists(dst)) {
      if (CommitStore.readText(fs, dst) == rebuiltPath) return
      fs.delete(dst, false)
    }
    if (!CommitStore.publish(fs, dst, rebuiltPath, "write retire pointer")) {
      // a concurrent writer won the rename, maybe with a DIFFERENT target
      // — re-enter (bounded): content equality returns, a mismatch
      // repoints, so this caller never proceeds as if ITS pointer landed
      if (attempts <= 1) {
        throw new java.io.IOException(s"could not write retire pointer $dst")
      }
      writeRetirePointer(fs, root, rebuiltPath, attempts - 1)
    }
  }

  /**
   * The other half of the drift-retrain loop: rebuild a store under NEW
   * models. [[rebuildIndex]] moves committed bytes (same models —
   * compaction); after [[graft.pipeline.Pq.driftScore]] trips and the
   * models are retrained, the codes themselves are stale and NOT
   * invertible, so the fresh store must re-encode from the raw vector
   * source. One call: encode `vectors` under `newPq`/`newIvf` into
   * `rebuiltPath` as a single committed `data/b=0/cell=*` tree (the
   * compacted layout — one file per cell) and stamp the old store with
   * the retire pointer. Same idempotence/fresh-path contract as
   * [[rebuildIndex]]. Queries against the new store MUST use the new
   * models — an index encoded under one model scored against another's
   * LUT is garbage (PqAdc fails fast only on shape mismatch).
   */
  def reencodeStore(
      spark: SparkSession,
      storePath: String,
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      newPq: Pq.Model,
      newIvf: IVF.Model,
      rebuiltPath: String): Unit = {
    val (fs, root) = CommitStore.fsOf(spark, storePath)
    val (rfs, rroot) = CommitStore.fsOf(spark, rebuiltPath)
    requireDisjointTarget(fs.makeQualified(root), rfs.makeQualified(rroot),
      "reencodeStore", storePath)
    // the claim includes a MODEL fingerprint: a retry of this exact
    // re-encode is idempotent, but a path holding a different rebuild (or
    // a re-encode under different models — possibly the SAME (m, ks)
    // shape, which PqAdc cannot catch) fails fast instead of retiring the
    // old store to codes that do not match the models queries will use
    claimRebuildTarget(rfs, rroot,
      s"reencode:$storePath:${modelFingerprint(newPq, newIvf)}",
      "reencodeStore")
    if (committedBatches(spark, rebuiltPath).isEmpty) {
      Pq.index(vectors, idCol, vecCol, newPq, newIvf)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(CommitStore.dataDir(rebuiltPath, 0L))
      CommitStore.commitMarker(rfs, rroot, 0L)
    }
    writeRetirePointer(fs, root, rebuiltPath)
  }

  /** Deterministic value fingerprint of a model pair (same bytes -> same
    * fingerprint on any JVM: Scala Seq[Double] hashing is MurmurHash3 over
    * the elements' fixed hashCodes). */
  private def modelFingerprint(pq: Pq.Model, ivf: IVF.Model): String = {
    val h1 = pq.codebooks.flatten.flatten.toSeq.hashCode()
    val h2 = ivf.centroids.flatten.toSeq.hashCode()
    f"$h1%08x-$h2%08x-m${pq.m}k${pq.ks}c${ivf.k}"
  }

  /** The fresh-path contract, nesting included: the rebuild/re-encode
    * target must not BE the store, sit INSIDE it (a target under the live
    * store's layout would write `_markers`/`_graft_rebuild_src` trees into
    * directories its readers scan), or CONTAIN it (retiring the store to an
    * ancestor aliases the old data into the new store's tree). Qualified
    * paths compared with a trailing separator so `/store2` is not treated
    * as nested in `/store`. */
  private def requireDisjointTarget(
      store: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path,
      op: String,
      storePath: String): Unit = {
    val s = store.toString.stripSuffix("/") + "/"
    val t = target.toString.stripSuffix("/") + "/"
    require(!s.startsWith(t) && !t.startsWith(s),
      s"$op target must be a FRESH path disjoint from the store, got " +
        s"target $target vs store $storePath (in-place or nested rebuild " +
        "is unsafe for concurrent readers)")
  }

  /** Bind a rebuild/re-encode target path to one producing operation via
    * a write-once `_graft_rebuild_src` stamp: absent -> claim it; present
    * and equal -> our own crash-retry, proceed; present and different (a
    * concurrent claimant's included) -> fail fast. */
  private def claimRebuildTarget(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      claim: String,
      op: String): Unit =
    CommitStore.checkStamp(fs, root, "_graft_rebuild_src", claim,
      (existing, _) =>
        s"$op target $root was produced by '$existing' and cannot be reused " +
          s"for '$claim' — every rebuild/re-encode needs a FRESH path " +
          "(reusing one would point retired readers at codes built by a " +
          "different operation or different models)",
      fail = m => new IllegalArgumentException(s"requirement failed: $m"))

  /** Where a retired store points (None for a live store): the fresh path
    * written by [[rebuildIndex]]. New queries should follow it; old
    * readers keep working against the retired store's committed state. */
  def retiredTo(spark: SparkSession, storePath: String): Option[String] = {
    val (fs, root) = CommitStore.fsOf(spark, storePath)
    val p = new org.apache.hadoop.fs.Path(root, "_retired")
    def readOnce(): Option[String] =
      if (!fs.exists(p)) None else Some(CommitStore.readText(fs, p))
    // one retry: a concurrent REPOINT (not the common same-target re-stamp,
    // which never deletes) has a brief delete->rename window
    try readOnce()
    catch { case _: java.io.FileNotFoundException => readOnce() }
  }

  /**
   * Probe the committed index: the query batch's probed-cell set becomes
   * a `cell` filter (partition pruning inside each batch directory's
   * `cell=` layout), then the standard broadcast-LUT ADC scan + top-k,
   * with optional exact rerank against a raw-vector table.
   */
  def searchCommitted(
      spark: SparkSession,
      storePath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      pq: Pq.Model,
      ivf: IVF.Model,
      nprobe: Int = 4,
      rerank: Int = 0,
      rerankWith: Option[DataFrame] = None): DataFrame = {
    require(rerank == 0 || rerank >= k,
      s"rerank shortlist ($rerank) must be 0 (off) or >= k ($k)")
    require((rerank == 0) == rerankWith.isEmpty,
      "rerank and rerankWith must be set together")
    Pq.requireBoundedQueries(queries)
    // a store with no committed batch yet is empty, not broken — return
    // zero rows with the output schema instead of failing to resolve a
    // `cell` column on the schemaless empty fallback
    if (committedBatches(spark, storePath).isEmpty) {
      return queries.select(col(idCol).as("query_id"),
        lit(0L).as("rank"), col(idCol).as("neighbor_id")).limit(0)
    }
    val touched = Pq.probedCells(queries, vecCol, ivf, nprobe)
    val idx = committedIndex(spark, storePath).filter(col("cell").isin(touched: _*))
    Pq.searchOn(idx, queries, idCol, vecCol, k, pq, ivf, nprobe, rerank, rerankWith)
  }

  /**
   * The drift audit bound to a committed store: [[graft.pipeline.Pq.driftScore]]
   * over the committed batches (partition-pruned to the sampled queries'
   * probed cells, like [[searchCommitted]]). This is the periodic health
   * check a long-running [[maintainIndex]] stream schedules — frozen
   * models decay SILENTLY as the ingested distribution drifts, and when
   * the mean `agree_e6` falls below the deploy-time floor the operator
   * sequence is: retrain on a fresh sample of the current vectors,
   * re-encode into a fresh store, [[rebuildIndex]]-style retire of the
   * old one (re-encoding needs the raw vector source — codes are not
   * invertible). Empty store -> zero rows with the output schema.
   */
  def driftScoreCommitted(
      spark: SparkSession,
      storePath: String,
      vectors: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      pq: Pq.Model,
      ivf: IVF.Model,
      nprobe: Int = 4,
      rerank: Int = 50): DataFrame = {
    if (committedBatches(spark, storePath).isEmpty) {
      return queries.select(col(idCol).as("query_id"), lit(0L).as("agree_e6"))
        .limit(0)
    }
    val touched = Pq.probedCells(queries, vecCol, ivf, nprobe)
    val idx = committedIndex(spark, storePath).filter(col("cell").isin(touched: _*))
    Pq.driftScore(idx, vectors, queries, idCol, vecCol, k, pq, ivf, nprobe, rerank)
  }

  /** Drive [[appendBatch]] from a streaming (id, vector) source. */
  def maintainIndex(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      pq: Pq.Model,
      ivf: IVF.Model,
      storePath: String,
      checkpointDir: String): StreamingQuery =
    // the index binds no scope: its markers, not manifests, are the commit
    CommitStore.maintain(stream, Some(checkpointDir)) { (batch, batchId, _) =>
      appendBatch(batch, batchId, idCol, vecCol, pq, ivf, storePath)
    }
}
