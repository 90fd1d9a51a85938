package graft.streaming

import graft.{GraftConf, TopnFunctions}
import graft.core.TopnState

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured-Streaming extensions of the topn sketch family (beyond the
 * reference's surface — its "incremental" story is INSERT-then-merge rollup
 * tables, reference README.md:73-116; streams are the Spark-native
 * continuation of that design).
 *
 * Three families:
 *
 *  - Sketch streams. [[windowedSketches]] is the event-time
 *    tumbling-window sketch build, the streaming twin of the batch "daily
 *    rollup" pattern: the same `topn_add_agg` aggregate inside a
 *    watermarked window aggregation, whose append-mode rows land in the
 *    same `map<string,bigint>` rollup tables the batch path re-aggregates
 *    with `topn_union_agg`. [[runningTopK]] keeps a per-key top-k in
 *    `mapGroupsWithState` holding a [[TopnState]] (same eviction
 *    semantics, same wire format as the aggregate buffer) and emits it on
 *    every trigger — the "live dashboard" shape.
 *
 *  - Maintained keyed stores under [[CommitStore]]'s protocol:
 *    [[maintainRollup]] (a parquet rollup of per-(period, group) sketches
 *    merged batch by batch), [[maintainClusters]] (a bucketed
 *    duplicate-cluster labeling) and [[maintainSemanticClusters]]
 *    (SemDeDup clusters over an embedding stream). Each states only its
 *    batch kernel; the entry, the guard, the keyed manifest and its GC
 *    are CommitStore's.
 *
 *  - Dedup streams: [[streamingNearDupPairs]], [[streamingExactDedup]]
 *    and [[streamingFirstById]], keyed state with optional TTLs.
 *
 * Scale notes: sketch state per key is bounded (<= 3n counters, the
 * reference's cap), so state-store size is O(keys * n) regardless of
 * stream volume; both sketch shapes shuffle only by group key, identical
 * to the batch plans.
 */
object TopnStreaming {

  /** Event-time tumbling-window sketches:
    * (window_start, window_end, groupCol, sketch). */
  def windowedSketches(
      events: DataFrame,
      tsCol: String,
      groupCol: String,
      itemCol: String,
      windowDuration: String,
      watermark: String,
      numCounters: Int = GraftConf.DefaultNumberOfCounters): DataFrame = {
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration), col(groupCol))
      .agg(TopnFunctions.topn_add_agg(col(itemCol).cast("string"), numCounters).as("sketch"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(groupCol),
        col("sketch"))
  }

  /**
   * Maintain a parquet rollup table of per-(period, group) sketches from a
   * RAW event stream — the streaming twin of the reference's
   * "INSERT INTO rollup SELECT topn_add_agg(...) GROUP BY period" loop
   * (reference README.md:73-116). Each micro-batch is a true delta: it is
   * aggregated with `topn_add_agg` inside `foreachBatch` (plain batch
   * aggregation, no streaming state to double-count) and merged into the
   * stored sketches by one re-aggregation, `topn_union_agg(sketch,
   * numCounters)` over the delta and the touched periods' stored rows, at
   * the caller's budget (not the session's). Both sides hold at most n
   * entries, so a cell's union holds at most 2n < 3n: nothing is evicted,
   * and the result equals a pairwise `topn_union` entry for entry.
   *
   * Returns the StreamingQuery; the caller owns its lifecycle. Read the
   * maintained table with [[committedRollup]].
   *
   * Crash safety is the manifest commit protocol of [[CommitStore]] (its
   * header has the layout, commit point, replay rule, GC rule and scope
   * binding). What is particular to the rollup:
   *  - `rollupPath/_manifests/m=<id>` maps every live period to the data
   *    directory holding its current rows; a batch writes ONLY its touched
   *    periods (merged with their previous state) into a fresh
   *    `data/b=<batchId>` directory — per-batch work is O(touched
   *    periods), not O(rollup history);
   *  - `period` is stored as an ordinary STRING data column (not a
   *    partition directory), so no partition-value type inference can
   *    fork date- or number-shaped periods;
   *  - empty batches commit nothing and touch nothing;
   *  - readers take the schema from a footer (the commit path: the
   *    delta's), so no read submits a schema-inference job;
   *  - a directory whose periods were partially re-touched by later
   *    batches keeps its stale rows on disk (readers filter them by the
   *    manifest's period map) until its last referenced period moves —
   *    bounded read amplification in exchange for never rewriting
   *    untouched periods.
   */
  def maintainRollup(
      events: DataFrame,
      rollupPath: String,
      periodExpr: org.apache.spark.sql.Column,
      groupCol: String,
      itemExpr: org.apache.spark.sql.Column,
      numCounters: Int = GraftConf.DefaultNumberOfCounters,
      checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CommitStore.maintain(events, checkpointLocation) { (batch, batchId, scope) =>
      mergeBatch(batch, batchId, rollupPath, periodExpr, groupCol, itemExpr,
        numCounters, scope)
    }

  /** Rollup key for rows whose period expression evaluates to null. */
  val NullPeriodKey = "__GRAFT_NULL_PERIOD__"

  /** [[CommitStore.committedVersion]]: None before the first commit. */
  def committedVersion(
      spark: org.apache.spark.sql.SparkSession, rollupPath: String): Option[Long] =
    CommitStore.committedVersion(spark, rollupPath)

  /** The committed rollup table: (period, group, sketch). Empty-schema
    * DataFrame before the first commit. */
  def committedRollup(
      spark: org.apache.spark.sql.SparkSession, rollupPath: String): DataFrame =
    CommitStore.committedKeyed(spark, rollupPath, "period")
      .getOrElse(spark.emptyDataFrame)

  /** One micro-batch of the rollup maintenance protocol (exposed for
    * deterministic crash-path testing; `maintainRollup` drives it). */
  private[graft] def mergeBatch(
      batch: DataFrame,
      batchId: Long,
      rollupPath: String,
      periodExpr: org.apache.spark.sql.Column,
      groupCol: String,
      itemExpr: org.apache.spark.sql.Column,
      numCounters: Int,
      scope: String): Unit = {
    val spark = batch.sparkSession
    // no empty-batch probe: the delta below finds an empty batch for free
    CommitStore.guard(batch, batchId, rollupPath, scope, skipEmpty = false) { b =>
      // period is an ordinary STRING data column end to end (never a
      // partition directory), so date-/number-shaped periods cannot be
      // re-typed by partition-value inference on read. Rows whose period
      // evaluates to null (e.g. a null event time) roll up under a
      // distinguished key instead of NPE-ing the manifest writer — the same
      // move Hive's default partition makes.
      val delta = batch
        .groupBy(coalesce(periodExpr.cast("string"), lit(NullPeriodKey)).as("period"),
          col(groupCol))
        .agg(TopnFunctions.topn_add_agg(itemExpr, numCounters).as("sketch"))
        .cache()
      try {
        // fills the cache; (period, group) rows are few: dedupe on the driver
        val touched = delta.select("period").collect().map(_.getString(0)).toSet
        if (touched.nonEmpty) { // an empty batch commits nothing
          val manifest = b.keys
          // previous state of ONLY the touched periods — per-batch read/merge/
          // write cost is proportional to the batch, not the rollup's history
          val merged = CommitStore.keyedTable(spark, rollupPath,
            manifest.view.filterKeys(touched).toMap, "period", Some(delta.schema)) match {
            case None => delta
            case Some(old) =>
              delta.unionByName(old).groupBy(col("period"), col(groupCol))
                .agg(TopnFunctions.topn_union_agg(col("sketch"), numCounters).as("sketch"))
          }
          merged.write.mode("overwrite").parquet(b.dir())
          // the atomic commit: one rename of the new manifest file
          b.commitKeys(manifest, touched)
        }
      } finally delta.unpersist()
    }
  }

  // ---- streaming duplicate-cluster maintenance ---------------------------

  /** Internal labels bucket column (stored as STRING, like `period`). */
  private val BucketCol = "__graft_bucket"

  /**
   * Maintain a duplicate-cluster labeling over a STREAM of near-dup pairs
   * (e.g. the output of [[streamingNearDupPairs]] routed through a sink,
   * or any upstream pair source): per micro-batch, fold the new pairs into
   * the committed labeling with
   * [[graft.pipeline.Clustering.incrementalUpdateDelta]] — new-edges-sized
   * work, not corpus-sized — and commit with the same atomic manifest
   * protocol as [[maintainRollup]] (temp+rename manifest, replay-idempotent
   * by batch id, `_graft_scope` checkpoint binding, data directories
   * garbage-collected once neither the new nor the previous manifest
   * references them).
   *
   * Commit I/O is O(touched buckets), not O(corpus labels): the labeling
   * is partitioned into `numBuckets` stable hash buckets of doc_id, the
   * manifest maps each bucket to the data directory holding its current
   * rows, and a batch rewrites ONLY the buckets containing relabeled or
   * new docs — the rollup's touched-period device applied to labels.
   * Buckets untouched by a batch are not read, not rewritten, and their
   * files stay byte-identical on disk (StreamingSpec asserts this).
   * `numBuckets` is pinned at first commit (a `_graft_cluster_buckets`
   * stamp) — changing it would silently re-bucket docs and orphan rows,
   * so a mismatch fails fast. As with the rollup, a directory whose
   * buckets were partially re-touched by later batches keeps stale rows
   * on disk until its last referenced bucket moves (readers filter by the
   * manifest's bucket map) — bounded read amplification in exchange for
   * never rewriting untouched buckets.
   *
   * Read the committed labeling with [[committedClusters]].
   */
  def maintainClusters(
      pairs: DataFrame,
      labelsPath: String,
      aCol: String,
      bCol: String,
      checkpointLocation: Option[String] = None,
      numBuckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CommitStore.maintain(pairs, checkpointLocation) { (batch, batchId, scope) =>
      clusterBatch(batch, batchId, labelsPath, aCol, bCol, scope, numBuckets)
    }

  /** Stable bucket of a doc id, any orderable id type. Stored as string —
    * same move as the rollup's `period` (no partition-value inference). */
  private def bucketOf(id: org.apache.spark.sql.Column, numBuckets: Int) =
    pmod(xxhash64(id), lit(numBuckets.toLong)).cast("string")

  /** One micro-batch of cluster maintenance (exposed for deterministic
    * crash/replay testing; [[maintainClusters]] drives it). */
  private[graft] def clusterBatch(
      batch: DataFrame,
      batchId: Long,
      labelsPath: String,
      aCol: String,
      bCol: String,
      scope: String,
      numBuckets: Int = 64,
      commitOnEmpty: Boolean = false): Unit = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val spark = batch.sparkSession
    val pin = CommitStore.Pin(numBuckets.toString,
      (stored, given) =>
        s"labels at $labelsPath were bucketed with numBuckets=$stored; this " +
          s"query uses numBuckets=$given. Bucket membership is a pure function " +
          "of numBuckets, so changing it would re-bucket docs and orphan " +
          "their old rows. Resume with the original numBuckets, or rebuild " +
          "the labels path from scratch.",
      "_graft_cluster_buckets")
    CommitStore.guard(batch, batchId, labelsPath, scope, Some(pin),
        skipEmpty = false) { b =>
      val manifest = b.keys
      if (batch.isEmpty) {
        // a PAIRS batch can be legitimately empty while its source batch
        // was not (semantic wiring: vectors arrived, none near-duplicate) —
        // the caller then needs the committed version to advance so the
        // read side sees the new vectors. Plain pair streams keep the
        // original commit-nothing behavior.
        if (commitOnEmpty) b.commit(CommitStore.keysBody(manifest))
      } else {
        // changed/new labels only — bounded by the members of touched
        // components, never the corpus
        // a committed-but-empty manifest (only empty-delta batches so far)
        // has no labels table to contract against — fresh CC, like first
        // commit
        val delta = (CommitStore.keyedTable(spark, labelsPath, manifest, BucketCol)
          .map(_.drop(BucketCol)) match {
          case None =>
            graft.pipeline.Clustering.connectedComponents(batch, aCol, bCol)
          case Some(current) =>
            graft.pipeline.Clustering.incrementalUpdateDelta(
              current, batch, aCol, bCol)
        }).withColumn(BucketCol, bucketOf(col("doc_id"), numBuckets))
          .cache()
        try {
          val touched = delta.select(BucketCol).distinct()
            .collect().map(_.getString(0)).toSet

          // pairs that were all self-loops or internal to existing clusters
          // move no label: the unchanged manifest still commits so the batch
          // id advances (replay detection stays exact), and no data is
          // written
          if (touched.nonEmpty) {
            // previous state of ONLY the touched buckets; changed docs' old
            // rows are replaced, the bucket's other rows carry over
            val oldTouched = CommitStore.keyedTable(spark, labelsPath,
              manifest.view.filterKeys(touched).toMap, BucketCol)
            val merged = oldTouched match {
              case None => delta
              case Some(old) =>
                old.join(delta.select(col("doc_id")), Seq("doc_id"), "left_anti")
                  .unionByName(delta)
            }
            merged.write.mode("overwrite").parquet(b.dir())
          }
          b.commitKeys(manifest, touched)
        } finally delta.unpersist()
      }
    }
  }

  /** The committed cluster labeling: (doc_id, cluster_id). Empty-schema
    * DataFrame before the first commit. */
  def committedClusters(
      spark: org.apache.spark.sql.SparkSession, labelsPath: String): DataFrame =
    CommitStore.committedKeyed(spark, labelsPath, BucketCol)
      .map(_.drop(BucketCol))
      .getOrElse(spark.emptyDataFrame)

  // ---- streaming semantic (SemDeDup) cluster maintenance -----------------

  /**
   * Maintain SemDeDup semantic near-duplicate clusters over a STREAM of
   * embedding vectors: per micro-batch, the batch's vectors are appended
   * to a vector store, the NEW semantic-duplicate edges — batch×batch and
   * batch×resident pairs within shared quantizer cells, exact-cosine
   * gated at `tau` ([[graft.pipeline.SemDedup.edges]]) — are computed,
   * and those new edges fold into the committed labeling through
   * [[maintainClusters]]' bucketed commit protocol. Every qualifying pair
   * of the full corpus is found exactly once (by the batch that delivers
   * its LATER vector), so the maintained labeling equals the batch
   * [[graft.pipeline.SemDedup.labels]] over the concatenated corpus
   * (StreamingSpec asserts equality, and replays are idempotent).
   *
   * The coarse quantizer `model` must be FIXED for the life of the store
   * (train once on a representative sample, [[graft.pipeline.IVF.save]]
   * it) — re-training mid-stream would silently re-cell vectors; that is
   * the paper's deployment shape too.
   *
   * Layout under `storePath`: `vectors/b=<batchId>/cell=<c>` (append-only
   * vector snapshots, rewritten idempotently on replay, PARTITIONED by
   * quantizer cell) and `labels/` (the [[maintainClusters]] manifest
   * layout). Per-batch cost: the batch's cell list (bounded by the
   * model's k) prunes the resident read to touched `cell=` directories —
   * read I/O and pair work are O(touched cells), commit I/O O(touched
   * label buckets); nothing per batch is O(corpus). Read the result with
   * [[committedSemanticLabels]].
   */
  def maintainSemanticClusters(
      vectors: DataFrame,
      storePath: String,
      idCol: String,
      vecCol: String,
      model: graft.pipeline.IVF.Model,
      tau: Double,
      checkpointLocation: Option[String] = None,
      numBuckets: Int = 64,
      tileSize: Int = 10000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CommitStore.maintain(vectors, checkpointLocation) { (batch, batchId, scope) =>
      semanticBatch(batch, batchId, storePath, idCol, vecCol, model, tau,
        scope, numBuckets, tileSize)
    }

  /** One micro-batch of semantic cluster maintenance (exposed for
    * deterministic crash/replay testing; [[maintainSemanticClusters]]
    * drives it). */
  private[graft] def semanticBatch(
      batch: DataFrame,
      batchId: Long,
      storePath: String,
      idCol: String,
      vecCol: String,
      model: graft.pipeline.IVF.Model,
      tau: Double,
      scope: String,
      numBuckets: Int = 64,
      tileSize: Int = 10000): Unit = {
    val spark = batch.sparkSession
    val labelsPath = s"$storePath/labels"
    // the labels store's guard; clusterBatch below re-checks it and commits
    CommitStore.guard(batch, batchId, labelsPath, scope) { _ =>
      // 1. record the batch's vectors FIRST (before the labels commit, so a
      // crash in between replays to an idempotent rewrite of this
      // directory), PARTITIONED by quantizer cell: the batch×resident pair
      // scan only needs resident vectors in the batch's cells, and a
      // `cell=` directory layout turns that restriction into partition
      // pruning — per-batch read I/O is O(touched cells), never O(corpus)
      import graft.pipeline.{IVF, SemDedup}
      val cellOf = (v: org.apache.spark.sql.Column) =>
        element_at(IVF.cells(v, model, 1), 1)
      val norm = batch.select(col(idCol).as("doc_id"), col(vecCol).as("vec"))
      norm.withColumn("cell", cellOf(col("vec")))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(CommitStore.vectorsDir(storePath, batchId))

      // 2. new edges: pairs within the batch plus batch×resident pairs in
      // shared cells. The touched-cell list is at most the model's k cells
      // — bounded driver data driving the partition filter.
      val newIds = norm.select(col("doc_id").as("__new_id"))
      val scanSet = residentVectors(spark, storePath, batchId) match {
        case None => norm
        case Some(res) =>
          val touched = norm.select(cellOf(col("vec")).as("cell")).distinct()
            .collect().map(_.getInt(0)).toSeq
          res.filter(col("cell").isin(touched: _*)).drop("cell")
            .unionByName(norm)
      }
      // resident×resident pairs in touched cells were already committed by
      // earlier batches — keep only pairs involving a NEW vector.
      // LadderOptOut is the streaming exemption from the verify-join
      // ladder (the incrementalMinhashPairs doctrine): the scan set is
      // batch + touched-cell residents — bounded by construction, and
      // counting it would re-execute the whole union on EVERY micro-batch.
      // The opt-out is EXPLICIT (no estimate reaches the ladder, so no
      // hint can ship under ANY broadcast-threshold setting — the r19
      // ADVICE: the previous knownCount = 0 spelling hinted shuffle_hash
      // whenever broadcast was disabled); Spark's own size estimate of the
      // in-memory batch plan decides (broadcast when small, shuffled-hash
      // via the recommended preferSortMergeJoin=false deployment conf
      // otherwise).
      val tagged = SemDedup.edges(scanSet, "doc_id", "vec", model, tau, tileSize,
        knownCount = SemDedup.LadderOptOut)
      val involvingNew = tagged
        .join(newIds, tagged("id_a") === col("__new_id"), "left_semi")
        .unionByName(tagged.join(newIds, tagged("id_b") === col("__new_id"), "left_semi"))
        .distinct()
        .cache()

      // 3. fold into the committed labeling (bucketed commit protocol);
      // commitOnEmpty so a no-near-dup batch still publishes its vectors
      try clusterBatch(involvingNew, batchId, labelsPath, "id_a", "id_b",
        scope, numBuckets, commitOnEmpty = true)
      finally involvingNew.unpersist()
    }
  }

  /** The vector snapshots of batches BEFORE `beforeBatch`, in one read (the
    * resident set a batch pairs against): (doc_id, vec, cell) with `cell`
    * the partition column, so a cell filter prunes directories. None when
    * no snapshot exists. */
  private def residentVectors(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      beforeBatch: Long): Option[DataFrame] = {
    val ids = CommitStore.vectorIds(spark, storePath).filter(_ < beforeBatch)
    if (ids.isEmpty) None
    else Some(CommitStore.readPartitionedChain(
      spark, ids.map(CommitStore.vectorsDir(storePath, _)), "cell"))
  }

  /**
   * The committed semantic labeling, shaped like
   * [[graft.pipeline.SemDedup.labels]]: (doc_id, cell, cluster_id, keep)
   * for every vector committed so far — vectors with no committed
   * near-dup edge are self-labeled singletons. Pass the SAME fixed
   * `model` the stream was maintained with.
   */
  def committedSemanticLabels(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      model: graft.pipeline.IVF.Model): DataFrame = {
    val committed = committedVersion(spark, s"$storePath/labels")
    val vecs = committed
      .flatMap(v => residentVectors(spark, storePath, v + 1))
      .getOrElse(return spark.emptyDataFrame)
    val cells = vecs.select(col("doc_id"), col("cell").cast("int").as("cell"))
    // vectors without a committed label (all of them until a commit finds a
    // near-duplicate pair) are singleton clusters
    val labeled = CommitStore.committedKeyed(spark, s"$storePath/labels", BucketCol)
      .fold(cells.withColumn("cluster_id", col("doc_id"))) { labels =>
        cells.join(labels.drop(BucketCol), Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      }
    labeled.withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  case class KeyedItem(key: String, item: String)
  case class TopEntry(key: String, item: String, frequency: Long)
  case class KeptDoc(fingerprint: String, doc_id: Long)
  case class KeptDocText(doc_id: Long, text: String)
  case class NearDupPair(doc_a: Long, doc_b: Long, hamming: Int)
  case class BucketState(ids: Seq[Long], hashes: Seq[Long])

  /**
   * Streaming NEAR-duplicate detection: the streaming twin of
   * [[graft.pipeline.Dedup.simhashPairs]]. Each document's 64-bit SimHash
   * is cut into `maxDist + 1` chunks; by pigeonhole, any pair within
   * `maxDist` Hamming distance agrees exactly on at least one chunk, so
   * keying state by (chunk index, chunk value) gives exact recall against
   * everything still in state. A new document is compared only against its
   * own buckets' residents (bounded work per doc), then becomes a resident
   * itself.
   *
   * State per bucket is capped at `maxBucket` (id, hash) entries with
   * FIFO (oldest-first) eviction applied AS residents are inserted, so
   * per-doc work is bounded by `maxBucket` even when a flood lands in one
   * micro-batch (O(batch * maxBucket) pair emission, never O(batch²)).
   * NOTE this differs from the batch tier's hot-bucket handling:
   * [[graft.pipeline.Dedup.simhashPairs]] tiles an oversized bucket across
   * tasks with exact recall (unbounded work, default tile 10000), while
   * the streaming tier keeps emitting against the `maxBucket` most recent
   * residents (default 1000 — state-store bytes are the scarcer resource).
   * So on a bucket hotter than the cap the two tiers legitimately diverge:
   * streaming trades recall against OLD residents for bounded state and
   * latency, batch pays the full quadratic cost for exact recall. Run the
   * cheap [[streamingExactDedup]] upstream so exact-dup floods never reach
   * here.
   * `stateTtl` (processing-time) additionally expires idle buckets —
   * without it, state grows with the number of distinct chunk values seen
   * over the stream's lifetime.
   *
   * A pair whose fingerprints agree on several chunks is emitted once per
   * agreeing chunk (buckets are independent); downstream, deduplicate with
   * `dropDuplicates("doc_a", "doc_b")` — pairs are emitted id-ordered
   * (doc_a < doc_b) to make that exact.
   */
  def streamingNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      maxBucket: Int = 1000,
      stateTtl: Option[String] = None): Dataset[NearDupPair] = {
    require(maxBucket >= 1,
      s"maxBucket must be >= 1, got $maxBucket (the insert-time eviction " +
        "loop needs at least one resident slot)")
    import docs.sparkSession.implicits._
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()

    docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        graft.pipeline.Dedup.simhash64(
          graft.pipeline.TextAnalysis.tokens(col(textCol))).as("sh"))
      .select(col("doc_id"), col("sh"),
        explode(graft.pipeline.Dedup.simhashChunks(col("sh"), maxDist)).as("bk"))
      .select(concat_ws(":", col("bk.chunk"), col("bk.cv")).as("bucket"),
        col("doc_id"), col("sh"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append(), timeout) {
        (_: String, rows: Iterator[(String, Long, Long)], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
          val st = if (state.exists) state.get else BucketState(Nil, Nil)
          // deque + id set: O(1) membership and FIFO eviction, so per-doc
          // work is bounded by maxBucket even WITHIN a batch — a flood
          // arriving in one micro-batch does O(batch * maxBucket) pair
          // emission, never O(batch^2), and the buffer never outgrows the
          // state cap mid-loop
          val residents = scala.collection.mutable.ArrayDeque.from(st.ids.zip(st.hashes))
          val resSet = scala.collection.mutable.HashSet.from(st.ids)
          val out = scala.collection.mutable.ArrayBuffer[NearDupPair]()
          // sort the batch by id: deterministic pair generation + eviction
          rows.toSeq.sortBy(_._2).foreach { case (_, id, sh) =>
            if (!resSet.contains(id)) {
              residents.foreach { case (oid, osh) =>
                val d = java.lang.Long.bitCount(sh ^ osh)
                if (d <= maxDist)
                  out += (if (oid < id) NearDupPair(oid, id, d)
                          else NearDupPair(id, oid, d))
              }
              while (residents.size >= maxBucket) {
                val (eid, _) = residents.removeHead()
                resSet -= eid
              }
              residents += ((id, sh))
              resSet += id
            }
          }
          state.update(BucketState(residents.map(_._1).toSeq, residents.map(_._2).toSeq))
          stateTtl.foreach(state.setTimeoutDuration)
          out.iterator
          }
      }
  }

  /**
   * Streaming exact dedup: across the life of the stream, emit each
   * canonical fingerprint's FIRST document (minimum doc id within the
   * micro-batch that first sees it) and swallow every later duplicate —
   * the streaming twin of [[graft.pipeline.Dedup.exactGroups]]'s keep-list
   * for an ingestion pipeline that must not admit a doc twice.
   *
   * State per fingerprint is just the flag's presence (an empty state row),
   * so the state store is O(distinct fingerprints) with ~zero value bytes.
   * For unbounded corpora pass `stateTtl` (processing-time timeout): a
   * fingerprint idle longer than the TTL is forgotten and a much-later
   * duplicate would be re-admitted — the standard state-size/recall trade,
   * decided by the caller.
   */
  def streamingExactDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      stateTtl: Option[String] = None): Dataset[KeptDoc] = {
    import docs.sparkSession.implicits._
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    docs
      .select(
        graft.pipeline.TextAnalysis.fingerprint(col(textCol)).as("fingerprint"),
        col(idCol).cast("long").as("doc_id"))
      .as[KeptDoc]
      .groupByKey(_.fingerprint)
      .flatMapGroupsWithState[Boolean, KeptDoc](OutputMode.Update(), timeout) {
        (fp: String, rows: Iterator[KeptDoc], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val isNew = !state.exists
            state.update(true)
            stateTtl.foreach(state.setTimeoutDuration)
            if (isNew && rows.hasNext) Iterator.single(KeptDoc(fp, rows.map(_.doc_id).min))
            else Iterator.empty
          }
      }
  }

  /**
   * [[streamingExactDedup]] keyed by the DOCUMENT ID, payload carried:
   * across the stream's life, emit each id's FIRST (id, text) row and
   * swallow every later arrival of the same id. This is the at-least-once
   * ingestion mitigation the append-only stores ask for (e.g.
   * [[ScoreStreaming.maintainPredictions]], whose store records arrivals,
   * not identities): composed in front of a maintainer it collapses both
   * intra-batch duplicates and cross-batch replays, so each document
   * commits exactly once. Within one batch the first row in arrival order
   * wins (replays carry identical payloads, so the choice is immaterial).
   *
   * TTL doctrine (same contract as [[streamingExactDedup]]): with the
   * default `stateTtl = None`, the keyed boolean state holds one flag
   * per DISTINCT id for the stream's entire life — fine for bounded
   * corpora and replay windows, a slow leak at firehose scale where ids
   * never stop arriving. There, pass a `stateTtl` at least as long as
   * the source's replay window (processing-time timeout): an id idle
   * longer than the TTL is forgotten, and a re-ingestion AFTER that
   * re-emits the row — the guarantee weakens from exactly-once to
   * at-most-once-per-TTL-window, the standard state-size/recall trade,
   * decided by the caller. A TTL shorter than the replay window is the
   * one misconfiguration: a replay arriving after state expiry commits
   * a duplicate downstream (StreamingSpec pins the expiry-then-re-emit
   * behavior). Operational note: with a processing-time timeout armed,
   * the engine treats a future deadline as "another batch may be
   * required", so `StreamingQuery.processAllAvailable` never sees the
   * no-new-data signal (it blocks indefinitely) and one-shot triggers
   * like `Trigger.AvailableNow` can park awaiting a wake-up no source
   * will deliver — drive TTL'd streams with a real periodic trigger.
   */
  def streamingFirstById(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      stateTtl: Option[String] = None): Dataset[KeptDocText] = {
    import docs.sparkSession.implicits._
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[KeptDocText]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, KeptDocText](
        OutputMode.Update(), timeout)(firstByIdTransition(stateTtl))
  }

  /** The state-transition function behind [[streamingFirstById]], named
    * so the TTL contract is unit-testable against
    * `org.apache.spark.sql.streaming.TestGroupState` (real-clock drives
    * of ProcessingTimeTimeout deadlock every one-shot test harness —
    * see the operational note above): a timed-out group forgets its
    * flag (the NEXT arrival of that id re-emits); a live group swallows
    * every arrival after the first and re-arms its TTL. */
  private[graft] def firstByIdTransition(stateTtl: Option[String])
      : (Long, Iterator[KeptDocText], GroupState[Boolean]) => Iterator[KeptDocText] =
    (_: Long, rows: Iterator[KeptDocText], state: GroupState[Boolean]) =>
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val isNew = !state.exists
        state.update(true)
        stateTtl.foreach(state.setTimeoutDuration)
        if (isNew && rows.hasNext) Iterator.single(rows.next())
        else Iterator.empty
      }

  /**
   * Continuously-updated per-key top-k over an unwindowed stream.
   * State: the serialized TopnState (compact varint framing — the same
   * bytes the batch aggregate ships between partial and final stages).
   */
  def runningTopK(
      items: Dataset[KeyedItem],
      k: Int,
      numCounters: Int = GraftConf.DefaultNumberOfCounters): Dataset[TopEntry] = {
    import items.sparkSession.implicits._
    items
      .groupByKey(_.key)
      .flatMapGroupsWithState[Array[Byte], TopEntry](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[KeyedItem], state: GroupState[Array[Byte]]) =>
          val st =
            if (state.exists) TopnState.deserialize(state.get)
            else TopnState.empty()
          rows.foreach { r =>
            if (r.item != null) st.add(r.item, numCounters)
          }
          state.update(st.serialize())
          st.sortedEntries().take(math.min(k, numCounters)).iterator
            .map { case (item, freq) => TopEntry(key, item.toString, freq.longValue) }
      }
  }
}
