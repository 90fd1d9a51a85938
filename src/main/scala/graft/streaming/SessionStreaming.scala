package graft.streaming

import graft.operators.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Streaming sessionization: an ingest stream of events becomes an
 * ever-growing store of per-key gap sessions — the
 * [[graft.operators.Sessions.stats]] deliverable maintained one
 * micro-batch at a time under the manifest commit protocol the
 * rollup/shard/PQ maintainers share ([[CommitStore]] has the full
 * protocol argument).
 *
 * The invariant that makes incremental sessionization exact: under
 * per-key ts-ordered arrival (the kafka-partition-per-key reality; the
 * batch step FAILS FAST on a violation rather than emitting wrong
 * session boundaries), only each key's LAST session can ever be extended
 * by future events. So the store splits into
 *
 *  - CLOSED sessions — append-only, one directory per batch, never
 *    rewritten (a session is closed the moment a later same-key event
 *    arrives more than `gapSeconds` after its end, or a newer session
 *    exists behind it);
 *  - the OPEN state — each key's current last session, written as a
 *    per-batch DELTA holding only the keys the batch touched; the
 *    reader folds the chain with a per-key argmax on batch id.
 *
 * Per-batch work is O(batch + touched keys) — no O(history) rewrite.
 * The delta chain grows with (batch, touched-key) pairs; [[compactStore]]
 * is the one-call fold (the [[PqStreaming]] rebuild doctrine): a fresh
 * path whose single data directory reproduces the committed table
 * bit-for-bit and resumes the SAME stream (scope and params copied, next
 * batch appends after the committed version).
 *
 * [[committedSessions]] == `Sessions.stats` over everything ingested so
 * far, row for row — StreamingSpec pins the equality with sessions that
 * straddle batch boundaries (merged across commits) and ones split by
 * them.
 *
 * `watermarkSeconds > 0` relaxes ordered arrival to BOUNDED disorder
 * (the contract a production ingest actually delivers): events buffer
 * in a pending store ([[StreamWatermark]]) until the event-time
 * high-water mark has moved `watermarkSeconds` past them, then fold in.
 * Exactness survives because every matured event is strictly later than
 * every committed session end (ends come from matured events at or
 * below the previous cut; new arrivals must be after it) — so the
 * single-extendable-open-session invariant, the gap arithmetic, AND the
 * closure rule hold verbatim over the matured prefix: a session closed
 * because a later matured event lies beyond `gapSeconds` can never be
 * reached by a future event (that event would be at or below the cut
 * that matured the later one — refused). An arrival at or below the
 * committed cut fails the batch loudly. `watermarkSeconds = 0` (the
 * default) is the strict contract, byte-compatible with existing
 * stores; the watermark is pinned into `_graft_params`.
 * [[committedSessions]] then reports the MATURED prefix — buffered
 * events join once the watermark passes them.
 *
 * The store's own leaves and pin ([[CommitStore]] has the layout and
 * the crash argument; data first, manifest last, replays write nothing):
 * {{{
 *   storePath/_graft_params       gap/keys/value pin (write-once)
 *   storePath/data/b=<id>/closed  sessions closed BY batch <id>
 *   storePath/data/b=<id>/open    open-state delta AFTER batch <id>
 * }}}
 */
object SessionStreaming {

  import CommitStore.DeltaBatchCol

  /** Start the maintenance stream. `events` is a STREAMING DataFrame;
    * each key's events must arrive in non-decreasing `tsCol` order
    * across batches (violations fail the batch). Read the store with
    * [[committedSessions]]. */
  def maintainSessions(
      events: DataFrame,
      storePath: String,
      keyCols: Seq[String],
      tsCol: String,
      gapSeconds: Long,
      valueCol: Option[String] = None,
      orderCols: Seq[String] = Nil,
      checkpointLocation: Option[String] = None,
      watermarkSeconds: Long = 0L,
      filesPerBatch: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CommitStore.maintain(events, checkpointLocation) { (batch, batchId, scope) =>
      sessionBatch(batch, batchId, storePath, keyCols, tsCol, gapSeconds,
        valueCol, orderCols, scope, watermarkSeconds, filesPerBatch)
    }

  /** One micro-batch of the protocol (exposed for deterministic
    * crash-path testing; [[maintainSessions]] drives it). */
  private[graft] def sessionBatch(
      batch: DataFrame,
      batchId: Long,
      storePath: String,
      keyCols: Seq[String],
      tsCol: String,
      gapSeconds: Long,
      valueCol: Option[String],
      orderCols: Seq[String],
      scope: String,
      watermarkSeconds: Long = 0L,
      filesPerBatch: Int = 1): Unit = {
    require(watermarkSeconds >= 0L,
      s"sessionBatch: watermarkSeconds must be >= 0, got $watermarkSeconds")
    val pin = CommitStore.Pin(
      s"gapSeconds=$gapSeconds,keys=${keyCols.mkString("+")}," +
        s"value=${valueCol.getOrElse("-")}" +
        StreamWatermark.paramsSuffix(watermarkSeconds),
      (stored, given) =>
        s"session store at $storePath was maintained with '$stored' but " +
          s"this stream uses '$given' — session boundaries and schemas are " +
          "incompatible; resume with the original parameters or start a " +
          "new store path")
    CommitStore.guard(batch, batchId, storePath, scope, Some(pin)) { b =>
      val spark = batch.sparkSession
      // bounded-disorder tier: the shared release step
      // (StreamWatermark.release) folds pending with the new arrivals and
      // returns only events at or below (hwm - watermark)
      val inCols = (keyCols :+ tsCol) ++ valueCol.toSeq ++
        orderCols.filterNot(c => keyCols.contains(c) || c == tsCol)
      val eNew = batch.select(inCols.distinct.map(col): _*)
      val wmUs = watermarkSeconds * 1000000L
      val (events, wmTail) =
        if (watermarkSeconds == 0L) (eNew, None)
        else {
          val (released, tail) = StreamWatermark.release(
            storePath, eNew, df => Sessions.tsMicros(df, tsCol), wmUs,
            "sessionBatch")
          (released, Some(tail))
        }

      val gapUs = gapSeconds * 1000000L
      val stats0 = Sessions.stats(events, keyCols, tsCol, gapSeconds, valueCol,
        orderCols)
      val stats = stats0
        .withColumn("__graft_s_us", Sessions.tsMicros(stats0, "session_start"))
        .withColumn("__graft_e_us", Sessions.tsMicros(stats0, "session_end"))
      val keyC = keyCols.map(col)
      val storeCols =
        keyCols ++ Seq("session_seq", "session_start", "session_end",
          "n_events", "duration_us") ++ valueCol.map(_ => "value_sum").toSeq

      // per-key decision row: batch session count, first batch event's
      // micros, and the committed open session (if any)
      val perKey = stats.groupBy(keyC: _*).agg(
        max(col("session_seq")).as("__graft_maxl"),
        min(col("__graft_s_us")).as("__graft_first_us"))
      val openOpt = committedOpenState(spark, storePath)
      val dec = openOpt match {
        case None =>
          perKey
            .withColumn("__graft_o_seq", lit(null).cast("long"))
            .withColumn("__graft_o_start",
              lit(null).cast(stats.schema("session_start").dataType))
            .withColumn("__graft_o_start_us", lit(null).cast("long"))
            .withColumn("__graft_o_end_us", lit(null).cast("long"))
            .withColumn("__graft_o_n", lit(null).cast("long"))
            .withColumn("__graft_o_vsum", lit(null)
              .cast(valueCol.map(_ => stats.schema("value_sum").dataType)
                .getOrElse(org.apache.spark.sql.types.LongType)))
            .withColumn("__graft_merged", lit(false))
        case Some(open0) =>
          val open = open0
            .withColumn("__graft_o_start_us",
              Sessions.tsMicros(open0, "session_start"))
            .withColumn("__graft_o_end_us",
              Sessions.tsMicros(open0, "session_end"))
            .select(keyC ++ Seq(
              col("session_seq").as("__graft_o_seq"),
              col("session_start").as("__graft_o_start"),
              col("__graft_o_start_us"), col("__graft_o_end_us"),
              col("n_events").as("__graft_o_n"),
              valueCol.map(_ => col("value_sum"))
                .getOrElse(lit(null).cast("long")).as("__graft_o_vsum")): _*)
          perKey.join(open, keyCols, "left")
            .withColumn("__graft_merged",
              when(col("__graft_o_seq").isNull, lit(false))
                .when(col("__graft_first_us") < col("__graft_o_end_us"),
                  // the ordered-arrival contract is broken: continuing
                  // would fabricate session boundaries — fail the batch
                  expr(s"""raise_error(CONCAT(
                    |'sessionBatch: out-of-order arrival for key ',
                    |CAST(`${keyCols.head}` AS STRING),
                    |' — batch event at ', CAST(__graft_first_us AS STRING),
                    |'us precedes the committed open session end at ',
                    |CAST(__graft_o_end_us AS STRING),
                    |'us; events must arrive per-key ts-ordered across batches'))"""
                    .stripMargin).cast("boolean"))
                .otherwise(
                  col("__graft_first_us") - col("__graft_o_end_us") <= gapUs))
      }

      val j = stats.join(
        dec.select(keyC ++ Seq(col("__graft_maxl"), col("__graft_o_seq"),
          col("__graft_o_start"), col("__graft_o_start_us"),
          col("__graft_o_n"), col("__graft_o_vsum"),
          col("__graft_merged")): _*),
        keyCols, "inner")
      // pin the LOCAL-seq predicate before session_seq is globalized —
      // later withColumns resolve col("session_seq") against the rewrite
      val isFirstMerged = col("__graft_merged") && col("__graft_is_l1")
      val adjusted = j
        .withColumn("__graft_is_l1", col("session_seq") === 1L)
        .withColumn("session_seq",
          col("session_seq") + coalesce(col("__graft_o_seq"), lit(0L))
            - when(col("__graft_merged"), 1L).otherwise(0L))
        .withColumn("n_events",
          col("n_events") + when(isFirstMerged, col("__graft_o_n")).otherwise(0L))
        .withColumn("__graft_s_us2",
          when(isFirstMerged, col("__graft_o_start_us"))
            .otherwise(col("__graft_s_us")))
        .withColumn("session_start",
          when(isFirstMerged, col("__graft_o_start")).otherwise(col("session_start")))
        .withColumn("duration_us", col("__graft_e_us") - col("__graft_s_us2"))
      // the merge addition widens decimal precision (sum(decimal(p,s)) +
      // stored = decimal(p+1,s)); cast back to the batch-kernel type so
      // EVERY batch writes the identical schema — the store stays
      // schema-stable (one multi-root read, no per-batch coercion) and
      // committedSessions' type equals Sessions.stats' exactly. ANSI casts
      // throw on a genuine overflow instead of truncating
      val adjustedV = valueCol.map(_ => adjusted.withColumn("value_sum",
          when(isFirstMerged, col("value_sum") + col("__graft_o_vsum"))
            .otherwise(col("value_sum"))
            .cast(stats.schema("value_sum").dataType)))
        .getOrElse(adjusted)

      // closed by this batch: every batch session but each key's last, plus
      // open sessions the batch's first event did NOT extend (under ordered
      // arrival no future event can reach them either)
      val batchClosed = adjustedV
        .filter(col("session_seq") <
          col("__graft_maxl") + coalesce(col("__graft_o_seq"), lit(0L))
            - when(col("__graft_merged"), 1L).otherwise(0L))
        .select(storeCols.map(col): _*)
      val openClosed = openOpt match {
        case None => None
        case Some(open) => Some(open
          .join(dec.filter(col("__graft_o_seq").isNotNull &&
              !col("__graft_merged"))
            .select(keyC: _*), keyCols, "left_semi")
          .select(storeCols.map(col): _*))
      }
      val closed = openClosed.map(batchClosed.unionByName(_)).getOrElse(batchClosed)
      val openDelta = adjustedV
        .filter(col("session_seq") ===
          col("__graft_maxl") + coalesce(col("__graft_o_seq"), lit(0L))
            - when(col("__graft_merged"), 1L).otherwise(0L))
        .select((storeCols.map(col) :+ lit(batchId).as(DeltaBatchCol)): _*)

      CommitStore.writeBatchDir(closed, filesPerBatch, b.dir("closed"))
      CommitStore.writeBatchDir(openDelta, filesPerBatch, b.dir("open"))
      // watermark tier: pending snapshot (latest wins) + hwm row, data
      // before the marker like everything else
      wmTail.foreach { case (pending, hwm) =>
        StreamWatermark.write(spark, storePath, batchId, pending, hwm,
          filesPerBatch)
      }
      b.commit()
    }
  }

  /** Current open session per key: the delta chain folded with a per-key
    * argmax on batch id. None before the first commit. */
  private[graft] def committedOpenState(
      spark: org.apache.spark.sql.SparkSession, storePath: String)
      : Option[DataFrame] =
    CommitStore.committedChain(spark, storePath, "open", None).map(foldOpen)

  /** Each key's latest open session ([[CommitStore.latestPerKey]]).
    * Shared with [[migrateStore]], whose legacy chain arrives via a
    * coercing union instead of the multi-root read. */
  private def foldOpen(all: DataFrame): DataFrame =
    CommitStore.latestPerKey(all, _ != "session_seq")

  /** The committed session table: closed sessions plus each key's open
    * one — `Sessions.stats` over everything ingested so far, row for
    * row. Empty-schema DataFrame before the first commit. */
  def committedSessions(
      spark: org.apache.spark.sql.SparkSession, storePath: String): DataFrame = {
    val ids = CommitStore.committedIds(spark, storePath)
    if (ids.isEmpty) return spark.emptyDataFrame
    CommitStore.adviseCompaction(ids.size, storePath, "SessionStreaming")
    val closed = CommitStore.readChain(spark, storePath, ids, "closed")
    val open = foldOpen(CommitStore.readChain(spark, storePath, ids, "open"))
    closed.unionByName(open.select(closed.columns.map(col): _*))
  }

  /**
   * One-call fold of the delta chain into a FRESH store at `dstPath`
   * (must not already hold a session store): a single data directory
   * `b=<committed version>` whose closed rows and folded open state
   * reproduce [[committedSessions]] bit-for-bit, with scope and params
   * copied so the SAME stream resumes against `dstPath` — a replayed
   * batch <= the committed version returns before writing, the next real
   * batch appends. Run it when the chain's file count (one directory per
   * batch) starts to dominate read planning.
   */
  def compactStore(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      files: Int = 1): Unit =
    CommitStore.foldInto(spark, srcPath, dstPath, "compactStore", "session") {
      (ids, v) =>
        val closed = CommitStore.readChain(spark, srcPath, ids, "closed")
        val open = foldOpen(CommitStore.readChain(spark, srcPath, ids, "open"))
          .withColumn(DeltaBatchCol, lit(v))
        CommitStore.writeFoldDir(closed, files, CommitStore.dataDir(dstPath, v, "closed"))
        CommitStore.writeFoldDir(open, files, CommitStore.dataDir(dstPath, v, "open"))
        // a watermark-tier store also carries its buffered tail + hwm
        StreamWatermark.compactInto(spark, srcPath, dstPath, v, files)
    }

  /**
   * Migrate a session store written BEFORE the schema-stable `value_sum`
   * pin (the batch-kernel cast in [[sessionBatch]]) to a fresh store at
   * `dstPath` readable by today's coercion-free multi-root
   * [[CommitStore.readChain]]. Legacy stores with a value column
   * carry per-batch WIDENED decimal `value_sum` schemas — every merge of
   * an open session added one digit of precision — so the modern reader
   * refuses the chain and [[sessionBatch]] would append the narrower
   * kernel type into a widened history. This helper reads the chain the
   * way the legacy reader did (per-batch reads folded with `unionByName`,
   * whose set-operation coercion absorbs the precision drift), casts
   * `value_sum` back to the batch-kernel type — inferred as the
   * NARROWEST `value_sum` type across the chain's closed leaves: the
   * first unmerged batch wrote at kernel precision and merges only ever
   * WIDENED, so the narrowest on-disk type is the kernel whenever any
   * unwidened leaf survives; the cast carries ANSI eval mode in the
   * expression itself — a genuine overflow fails loudly rather than
   * truncating, REGARDLESS of the session's `spark.sql.ansi.enabled`
   * setting — and folds everything into `dstPath`
   * exactly like [[compactStore]] (stamps copied, watermark tier
   * carried, marker last). The SAME stream resumes against `dstPath`; a
   * schema-stable source migrates too (the casts are no-ops), though
   * [[compactStore]] is the cheaper tool there. FINE PRINT: a legacy
   * store whose every leaf is already widened (e.g. a legacy COMPACTED
   * fold — one batch, widened) has no on-disk evidence of the kernel;
   * pass `valueType` explicitly (the type `Sessions.stats` produces for
   * the stream's value column — `sum(decimal(p,s))` = `decimal(p+10,s)`
   * capped at 38) or the next appended batch would re-mix precisions.
   */
  def migrateStore(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      files: Int = 1,
      valueType: Option[org.apache.spark.sql.types.DataType] = None): Unit =
    CommitStore.foldInto(spark, srcPath, dstPath, "migrateStore", "session") {
      (ids, v) =>
        // coercing per-batch union, not readChain: the legacy chain's
        // widened types need union's coercion (the pre-multi-root spelling)
        def chain(leaf: String): DataFrame = ids
          .map(id => spark.read.parquet(CommitStore.dataDir(srcPath, id, leaf)))
          .reduce(_.unionByName(_))
        // batch-kernel value type: explicit override, else the narrowest
        // written type across the chain (merges only ever widened, so any
        // surviving unwidened leaf IS the kernel — see the fine print
        // above); stores without a value column skip the cast
        val kernel: Option[org.apache.spark.sql.types.DataType] =
          valueType.orElse {
            val seen = ids.flatMap { id =>
              spark.read.parquet(CommitStore.dataDir(srcPath, id, "closed"))
                .schema.find(_.name == "value_sum").map(_.dataType)
            }
            seen.sortBy {
              case d: org.apache.spark.sql.types.DecimalType => d.precision
              case _ => Int.MaxValue
            }.headOption
          }
        // the fail-loudly-on-overflow guarantee is enforced IN the plan,
        // not assumed from session defaults: Column.cast follows
        // spark.sql.ansi.enabled, so under ansi=false an overflowing legacy
        // value would be silently NULLed mid-migration — build the Cast
        // expression with ANSI eval mode explicitly
        def atKernel(df: DataFrame): DataFrame = kernel match {
          case Some(t) => df.withColumn("value_sum",
            org.apache.spark.sql.graftshim.GraftShim.column(
              org.apache.spark.sql.catalyst.expressions.Cast(
                org.apache.spark.sql.graftshim.GraftShim.expression(
                  col("value_sum")),
                t, None,
                org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI)))
          case None    => df
        }
        val closed = atKernel(chain("closed"))
        val open = atKernel(foldOpen(chain("open")))
          .withColumn(DeltaBatchCol, lit(v))
        CommitStore.writeFoldDir(closed, files, CommitStore.dataDir(dstPath, v, "closed"))
        CommitStore.writeFoldDir(open, files, CommitStore.dataDir(dstPath, v, "open"))
        StreamWatermark.compactInto(spark, srcPath, dstPath, v, files)
    }
}
