package graft.expressions

import graft.core.TopnState

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Bounded-sketch family: the sketch with a GUARANTEED count interval.
 *
 * The reference ships accuracy as ADVICE — "the size of the union errors
 * ... can be decreased by increasing topn.number_of_counters"
 * (reference README.md:21-23) — with no way to know, per query, whether
 * the advice was followed far enough. This family turns it into a
 * measured per-query fact: the aggregates carry an eviction-loss bound
 * through every policy-B prune and the final pack (see
 * [[TopnState.lossBound]] for the proof sketch), and the report emits
 * `(item, frequency, max_error)` with the guarantee
 * `frequency <= true_count <= frequency + max_error` — `max_error = 0`
 * exactly when no prune ever discarded mass, i.e. the sketch is EXACT at
 * its counter budget. This sketch's eviction DISCARDS counts, so unlike
 * classic SpaceSaving (whose takeover-inheritance overcounts, bounded by
 * the inherited count) the interval here is an UNDERcount bound.
 *
 * The bounded sketch is `struct<entries: map<string,bigint>, loss_bound:
 * bigint>` — the plain sketch plus its provenance. The bound is only as
 * good as its provenance chain: [[TopnUnionAggBounds]] consumes bounded
 * sketches (whose loss_bound it folds in); feeding it a plain map sketch
 * re-wrapped with `loss_bound = 0` would claim exactness the upstream
 * aggregation cannot prove.
 */
private[graft] object TopnBoundsTypes {

  val boundedSketchType: StructType = StructType(Seq(
    StructField("entries", TopnExprUtils.sketchType, nullable = false),
    StructField("loss_bound", LongType, nullable = false)))

  val boundedRecordType: StructType = StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("frequency", LongType, nullable = false),
    StructField("max_error", LongType, nullable = false)))

  def isBoundedSketch(dt: DataType): Boolean = dt match {
    case StructType(fields) =>
      fields.length == 2 &&
        fields(0).name == "entries" && TopnTypeChecks.isSketch(fields(0).dataType) &&
        fields(1).name == "loss_bound" && fields(1).dataType == LongType
    case _ => false
  }
}

/** [[TopnAggregateBase]] with the bounded struct as the result type:
  * the same buffer, merge and wire format, a different finalize. */
abstract class TopnBoundsAggregateBase extends TopnAggregateBase {

  /** Finalize: policy-A prune + materialize like the plain aggregates,
    * plus the loss bound read AFTER the pack so the final prune's
    * discarded mass is covered — that makes the materialized bound hold
    * for ABSENT items too (anything the pack dropped lost at most the
    * largest dropped frequency, which the pack folded in). */
  final override def eval(buffer: TopnState): Any = {
    val entries = buffer.pack(numCounters)
    new GenericInternalRow(
      Array[Any](TopnExprUtils.toMapData(entries), buffer.lossBound))
  }

  final override def dataType: DataType = TopnBoundsTypes.boundedSketchType
}

/**
 * `topn_add_agg_bounds(item)` — [[TopnAddAgg]] with the loss bound
 * carried through: identical ingest (NULL skip, 255-byte truncation,
 * policy-B eviction; reference topn.c:393-449), bounded-struct result.
 * The `entries` field is bit-identical to what `topn_add_agg` over the
 * same input produces — the bound is a rider, never a behavior change.
 */
case class TopnAddAggBounds(
    child: Expression,
    numCounters: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TopnBoundsAggregateBase with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    TopnTypeChecks.check(child.dataType == StringType,
      s"topn_add_agg_bounds requires a STRING argument (cast explicitly), got ${child.dataType.sql}")

  override def update(buffer: TopnState, input: InternalRow): TopnState = {
    val v = child.eval(input)
    if (v != null) {
      buffer.add(v.asInstanceOf[UTF8String], numCounters)
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopnAddAggBounds =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopnAddAggBounds =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopnAddAggBounds =
    copy(child = newChild)
  override def prettyName: String = "topn_add_agg_bounds"
}

/**
 * `topn_union_agg_bounds(bsketch)` — [[TopnUnionAgg]] over BOUNDED
 * sketches: merges each input's entries (policy B per key, reference
 * topn.c:753-810) and folds each input's own `loss_bound` into the
 * union's — prior losses are independent undercounts of the merged
 * stream, so the interval guarantee composes additively. NULL bounded
 * sketches are skipped; NULL values inside an entries map are skipped.
 */
case class TopnUnionAggBounds(
    child: Expression,
    numCounters: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TopnBoundsAggregateBase with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    TopnTypeChecks.check(TopnBoundsTypes.isBoundedSketch(child.dataType),
      s"topn_union_agg_bounds requires a STRUCT<entries: MAP<STRING,BIGINT>, " +
        s"loss_bound: BIGINT> bounded sketch, got ${child.dataType.sql}")

  override def update(buffer: TopnState, input: InternalRow): TopnState = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0)) {
        TopnExprUtils.mergeMapData(buffer, row.getMap(0), numCounters)
      }
      if (!row.isNullAt(1)) {
        buffer.addLossBound(row.getLong(1))
      }
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopnUnionAggBounds =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopnUnionAggBounds =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopnUnionAggBounds =
    copy(child = newChild)
  override def prettyName: String = "topn_union_agg_bounds"
}

/**
 * `topn_with_bounds(bsketch, k)` — the [[TopnQuery]] report over a
 * bounded sketch: the k most frequent entries as
 * `array<struct<item, frequency, max_error>>`, `max_error` the sketch's
 * carried loss bound (uniform across items: per-slot history dies with
 * the evicted key, so the per-prune max is the tightest per-item
 * statement the state can make). Same `k > number_of_counters` error and
 * pinned tie order as `topn`; STRICT like it too.
 */
case class TopnWithBounds(left: Expression, right: Expression, numCounters: Int)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TopnTypeChecks.check(
      TopnBoundsTypes.isBoundedSketch(left.dataType) && right.dataType == IntegerType,
      s"topn_with_bounds requires (STRUCT<entries, loss_bound>, INT), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DataType =
    ArrayType(TopnBoundsTypes.boundedRecordType, containsNull = false)

  override def nullSafeEval(bsketch: Any, k: Any): Any =
    TopnWithBounds.query(
      bsketch.asInstanceOf[InternalRow], k.asInstanceOf[Int], numCounters)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sk, k) =>
      s"${ev.value} = graft.expressions.TopnWithBounds.query($sk, $k, $numCounters);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopnWithBounds =
    copy(left = l, right = r)
  override def prettyName: String = "topn_with_bounds"
}

object TopnWithBounds {
  /** The report kernel, shared by interpreted eval and codegen. */
  def query(bsketch: InternalRow, k: Int, numCounters: Int): ArrayData = {
    val entries: MapData =
      if (bsketch.isNullAt(0)) TopnExprUtils.toMapData(Array.empty)
      else bsketch.getMap(0)
    val bound = if (bsketch.isNullAt(1)) 0L else math.max(0L, bsketch.getLong(1))
    val arr = TopnExprUtils.topEntries(entries, k, numCounters)
    val out = new Array[Any](arr.length)
    var i = 0
    while (i < out.length) {
      out(i) = new GenericInternalRow(
        Array[Any](arr(i)._1, arr(i)._2.longValue, bound))
      i += 1
    }
    new GenericArrayData(out)
  }
}
