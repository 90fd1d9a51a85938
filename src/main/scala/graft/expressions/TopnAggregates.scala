package graft.expressions

import graft.core.TopnState

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Shared scaffolding for the two sketch-building aggregates.
 *
 * Runs under `ObjectHashAggregateExec` as partial/final with our compact
 * byte framing between stages — the same two-level protocol the reference
 * declares via SFUNC/SERIALFUNC/DESERIALFUNC/COMBINEFUNC/FINALFUNC
 * (reference: update/topn--2.3.0--2.3.1.sql:34-51).
 *
 * `numCounters` is captured when the expression is built (analysis time),
 * reproducing the reference's live read of `topn.number_of_counters`
 * per query (topn.c:229, 350, 441...).
 */
abstract class TopnAggregateBase
    extends TypedImperativeAggregate[TopnState] {

  def numCounters: Int

  final override def createAggregationBuffer(): TopnState = TopnState.empty()

  final override def merge(buffer: TopnState, input: TopnState): TopnState = {
    buffer.merge(input, numCounters)
    buffer
  }

  /**
   * Finalize: policy-A prune to <= numCounters and materialize, most
   * frequent first (reference `topn_pack`, topn.c:632-664). Empty/all-null
   * group yields `{}`, never NULL.
   */
  final override def eval(buffer: TopnState): Any =
    TopnExprUtils.toMapData(buffer.pack(numCounters))

  final override def serialize(buffer: TopnState): Array[Byte] = buffer.serialize()

  final override def deserialize(bytes: Array[Byte]): TopnState =
    TopnState.deserialize(bytes)

  final override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)

  final override def nullable: Boolean = false
}

/**
 * `topn_add_agg(item)` — build a sketch from raw items.
 * Reference: topn.c:393-449 `topn_add_trans`; DDL update/topn--2.0.0.sql:36-40.
 * NULL items are skipped; items are truncated to 255 UTF-8 bytes.
 */
case class TopnAddAgg(
    child: Expression,
    numCounters: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TopnAggregateBase with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    TopnTypeChecks.check(child.dataType == StringType,
      s"topn_add_agg requires a STRING argument (cast explicitly), got ${child.dataType.sql}")

  override def update(buffer: TopnState, input: InternalRow): TopnState = {
    val v = child.eval(input)
    if (v != null) {
      buffer.add(v.asInstanceOf[UTF8String], numCounters)
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopnAddAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopnAddAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopnAddAgg =
    copy(child = newChild)
  override def prettyName: String = "topn_add_agg"
}

/**
 * `topn_add_weighted_agg(item, weight)` — build a sketch from
 * (item, occurrence-count) pairs, for inputs that are already partially
 * aggregated (e.g. per-day counts) without materializing map columns.
 * Beyond the reference's surface (its adds are always weight 1,
 * topn.c:393-449) but identical algebra: add(item, w) == w unit adds,
 * subject to the same policy-B eviction on new-key insert. NULL item or
 * NULL weight rows are skipped.
 */
case class TopnAddWeightedAgg(
    itemExpr: Expression,
    weightExpr: Expression,
    numCounters: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TopnAggregateBase {

  override def children: Seq[Expression] = Seq(itemExpr, weightExpr)

  override def checkInputDataTypes(): TypeCheckResult =
    TopnTypeChecks.check(
      itemExpr.dataType == StringType && weightExpr.dataType == LongType,
      s"topn_add_weighted_agg requires (STRING, BIGINT), got (${itemExpr.dataType.sql}, ${weightExpr.dataType.sql})")

  override def update(buffer: TopnState, input: InternalRow): TopnState = {
    val v = itemExpr.eval(input)
    val w = weightExpr.eval(input)
    if (v != null && w != null) {
      buffer.add(v.asInstanceOf[UTF8String], w.asInstanceOf[Long], numCounters)
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopnAddWeightedAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopnAddWeightedAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopnAddWeightedAgg =
    copy(itemExpr = c(0), weightExpr = c(1))
  override def prettyName: String = "topn_add_weighted_agg"
}

/**
 * `topn_union_agg(sketch)` — merge a column of materialized sketches.
 * Reference: topn.c:457-503 `topn_union_trans` + `MergeJsonbIntoTopnAggState`
 * (753-810); DDL update/topn--2.0.0.sql:42-46.
 * NULL sketches are skipped; NULL values inside a sketch are skipped
 * (mirrors the reference skipping non-numeric JSONB values, topn.c:784).
 */
case class TopnUnionAgg(
    child: Expression,
    numCounters: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TopnAggregateBase with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    TopnTypeChecks.check(TopnTypeChecks.isSketch(child.dataType),
      s"topn_union_agg requires a MAP<STRING,BIGINT> sketch, got ${child.dataType.sql}")

  override def update(buffer: TopnState, input: InternalRow): TopnState = {
    val v = child.eval(input)
    if (v != null) {
      val md = v.asInstanceOf[MapData]
      val keys = md.keyArray()
      val vals = md.valueArray()
      var i = 0
      val n = md.numElements()
      while (i < n) {
        if (!vals.isNullAt(i)) {
          buffer.mergeEntry(keys.getUTF8String(i), vals.getLong(i), numCounters)
        }
        i += 1
      }
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopnUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopnUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopnUnionAgg =
    copy(child = newChild)
  override def prettyName: String = "topn_union_agg"
}
