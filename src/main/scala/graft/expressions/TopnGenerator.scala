package graft.expressions

import graft.core.TopnState

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * `topn_rows(sketch, k)` — the set-returning spelling of `topn`: a Catalyst
 * `Generator` usable directly in `LATERAL VIEW topn_rows(s, 5) t AS item,
 * frequency` (and `selectExpr`), mirroring how the reference's `topn()` is
 * a set-returning function expanded by the host executor
 * (reference: topn.c:189-283, SRF protocol topn.c:201-282).
 *
 * Same semantics as [[TopnQuery]]: canonical (freq desc, item asc) order,
 * error when k exceeds the counter budget, zero rows for NULL/empty input.
 *
 * CodegenFallback is RETAINED deliberately (measured, round 12): a topn
 * generator's input is always REPORT-sized — one row per group after the
 * sketch aggregation, never corpus-sized — so the interpreted generate
 * step is microseconds and the whole-stage-codegen break sits at a stage
 * boundary the aggregation forces anyway. Measured on the one query that
 * exercises it (`topn_join_cte_sql`, 50 sketches through LATERAL VIEW):
 * 0.74s isolated, dominated by the two sketch aggregations on either
 * side; a codegen'd generator could reclaim at most the ~50-row
 * iterator's cost. Revisit only if a corpus-sized generate appears.
 */
case class TopnRows(left: Expression, right: Expression, numCounters: Int)
  extends CollectionGenerator with CodegenFallback {

  override def children: Seq[Expression] = Seq(left, right)

  override def checkInputDataTypes(): TypeCheckResult =
    TopnTypeChecks.check(
      TopnTypeChecks.isSketch(left.dataType) && right.dataType == IntegerType,
      s"topn_rows requires (MAP<STRING,BIGINT>, INT), got (${left.dataType.sql}, ${right.dataType.sql})")

  override def elementSchema: StructType = TopnExprUtils.recordType
  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)
  override def position: Boolean = false
  override def inline: Boolean = true

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val sketch = left.eval(input)
    val k = right.eval(input)
    if (sketch == null || k == null) return Iterator.empty
    TopnExprUtils.topEntries(sketch.asInstanceOf[MapData], k.asInstanceOf[Int], numCounters)
      .iterator
      .map { case (item, freq) =>
        new GenericInternalRow(Array[Any](item, freq.longValue))
      }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopnRows =
    copy(left = c(0), right = c(1))
  override def prettyName: String = "topn_rows"
}
