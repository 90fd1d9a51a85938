package graft.expressions

import graft.core.TopnState

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Conversions between Catalyst MapData sketches and [[TopnState]]. */
private[graft] object TopnExprUtils {

  /** Load a materialized sketch into a fresh state, applying the merge
    * (policy-B) path per key like the reference's
    * `MergeJsonbIntoTopnAggState` (topn.c:753-810). Null values skipped. */
  def stateFromMapData(md: MapData, numCounters: Int): TopnState =
    mergeMapData(TopnState.empty(), md, numCounters)

  /** Merge a materialized sketch into `state` key by key (policy B),
    * skipping null values; returns `state`. */
  def mergeMapData(state: TopnState, md: MapData, numCounters: Int): TopnState = {
    val keys = md.keyArray()
    val vals = md.valueArray()
    var i = 0
    val n = md.numElements()
    while (i < n) {
      if (!vals.isNullAt(i)) {
        state.mergeEntry(keys.getUTF8String(i), vals.getLong(i), numCounters)
      }
      i += 1
    }
    state
  }

  /** Materialize entries (already in canonical order) as MapData. */
  def toMapData(entries: Array[(UTF8String, java.lang.Long)]): MapData = {
    val keys = new Array[Any](entries.length)
    val values = new Array[Any](entries.length)
    var i = 0
    while (i < entries.length) {
      keys(i) = entries(i)._1
      values(i) = entries(i)._2.longValue
      i += 1
    }
    ArrayBasedMapData(keys, values)
  }

  val sketchType: DataType = MapType(StringType, LongType, valueContainsNull = false)

  val recordType: StructType = StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("frequency", LongType, nullable = false)))

  /**
   * Top `k` sketch entries in canonical order (freq desc, item asc).
   * Full sort when k covers most of the map; bounded worst-first heap
   * (O(size log k)) when k << size — the common shape once counter budgets
   * grow (k=10 report over an n=1M sketch must not sort 1M entries per row).
   */
  def topEntries(md: MapData, k: Int): Array[(UTF8String, java.lang.Long)] = {
    // k <= 0 yields zero rows, like the reference's Min(desiredNToPrint,
    // elementCount) cap in topn.c (max_calls can be 0, never negative).
    if (k <= 0) return Array.empty
    val keys = md.keyArray()
    val vals = md.valueArray()
    val n = md.numElements()
    if (k >= n / 4) {
      val entries = new java.util.ArrayList[(UTF8String, java.lang.Long)](n)
      var i = 0
      while (i < n) {
        if (!vals.isNullAt(i)) {
          entries.add((keys.getUTF8String(i), java.lang.Long.valueOf(vals.getLong(i))))
        }
        i += 1
      }
      val arr = entries.toArray(new Array[(UTF8String, java.lang.Long)](entries.size()))
      java.util.Arrays.sort(arr, TopnState.EntryOrdering)
      if (arr.length > k) java.util.Arrays.copyOf(arr, k) else arr
    } else {
      // worst on top: reverse of the canonical report order
      val heap = new java.util.PriorityQueue[(UTF8String, java.lang.Long)](
        k, TopnState.EntryOrdering.reversed())
      var i = 0
      while (i < n) {
        if (!vals.isNullAt(i)) {
          val e = (keys.getUTF8String(i), java.lang.Long.valueOf(vals.getLong(i)))
          if (heap.size < k) heap.add(e)
          else if (TopnState.EntryOrdering.compare(e, heap.peek()) < 0) {
            heap.poll(); heap.add(e)
          }
          i += 1
        } else i += 1
      }
      val arr = heap.toArray(new Array[(UTF8String, java.lang.Long)](heap.size))
      java.util.Arrays.sort(arr, TopnState.EntryOrdering)
      arr
    }
  }
}

private[expressions] object TopnTypeChecks {
  def isSketch(dt: DataType): Boolean = dt match {
    case MapType(StringType, LongType, _) => true
    // the untyped empty-map literal MAP() — necessarily empty, always a
    // valid (empty) sketch, mirroring '{}'::jsonb
    case MapType(NullType, NullType, _) => true
    case _ => false
  }
  def check(ok: Boolean, msg: String): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(msg)
}

/**
 * `topn(sketch, k)` — report the k most frequent items as
 * `array<struct<item string, frequency bigint>>` (consumed with `explode` /
 * `inline`, our spelling of the reference's set-returning function).
 * Reference: topn.c:189-283; errors when `k > number_of_counters`
 * (topn.c:229-233); ties broken frequency desc then item asc (our pinned
 * order, SURVEY §2.8.1). NULL sketch or NULL k yields NULL (STRICT).
 */
case class TopnQuery(left: Expression, right: Expression, numCounters: Int)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TopnTypeChecks.check(
      TopnTypeChecks.isSketch(left.dataType) && right.dataType == IntegerType,
      s"topn requires (MAP<STRING,BIGINT>, INT), got (${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DataType =
    ArrayType(TopnExprUtils.recordType, containsNull = false)

  override def nullSafeEval(sketch: Any, k: Any): Any =
    TopnQuery.query(sketch.asInstanceOf[MapData], k.asInstanceOf[Int], numCounters)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sk, k) =>
      s"${ev.value} = graft.expressions.TopnQuery.query($sk, $k, $numCounters);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopnQuery =
    copy(left = l, right = r)
  override def prettyName: String = "topn"
}

object TopnQuery {
  /** The report kernel, shared by interpreted eval and codegen. */
  def query(sketch: MapData, k: Int, numCounters: Int): ArrayData = {
    if (k > numCounters) {
      // wording mirrors the reference, topn.c:231-232
      throw graft.GraftErrors.kExceedsCounters(k, numCounters)
    }
    val arr = TopnExprUtils.topEntries(sketch, k)
    val out = new Array[Any](arr.length)
    var i = 0
    while (i < out.length) {
      out(i) = new GenericInternalRow(
        Array[Any](arr(i)._1, arr(i)._2.longValue))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * `topn_add(sketch, item)` — insert one occurrence into a materialized
 * sketch, pruning to `number_of_counters` (policy A).
 * Reference: topn.c:290-356, with its bespoke NULL ladder (305-328):
 * (NULL, NULL) -> {}; (NULL, item) -> {item: 1}; (sketch, NULL) -> sketch.
 */
case class TopnAddScalar(left: Expression, right: Expression, numCounters: Int)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TopnTypeChecks.check(
      TopnTypeChecks.isSketch(left.dataType) && right.dataType == StringType,
      s"topn_add requires (MAP<STRING,BIGINT>, STRING), got (${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DataType = TopnExprUtils.sketchType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    TopnAddScalar.ladder(
      left.eval(input).asInstanceOf[MapData],
      right.eval(input).asInstanceOf[UTF8String], numCounters)

  // manual codegen: the NULL ladder means the default null-safe scaffold
  // does not apply — both null patterns produce a non-null result
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val md = classOf[MapData].getName
    ev.copy(
      code = code"""
        ${l.code}
        ${r.code}
        $md ${ev.value} = graft.expressions.TopnAddScalar.ladder(
          ${l.isNull} ? null : ${l.value},
          ${r.isNull} ? null : ${r.value},
          $numCounters);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopnAddScalar =
    copy(left = l, right = r)
  override def prettyName: String = "topn_add"
}

object TopnAddScalar {
  /** The reference's NULL ladder (topn.c:305-328), shared by interpreted
    * eval and codegen: (NULL, NULL) -> {}; (sketch, NULL) -> sketch
    * unchanged and NOT pruned; (NULL, item) -> {item: 1}. */
  def ladder(sketch: MapData, item: UTF8String, numCounters: Int): MapData = {
    if (sketch == null && item == null) {
      ArrayBasedMapData(Array.empty[Any], Array.empty[Any])
    } else if (item == null) {
      sketch
    } else {
      val st =
        if (sketch == null) TopnState.empty()
        else TopnExprUtils.stateFromMapData(sketch, numCounters)
      st.add(item, numCounters)
      TopnExprUtils.toMapData(st.pack(numCounters))
    }
  }
}

/**
 * `topn_union(a, b)` — merge two materialized sketches, pruning to
 * `number_of_counters`. STRICT: NULL if either argument is NULL.
 * Reference: topn.c:363-385; strictness update/topn--2.0.0.sql:15 verified
 * by sql/null_tests.sql:41-44.
 */
case class TopnUnionScalar(left: Expression, right: Expression, numCounters: Int)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TopnTypeChecks.check(
      TopnTypeChecks.isSketch(left.dataType) && TopnTypeChecks.isSketch(right.dataType),
      s"topn_union requires two MAP<STRING,BIGINT> sketches, got (${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DataType = TopnExprUtils.sketchType

  override def nullSafeEval(a: Any, b: Any): Any =
    TopnUnionScalar.union(
      a.asInstanceOf[MapData], b.asInstanceOf[MapData], numCounters)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.TopnUnionScalar.union($a, $b, $numCounters);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopnUnionScalar =
    copy(left = l, right = r)
  override def prettyName: String = "topn_union"
}

object TopnUnionScalar {
  /** The merge kernel, shared by interpreted eval and codegen. */
  def union(a: MapData, b: MapData, numCounters: Int): MapData = {
    val st = TopnExprUtils.stateFromMapData(a, numCounters)
    val other = TopnExprUtils.stateFromMapData(b, numCounters)
    st.merge(other, numCounters)
    TopnExprUtils.toMapData(st.pack(numCounters))
  }
}

/**
 * `topn_to_json(sketch)` — render a sketch as a JSON object string with keys
 * in PostgreSQL's canonical JSONB order (length, then bytewise), for
 * string-identical comparison against reference goldens (SURVEY §1.3; PG
 * jsonb key ordering). Escaping matches PG's `escape_json` (topn.c:1016-1025).
 */
case class TopnToJson(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TopnTypeChecks.check(TopnTypeChecks.isSketch(child.dataType),
      s"topn_to_json requires a MAP<STRING,BIGINT> sketch, got ${child.dataType.sql}")
  override def dataType: DataType = StringType

  override def nullSafeEval(sketch: Any): Any =
    TopnToJson.json(sketch.asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, sk =>
      s"${ev.value} = graft.expressions.TopnToJson.json($sk);")

  override protected def withNewChildInternal(c: Expression): TopnToJson = copy(child = c)
  override def prettyName: String = "topn_to_json"
}

object TopnToJson {
  /** The render kernel, shared by interpreted eval and codegen. */
  def json(md: MapData): UTF8String = {
    val keys = md.keyArray()
    val vals = md.valueArray()
    val n = md.numElements()
    val entries = new Array[(String, Long)](n)
    var i = 0
    while (i < n) {
      entries(i) = (keys.getUTF8String(i).toString,
        if (vals.isNullAt(i)) 0L else vals.getLong(i))
      i += 1
    }
    // PG jsonb canonical key order: byte length first, then bytewise.
    java.util.Arrays.sort(entries, new java.util.Comparator[(String, Long)] {
      override def compare(x: (String, Long), y: (String, Long)): Int = {
        val c = java.lang.Integer.compare(
          TopnState.utf8Length(x._1), TopnState.utf8Length(y._1))
        if (c != 0) c else TopnState.utf8Compare(x._1, y._1)
      }
    })
    val sb = new java.lang.StringBuilder()
    sb.append('{')
    i = 0
    while (i < n) {
      if (i > 0) sb.append(", ")
      sb.append('"').append(escapeJson(entries(i)._1)).append("\": ")
        .append(entries(i)._2)
      i += 1
    }
    sb.append('}')
    UTF8String.fromString(sb.toString)
  }

  private def escapeJson(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

}
