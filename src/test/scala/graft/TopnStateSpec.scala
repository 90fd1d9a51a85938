package graft

import java.nio.charset.StandardCharsets

import graft.core.TopnState
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Properties}

class TopnStateSpec extends AnyFunSuite {

  private def entries(st: TopnState): Map[String, Long] = st.toStringMap

  test("counts are exact while distinct items stay within 3*n (reference invariant)") {
    val st = TopnState.empty()
    val n = 4 // 3*4 = 12 > 7 distinct
    val data = Seq("0" -> 2, "1" -> 1, "2" -> 6, "3" -> 4, "4" -> 3, "5" -> 7, "6" -> 5)
    val rnd = new scala.util.Random(42)
    val stream = rnd.shuffle(data.flatMap { case (k, c) => Seq.fill(c)(k) })
    stream.foreach(st.add(_, n))
    assert(entries(st) === data.map { case (k, c) => (k, c.toLong) }.toMap)
    val packed = st.pack(n).map(e => (e._1.toString, e._2.longValue))
    assert(packed.toSeq === Seq(("5", 7L), ("2", 6L), ("6", 5L), ("3", 4L)))
  }

  test("policy B: new key beyond 3*n evicts to half") {
    val n = 2 // cap = 6
    val st = TopnState.empty()
    (1 to 6).foreach(i => st.add(s"k$i", i.toLong, n))
    assert(st.size === 6)
    st.add("k7", 100L, n) // size 7 > 6 -> prune to 3
    assert(st.size === 3)
    // keeps the 3 most frequent of the 7 present at prune time
    assert(entries(st) === Map("k7" -> 100L, "k6" -> 6L, "k5" -> 5L))
  }

  test("topK deterministic tie-break: frequency desc then item asc") {
    val st = TopnState.empty()
    Seq("b", "a", "c", "a", "b", "z").foreach(st.add(_, 10))
    assert(st.topK(4, 10).toSeq === Seq(("a", 2L), ("b", 2L), ("c", 1L), ("z", 1L)))
  }

  test("topK errors when k exceeds numCounters (topn.c:229-233)") {
    val st = TopnState.empty()
    st.add("x", 10)
    assertThrows[IllegalArgumentException](st.topK(11, 10))
  }

  test("saturating add at Long.MaxValue (topn.c:997-1009)") {
    assert(TopnState.saturatingAdd(Long.MaxValue - 1, 5) === Long.MaxValue)
    assert(TopnState.saturatingAdd(Long.MaxValue, Long.MaxValue) === Long.MaxValue)
    assert(TopnState.saturatingAdd(5, 7) === 12)
    assert(TopnState.saturatingAdd(-5, 7) === 2)
    assert(TopnState.saturatingAdd(Long.MinValue, -1) === Long.MinValue)
  }

  test("UTF-8 truncation: 255-byte cap, never splits a code point") {
    val ascii = "a" * 300
    assert(TopnState.truncateUtf8(ascii, 255) === "a" * 255)
    // 3-byte CJK chars: 85 chars = 255 bytes exactly
    val cjk = "中" * 100
    val t = TopnState.truncateUtf8(cjk, 255)
    assert(t === "中" * 85)
    assert(TopnState.utf8Length(t) === 255)
    // surrogate pair (4 bytes) at the boundary must be dropped whole
    val nearEdge = "a" * 253 + new String(Character.toChars(0x1F600))
    val t2 = TopnState.truncateUtf8(nearEdge, 255)
    assert(t2 === "a" * 253)
    // short strings pass through untouched
    assert(TopnState.truncateUtf8("héllo", 255) === "héllo")
  }

  test("sketch keys longer than 256 bytes error on merge (topn.c:700-706)") {
    val st = TopnState.empty()
    assertThrows[IllegalArgumentException](st.mergeEntry("x" * 257, 1L, 10))
    st.mergeEntry("x" * 256, 1L, 10) // 256 exactly is accepted
  }

  test("serialization round-trips state exactly") {
    val st = TopnState.empty()
    Seq("a" -> 1L, "bb" -> Long.MaxValue, "ccc" -> -7L, "é中" -> 42L)
      .foreach { case (k, v) => st.mergeEntry(k, v, 100) }
    val back = TopnState.deserialize(st.serialize())
    assert(entries(back) === entries(st))
  }

  test("an inserted key owns its bytes even when the caller reuses its buffer") {
    // UTF8String.clone() hands back the caller's array when the string
    // spans it exactly; a scan buffer reused after the add must not
    // rewrite the stored key (or its cached hash)
    val buf = "abc".getBytes(StandardCharsets.UTF_8)
    val st = TopnState.empty()
    st.add(UTF8String.fromBytes(buf), 10)
    val mbuf = "def".getBytes(StandardCharsets.UTF_8)
    st.mergeEntry(UTF8String.fromBytes(mbuf), 2L, 10)
    buf(0) = 'z'.toByte
    mbuf(0) = 'z'.toByte
    assert(entries(st) === Map("abc" -> 1L, "def" -> 2L))
    st.add("abc", 10)
    st.mergeEntry("def", 1L, 10)
    assert(entries(st) === Map("abc" -> 2L, "def" -> 3L))
  }

  test("wire compatibility: payloads of the HashMap-backed serializer still load") {
    // bytes written by the serializer that preceded the flat table, for
    // {a: 3, bb: Long.MaxValue, é中: -7} with loss bound 5; streaming
    // checkpoints (runningTopK state) hold exactly this framing
    val withBound = Array[Byte](3, 2, 98, 98, -2, -1, -1, -1, -1, -1, -1, -1, -1, 1,
      1, 97, 6, 5, -61, -87, -28, -72, -83, 13, 10)
    val a = TopnState.deserialize(withBound)
    assert(entries(a) === Map("a" -> 3L, "bb" -> Long.MaxValue, "é中" -> -7L))
    assert(a.lossBound === 5L)
    // a payload from before the trailing bound existed loads with bound 0
    val noBound = Array[Byte](2, 1, 120, 2, 2, 121, 122, -40, 4)
    val b = TopnState.deserialize(noBound)
    assert(entries(b) === Map("x" -> 1L, "yz" -> 300L))
    assert(b.lossBound === 0L)
    // the framing is unchanged: same length, and it reads back the same
    val again = a.serialize()
    assert(again.length === withBound.length)
    assert(entries(TopnState.deserialize(again)) === entries(a))
  }

  test("sketch ordering works with spark.testing set (no UTF8String.compareTo)") {
    val prev = System.getProperty("spark.testing")
    System.setProperty("spark.testing", "true")
    try {
      val st = TopnState.empty()
      Seq("c", "a", "b", "a", "d", "b").foreach(st.add(_, 10))
      assert(st.pack(3).map(e => (e._1.toString, e._2.longValue)).toSeq ===
        Seq(("a", 2L), ("b", 2L), ("c", 1L)))
      val tied = Array[(UTF8String, java.lang.Long)](
        (UTF8String.fromString("y"), 1L), (UTF8String.fromString("x"), 1L))
      java.util.Arrays.sort(tied, TopnState.EntryOrdering)
      assert(tied.map(_._1.toString).toSeq === Seq("x", "y"))
      assert(TopnState.utf8Compare("a", "b") < 0)
    } finally {
      if (prev == null) System.clearProperty("spark.testing")
      else System.setProperty("spark.testing", prev)
    }
  }

  test("utf8Compare matches UTF-8 byte order including supplementary chars") {
    // U+FFFD (3-byte) vs U+10000 (4-byte surrogate pair): code point order
    assert(TopnState.utf8Compare("�", new String(Character.toChars(0x10000))) < 0)
    assert(TopnState.utf8Compare("a", "b") < 0)
    assert(TopnState.utf8Compare("a", "ab") < 0)
    assert(TopnState.utf8Compare("", "") === 0)
  }

  test("lossBound: zero while nothing was pruned, tracks the largest evicted frequency per prune") {
    val n = 2 // policy-B cap = 6
    val st = TopnState.empty()
    (1 to 6).foreach(i => st.add(s"k$i", i.toLong, n))
    assert(st.lossBound === 0L, "no prune yet -> exact, bound 0")
    st.add("k7", 100L, n) // size 7 -> prune to 3: keeps k7/k6/k5, drops k4..k1
    assert(st.lossBound === 4L, "largest dropped frequency (k4) bounds the prune's loss")
    // pack to n=2 drops k5 (freq 5): the materialized bound covers absent items
    st.pack(n)
    assert(st.lossBound === 9L, "pack-prune loss folds in (4 + 5)")
  }

  test("lossBound fires in the (budget, 3*budget] window: the pack discards without policy B") {
    // the r16 ADVICE case: distinct count ABOVE the budget but BELOW the
    // policy-B threshold — mid-stream eviction never fires, yet the final
    // pack must discard positive mass, so the sticky bound (and with it
    // the bounds report's has_eviction) reads true. This is why the
    // driver oracle computes eviction as `distinct > budget`, NOT
    // `distinct > 3*budget`.
    val n = 16 // policy-B cap = 48
    val st = TopnState.empty()
    (1 to 30).foreach(i => st.add(s"k$i", i.toLong, n)) // 30 in (16, 48]
    assert(st.size === 30 && st.lossBound === 0L,
      "no policy-B prune below 3*budget")
    val packed = st.pack(n)
    assert(packed.length === n)
    assert(st.lossBound > 0L,
      "the pack dropped 14 positive-count entries — the bound must say so")
    // and the complementary side: distinct <= budget stays provably exact
    val ex = TopnState.empty()
    (1 to 16).foreach(i => ex.add(s"k$i", i.toLong, n))
    ex.pack(n)
    assert(ex.lossBound === 0L, "nd <= budget never loses mass")
  }

  test("lossBound survives the wire and adds across merges") {
    val n = 2
    val a = TopnState.empty()
    (1 to 7).foreach(i => a.add(s"k$i", i.toLong, n)) // prune at k7: bound 4
    val b = TopnState.deserialize(a.serialize())
    assert(b.lossBound === a.lossBound, "bound must ship with the partial state")
    b.merge(a, n)
    assert(b.lossBound >= 2 * a.lossBound,
      "merged bound is at least the sum of both sides' bounds")
  }

  test("merge is commutative & associative below eviction threshold") {
    val n = 100
    def build(items: Seq[String]): TopnState = {
      val st = TopnState.empty()
      items.foreach(st.add(_, n))
      st
    }
    val a = build(Seq("x", "y", "x", "z"))
    val b = build(Seq("y", "w", "w"))
    val ab = TopnState.deserialize(a.serialize()); ab.merge(b, n)
    val ba = TopnState.deserialize(b.serialize()); ba.merge(a, n)
    assert(entries(ab) === entries(ba))
    assert(entries(ab) === Map("x" -> 2L, "y" -> 2L, "z" -> 1L, "w" -> 2L))
  }
}

object TopnStateProps extends Properties("TopnState") {
  import scala.jdk.CollectionConverters._

  property("exact counts whenever distinct <= 3*n") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(0, 9).map(_.toString))) { items =>
      val n = 4 // 10 distinct possible <= 12
      val st = TopnState.empty()
      items.foreach(st.add(_, n))
      val expected = items.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      st.toStringMap == expected
    }

  property("pack returns at most n entries sorted by (freq desc, item asc)") =
    Prop.forAll(Gen.listOf(Gen.alphaNumStr.map(_.take(8)))) { items =>
      val n = 5
      val st = TopnState.empty()
      items.foreach(st.add(_, n))
      val packed = st.pack(n).map(e => (e._1.toString, e._2.longValue))
      val resorted = packed.sortWith { (x, y) =>
        x._2 > y._2 || (x._2 == y._2 && TopnState.utf8Compare(x._1, y._1) < 0)
      }
      packed.length <= n && packed.toSeq == resorted.toSeq
    }

  property("count-interval guarantee under forced eviction: reported <= true <= reported + lossBound, absent items <= lossBound") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(0, 40).map(_.toString))) { items =>
      val n = 2 // tiny budget: ~any non-trivial stream forces policy-B prunes
      val st = TopnState.empty()
      items.foreach(st.add(_, n))
      st.pack(n) // the materialized form, pack-drop loss included
      val reported = st.toStringMap
      val bound = st.lossBound
      val truth = items.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      val presentOk = reported.forall { case (k, f) =>
        val t = truth(k); f <= t && t <= f + bound
      }
      val absentOk = (truth.keySet -- reported.keySet)
        .forall(k => truth(k) <= bound)
      val exactWhenUnpruned = bound > 0 || reported == truth
      presentOk && absentOk && exactWhenUnpruned
    }

  /** The reference semantics, naively: an immutable map and a full
    * canonical sort on every prune. */
  private final class Model(n: Int) {
    var counts = Map.empty[String, Long]
    var bound = 0L
    def sorted: Seq[(String, Long)] = counts.toSeq.sortWith { (x, y) =>
      x._2 > y._2 || (x._2 == y._2 && java.util.Arrays.compareUnsigned(
        x._1.getBytes(StandardCharsets.UTF_8), y._1.getBytes(StandardCharsets.UTF_8)) < 0)
    }
    private def pruneTo(keep: Int): Unit = {
      val s = sorted
      bound = TopnState.saturatingAdd(bound, math.max(0L, s(keep)._2))
      counts = s.take(keep).toMap
    }
    private def upsert(k: String, c: Long): Unit = counts.get(k) match {
      case Some(v) => counts += k -> TopnState.saturatingAdd(v, c)
      case None =>
        counts += k -> c
        if (counts.size > TopnState.UnionFactor * n) pruneTo(counts.size / 2)
    }
    def add(k: String, c: Long): Unit = upsert(TopnState.truncateUtf8(k, TopnState.MaxKeyBytes), c)
    def mergeEntry(k: String, c: Long): Unit = upsert(k, c)
    def pack(): Seq[(String, Long)] = {
      if (counts.size > n) pruneTo(n)
      sorted
    }
  }

  private val keyGen: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h", "é", "中", "ab", ""),
    3 -> Gen.chooseNum(0, 40).map(i => s"k$i"),
    // 256 bytes: kept whole by mergeEntry, truncated by add
    1 -> Gen.oneOf("x" * 256, "y" * 256),
    // over 255 bytes, distinct only past the cut: add folds them together
    1 -> Gen.oneOf("x" * 300 + "1", "x" * 300 + "2", "中" * 90, "中" * 86 + "a"))

  private val weightGen: Gen[Long] = Gen.frequency(
    8 -> Gen.chooseNum(1L, 5L),
    2 -> Gen.chooseNum(-5L, 0L),
    1 -> Gen.oneOf(Long.MaxValue, Long.MinValue, Long.MaxValue / 2, Long.MinValue / 2))

  // (isAdd, key, weight)
  private val opGen: Gen[(Boolean, String, Long)] =
    Gen.zip(Gen.oneOf(true, false), keyGen, weightGen)

  property("flat table equals a naive map-and-sort model: contents, lossBound, serde, pack") =
    Prop.forAll(Gen.chooseNum(1, 4), Gen.listOf(opGen)) { (n, ops) =>
      val st = TopnState.empty()
      val model = new Model(n)
      ops.foreach { case (isAdd, k, w) =>
        if (isAdd) { st.add(k, w, n); model.add(k, w) }
        else if (TopnState.utf8Length(k) <= TopnState.MaxKeyBytes + 1) {
          st.mergeEntry(k, w, n); model.mergeEntry(k, w)
        }
      }
      val back = TopnState.deserialize(st.serialize())
      val same = st.toStringMap == model.counts && st.lossBound == model.bound &&
        back.toStringMap == model.counts && back.lossBound == model.bound
      val packed = st.pack(n).map(e => (e._1.toString, e._2.longValue)).toSeq
      same && packed == model.pack() && st.lossBound == model.bound
    }

  property("serialize/deserialize round-trip") =
    Prop.forAll(Gen.listOf(Gen.zip(Gen.alphaNumStr.map(_.take(12)), Gen.long))) { kvs =>
      val st = TopnState.empty()
      kvs.foreach { case (k, v) => st.mergeEntry(k, v, 1000) }
      val back = TopnState.deserialize(st.serialize())
      back.toStringMap == st.toStringMap
    }
}
