package graft.core

import java.nio.charset.StandardCharsets

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * In-flight state of a bounded frequent-items ("top-n") sketch.
 *
 * Semantics re-derived from the reference extension (citusdata/postgresql-topn,
 * `topn.c`) but implemented from scratch for the JVM:
 *
 *  - Counters map `item -> frequency` (reference: topn.c:100-106
 *    `TopnAggState` over a PG HTAB).
 *  - Items are UTF-8 strings truncated to at most 255 bytes on ingest, never
 *    splitting a code point (reference: topn.c:51 `MAX_KEYSIZE 256`,
 *    topn.c:337-338 `text_to_cstring_buffer`).
 *  - Frequencies are signed 64-bit with saturating addition at
 *    `Long.MaxValue` (reference: topn.c:997-1009 `IncreaseItemFrequency`).
 *  - Two prune policies (reference: topn.c:869-908 `PruneHashTable`):
 *      policy A (finalize/scalar): if size > n keep the n most frequent
 *        (call sites topn.c:350, 380, 652);
 *      policy B (transition/merge): on inserting a NEW key, if
 *        size > 3*n ("UnionFactor", topn.c:50) keep the size/2 most
 *        frequent (call sites topn.c:441-445, 803-806, 984-988). This
 *        evict-half step is the approximation knob.
 *  - Ordering for prune and report is deterministic in this engine:
 *    frequency descending, then item ascending in UTF-8 byte order
 *    (`UTF8String.binaryCompare`, which is code point order). The reference
 *    leaves ties unspecified (topn.c:817-834 returns 0 on equal frequency +
 *    unstable qsort); we pin a total order so results are stable under
 *    Spark's nondeterministic shuffle order (SURVEY §2.8.1).
 *
 * Layout: one flat open-addressing table. Entries sit in insertion order in
 * three parallel arrays (`keys`, `counts`, and each key's `hashes`, computed
 * once on entry); a power-of-two `index` of entry positions, probed
 * linearly and kept at load <= 0.5, finds them. An add hashes its key once
 * and probes once; a hit adds in place and allocates nothing. Entries are
 * never deleted one at a time, so the index needs no tombstones.
 *
 * Prune (both policies): the keep-th largest count `t` is found by
 * quickselect on a primitive copy of `counts`; every entry above `t` stays,
 * and among the entries at exactly `t` the smallest keys stay, chosen by a
 * second quickselect over their positions. The arrays are compacted in
 * place (surviving entries keep their insertion order) and the index is
 * rebuilt from the cached hashes. The kept set is exactly the canonical
 * order's first `keep` entries, without sorting.
 *
 * Merge walks the other state's entries in ITS insertion order and shares
 * its keys (they are owned and never mutated). When a merge prunes
 * partway through, the kept set therefore depends on that order; every
 * order keeps the undercount and [[lossBound]] guarantees.
 *
 * Keys are held as `UTF8String` so the Spark hot paths (aggregate update
 * from a scanned column, merge from MapData, finalize to MapData, byte
 * serialization) run with ZERO `java.lang.String` conversions. A key
 * inserted from outside is copied first: scan buffers are reused, and
 * `UTF8String.clone()` returns the caller's own array when the string
 * spans it exactly. `java.lang.String` convenience overloads remain for
 * tests and the streaming state.
 *
 * NOT thread-safe (used inside a single aggregation buffer).
 */
final class TopnState private (initialCapacity: Int) extends Serializable {

  import TopnState._

  private var keys = new Array[UTF8String](initialCapacity)
  private var counts = new Array[Long](initialCapacity)
  private var hashes = new Array[Int](initialCapacity)
  /** Number of live entries: positions `[0, used)` of the three arrays. */
  private var used = 0
  /** Slot -> entry position + 1, 0 when free; twice the entry capacity. */
  private var index = new Array[Int](2 * initialCapacity)

  /** Cumulative eviction-loss bound (see [[lossBound]]). */
  private var evictLoss: Long = 0L

  def size: Int = used

  /**
   * Guaranteed count-interval half-width: for ANY item x,
   * `reported(x) <= true(x) <= reported(x) + lossBound` with
   * `reported(x) = 0` when x is absent. This sketch only ever UNDERcounts
   * — an evicted key's accumulated count is discarded, and a re-entering
   * key restarts from its new increments (unlike classic SpaceSaving,
   * whose takeover-inheritance OVERcounts) — so the bound accumulates one
   * term per prune: the LARGEST discarded frequency, which dominates what
   * any single item can have lost in that prune. 0 while no prune has
   * discarded anything: every count is exact and the interval collapses.
   * Merging states adds their bounds (each side's losses are independent
   * undercounts of the merged stream). Negative frequencies (typed maps
   * may carry them) never tighten the bound: a dropped negative
   * contributes 0.
   */
  def lossBound: Long = evictLoss

  /** Fold an already-materialized sketch's own loss bound into this
    * state's (the union-with-bounds ingest path). */
  def addLossBound(b: Long): Unit = {
    evictLoss = saturatingAdd(evictLoss, math.max(0L, b))
  }

  /** String view for tests. */
  private[graft] def toStringMap: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    var i = 0
    while (i < used) {
      b += ((keys(i).toString, counts(i)))
      i += 1
    }
    b.result()
  }

  /**
   * Add `count` occurrences of `item` (which may be a transient,
   * buffer-backed UTF8String — it is truncated/copied only if actually
   * inserted as a new key). Applies prune policy B.
   * Reference: topn.c:393-449 `topn_add_trans`.
   */
  def add(rawItem: UTF8String, count: Long, numCounters: Int): Unit = {
    val item = truncateUtf8(rawItem, MaxKeyBytes)
    upsert(item, item.hashCode, count, numCounters, copyKey = true)
  }

  def add(rawItem: UTF8String, numCounters: Int): Unit = add(rawItem, 1L, numCounters)

  def add(rawItem: String, count: Long, numCounters: Int): Unit =
    add(UTF8String.fromString(rawItem), count, numCounters)

  def add(rawItem: String, numCounters: Int): Unit = add(rawItem, 1L, numCounters)

  /**
   * Merge a materialized sketch entry into this state (policy B per
   * inserted key). Keys arriving from a sketch are NOT truncated; keys
   * longer than 256 bytes are an error, mirroring the reference's
   * asymmetry (truncate-on-add topn.c:337 vs error-on-load topn.c:700-706).
   * Reference: topn.c:753-810 `MergeJsonbIntoTopnAggState`, 955-990
   * `MergeTopn`.
   */
  def mergeEntry(item: UTF8String, freq: Long, numCounters: Int): Unit = {
    if (item.numBytes > MaxKeyBytes + 1) {
      throw graft.GraftErrors.sketchKeyTooLong(MaxKeyBytes + 1)
    }
    upsert(item, item.hashCode, freq, numCounters, copyKey = true)
  }

  def mergeEntry(item: String, freq: Long, numCounters: Int): Unit =
    mergeEntry(UTF8String.fromString(item), freq, numCounters)

  /** Merge another in-flight state into this one (aggregate COMBINEFUNC),
    * walking `other` in its insertion order with its cached hashes; its
    * keys are owned, so they are shared, not copied.
    * Reference: topn.c:588-625 `topn_union_internal` -> `MergeTopn`. */
  def merge(other: TopnState, numCounters: Int): Unit = {
    val n = other.used
    var i = 0
    while (i < n) {
      upsert(other.keys(i), other.hashes(i), other.counts(i), numCounters, copyKey = false)
      i += 1
    }
    // each side's prior losses are independent undercounts of the merged
    // stream; merge-time policy-B prunes accrue via upsert as usual
    addLossBound(other.evictLoss)
  }

  /** The index slot holding `item`, or the free slot where it belongs. */
  private def slotOf(item: UTF8String, h: Int): Int = {
    val mask = index.length - 1
    var s = h & mask
    var e = index(s)
    while (e != 0 && !(hashes(e - 1) == h && keys(e - 1).equals(item))) {
      s = (s + 1) & mask
      e = index(s)
    }
    s
  }

  /** Add `count` to `item`'s counter, inserting it if new (policy B). */
  private def upsert(item: UTF8String, h: Int, count: Long, numCounters: Int,
      copyKey: Boolean): Unit = {
    val s = slotOf(item, h)
    val e = index(s)
    if (e != 0) {
      counts(e - 1) = saturatingAdd(counts(e - 1), count)
    } else {
      append(s, if (copyKey) item.copy() else item, h, count)
      if (used > UnionFactor * numCounters) pruneTo(used / 2)
    }
  }

  /** Append a new entry whose free index slot is `slot`. */
  private def append(slot: Int, key: UTF8String, h: Int, count: Long): Unit = {
    keys(used) = key
    counts(used) = count
    hashes(used) = h
    used += 1
    index(slot) = used
    if (used == keys.length) {
      val cap = 2 * keys.length
      keys = java.util.Arrays.copyOf(keys, cap)
      counts = java.util.Arrays.copyOf(counts, cap)
      hashes = java.util.Arrays.copyOf(hashes, cap)
      index = new Array[Int](2 * cap)
      rebuildIndex()
    }
  }

  /** Re-insert entries `[0, used)` into the cleared index. Keys are
    * distinct, so each probe stops at the first free slot. */
  private def rebuildIndex(): Unit = {
    val mask = index.length - 1
    var i = 0
    while (i < used) {
      var s = hashes(i) & mask
      while (index(s) != 0) s = (s + 1) & mask
      index(s) = i + 1
      i += 1
    }
  }

  /** Policy A: keep at most the `n` most frequent entries (no-op if within
    * budget). Reference: topn.c:869-908 with itemLimit == remaining == n. */
  def prune(n: Int): Unit = {
    if (used > n) pruneTo(n)
  }

  /** Keep the first `keep < used` entries of the canonical order. */
  private def pruneTo(keep: Int): Unit = {
    val n = used
    // the discarded entry first in canonical order: its count bounds any
    // single item's loss in THIS prune (see lossBound)
    var lost = Long.MinValue
    var w = 0
    if (keep <= 0) {
      var i = 0
      while (i < n) { lost = math.max(lost, counts(i)); i += 1 }
    } else {
      val t = selectLong(java.util.Arrays.copyOf(counts, n), n - keep)
      var above = 0
      var ties = 0
      var i = 0
      while (i < n) {
        val c = counts(i)
        if (c > t) above += 1
        else if (c == t) ties += 1
        else lost = math.max(lost, c)
        i += 1
      }
      // ties >= 1 (t itself) and keep - above of them fit
      val keepTies = keep - above
      var keptTie: Array[Boolean] = null
      if (keepTies < ties) {
        lost = t
        val pos = new Array[Int](ties)
        var j = 0
        i = 0
        while (i < n) {
          if (counts(i) == t) { pos(j) = i; j += 1 }
          i += 1
        }
        selectByKey(pos, keepTies - 1)
        keptTie = new Array[Boolean](n)
        j = 0
        while (j < keepTies) { keptTie(pos(j)) = true; j += 1 }
      }
      i = 0
      while (i < n) {
        val c = counts(i)
        if (c > t || (c == t && (keptTie == null || keptTie(i)))) {
          keys(w) = keys(i)
          counts(w) = c
          hashes(w) = hashes(i)
          w += 1
        }
        i += 1
      }
    }
    java.util.Arrays.fill(keys.asInstanceOf[Array[AnyRef]], w, n, null)
    used = w
    java.util.Arrays.fill(index, 0)
    rebuildIndex()
    evictLoss = saturatingAdd(evictLoss, math.max(0L, lost))
  }

  /** Reorder `pos` so its first `k + 1` positions hold the smallest keys
    * (UTF-8 byte order; keys are distinct). Quickselect. */
  private def selectByKey(pos: Array[Int], k: Int): Unit = {
    var lo = 0
    var hi = pos.length - 1
    while (lo < hi) {
      val p = keys(pos((lo + hi) >>> 1))
      var i = lo
      var j = hi
      while (i <= j) {
        while (keys(pos(i)).binaryCompare(p) < 0) i += 1
        while (keys(pos(j)).binaryCompare(p) > 0) j -= 1
        if (i <= j) {
          val x = pos(i); pos(i) = pos(j); pos(j) = x
          i += 1
          j -= 1
        }
      }
      if (k <= j) hi = j
      else if (k >= i) lo = i
      else return
    }
  }

  /** Entries in canonical order: frequency desc, then item asc (UTF-8
    * binary order). */
  def sortedEntries(): Array[(UTF8String, java.lang.Long)] = {
    val arr = new Array[(UTF8String, java.lang.Long)](used)
    var i = 0
    while (i < used) {
      arr(i) = (keys(i), java.lang.Long.valueOf(counts(i)))
      i += 1
    }
    java.util.Arrays.sort(arr, EntryOrdering)
    arr
  }

  /** Finalize: prune to at most `numCounters` entries (policy A) and return
    * the materialized entries. Reference: topn.c:632-664 `topn_pack`. */
  def pack(numCounters: Int): Array[(UTF8String, java.lang.Long)] = {
    prune(numCounters)
    sortedEntries()
  }

  /**
   * Compact wire format for partial-aggregate shipping:
   * varint entryCount, then per entry: varint keyByteLen, key UTF-8 bytes,
   * zigzag-varint frequency; then a trailing zigzag-varint [[lossBound]]
   * (read-if-present on deserialize, so pre-bound payloads — e.g. an old
   * streaming checkpoint — load with bound 0). Entries go out in insertion
   * order. (The reference ships fixed 264-byte records, topn.c:509-542; we
   * use a denser framing — format is ours to define.)
   */
  def serialize(): Array[Byte] = {
    var total = varLongSize(used.toLong) + varLongSize(zigzag(evictLoss))
    var i = 0
    while (i < used) {
      val nb = keys(i).numBytes
      total += varLongSize(nb.toLong) + nb + varLongSize(zigzag(counts(i)))
      i += 1
    }
    val out = new Array[Byte](total)
    var pos = writeVarLong(out, 0, used.toLong)
    i = 0
    while (i < used) {
      val k = keys(i)
      pos = writeVarLong(out, pos, k.numBytes.toLong)
      k.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + pos)
      pos += k.numBytes
      pos = writeVarLong(out, pos, zigzag(counts(i)))
      i += 1
    }
    writeVarLong(out, pos, zigzag(evictLoss))
    out
  }
}

object TopnState {

  /** Reference: topn.c:50 `#define UNION_FACTOR 3`. */
  val UnionFactor = 3

  /** Max key payload bytes (reference MAX_KEYSIZE 256 includes the NUL:
    * topn.c:51, truncation to 255 payload bytes at topn.c:337-338). */
  val MaxKeyBytes = 255

  /** Entry capacity for `n` entries: a power of two above `n`, >= 8. */
  private def capacityFor(n: Int): Int =
    math.max(8, Integer.highestOneBit(math.max(1, n)) << 1)

  def empty(numCounters: Int): TopnState = new TopnState(capacityFor(numCounters))

  def empty(): TopnState = new TopnState(16)

  /** Saturating signed add (reference: topn.c:997-1009, upper bound only;
    * we also guard the lower bound since typed maps may carry negatives). */
  def saturatingAdd(a: Long, b: Long): Long = {
    val r = a + b
    // overflow iff operands share sign and result's sign differs
    if (((a ^ r) & (b ^ r)) < 0) {
      if (a > 0) Long.MaxValue else Long.MinValue
    } else r
  }

  /** Truncate to at most `maxBytes` UTF-8 bytes without splitting a code
    * point (reference: PG `text_to_cstring_buffer` multibyte-safe clip).
    * Returns the input unchanged (no copy) when within budget. */
  def truncateUtf8(s: UTF8String, maxBytes: Int): UTF8String = {
    if (s == null || s.numBytes <= maxBytes) return s
    val bytes = s.getBytes
    var end = maxBytes
    // back off to a UTF-8 sequence start (continuation bytes are 10xxxxxx)
    while (end > 0 && (bytes(end) & 0xC0) == 0x80) end -= 1
    // `end` now points at the first byte of the sequence that would be
    // split; everything before it is whole code points
    UTF8String.fromBytes(bytes, 0, end)
  }

  /** String-side truncation helper (same semantics), used by tests and
    * non-Spark callers. */
  def truncateUtf8(s: String, maxBytes: Int): String = {
    if (s == null) return null
    if (s.length * 3 <= maxBytes) return s
    truncateUtf8(UTF8String.fromString(s), maxBytes).toString
  }

  def utf8Length(s: String): Int =
    s.getBytes(StandardCharsets.UTF_8).length

  /** Compare by UTF-8 byte order (== code point order), matching both
    * Spark's and DuckDB's string ORDER BY. `binaryCompare`, not
    * `compareTo`: Spark's `compareTo` reads a system property per call and
    * throws under `spark.testing`. */
  def utf8Compare(a: String, b: String): Int =
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** Canonical report order: frequency desc, then item asc (binary). */
  val EntryOrdering: java.util.Comparator[(UTF8String, java.lang.Long)] =
    new java.util.Comparator[(UTF8String, java.lang.Long)] {
      override def compare(x: (UTF8String, java.lang.Long),
          y: (UTF8String, java.lang.Long)): Int = {
        val c = java.lang.Long.compare(y._2.longValue, x._2.longValue)
        if (c != 0) c else x._1.binaryCompare(y._1)
      }
    }

  /** The `k`-th smallest (0-based) of `a`, which it reorders. Three-way
    * partitions, so long runs of equal counts (Zipf tails) stay linear. */
  private def selectLong(a: Array[Long], k: Int): Long = {
    var lo = 0
    var hi = a.length - 1
    while (lo < hi) {
      val p = a((lo + hi) >>> 1)
      // [lo, lt) < p, [lt, i) == p, (gt, hi] > p
      var lt = lo
      var i = lo
      var gt = hi
      while (i <= gt) {
        val v = a(i)
        if (v < p) { a(i) = a(lt); a(lt) = v; lt += 1; i += 1 }
        else if (v > p) { a(i) = a(gt); a(gt) = v; gt -= 1 }
        else i += 1
      }
      if (k < lt) hi = lt - 1
      else if (k > gt) lo = gt + 1
      else return p
    }
    a(lo)
  }

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  private def varLongSize(value: Long): Int = {
    var v = value >>> 7
    var n = 1
    while (v != 0L) { v >>>= 7; n += 1 }
    n
  }

  /** Write `value` as a varint at `pos`; returns the position after it. */
  private def writeVarLong(out: Array[Byte], pos: Int, value: Long): Int = {
    var v = value
    var p = pos
    while ((v & ~0x7FL) != 0L) {
      out(p) = ((v & 0x7F) | 0x80).toByte
      v >>>= 7
      p += 1
    }
    out(p) = v.toByte
    p + 1
  }

  def deserialize(bytes: Array[Byte]): TopnState = {
    var pos = 0
    def readVarLong(): Long = {
      var shift = 0
      var result = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xFF
        pos += 1
        result |= (b & 0x7FL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }
    val n = readVarLong().toInt
    val st = new TopnState(capacityFor(n))
    var i = 0
    while (i < n) {
      val klen = readVarLong().toInt
      val key = UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, pos, pos + klen))
      pos += klen
      val freq = unzigzag(readVarLong())
      val h = key.hashCode
      val s = st.slotOf(key, h)
      // a repeated key overwrites, as a map load would
      if (st.index(s) != 0) st.counts(st.index(s) - 1) = freq
      else st.append(s, key, h, freq)
      i += 1
    }
    if (pos < bytes.length) {
      st.addLossBound(unzigzag(readVarLong()))
    }
    st
  }
}
