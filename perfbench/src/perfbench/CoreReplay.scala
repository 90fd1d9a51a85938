package perfbench

import org.apache.spark.unsafe.types.UTF8String

import graft.core.TopnState

/**
 * Single-threaded replay of a workload's own item stream through the public
 * `TopnState` API: the ns/op baseline of the sketch core, free of Spark.
 *
 * Each segment is the stream one aggregation state sees (for example one
 * (day, group) of a rollup). Prunes are observed from outside as a drop in
 * `size`, so the replay needs no hooks inside the sketch.
 */
object CoreReplay {
  final case class Segment(items: Array[UTF8String], counts: Array[Long]) {
    def size: Int = items.length
  }

  def segment(entries: Iterable[(String, Long)]): Segment = {
    val a = entries.toArray
    Segment(a.map(e => UTF8String.fromString(e._1)), a.map(_._2))
  }

  private val Passes = 3
  private val Reps = 7

  private def timeNs(body: => Unit): Long = {
    val t = System.nanoTime()
    body
    System.nanoTime() - t
  }

  private def median(xs: Seq[Long]): Double = Main.median(xs.map(_.toDouble))

  private def copy(s: TopnState): TopnState = TopnState.deserialize(s.serialize())

  def run(segments: IndexedSeq[Segment], n: Int): Map[String, Double] = {
    val adds = segments.map(_.size.toLong).sum

    // add with eviction active: fresh states at the workload's budget
    var states: IndexedSeq[TopnState] = IndexedSeq.empty
    var prunes = 0L
    val evictNs = (1 to Passes).map { _ =>
      prunes = 0L
      var total = 0L
      states = segments.map { seg =>
        val st = TopnState.empty(n)
        total += timeNs {
          var i = 0
          while (i < seg.size) {
            val before = st.size
            st.add(seg.items(i), seg.counts(i), n)
            if (st.size < before) prunes += 1
            i += 1
          }
        }
        st
      }
      total
    }

    // add hit: the same stream into states that already hold every key
    val big = Int.MaxValue / 4
    val full = segments.map { seg =>
      val st = TopnState.empty()
      seg.items.indices.foreach(i => st.add(seg.items(i), 0L, big))
      st
    }
    val hitNs = (1 to Passes).map { _ =>
      segments.indices.map { s =>
        val seg = segments(s)
        val st = full(s)
        timeNs {
          var i = 0
          while (i < seg.size) { st.add(seg.items(i), seg.counts(i), big); i += 1 }
        }
      }.sum
    }

    // the two largest states stand for a partial and the state it merges into
    val bySize = states.sortBy(-_.size)
    val a = bySize.head
    val b = bySize.lift(1).getOrElse(a)
    val merges = (1 to Reps).map { _ => val x = copy(a); timeNs(x.merge(b, n)) }
    val packs = (1 to Reps).map { _ => val x = copy(a); timeNs(x.pack(n)) }
    val pruneTimes = (1 to Reps).map { _ =>
      val x = copy(a)
      val t = timeNs(x.prune(x.size / 2))
      require(x.size <= a.size / 2, "prune did not shrink the state")
      t
    }
    var bytes: Array[Byte] = null
    val ser = (1 to Reps).map(_ => timeNs { bytes = a.serialize() })
    val de = (1 to Reps).map(_ => timeNs(TopnState.deserialize(bytes)))

    System.err.println(s"perfbench: core replay of $adds adds over ${segments.size} states; " +
      s"largest state ${a.size} entries")
    Map(
      "core.add_hit_ns" -> median(hitNs) / math.max(1L, adds),
      "core.add_evict_ns" -> median(evictNs) / math.max(1L, adds),
      "core.prune_ms" -> median(pruneTimes) / 1e6,
      "core.prunes_per_mrow" -> prunes * 1e6 / math.max(1L, adds),
      "core.merge_ms" -> median(merges) / 1e6,
      "core.pack_ms" -> median(packs) / 1e6,
      "core.serialize_us" -> median(ser) / 1e3,
      "core.deserialize_us" -> median(de) / 1e3,
      "core.state_bytes" -> bytes.length.toDouble,
      "core.loss_bound" -> Main.median(states.map(_.lossBound.toDouble)))
  }
}
