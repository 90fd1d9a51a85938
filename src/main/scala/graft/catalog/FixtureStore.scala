package graft
package catalog

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one per-JVM store of fixture-derived state. An entry is either a
  * directory of stage tables written once (the curation chain, a trained
  * model, near-dup labels) or a small driver-side value (a row count).
  *
  * An entry's key is its stage name plus the [[fingerprint]] of every
  * fixture table the stage reads, so a fixture rewritten in place within
  * one JVM misses and rebuilds instead of serving the old corpus. Entries
  * live on disk or on the driver, never in a session's cache, so a stopped
  * session leaves nothing stale behind. Every directory handed out is
  * deleted when the JVM exits. */
private[graft] object FixtureStore {

  /** One key's value, built under the slot's lock: builds of the same key
    * wait for one another, builds of different keys may nest. */
  private final class Slot { var value: AnyRef = _ }

  private val slots = new ConcurrentHashMap[String, Slot]()
  private val dirs = new ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => reap()))

  /** `dir/table` plus a cheap content fingerprint: the part files' total
    * length, their count and the max mtime. The directory mtime alone has
    * 1-second (or coarser) resolution on several filesystems, so a
    * same-second rewrite would hit the old entry. A table may be one
    * parquet file (the test fixtures) or a Spark directory of part
    * files. */
  def fingerprint(dir: String, table: String): String = {
    val root = new java.io.File(s"$dir/$table.parquet")
    val parts = Option(root.listFiles()).filter(_.nonEmpty).getOrElse(Array(root))
    val (len, n, mtime) = parts.foldLeft((0L, 0L, root.lastModified())) {
      case ((len, n, mt), f) => (len + f.length(), n + 1, math.max(mt, f.lastModified()))
    }
    s"$dir/$table@$len:$n:$mtime"
  }

  /** The value of `stage` over `tables` of `dir`, built once per key. A
    * build that throws stores nothing, so the next call builds again. */
  def value[T <: AnyRef](stage: String, dir: String, tables: String*)(build: => T): T = {
    val key = (stage +: tables.map(fingerprint(dir, _))).mkString("|")
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    slot.synchronized {
      if (slot.value == null) slot.value = build
      slot.value.asInstanceOf[T]
    }
  }

  /** The directory of `stage` over `tables` of `dir`: a fresh directory
    * that `write` fills, once per key. */
  def stage(stage: String, dir: String, tables: String*)(write: String => Unit): String =
    value(stage, dir, tables: _*) {
      val out = tempDir(s"graft_$stage")
      write(out)
      out
    }

  /** A fresh temporary directory, deleted at JVM exit. */
  def tempDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    dirs.add(p)
    p.toString
  }

  /** Forget every entry and delete every directory handed out so far.
    * Runs at JVM exit; a failed delete is reported and the sweep goes on. */
  private[graft] def reap(): Unit = {
    slots.clear()
    Iterator.continually(dirs.poll()).takeWhile(_ != null).foreach { d =>
      try {
        val paths = Files.walk(d)
        try paths.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
        finally paths.close()
      } catch { case NonFatal(e) =>
        System.err.println(s"[fixture-store] cannot delete $d: $e")
      }
    }
  }
}
