package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.FixtureStore

/** The fixture store's key rule, failure rule and exit reaping, over
  * temporary files (the fingerprint reads only file metadata). */
class FixtureStoreSpec extends AnyFunSuite {

  /** A fixture directory holding table `t` as part files of `lens` bytes,
    * every file and the table directory stamped with one fixed mtime. */
  private def writeTable(dir: File, lens: Seq[Int]): Unit = {
    val table = new File(dir, "t.parquet")
    Option(table.listFiles()).foreach(_.foreach(_.delete()))
    table.mkdirs()
    val stamp = 1700000000000L
    lens.zipWithIndex.foreach { case (len, i) =>
      val f = new File(table, s"part-$i")
      Files.write(f.toPath, Array.fill[Byte](len)(1))
      f.setLastModified(stamp)
    }
    table.setLastModified(stamp)
  }

  private def fixture(lens: Seq[Int]): String = {
    val dir = Files.createTempDirectory("fixture-store-spec").toFile
    dir.deleteOnExit()
    writeTable(dir, lens)
    dir.getPath
  }

  test("a stage builds once per key") {
    val dir = fixture(Seq(4))
    var builds = 0
    val a = FixtureStore.value("spec_once", dir, "t") { builds += 1; "built" }
    val b = FixtureStore.value("spec_once", dir, "t") { builds += 1; "again" }
    assert(builds === 1)
    assert((a, b) === ("built", "built"))
    FixtureStore.value("spec_once_other_stage", dir, "t") { builds += 1; "other" }
    assert(builds === 2, "the stage name is part of the key")
  }

  test("a same-second rewrite with another part count rebuilds") {
    val dir = fixture(Seq(2, 2))
    val before = FixtureStore.fingerprint(dir, "t")
    var builds = 0
    FixtureStore.value("spec_rewrite", dir, "t") { builds += 1; "v1" }
    // same total length, same mtimes: only the part count differs
    writeTable(new File(dir), Seq(1, 1, 2))
    assert(FixtureStore.fingerprint(dir, "t") !== before)
    val v = FixtureStore.value("spec_rewrite", dir, "t") { builds += 1; "v2" }
    assert(builds === 2)
    assert(v === "v2")
  }

  test("a build that throws rethrows and stores nothing, so the next call retries") {
    val dir = fixture(Seq(4))
    val e = intercept[IllegalStateException](
      FixtureStore.value[String]("spec_throw", dir, "t")(
        throw new IllegalStateException("boom")))
    assert(e.getMessage === "boom")
    var builds = 0
    val v = FixtureStore.value("spec_throw", dir, "t") { builds += 1; "ok" }
    assert(builds === 1)
    assert(v === "ok")
  }

  test("the reaper deletes every directory the store handed out") {
    val dir = fixture(Seq(4))
    val staged = FixtureStore.stage("spec_reap", dir, "t") { out =>
      val sub = new File(out, "sub")
      sub.mkdirs()
      Files.write(new File(sub, "part-0").toPath, Array[Byte](1, 2))
    }
    val scratch = FixtureStore.tempDir("spec-reap")
    assert(new File(staged, "sub/part-0").exists() && new File(scratch).exists())
    FixtureStore.reap()
    assert(!new File(staged).exists())
    assert(!new File(scratch).exists())
    // the reaped entry is forgotten: the next call builds a fresh directory
    val again = FixtureStore.stage("spec_reap", dir, "t")(_ => ())
    assert(again != staged && new File(again).exists())
  }
}
