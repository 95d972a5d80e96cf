package graft

import java.io.File

import org.scalatest.BeforeAndAfterAll

import graft.lanes.Fixture

/** `ensureFixture`'s write-once + atomic-publish lifecycle (VERDICT r13
  * ask #7): first touch builds in a private temp dir and publishes with
  * one rename, re-touch is a no-op, a different build fingerprint
  * rebuilds, and a stale half-built dir (no marker — a crashed writer) is
  * replaced. Every fixture a case publishes, and its lock file, is
  * deleted after the suite. */
class FixtureSpec extends SparkSuite with BeforeAndAfterAll {

  /** This build's marker file. */
  private val marker = Fixture.fixtureMarker(Fixture.buildFingerprint)

  /** Every key [[freshKey]] handed out, for [[afterAll]]. */
  private val keys = scala.collection.mutable.ListBuffer.empty[String]

  // distinct `dir` per test: the fixture path is a pure function of
  // (dir, name), so a fresh dir key isolates each scenario
  private def freshKey(tag: String): String = {
    val key = s"/nonexistent/fixture-spec-$tag-${System.nanoTime}"
    keys += key
    key
  }

  private def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  override def afterAll(): Unit =
    try keys.foreach { key =>
      val path = Fixture.tmpPath(key, "fx")
      delete(new File(path))
      new File(s"$path.lock").delete()
    } finally super.afterAll()

  private def build(path: String, payload: String): Unit = {
    val d = new File(path)
    assert(d.mkdirs(), s"mkdirs failed for $d")
    val w = new java.io.FileWriter(new File(d, "data.txt"))
    w.write(payload); w.close()
  }

  test("first touch builds once; re-touch reuses without rebuilding") {
    val dir = freshKey("once")
    var builds = 0
    val p1 = Fixture.ensureFixture(dir, "fx") { p =>
      builds += 1; build(p, "one")
    }
    val p2 = Fixture.ensureFixture(dir, "fx") { p =>
      builds += 1; build(p, "two")
    }
    assert(p1 === p2)
    assert(builds === 1)
    assert(new File(p1, marker).isFile)
    assert(scala.io.Source.fromFile(new File(p1, "data.txt"))
      .mkString === "one")
    // no leftover private build dirs next to the published fixture
    val parent = new File(p1).getParentFile
    assert(!parent.listFiles.exists(
      _.getName.startsWith(new File(p1).getName + ".build_")))
  }

  test("a different build fingerprint rebuilds and replaces the stale fixture") {
    val dir = freshKey("ver")
    val p1 = Fixture.ensureStamped(dir, "fx", "build1")(build(_, "b1"))
    val p2 = Fixture.ensureStamped(dir, "fx", "build2")(build(_, "b2"))
    assert(p1 === p2)
    assert(new File(p2, Fixture.fixtureMarker("build2")).isFile)
    assert(!new File(p2, Fixture.fixtureMarker("build1")).isFile)
    assert(scala.io.Source.fromFile(new File(p2, "data.txt"))
      .mkString === "b2")
    // the running build's own stamp is neither, so it rebuilds too
    assert(!Set("build1", "build2").contains(Fixture.buildFingerprint))
    Fixture.ensureFixture(dir, "fx")(build(_, "this build"))
    assert(new File(p2, marker).isFile)
    assert(scala.io.Source.fromFile(new File(p2, "data.txt"))
      .mkString === "this build")
  }

  test("a half-built dir without a marker (crashed writer) is replaced") {
    val dir = freshKey("stale")
    // fabricate the crash residue: fixture path exists, marker absent
    val p1 = Fixture.ensureFixture(dir, "fx")(build(_, "good"))
    new File(p1, marker).delete()
    val w = new java.io.FileWriter(new File(p1, "data.txt"))
    w.write("partial"); w.close()
    val p2 = Fixture.ensureFixture(dir, "fx")(build(_, "rebuilt"))
    assert(p1 === p2)
    assert(new File(p2, marker).isFile)
    assert(scala.io.Source.fromFile(new File(p2, "data.txt"))
      .mkString === "rebuilt")
  }

  test("concurrent first-touch: racing publishers never tear the " +
      "fixture; the survivor is one complete build (r15 lock protocol)") {
    val dir = freshKey("race")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try {
          gate.await()
          paths.add(Fixture.ensureFixture(dir, "fx")(build(_, s"b$i")))
        } catch { case t: Throwable => errors.add(t); () }
      })
    }
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join(60000))
    assert(errors.isEmpty, s"racing publishers threw: ${errors}")
    assert(paths.size === 4)
    val p = paths.peek()
    assert(new File(p, marker).isFile,
      "the survivor carries this build's marker")
    val payload = scala.io.Source.fromFile(new File(p, "data.txt")).mkString
    assert((1 to 4).map(i => s"b$i").contains(payload),
      s"the surviving fixture must be ONE complete build, got '$payload'")
    // no build/stale residue left behind
    val residue = new File(p).getParentFile.listFiles()
      .filter(f => f.getName.contains(".build_") || f.getName.contains(".stale_"))
    assert(residue.isEmpty, s"leftover residue: ${residue.map(_.getName).toSeq}")
  }

  test("publish is atomic: marker and data appear together") {
    // the marker is created INSIDE the private build dir before the
    // rename, so an observer of `path` either sees nothing or sees a
    // complete fixture with its marker — never data without marker
    val dir = freshKey("atomic")
    val p = Fixture.ensureFixture(dir, "fx") { tmp =>
      build(tmp, "x")
      // while building, the published path must not exist yet
      assert(!new File(Fixture.tmpPath(dir, "fx")).exists())
    }
    assert(new File(p, marker).isFile)
  }
}
