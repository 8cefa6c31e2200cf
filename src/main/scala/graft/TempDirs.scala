package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

/** Tracked scratch directories, deleted on JVM exit.
  *
  * All harness scratch (materialized frames, stream replay dirs,
  * checkpoints, sinks) goes through here so it is actually reclaimed:
  * `java.io.tmpdir` defaults to RAM-backed /dev/shm in this build, and
  * undeleted scratch would otherwise accumulate across runs until tmpfs
  * fills — a leak straight out of usable memory. */
object TempDirs {

  private val created = new ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    val leftover = new java.util.ArrayList[Path]()
    created.forEach { p =>
      // other shutdown hooks (Spark's checkpoint flush) may still be
      // writing; anything that survives is reported so a reintroduced leak
      // is visible
      delete(p.toString)
      if (Files.exists(p)) leftover.add(p)
    }
    if (!leftover.isEmpty)
      System.err.println(s"[graft] ${leftover.size} scratch dirs not reclaimed: " +
        s"${leftover.toString.take(500)}")
  }, "graft-tempdir-cleanup"))

  /** Create a tracked temp directory; returns its absolute path. */
  def create(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    created.add(p)
    p.toFile.getAbsolutePath
  }

  /** Best-effort recursive delete of `dir`, deepest entries first — the
    * one tree delete for tracked dirs (iterative builders drop superseded
    * rounds here so scratch residency stays O(2 rounds), not O(all
    * rounds)), the exit hook above and slice-commit staging dirs. Every
    * entry is tried: an aborted or retried task can leave a non-empty
    * `_temporary` subdir, which a flat delete skips and a bare
    * deleteIfExists of its parent then fails on. A missing path, or an
    * entry that cannot be deleted, returns quietly (the exit hook reports
    * survivors); an interrupt is not swallowed — its flag is restored so
    * the caller's cancellation still lands. */
  def delete(dir: String): Unit = {
    def quietly(f: => Unit): Unit =
      try f catch {
        case _: InterruptedException => Thread.currentThread().interrupt()
        case NonFatal(_) => ()
      }
    quietly {
      val walk = Files.walk(Paths.get(dir))
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => quietly(Files.deleteIfExists(f)))
      finally walk.close()
    }
  }
}
