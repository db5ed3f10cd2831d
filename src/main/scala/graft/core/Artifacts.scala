package graft.core

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{Files, NoSuchFileException, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.PlanBridge

/** The one publish protocol for on-disk artifacts (VersionedStore
  * versions, ScanLayout rewrites): build the artifact in a sibling
  * scratch dir and publish it with ONE atomic rename, so a reader sees
  * the whole artifact or none of it.
  *
  * Content is deterministic for a given target (same inputs ⇒ same
  * rows), so the first COMPLETE writer wins: a complete target is left
  * untouched, an incomplete leftover (a crashed writer) is tombstoned
  * and replaced, and the scratch dir is reclaimed on every exit path —
  * an abandoned `.build-*` would otherwise keep partial part files
  * across sessions forever. Scratch and tombstone names start with '.',
  * so Spark's file listing and the store's version listing skip them,
  * and they sit next to the target, so the rename stays on one
  * filesystem.
  */
object Artifacts {

  /** Publish `dst` unless `complete(dst)` already holds: `build` writes
    * the artifact into the scratch path it is handed (which does not
    * exist yet). Returns true iff THIS call published; false means a
    * complete artifact was there already or a concurrent writer
    * published first. Any other failure propagates after the scratch
    * dir is reclaimed. */
  def publish(dst: Path, complete: Path => Boolean)(build: Path => Unit): Boolean =
    !complete(dst) && {
      val scratch = dst.resolveSibling(
        s".build-${dst.getFileName}-${java.util.UUID.randomUUID()}")
      try {
        build(scratch)
        !complete(dst) && {
          tombstone(dst)
          Files.move(scratch, dst, StandardCopyOption.ATOMIC_MOVE)
          true
        }
      } catch {
        // lost the race between the check and the rename: the winner's
        // complete artifact is the result
        case _: IOException if complete(dst) => false
        case e: Exception => settle(); throw e
      } finally deleteRecursively(scratch)
    }

  private val SettleNs = 30L * 1000 * 1000 * 1000

  /** A failed Spark write returns while other tasks of its job can still
    * run: a failed job kills them without interrupting them, and one that
    * writes after the scratch dir is reclaimed recreates part of it
    * (`_temporary` dirs), a `.build-*` left behind for good. So before a
    * failed build's scratch dir is reclaimed, wait, at most [[SettleNs]],
    * until the session's scheduler runs no task. */
  private def settle(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext).filterNot(_.isStopped).foreach { sc =>
        val deadline = System.nanoTime() + SettleNs
        // an interrupt ends the wait but must not replace the build's error
        try while (PlanBridge.runningTasks(sc) > 0 && System.nanoTime() < deadline) Thread.sleep(10)
        catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      }

  /** Remove `p` so a concurrent reader sees the whole artifact or none:
    * rename it to a `.deleting-*` sibling (atomic on a real filesystem),
    * then reclaim that. A symlink is simply unlinked. Returns false if
    * nothing was there — including when a concurrent delete won. */
  def tombstone(p: Path): Boolean =
    if (Files.isSymbolicLink(p)) Files.deleteIfExists(p)
    else {
      // nanoTime nonce: a crashed earlier delete leaves its tombstone
      // behind without blocking this one
      val tomb = p.resolveSibling(s".deleting-${p.getFileName}-${System.nanoTime()}")
      val moved =
        try { Files.move(p, tomb); true }
        catch { case _: NoSuchFileException => false }
      if (moved) deleteRecursively(tomb)
      moved
    }

  /** Best-effort recursive delete; a missing path is a no-op. The walk
    * stream is closed: an unclosed `Files.walk` leaks a directory
    * handle per call. */
  def deleteRecursively(p: Path): Unit =
    try {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f): Unit)
      finally stream.close()
    } catch { case _: IOException | _: UncheckedIOException => () }
}
