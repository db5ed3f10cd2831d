package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped parquet staging for multiply-referenced intermediates.
  *
  * A DataFrame referenced from several plan branches (or several
  * registered queries) is lazily re-evaluated per reference; staging it
  * once and reading the parquet back is the local analogue of
  * checkpointing a shared artifact (an inverted index, a signature
  * table, an edge list) before fanning out at cluster scale. Keys are
  * (session id, caller key); every stage dir is purged when the JVM
  * exits.
  *
  * CRASH CONSISTENCY (round-9 finding): one OOM'd staging build once
  * cascaded into PATH_NOT_FOUND for every later consumer of a
  * previously-registered dir. Two rules prevent that class of failure:
  * a dir is REGISTERED only after its build ran to completion (a
  * `_GRAFT_STAGE_OK` marker is dropped as the final build step), and
  * every lookup REVALIDATES the marker — a registration whose dir has
  * vanished or was never completed is forgotten and rebuilt into a
  * FRESH dir, so no consumer can ever read a half-written or deleted
  * path. The marker (rather than parquet's _SUCCESS) also covers
  * [[materialize]] callers that lay out multiple datasets or bucketed
  * tables under one stage dir.
  */
object Staged {

  private val dirs = scala.collection.concurrent.TrieMap.empty[String, String]
  // every dir ever handed to a build — purged at JVM exit whether the
  // build succeeded, failed, or was abandoned by a revalidation miss
  private val allDirs = scala.collection.concurrent.TrieMap.empty[String, Unit]
  private val Marker = "_GRAFT_STAGE_OK"

  sys.addShutdownHook {
    allDirs.keys.foreach { d =>
      try {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        val root = Paths.get(d)
        if (Files.exists(root))
          Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      } catch { case _: Throwable => () }
    }
  }

  private def complete(d: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(d, Marker))

  /** Stable unique id per session, minted once into the session-local
    * runtime conf — hashCode can collide and doesn't identify a session.
    * private[graft]: also the memo key for other per-(session, corpus)
    * driver-side decisions (Dedup's duplication profile, StreamOracle's
    * sink rotation) — one id-minting scheme, not three. */
  private[graft] def sessionId(s: SparkSession): String = synchronized {
    val k = "graft.stage.session.id"
    s.conf.getOption(k).getOrElse {
      val id = java.util.UUID.randomUUID().toString
      s.conf.set(k, id)
      id
    }
  }

  /** Build-once, read-many: materialize `build` to a temp parquet dir on
    * first use of (session, key) and return a reader over it. */
  def apply(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    s.read.parquet(materialize(s, key)(d => build.write.mode("overwrite").parquet(d)))

  /** Generalized build-once: hand `build` a fresh temp dir on first use of
    * (session, key) and return that dir ever after — for stagings that are
    * not a plain parquet dump (partitioned layouts, bucketed tables). The
    * dir joins the same shutdown-purge list as [[apply]]'s stages.
    *
    * A failed build registers NOTHING (its dir is abandoned to the exit
    * purge); a registered dir that later fails revalidation (vanished,
    * marker missing) is likewise abandoned and rebuilt fresh. */
  def materialize(s: SparkSession, key: String)(build: String => Unit): String = {
    val k = sessionId(s) + "|" + key
    dirs.get(k) match {
      case Some(d) if complete(d) => d
      case stale =>
        stale.foreach(d => dirs.remove(k, d))
        dirs.getOrElseUpdate(k, {
          val d = java.nio.file.Files.createTempDirectory("graft-stage").toString
          allDirs.put(d, ())
          withBuildConf(s)(build(d))
          java.nio.file.Files.createFile(java.nio.file.Paths.get(d, Marker))
          d
        })
    }
  }

  /** Staging builds run with a LOWER AQE coalescing floor. The artifact
    * kernels (shingle/posting/signature construction) are CPU-bound per
    * byte and their shuffle output compresses very well, so the default
    * 1 MB `minPartitionSize` folds a multi-second aggregate+write into
    * ONE task (r12, text_inverted_index staging at 10×: the final
    * postings stage ran 1 task / 5.0 s; under a 64 KB floor, 9 tasks /
    * 2.2 s — build 11.0 → 8.4 s). At cluster scale staging shuffles are
    * orders of magnitude above either floor, so the override is inert
    * there. Scoped to the build (set/restore) so ordinary queries keep
    * the stock coalescing; builds are session-sequential in every
    * runner (Bench/Verify/Soak), so the temporary session-conf flip
    * cannot leak into a concurrent query. */
  private def withBuildConf[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "64k")
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }
}
