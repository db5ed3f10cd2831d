package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Artifacts

/** Versioned parquet snapshots — the Spark-native mapping of the
  * reference DFS's `sdfsname-v<N>` file versioning and `get-versions`
  * (reference `dfs/dfs_server.py:280-298,318-346`, SURVEY.md §3.3):
  * each write lands under `<base>/v=<N>`; reads address the latest or a
  * specific version. Replication/repair is the filesystem's job
  * (HDFS/S3), exactly as the survey scoped it.
  *
  * Layout is plain partition-style paths, so at scale a version is a
  * normal parquet dataset: pruned scans, schema per snapshot, no file
  * of a published version ever rewritten. Every write is built aside and
  * published by one atomic rename ([[Artifacts.publish]]), so a reader
  * sees a complete version or none.
  */
object VersionedStore {

  private def versionDirs(base: String): Seq[(Long, String)] = {
    val p = Paths.get(base)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val stream = Files.list(p) // must close: holds a directory handle
      try {
        val it = stream.iterator()
        val out = Seq.newBuilder[(Long, String)]
        while (it.hasNext) {
          val d = it.next()
          val name = d.getFileName.toString
          if (name.startsWith("v=") && Files.isDirectory(d))
            scala.util.Try(name.drop(2).toLong).toOption
              .foreach(v => out += v -> d.toString)
        }
        out.result().sortBy(_._1)
      } finally stream.close()
    }
  }

  def listVersions(base: String): Seq[Long] = versionDirs(base).map(_._1)

  /** True iff `v=<version>` exists AND carries the committer's _SUCCESS
    * marker — i.e. the snapshot write ran to completion. A directory
    * without the marker is a crashed write: callers deciding whether a
    * seed/first write already happened must use this, not bare
    * directory existence, or a half-written snapshot becomes permanent. */
  def isComplete(base: String, version: Long): Boolean =
    Files.exists(Paths.get(base, s"v=$version", "_SUCCESS"))

  /** One row per stored version with file count and byte size — the
    * analogue of the reference DFS's `ls` listing (its client prints
    * each stored replica per sdfs name, `dfs/dfs_client.py:146-157`);
    * here a version's "replicas" are its parquet part files and
    * durability is the filesystem's job, so the useful listing is
    * (version, files, bytes). Metadata-only: nothing reads row data. */
  def ls(base: String): Seq[VersionInfo] =
    versionDirs(base).map { case (v, dir) =>
      val stream = Files.walk(Paths.get(dir))
      try {
        var files = 0L
        var bytes = 0L
        val it = stream.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (Files.isRegularFile(p) &&
              !p.getFileName.toString.startsWith("_") &&
              !p.getFileName.toString.startsWith(".")) {
            files += 1
            bytes += Files.size(p)
          }
        }
        VersionInfo(v, files, bytes)
      } finally stream.close()
    }

  final case class VersionInfo(version: Long, files: Long, bytes: Long)

  /** Write the next version; returns its number (1-based). Fails
    * loudly if it loses a race: when a concurrent writer publishes the
    * same number first, this throws and the caller still holds its rows
    * (a retry lands as the version after). */
  def write(df: DataFrame, base: String): Long = {
    val next = listVersions(base).lastOption.getOrElse(0L) + 1
    if (!publish(df, base, next))
      throw new java.nio.file.FileAlreadyExistsException(s"$base/v=$next",
        null, "version published concurrently; this write was not stored")
    next
  }

  /** Idempotent per-micro-batch write for streaming foreachBatch sinks
    * and deterministic snapshot builds: the version is derived from the
    * batch id, and the first COMPLETE write of it is final. A replayed
    * batch (restart between sink write and checkpoint commit) finds its
    * version complete and writes nothing — upgrading foreachBatch's
    * at-least-once to exactly-once, the same trick as the reference's
    * replay timer but with deterministic content. An incomplete leftover
    * (crashed writer) is replaced; two writers racing the same version
    * publish all-or-nothing, never a mix of both jobs' part files. */
  def writeBatch(df: DataFrame, base: String, batchId: Long): Long = {
    // version stays a Long: truncating the batch id to Int would wrap a
    // long-lived stream past Int.MaxValue batches into colliding versions
    val v = batchId + 1
    publish(df, base, v): Unit
    v
  }

  /** [[Artifacts.publish]] of `df` as `v=<version>`; complete = the
    * committer's _SUCCESS marker. */
  private def publish(df: DataFrame, base: String, version: Long): Boolean =
    Artifacts.publish(Paths.get(base, s"v=$version"), _ => isComplete(base, version)) {
      scratch => df.write.parquet(scratch.toString)
    }

  /** Latest-wins upsert — the MERGE INTO shape without a table format:
    * incoming rows replace same-key rows of the latest snapshot, all
    * other rows carry forward, and the result lands as the next
    * immutable version (prior versions stay readable — time travel is
    * free). One left-anti join on the key (an ingest batch is usually
    * broadcast-able against the corpus scan) plus a union; no file in
    * place is ever rewritten, so object stores and concurrent readers
    * are safe. Caller supplies key-distinct incoming rows (the usual
    * CDC-batch contract). */
  def upsert(df: DataFrame, base: String, keyCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    val merged =
      if (listVersions(base).isEmpty) df
      else readLatest(df.sparkSession, base)
        .join(df.select(keyCols.map(col): _*), keyCols, "left_anti")
        .unionByName(df)
    write(merged, base)
  }

  def readVersion(spark: SparkSession, base: String, version: Long): DataFrame =
    spark.read.parquet(s"$base/v=$version")

  def readLatest(spark: SparkSession, base: String): DataFrame = {
    val vs = listVersions(base)
    require(vs.nonEmpty, s"no versions under $base")
    readVersion(spark, base, vs.last)
  }

  /** Union of the last `n` versions tagged with their version number —
    * the analogue of the reference's get-versions (≤5 concatenated
    * versions, `dfs/dfs_client.py:158-170`). */
  def readVersions(spark: SparkSession, base: String, n: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions._
    val vs = listVersions(base).takeRight(n)
    require(vs.nonEmpty, s"no versions under $base")
    vs.map(v => readVersion(spark, base, v).withColumn("_version", lit(v)))
      .reduce(_ unionByName _)
  }

  /** Remove one version — the `delete` verb of the reference DFS client
    * (`dfs/dfs_client.py:146-157`). The directory is tombstoned
    * ([[Artifacts.tombstone]]): a concurrent reader listing versions
    * either sees the complete `v=<N>` directory or none — never a
    * half-deleted snapshot that a parquet scan would fail on. Returns
    * false if the version did not exist (idempotent, like re-deleting
    * an sdfs name). */
  def deleteVersion(base: String, version: Long): Boolean = {
    val dir = Paths.get(base, s"v=$version")
    Files.isDirectory(dir) && Artifacts.tombstone(dir)
  }

  /** Delete every version — the reference's whole-file delete. */
  def delete(base: String): Int =
    listVersions(base).count(deleteVersion(base, _))

  /** Retention: drop all but the newest `keep` versions — the reference
    * server retains/serves at most 5 (`dfs/dfs_server.py:318-346`,
    * counter capped at 5), but keeps older bytes forever; a streaming
    * sink calling [[writeBatch]] every trigger needs this or snapshot
    * growth is unbounded. Versions are listed ONCE and deleted oldest
    * first, so a concurrent writer appending new versions can never
    * cause more than `keep` survivors from this call's snapshot to go. */
  def prune(base: String, keep: Int = 5): Seq[Long] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val doomed = listVersions(base).dropRight(keep)
    doomed.filter(deleteVersion(base, _))
  }
}
