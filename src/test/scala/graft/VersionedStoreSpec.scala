package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.VersionedStore

class VersionedStoreSpec extends SparkSpec {

  test("versioned writes, latest/specific/multi-version reads") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-versions").toString

    assert(VersionedStore.write(Seq(1, 2, 3).toDF("x"), base) === 1)
    assert(VersionedStore.write(Seq(4, 5).toDF("x"), base) === 2)
    assert(VersionedStore.write(Seq(6).toDF("x"), base) === 3)

    assert(VersionedStore.listVersions(base) === Seq(1, 2, 3))
    assert(VersionedStore.readLatest(spark, base).as[Int].collect().sorted.toSeq === Seq(6))
    assert(VersionedStore.readVersion(spark, base, 1)
      .as[Int].collect().sorted.toSeq === Seq(1, 2, 3))

    val last2 = VersionedStore.readVersions(spark, base, 2)
    assert(last2.select("_version").distinct().collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    assert(last2.count() === 3)

    // a new write never mutates existing versions (append-only layout)
    VersionedStore.write(Seq(7).toDF("x"), base)
    assert(VersionedStore.readVersion(spark, base, 1)
      .as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
  }

  test("upsert: latest-wins merge lands as a new version, history intact") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-upsert").toString
    // bootstrap upsert on an empty store = plain write
    assert(VersionedStore.upsert(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), base, Seq("k")) === 1)
    // overlap key 2 replaced, key 3 inserted, key 1 carried forward
    assert(VersionedStore.upsert(
      Seq((2L, "B"), (3L, "c")).toDF("k", "v"), base, Seq("k")) === 2)
    val latest = VersionedStore.readLatest(spark, base)
      .as[(Long, String)].collect().sorted.toSeq
    assert(latest === Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // time travel: version 1 still reads back pre-merge
    val v1 = VersionedStore.readVersion(spark, base, 1L)
      .as[(Long, String)].collect().sorted.toSeq
    assert(v1 === Seq((1L, "a"), (2L, "b")))
  }

  test("deleteVersion removes exactly one snapshot; idempotent on misses") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-vdel").toString
    (1 to 4).foreach(i => VersionedStore.write(Seq(i).toDF("x"), base))

    assert(VersionedStore.deleteVersion(base, 2))
    assert(VersionedStore.listVersions(base) === Seq(1, 3, 4))
    // remaining snapshots untouched; latest unchanged
    assert(VersionedStore.readVersion(spark, base, 3).as[Int].collect().toSeq === Seq(3))
    assert(VersionedStore.readLatest(spark, base).as[Int].collect().toSeq === Seq(4))
    // re-delete and never-existed: false, no error (reference client
    // semantics: deleting an absent sdfs name is a no-op)
    assert(!VersionedStore.deleteVersion(base, 2))
    assert(!VersionedStore.deleteVersion(base, 99))
    // no tombstone directories linger after reclaim
    val leftovers = new java.io.File(base).list().filter(_.startsWith(".deleting"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("prune retains the newest keep=5 versions (reference retention)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-vprune").toString
    (1 to 8).foreach(i => VersionedStore.write(Seq(i).toDF("x"), base))

    assert(VersionedStore.prune(base) === Seq(1, 2, 3)) // default keep=5
    assert(VersionedStore.listVersions(base) === Seq(4, 5, 6, 7, 8))
    // post-prune reads: latest and the ≤5-version union still work
    assert(VersionedStore.readLatest(spark, base).as[Int].collect().toSeq === Seq(8))
    val vs = VersionedStore.readVersions(spark, base)
    assert(vs.select("_version").distinct().collect().map(_.getLong(0)).sorted.toSeq
      === Seq(4L, 5L, 6L, 7L, 8L))
    // idempotent when already within retention
    assert(VersionedStore.prune(base) === Seq.empty)
    // prune to 1 leaves only the latest
    assert(VersionedStore.prune(base, keep = 1) === Seq(4, 5, 6, 7))
    assert(VersionedStore.listVersions(base) === Seq(8))
    // whole-file delete empties the store
    assert(VersionedStore.delete(base) === 1)
    assert(VersionedStore.listVersions(base) === Seq.empty)
  }

  test("foreachBatch versioned sink: one version per batch, exactly-once on rerun") {
    val in = Files.createTempDirectory("graft-vsink-in")
    Files.writeString(in.resolve("a.txt"), "alpha\nbeta\n")
    Files.writeString(in.resolve("b.txt"), "gamma\n")
    val base = Files.createTempDirectory("graft-vsink-store").toString
    val cp = Files.createTempDirectory("graft-vsink-cp").toString

    // one file per micro-batch → one store version per batch
    def runOnce(): Unit = graft.streaming.Streams.versionedSink(
      spark.readStream.option("maxFilesPerTrigger", 1).text(in.toString), base, cp)(
      (batch, _) => batch).awaitTermination()
    runOnce()

    val versions = VersionedStore.listVersions(base)
    assert(versions.size === 2, s"expected one version per micro-batch, got $versions")
    val total = versions.map(v =>
      VersionedStore.readVersion(spark, base, v).count()).sum
    assert(total === 3, "sink must write every input line exactly once")

    // rerun with the same checkpoint: the drained source has no new
    // data, so no new versions and no duplicated rows
    runOnce()
    assert(VersionedStore.listVersions(base) === versions)
    assert(versions.map(v => VersionedStore.readVersion(spark, base, v).count()).sum === 3)
  }

  test("ls reports every version with its file count and byte size") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-vs-ls").toString
    VersionedStore.write(Seq(1, 2, 3).toDF("v").coalesce(1), base)
    VersionedStore.write(Seq(4, 5).toDF("v").repartition(2), base)
    val listing = VersionedStore.ls(base)
    assert(listing.map(_.version) === Seq(1L, 2L))
    // data part files only (no _SUCCESS / .crc bookkeeping), real sizes
    assert(listing.head.files === 1L)
    assert(listing(1).files === 2L)
    assert(listing.forall(_.bytes > 0L))
    assert(VersionedStore.ls(s"$base-nonexistent").isEmpty)
  }

  private def entries(base: String): Seq[String] =
    new java.io.File(base).list().toSeq.sorted

  private def fileMtimes(dir: String): Map[String, Long] = {
    val st = Files.walk(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    } finally st.close()
  }

  test("publish: a replayed writeBatch leaves a complete version's files and rows unchanged") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-vs-replay").toString
    assert(VersionedStore.writeBatch(Seq(1, 2, 3).toDF("x"), base, 0L) === 1L)
    val before = fileMtimes(s"$base/v=1")
    // the replay carries different rows, so any rewrite would show
    assert(VersionedStore.writeBatch(Seq(9).toDF("x"), base, 0L) === 1L)
    assert(fileMtimes(s"$base/v=1") === before)
    assert(VersionedStore.readVersion(spark, base, 1L).as[Int].collect().sorted.toSeq ===
      Seq(1, 2, 3))
    assert(entries(base) === Seq("v=1"))
  }

  test("publish: a leftover v=N without _SUCCESS is replaced") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-vs-leftover").toString
    // a crashed writer's version: a partial part file and no marker
    val leftover = Paths.get(base, "v=1")
    Files.createDirectories(leftover)
    Files.writeString(leftover.resolve("part-00000-crashed.parquet"), "partial")
    assert(!VersionedStore.isComplete(base, 1L))
    assert(VersionedStore.writeBatch(Seq(4, 5).toDF("x"), base, 0L) === 1L)
    assert(VersionedStore.isComplete(base, 1L))
    assert(!Files.exists(leftover.resolve("part-00000-crashed.parquet")))
    assert(VersionedStore.readVersion(spark, base, 1L).as[Int].collect().sorted.toSeq ===
      Seq(4, 5))
    assert(entries(base) === Seq("v=1"))
  }

  test("publish: a failing build leaves no .build-* or .deleting-* under the base") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-vs-fail").toString
    VersionedStore.writeBatch(Seq(1).toDF("x"), base, 0L)
    // an incomplete leftover where the failing batch would publish
    Files.createDirectories(Paths.get(base, "v=2"))
    val bad = spark.range(100).select(when(col("id") < 50, col("id"))
      .otherwise(raise_error(lit("induced build failure")).cast("long")).as("x"))
    intercept[Exception](VersionedStore.writeBatch(bad, base, 1L))
    intercept[Exception](VersionedStore.write(bad, base))
    assert(entries(base) === Seq("v=1", "v=2"), "scratch or tombstone left behind")
    assert(VersionedStore.readVersion(spark, base, 1L).as[Int].collect().toSeq === Seq(1))
  }

  test("publish: write whose next version is already published throws and does not drop rows") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-vs-race").toString
    // a rival's complete version, built aside; evaluating the first row
    // of this write moves it into v=1 — a concurrent writer publishing
    // between this write's version listing and its own publish
    val rival = Files.createTempDirectory("graft-vs-rival").resolve("v").toString
    Seq(7).toDF("x").write.parquet(rival)
    val target = Paths.get(base, "v=1").toString
    val rivalPublishes = udf { (x: Int) =>
      VersionedStoreSpec.moveIfPresent(rival, target); x }.asNondeterministic()
    val mine = Seq(1, 2, 3).toDF("x").coalesce(1).select(rivalPublishes(col("x")).as("x"))
    intercept[java.nio.file.FileAlreadyExistsException](VersionedStore.write(mine, base))
    assert(VersionedStore.listVersions(base) === Seq(1L))
    assert(VersionedStore.readVersion(spark, base, 1L).as[Int].collect().toSeq === Seq(7))
    assert(entries(base) === Seq("v=1"), "the losing write's scratch was not reclaimed")
    // the loss was loud, so the caller still holds its rows: a retry
    // lands all of them as the next version
    assert(VersionedStore.write(mine, base) === 2L)
    assert(VersionedStore.readVersion(spark, base, 2L).as[Int].collect().sorted.toSeq ===
      Seq(1, 2, 3))
  }
}

object VersionedStoreSpec {
  def moveIfPresent(from: String, to: String): Unit = synchronized {
    if (Files.exists(Paths.get(from))) Files.move(Paths.get(from), Paths.get(to)): Unit
  }
}
