package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Similarity}
import graft.sources.VersionedStore

/** Persisted ANN index lifecycle: train once → VersionedStore v1, serve
  * from the STORED artifact in any later session, upsert as v2. The
  * corpus lives in a throwaway copy of sf0.001 so the fingerprinted
  * store is isolated from every other suite/session using the shipped
  * testdata.
  */
class AnnIndexSpec extends SparkSpec {

  // isolated corpus copy → isolated (fingerprinted) index store; the
  // store root itself is ALSO isolated to a temp dir so suite runs never
  // accumulate stores under the durable default root. A session conf
  // does not cross newSession(), so every new session gets it too.
  private val storeRoot = Files.createTempDirectory("graft-annidx-store").toString
  spark.conf.set("graft.ann.index.base", storeRoot)

  private def newSession(): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set("graft.ann.index.base", storeRoot)
    s
  }

  private lazy val tds: String = {
    val d = Files.createTempDirectory("graft-annidx-corpus")
    Files.copy(Paths.get(sf0001, "embeddings.parquet"),
      d.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  private def run(name: String, s: org.apache.spark.sql.SparkSession = spark) =
    SparkEntry.queries(name)(s, tds).collect().toSeq

  private def mtimes(dir: String): Map[String, Long] = {
    val st = Files.walk(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    } finally st.close()
  }

  test("persisted topk builds v1 once; a second session reuses it untouched") {
    val r1 = run("ann_ivf_persisted_topk")
    assert(r1.nonEmpty)
    val base = AnnIndex.ensureFull(spark, tds)
    assert(VersionedStore.listVersions(s"$base/assign") == Seq(1L))
    assert(VersionedStore.listVersions(s"$base/cents") == Seq(1L))
    val m1 = mtimes(s"$base/assign")
    val r2 = run("ann_ivf_persisted_topk", newSession())
    assert(r2 == r1, "cross-session serve must reproduce the stored result")
    assert(VersionedStore.listVersions(s"$base/assign") == Seq(1L),
      "second session must not write a new version")
    assert(mtimes(s"$base/assign") == m1,
      "second session must not rewrite v1 — reuse means zero retraining")
  }

  test("serve reads the STORE: a tampered assignment version changes results") {
    val base = AnnIndex.ensureFull(spark, tds)
    // v2 = every vector in one cell ⇒ the in-cell search degenerates to
    // the exact brute-force cosine top-k. If serving retrained instead
    // of reading the store, results would be the v1 (trained) answer.
    val allOneCell = VersionedStore.readVersion(spark, s"$base/assign", 1L)
      .select(col("vec_id"), lit(0).cast("int").as("cell"))
    VersionedStore.writeBatch(allOneCell, s"$base/assign", 1L)
    try {
      val served = run("ann_ivf_persisted_topk", newSession())
      val brute = run("ann_cosine_topk")
      assert(served == brute,
        "with the tampered all-one-cell v2, serving must equal brute force")
    } finally {
      // restore: later suites in this JVM may serve from this store
      assert(VersionedStore.deleteVersion(s"$base/assign", 2L))
    }
  }

  test("content fingerprint: same vec_ids with different vectors miss the old index") {
    // the aliasing scenario an id-checksum fingerprint cannot see: a
    // regenerated corpus that preserves every vec_id (count and
    // sum(vec_id) identical) but carries different embedding content
    // must resolve to a DIFFERENT store — never be served the stale
    // corpus's index
    val d2 = Files.createTempDirectory("graft-annidx-corpus2").toString
    val orig = spark.read.parquet(s"$tds/embeddings.parquet").cache()
    orig.count() // pin rows before the dir is overwritten below
    orig.write.mode("overwrite").parquet(s"$d2/embeddings.parquet")
    val fp1 = AnnIndex.corpusFingerprint(spark, d2, "full")
    // regenerate IN PLACE: identical vec_ids (count and sum(vec_id)
    // unchanged — the old id-checksum fingerprint would alias), new
    // vector content
    orig.withColumn("embedding",
        expr("transform(embedding, x -> CAST(-x AS FLOAT))"))
      .write.mode("overwrite").parquet(s"$d2/embeddings.parquet")
    val fp2 = AnnIndex.corpusFingerprint(spark, d2, "full")
    assert(fp1 != fp2,
      "same-ids different-vectors corpus must fingerprint to a different store")
    orig.unpersist()
  }

  test("an in-place corpus rewrite resolves ensureFull to a new store in the same session") {
    // the memoized fingerprint must notice the rewrite: serving the old
    // corpus's trained index for the new vectors is the stale-store bug
    val d3 = Files.createTempDirectory("graft-annidx-corpus3").toString
    val orig = spark.read.parquet(s"$tds/embeddings.parquet").cache()
    orig.count() // pin rows before the dir is overwritten below
    orig.write.mode("overwrite").parquet(s"$d3/embeddings.parquet")
    val base1 = AnnIndex.ensureFull(spark, d3)
    orig.withColumn("embedding",
        expr("transform(embedding, x -> CAST(-x AS FLOAT))"))
      .write.mode("overwrite").parquet(s"$d3/embeddings.parquet")
    val base2 = AnnIndex.ensureFull(spark, d3)
    assert(base1 != base2, "a rewritten corpus must resolve to its own store")
    assert(VersionedStore.listVersions(s"$base2/assign") == Seq(1L),
      "the new store is trained on first use")
    orig.unpersist()
  }

  test("persisted upsert lands v2 idempotently and matches the unpersisted twin") {
    val r1 = run("ann_ivf_persisted_upsert")
    val base = AnnIndex.ensureBase80(spark, tds)
    assert(VersionedStore.listVersions(s"$base/assign") == Seq(1L, 2L))
    assert(r1 == run("ann_ivf_upsert"),
      "stored-centroid assignment must equal the retrain-based upsert")
    val r2 = run("ann_ivf_persisted_upsert", newSession())
    assert(r2 == r1)
    assert(VersionedStore.listVersions(s"$base/assign") == Seq(1L, 2L),
      "a replayed upsert keeps its complete version, never appends v3")
  }
}
