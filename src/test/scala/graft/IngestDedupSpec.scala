package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Tables
import graft.operators.Dedup
import graft.sources.VersionedStore
import graft.streaming.IngestDedup

/** The ingest bolt ([[IngestDedup.pairsVsCorpus]]): its row-local batch
  * side hashes exactly as the corpus side does, each batch document that
  * reuses a corpus id is scored on its own text, one batch runs a fixed
  * handful of jobs with almost no shuffle and scans its file once, and a
  * stream releases the corpus frames it cached once it terminates.
  */
class IngestDedupSpec extends SparkSpec {

  /** Plan traversal that descends into adaptive query stages. */
  private object Plans extends AdaptiveSparkPlanHelper

  private def docs = Tables.documents(spark, sf0001)
    .select("doc_id", "text", "lang", "source", "n_chars")

  /** The corpus artifacts as [[IngestDedup.start]] builds them. */
  private def corpusOf(corpus: DataFrame): (DataFrame, DataFrame) = {
    val sh = Dedup.shingles(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    val bands = Dedup.lshBands(Dedup.minhashSignature(sh)).persist(StorageLevel.MEMORY_AND_DISK)
    bands.count()
    (sh, bands)
  }

  /** A batch as a file source hands it over: one parquet file. */
  private def batchFile(batch: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft-ingest-batch").toString
    batch.coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("row-local signatures and bands equal the shingle-table aggregate for every doc") {
    val rowLocal = Dedup.minhashOfSets(Dedup.shingleSets(docs)).drop("shset")
    val grouped = Dedup.minhashSignature(Dedup.shingles(docs)).drop("c")
    val a = rowLocal.collect().toSet
    assert(a.nonEmpty)
    assert(a === grouped.collect().toSet)
    assert(Dedup.lshBands(rowLocal).collect().toSet ===
      Dedup.lshBands(grouped).collect().toSet)
  }

  test("a batch doc that reuses a corpus doc_id is scored on its own shingles") {
    def set(text: String): Set[String] =
      text.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    // the longest corpus doc, re-ingested under its own id twice, with
    // four and with two tokens appended: each copy is scored on its own
    // set, never on the union of the copies or with the corpus doc
    val orig = docs.orderBy(length(col("text")).desc, col("doc_id")).head()
    val id = orig.getAs[Long]("doc_id")
    val text = orig.getAs[String]("text")
    val edits = Seq(text + " zq1 zq2 zq3 zq4", text + " zr1 zr2")
    val (sh, bands) = corpusOf(docs)
    try {
      val one = docs.filter(col("doc_id") === id)
      val batch = batchFile(edits.map(e => one.withColumn("text", lit(e))).reduce(_ unionByName _))
      val got = IngestDedup.pairsVsCorpus(sh, bands, batch)
        .filter(col("corpus_doc") === id).collect()
        .map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._2).toSeq
      val want = edits.map { e =>
        val (a, b) = (set(text), set(e))
        (id, BigDecimal(a.intersect(b).size.toDouble / a.union(b).size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy(_._2)
      assert(want.map(_._2).distinct.size == 2 && want.forall(_._2 < 1.0))
      assert(got === want)
    } finally { sh.unpersist(); bands.unpersist() }
  }

  test("one warm 20-document batch runs at most 11 jobs and shuffles under 256 KB") {
    val sc = spark.sparkContext
    val group = "ingest-batch-probe"
    @volatile var jobs = 0
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs += 1
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
    }
    // copies of 20 corpus docs under fresh ids: each pairs with its
    // original at J = 1, so every stage of the bolt has rows
    val batch = batchFile(docs.orderBy("doc_id").limit(20)
      .withColumn("doc_id", col("doc_id") + 1000000L))
    val (sh, bands) = corpusOf(docs)
    val base = Files.createTempDirectory("graft-ingest-cost").toString
    try {
      VersionedStore.writeBatch(IngestDedup.pairsVsCorpus(sh, bands, batch), base, 0L)
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, "one ingest batch")
        try VersionedStore.writeBatch(IngestDedup.pairsVsCorpus(sh, bands, batch), base, 1L)
        finally sc.clearJobGroup()
        org.apache.spark.sql.graft.PlanBridge.drainListenerBus(sc)
      } finally sc.removeSparkListener(listener)
    } finally { sh.unpersist(); bands.unpersist() }
    assert(VersionedStore.readVersion(spark, base, 2).count() >= 20)
    // bounds: half the 22 jobs and about a quarter of the 0.9 MB of shuffle
    // that the earlier bolt, which joined the whole corpus tables, ran on
    // this batch; this one runs 5 jobs and shuffles 19 KB
    assert(jobs <= 11, s"one warm ingest batch should run at most 11 jobs, ran $jobs")
    assert(shuffleBytes.get < (256L << 10), s"one ingest batch shuffled ${shuffleBytes.get} bytes")
  }

  test("one batch's pairs scan the batch file once") {
    val batch = batchFile(docs.orderBy("doc_id").limit(20)
      .withColumn("doc_id", col("doc_id") + 1000000L))
    val dir = new java.io.File(new java.net.URI(batch.inputFiles.head)).getParent
    val (sh, bands) = corpusOf(docs)
    try {
      val pairs = IngestDedup.pairsVsCorpus(sh, bands, batch)
      assert(pairs.collect().length >= 20)
      val scans = Plans.collect(pairs.queryExecution.executedPlan) {
        case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains(dir)) => f
      }
      assert(scans.size === 1, s"the batch file should be scanned once:\n${pairs.queryExecution.executedPlan}")
    } finally { sh.unpersist(); bands.unpersist() }
  }

  test("a terminated ingest stream releases the corpus frames it cached") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    val src = Files.createTempDirectory("graft-ingest-release")
    val file = batchFile(docs.filter(col("doc_id") % 5 === 4)).inputFiles.head
    Files.copy(java.nio.file.Paths.get(new java.net.URI(file)), src.resolve("batch0.parquet"))
    val base = Files.createTempDirectory("graft-ingest-release-store").toString
    val cp = Files.createTempDirectory("graft-ingest-release-cp").toString
    IngestDedup.start(spark, corpus, src.toString, base, cp).awaitTermination()
    org.apache.spark.sql.graft.PlanBridge.drainListenerBus(spark.sparkContext)
    assert(VersionedStore.listVersions(base).size === 1)
    val sh = Dedup.shingles(corpus)
    assert(sh.storageLevel === StorageLevel.NONE)
    assert(Dedup.lshBands(Dedup.minhashSignature(sh)).storageLevel === StorageLevel.NONE)
  }
}
