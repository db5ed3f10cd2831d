package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup
import graft.sources.VersionedStore

/** Streaming ingest-time near-dup detection — the reference's
  * spout→bolt→versioned-sink topology shape (reference
  * `crane_master.py:148-164` batching + `dfs/dfs_server.py:280-288`
  * versioned writes) applied to the LLM-corpus dedup ops: documents
  * arriving in micro-batches are MinHash-LSH checked against a fixed
  * corpus, and each batch's (corpus_doc, new_doc, jaccard) pairs land as
  * one immutable [[VersionedStore]] version.
  *
  * Scale shape: the corpus-side artifacts (shingle index + LSH band
  * signatures) are built ONCE and cached — per-trigger work is
  * proportional to the BATCH, not the corpus (the same steady-state
  * contract as the batch `dedup_incremental_minhash` query): the batch's
  * band signatures equi-join the corpus bands (bucketed candidates, never
  * corpus×batch all-pairs), and only candidate docs' shingle sets are
  * materialized for the exact-Jaccard verify. Exactly-once: the sink
  * version number derives from the batch id ([[VersionedStore.writeBatch]]
  * keeps the first complete write on replay), upgrading foreachBatch's at-least-once — the
  * reference's replay timer can double-count (SURVEY.md §2.2.6); this
  * cannot.
  */
object IngestDedup {

  /** Near-dup pairs of one ingest batch against the prepared corpus
    * artifacts: LSH band candidates (corpus × batch only), then exact
    * Jaccard ≥ `threshold` on full shingle sets. */
  def pairsVsCorpus(corpusSh: DataFrame, corpusBands: DataFrame,
                    batchDocs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val shB = Dedup.shingles(batchDocs)
    val bandsB = Dedup.lshBands(Dedup.minhashSignature(shB))
    val cand = corpusBands.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
      .join(bandsB.select(col("doc_id").as("doc_b"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select("doc_a", "doc_b").distinct()
    Dedup.jaccardBySets(cand, corpusSh.unionByName(shB))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a").as("corpus_doc"), col("doc_b").as("new_doc"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy("corpus_doc", "new_doc")
  }

  /** Start the ingest-dedup stream: parquet documents (corpus schema)
    * arriving under `inDir` → per-micro-batch near-dup pairs versioned
    * under `outBase`. `maxFilesPerTrigger` is the reference's batch-size
    * knob (CRANE_BATCH_SIZE analogue). The returned query is started with
    * Trigger.AvailableNow, so `awaitTermination()` drains what's there —
    * re-starting with the same checkpoint processes only new files. */
  def start(spark: SparkSession, corpusDocs: DataFrame, inDir: String,
            outBase: String, checkpointDir: String,
            maxFilesPerTrigger: Int = 1, threshold: Double = 0.5): StreamingQuery = {
    // Corpus artifacts built once per stream start and cached: at cluster
    // scale these would be staged to parquet (as Dedup.staged* does for
    // the batch queries); within one driver, cached DataFrames give every
    // micro-batch the same reuse without re-shingling the corpus.
    val corpusSh = Dedup.shingles(corpusDocs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val corpusBands = Dedup.lshBands(Dedup.minhashSignature(corpusSh))
      .persist(StorageLevel.MEMORY_AND_DISK)
    spark.readStream
      .schema(corpusDocs.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        VersionedStore.writeBatch(
          pairsVsCorpus(corpusSh, corpusBands, batch, threshold),
          outBase, batchId): Unit
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Bloom-gated EXACT ingest dedup with per-batch artifact refresh —
    * the streaming form of the `dedup_bloom_ingest` query: each
    * micro-batch's fingerprints probe the standing corpus bloom
    * (definitely-new docs skip the confirm join; possible members take
    * the exact anti-join), the surviving docs land as one
    * [[VersionedStore]] version, and the artifacts are refreshed by
    * OR-merging a DELTA filter built over just the accepted docs — so a
    * doc first seen in batch N is dropped in batch N+1, at per-trigger
    * cost proportional to the batch, never the corpus.
    *
    * Exactly-once across restarts: the standing fingerprint set is
    * rebuilt at start from the base corpus plus every already-written
    * store version, and a replayed batch (its version already present)
    * is an idempotent no-op — reprocessing it against state that
    * already contains its own docs would write an empty version over
    * the good one. */
  def startBloomGate(spark: SparkSession, corpusDocs: DataFrame, inDir: String,
      outBase: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 1, expectedKeys: Long = 1L << 17): StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{Bloom, TextAnalysis}
    val fp = TextAnalysis.fingerprint(col("text"))
    val doneVersions = VersionedStore.listVersions(outBase).toSet
    var corpusFp = {
      val baseFp = corpusDocs.select(fp.as("fingerprint"))
      val withPrior =
        if (doneVersions.isEmpty) baseFp
        else baseFp.unionByName(
          VersionedStore.readVersions(spark, outBase, doneVersions.size)
            .select("fingerprint"))
      withPrior.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    }
    var bloom = Bloom.buildBytes(corpusFp, col("fingerprint"), expectedKeys)
    spark.readStream
      .schema(corpusDocs.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!doneVersions.contains(batchId + 1)) {
          val batchFp = batch.select(col("doc_id"), col("source"), fp.as("fingerprint"))
          // in-batch duplicates collapse to the lowest doc_id first
          val w = Window.partitionBy("fingerprint").orderBy("doc_id")
          val uniq = batchFp.withColumn("rk", row_number().over(w))
            .filter(col("rk") === 1).drop("rk")
          val definitelyNew = uniq.filter(!Bloom.mightContain(bloom, col("fingerprint")))
          val confirmed = uniq.filter(Bloom.mightContain(bloom, col("fingerprint")))
            .join(corpusFp, Seq("fingerprint"), "left_anti")
          val accepted = definitelyNew.unionByName(confirmed)
            .persist(StorageLevel.MEMORY_AND_DISK)
          VersionedStore.writeBatch(accepted, outBase, batchId): Unit
          if (accepted.head(1).nonEmpty) {
            bloom = Bloom.merge(bloom,
              Bloom.buildBytes(accepted, col("fingerprint"), expectedKeys))
            corpusFp = corpusFp.unionByName(accepted.select("fingerprint"))
          }
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
