package graft.streaming

import java.util.UUID
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import graft.operators.Dedup

/** Streaming ingest-time near-dup detection — the reference's
  * spout→bolt→versioned-sink topology shape (reference
  * `crane_master.py:148-164` batching + `dfs/dfs_server.py:280-288`
  * versioned writes) applied to the LLM-corpus dedup ops: documents
  * arriving in micro-batches are MinHash-LSH checked against a fixed
  * corpus, and each batch's (corpus_doc, new_doc, jaccard) pairs land as
  * one immutable [[graft.sources.VersionedStore]] version.
  *
  * Scale shape: the corpus-side artifacts (shingle index + LSH band
  * signatures) are built ONCE per stream start, cached, and released
  * when the query terminates. Per-trigger work is proportional to the
  * BATCH, as in Crane, whose bolts each see one 500-tuple batch: the
  * batch's shingle sets, min-hashes and bands are computed within each
  * row, the cached corpus tables are only probed against the broadcast
  * batch side, and what shuffles is candidate-sized, never the corpus.
  * Exactly-once: the sink version number derives from the batch id
  * ([[Streams.versionedSink]] keeps the first complete write on replay),
  * upgrading foreachBatch's at-least-once — the reference's replay timer
  * can double-count (SURVEY.md §2.2.6); this cannot.
  */
object IngestDedup {

  /** Near-dup pairs of one ingest batch against the prepared corpus
    * artifacts (`corpusSh` = [[Dedup.shingles]], `corpusBands` =
    * [[Dedup.lshBands]] of its [[Dedup.minhashSignature]]): LSH band
    * candidates (corpus × batch only), then exact Jaccard ≥ `threshold`
    * on full shingle sets, in one partition sorted by
    * (corpus_doc, new_doc). A batch doc that reuses a corpus doc_id is
    * scored on its own shingles, never on the union of both, and so is
    * each of two batch docs that share a doc_id. */
  def pairsVsCorpus(corpusSh: DataFrame, corpusBands: DataFrame,
                    batchDocs: DataFrame, threshold: Double = 0.5): DataFrame = {
    // The batch flows through one chain of joins, so its file is scanned
    // and shingled once: each band row carries its document's shingle
    // set, and the candidates carry it on to the scoring. Two references
    // to the batch (bands, then sets) would plan two scans, since column
    // pruning makes their subtrees differ and so defeats exchange reuse.
    // Broadcast hints sit on micro-batch frames only, so the cached corpus
    // tables are always the streamed, probed side. Without them the
    // planner picks sides by size estimate: a small corpus can look
    // smaller than a batch file, and a join's estimate multiplies its
    // inputs' sizes, so `cand` looks too large to broadcast and joining
    // it would shuffle all of `corpusSh`.
    val bandsB = broadcast(Dedup.minhashOfSets(Dedup.shingleSets(batchDocs))
      .select(col("doc_id").as("doc_b"), col("shset").as("sb"),
        explode(Dedup.bandSigs()).as("bs"))
      .select(col("doc_b"), col("sb"), col("bs.band").as("band"), col("bs.sig").as("sig")))
    // one row per shared band: a pair that shares several repeats, and
    // grouping by pair below absorbs the repeats
    val cand = broadcast(corpusBands
      .select(col("doc_id").as("doc_a"), col("band"), col("sig"))
      .join(bandsB, Seq("band", "sig"))
      .select("doc_a", "doc_b", "sb"))
    // each candidate pair's corpus set from one probe of `corpusSh`. The
    // batch set is part of the key, so two batch docs under one doc_id
    // are each scored on their own set (the same text twice scores once).
    val pairs = corpusSh.join(cand, col("doc_id") === col("doc_a"))
      .groupBy("doc_a", "doc_b", "sb")
      .agg(collect_set(col("shingle")).as("sa"))
    Dedup.jaccardOfSets(pairs)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a").as("corpus_doc"), col("doc_b").as("new_doc"),
        round(col("jaccard"), 6).as("jaccard"))
      // a batch's pairs are few: one sorted partition needs neither the
      // sampling job nor the exchange of a range-partitioned sort
      .coalesce(1).sortWithinPartitions("corpus_doc", "new_doc")
  }

  /** Start the ingest-dedup stream: parquet documents (corpus schema)
    * arriving under `inDir`, one file per micro-batch, → per-batch near-dup
    * pairs versioned under `outBase` through [[Streams.versionedSink]]. */
  def start(spark: SparkSession, corpusDocs: DataFrame, inDir: String,
            outBase: String, checkpointDir: String): StreamingQuery = {
    // Corpus artifacts built once per stream start and cached: at cluster
    // scale these would be staged to parquet (as Dedup.staged* does for
    // the batch queries); within one driver, cached DataFrames give every
    // micro-batch the same reuse without re-shingling the corpus.
    val corpusSh = Dedup.shingles(corpusDocs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val corpusBands = Dedup.lshBands(Dedup.minhashSignature(corpusSh))
      .persist(StorageLevel.MEMORY_AND_DISK)
    releaseOnTermination(spark, Seq(corpusSh, corpusBands)) {
      Streams.versionedSink(Streams.parquetSpout(spark, corpusDocs.schema, inDir),
        outBase, checkpointDir)((batch, _) => pairsVsCorpus(corpusSh, corpusBands, batch))
    }
  }

  /** Run `start` and unpersist `frames` once the query it returns has
    * terminated, or at once if it fails to start. A one-shot listener
    * matches the run id, not the query id, which a restart on the same
    * checkpoint shares with the earlier run. A query that ends before its
    * run id is known is caught by the check after `start`; `released`
    * makes the two paths release once. */
  private def releaseOnTermination(spark: SparkSession, frames: Seq[DataFrame])(
      start: => StreamingQuery): StreamingQuery = {
    val released = new AtomicBoolean(false)
    @volatile var runId: UUID = null
    lazy val listener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.runId == runId) release()
    }
    def release(): Unit = if (released.compareAndSet(false, true)) {
      spark.streams.removeListener(listener)
      frames.foreach(_.unpersist())
    }
    spark.streams.addListener(listener)
    val q = try start catch { case t: Throwable => release(); throw t }
    runId = q.runId
    if (!q.isActive) release()
    q
  }
}
