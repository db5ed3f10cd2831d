package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.VersionedStore
import graft.streaming.IngestDedup

/** Streaming-scale soak: drive the ingest-dedup topology over the
  * SoakGen-replicated corpus — the streaming leg a batch soak
  * (`graft.Bench <soakDir> <out> 1`) doesn't cover.
  *
  * Shape: copy 0 (original doc ids) is the standing corpus; each of the
  * other copies arrives as ONE parquet file = ONE micro-batch
  * (`maxFilesPerTrigger=1`, the reference's CRANE_BATCH_SIZE knob), so
  * an N× soak directory yields N−1 triggers of corpus-sized batches in
  * which EVERY document is an exact duplicate of a corpus doc — the
  * worst realistic ingest (a full re-crawl). Each batch's near-dup
  * pairs land as one [[VersionedStore]] version keyed by batch id.
  *
  * Checks logged per batch to the JSONL artifact:
  *  - one store version per micro-batch, pair counts per version;
  *  - every batch finds ≥ batch-size pairs (each exact copy must match
  *    its original at jaccard 1.0);
  *  - a RESTART on the same checkpoint with no new files writes no new
  *    versions and rewrites nothing — replay idempotence at scale.
  *
  * Usage: runMain graft.tools.StreamSoak [soakDir] [outJsonl] [idBase]
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val soakDir = if (args.length > 0) args(0) else "bench_local/soak_sf1"
    val outPath = if (args.length > 1) args(1)
      else s"bench_local/stream_soak_${System.currentTimeMillis() / 1000}.jsonl"
    val idBase = if (args.length > 2) args(2).toLong else 10000L
    val spark = graft.core.Sessions.start(graft.core.Sessions.Scale)

    val work = java.nio.file.Files.createTempDirectory("stream_soak").toString
    val inDir = s"$work/in"; val outBase = s"$work/store"; val ckpt = s"$work/ckpt"
    val log = new java.io.PrintWriter(new java.io.FileWriter(outPath, false), true)

    val docs = spark.read.parquet(s"$soakDir/documents.parquet")
    val corpus = docs.filter(col("doc_id") < idBase).cache()
    val corpusN = corpus.count()
    val copies = (docs.agg(max("doc_id")).collect()(0).getLong(0) / idBase).toInt
    log.println(s"""{"corpus":$corpusN,"ingest_copies":$copies}""")
    // ~10% of each arriving copy is MUTATED (deterministic doc_id hash):
    // a short appended suffix changes the shingle set while keeping
    // Jaccard far above the 0.5 match threshold — so the exact-verify
    // path computes real set intersections for those docs instead of
    // the trivial identical-set case, and an exact-duplicate shortcut
    // anywhere in the pipeline could not fake the near-dup work.
    // Only docs with >= 12 DISTINCT shingles are mutated (token count
    // would not bound the distinct-shingle set on repetitive text): the
    // alien 4-token suffix adds at most 4 new 3-grams and removes none,
    // so a mutated doc scores J >= 12/16 = 0.75 — safely inside
    // (0.5, 1): never below the match threshold (which would erode the
    // >=1-pair-per-doc invariant) and never rounding to 1.0 at 6
    // decimals (that would take > ~10^7 shingles in one doc).
    // cached like `corpus` above: every copy's batch triggers TWO
    // actions referencing this full-multi-copy aggregate (the mutated
    // count + the parquet write) — uncached, input generation re-runs
    // the corpus-wide tokenize+shingle ~2x per copy, O(copies²) total
    val shCount = graft.operators.Dedup.shingles(docs)
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh")).cache()
    val eligible = coalesce(
      pmod(crc32(col("doc_id").cast("string")), lit(10)) === 0 && col("n_sh") >= 12,
      lit(false))
    var minMutated = Long.MaxValue
    for (i <- 1 to copies) {
      val batch = docs.filter(col("doc_id") >= i * idBase && col("doc_id") < (i + 1) * idBase)
        .join(shCount, Seq("doc_id"), "left")
        .withColumn("mut", eligible)
      // the near-pair floor comes from the ACTUAL mutated-doc count per
      // batch, not a corpus-fraction guess
      minMutated = math.min(minMutated, batch.filter(col("mut")).count())
      batch
        .withColumn("text", when(col("mut"),
          concat(col("text"), lit(s" zq soakmut batch$i end"))).otherwise(col("text")))
        .select(docs.columns.map(col): _*) // exact original schema/order
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    log.println(s"""{"min_mutated_per_batch":$minMutated}""")

    val t0 = System.nanoTime()
    val q = IngestDedup.start(spark, corpus, inDir, outBase, ckpt)
    q.awaitTermination()
    val firstSec = (System.nanoTime() - t0) / 1e9
    // per-batch wall clock from streaming progress: batch-proportional
    // cost means these stay flat across triggers
    for (p <- q.recentProgress)
      log.println(s"""{"batch":${p.batchId},"trigger_ms":${
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L)},"rows":${p.numInputRows}}""")
    val versions = VersionedStore.listVersions(outBase).sorted
    var ok = versions.size == copies
    var minPairs = Long.MaxValue
    var minNear = Long.MaxValue
    for (v <- versions) {
      val vdf = VersionedStore.readVersion(spark, outBase, v)
      val n = vdf.count()
      // mutated docs surface as near-dup (jaccard < 1) pairs — the
      // verify path's evidence; exact copies pair at exactly 1.0
      val near = vdf.filter(col("jaccard") < 1.0).count()
      minPairs = math.min(minPairs, n)
      minNear = math.min(minNear, near)
      log.println(s"""{"version":$v,"pairs":$n,"near_pairs":$near}""")
    }
    // every ingested doc is a copy (10% mutated) of a corpus doc: each
    // batch must report at least one pair per batch document, and every
    // mutated doc (its count measured at generation time, not assumed
    // from a corpus fraction) must land as a genuine jaccard<1 near-dup
    ok &= minPairs >= corpusN
    ok &= minNear >= minMutated && minMutated > 0

    // restart on the same checkpoint: AvailableNow with nothing new must
    // terminate without writing any version
    val q2 = IngestDedup.start(spark, corpus, inDir, outBase, ckpt)
    q2.awaitTermination()
    val versions2 = VersionedStore.listVersions(outBase).sorted
    ok &= versions2 == versions
    val secS = String.format(java.util.Locale.ROOT, "%.1f", Double.box(firstSec))
    log.println(s"""{"summary":true,"ok":$ok,"versions":${versions.size},"min_pairs":$minPairs,"min_near_pairs":$minNear,"first_run_sec":$secS,"replay_new_versions":${versions2.size - versions.size}}""")
    log.close()
    println(s"STREAM SOAK ok=$ok versions=${versions.size} minPairs=$minPairs sec=$secS")
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
