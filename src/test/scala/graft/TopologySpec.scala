package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Parity
import graft.streaming.{Streams, Topology}

class TopologySpec extends SparkSpec {

  test("Topology facade reproduces the wordcount pipeline (batch and stream)") {
    // file source needs a directory for streaming: stage the fixture
    val streamDir = Files.createTempDirectory("graft-topo-in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(appCsv("wordcount2k.csv")),
      streamDir.resolve("part-0.txt"))
    val topo = Topology("word_count")
      .spout(streamDir.toString)
      .bolt(Parity.wordCount(_))
    val batch = topo.run(spark).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Parity.wordCount(spark.read.text(appCsv("wordcount2k.csv")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batch === direct)

    val q = topo.runStream(spark).writeStream
      .outputMode("complete").format("memory").queryName("topo_wc")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("topo_wc").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === direct)
  }

  test("final-result dump matches the reference's `k  ---  v` console format") {
    // crane_master.py:166-169 prints `MASTER - [INFO]:  word  ---  n`
    val wc = Parity.wordCount(spark.read.text(appCsv("wordcount2k.csv")))
    val lines = Topology.dumpLines(wc.orderBy("word"))
    assert(lines.length === wc.count())
    // \S* not \S+: the wordcount surface keeps EMPTY tokens (the
    // reference's split semantics, §2.2.4), and the dump prints them too
    assert(lines.forall(_.matches("""MASTER - \[INFO\]:  \S*  ---  \d+""")))
    val direct = wc.orderBy("word").collect()
      .map(r => s"MASTER - [INFO]:  ${r.getString(0)}  ---  ${r.getLong(1)}")
    assert(lines === direct.toSeq)
  }

  test("topology with versioned top-k sink: one version per batch, resume picks up new data") {
    import graft.sources.VersionedStore
    val in = Files.createTempDirectory("graft-topk-in")
    Files.writeString(in.resolve("a.txt"), "b b b a a c\n")
    Files.writeString(in.resolve("b.txt"), "a a d d e\n")
    val base = Files.createTempDirectory("graft-topk-store").toString
    val cp = Files.createTempDirectory("graft-topk-cp").toString

    // Crane's "final result dump", upgraded: complete-mode aggregation
    // state → per-trigger top-5 → one immutable store version per
    // micro-batch, exactly-once via checkpoint + idempotent versions.
    def runOnce(): Unit = {
      val counts = Parity.wordCount(
        spark.readStream.option("maxFilesPerTrigger", 1).text(in.toString))
      val q = counts.writeStream.outputMode("complete")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          VersionedStore.writeBatch(
            batch.orderBy(desc("cnt"), col("word")).limit(5), base, id): Unit
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    runOnce()
    val versions1 = VersionedStore.listVersions(base)
    assert(versions1.size === 2, s"one version per micro-batch, got $versions1")

    def topOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq

    // a third file lands; resume from the same checkpoint processes ONLY it
    Files.writeString(in.resolve("c.txt"), "e e e e\n")
    runOnce()
    val versions2 = VersionedStore.listVersions(base)
    assert(versions2.size === 3, s"resume adds exactly one version, got $versions2")

    val want = topOf(Parity.wordCount(spark.read.text(in.toString))
      .orderBy(desc("cnt"), col("word")).limit(5))
    assert(topOf(VersionedStore.readLatest(spark, base)
      .orderBy(desc("cnt"), col("word"))) === want)
  }

  test("two topologies run concurrently in one session (the master-registry analogue)") {
    // Crane's master runs ONE topology selected from its registry
    // (reference crane_master.py:177-193); SparkEntry.queries is that
    // registry here, and one SparkSession supersets the master by
    // running several checkpointed streaming topologies AT ONCE — each
    // with its own source dir, checkpoint, and sink, draining
    // independently to correct results.
    val wcIn = Files.createTempDirectory("graft-conc-wc-in")
    val twIn = Files.createTempDirectory("graft-conc-tw-in")
    Files.writeString(wcIn.resolve("a.txt"), "x y\nx z\n")
    Files.writeString(twIn.resolve("a.txt"), "alice,60\nbob,40\ncarol,80\n")

    val wcQ = Streams.wordCountStream(spark, wcIn.toString)
      .writeStream.outputMode("complete").format("memory").queryName("conc_wc")
      .option("checkpointLocation", Files.createTempDirectory("graft-conc-wc-cp").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val twQ = Streams.twitterStream(spark, twIn.toString)
      .writeStream.outputMode("complete").format("memory").queryName("conc_tw")
      .option("checkpointLocation", Files.createTempDirectory("graft-conc-tw-cp").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()

    // both live at once before either drains
    assert(spark.streams.active.count(q => q.name == "conc_wc" || q.name == "conc_tw") === 2,
      "both topologies must be active concurrently")
    wcQ.awaitTermination()
    twQ.awaitTermination()

    val wc = spark.table("conc_wc").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wc === Map("x" -> 2L, "y" -> 1L, "z" -> 1L))
    val tw = spark.table("conc_tw").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(tw.toSeq === Seq(("result", 2L))) // strict > 50: alice, carol
  }

  test("ingest-dedup topology: micro-batches vs corpus, versioned, exactly-once") {
    import graft.operators.Dedup
    import graft.sources.VersionedStore
    import graft.streaming.IngestDedup

    // same split as the batch dedup_incremental_minhash query: corpus =
    // doc_id % 5 != 4, the arriving docs are the % 5 == 4 slice — staged
    // as TWO parquet files so maxFilesPerTrigger=1 yields two micro-batches
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    val in = Files.createTempDirectory("graft-ingest-in").toString
    docs.filter(col("doc_id") % 5 === 4 && col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$in/f0")
    docs.filter(col("doc_id") % 5 === 4 && col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("overwrite").parquet(s"$in/f1")
    // flatten the two single-file datasets into one source dir
    val srcDir = Files.createTempDirectory("graft-ingest-src")
    Seq("f0", "f1").zipWithIndex.foreach { case (f, i) =>
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(in, f))
        .filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(part, srcDir.resolve(s"batch$i.parquet"))
    }
    val base = Files.createTempDirectory("graft-ingest-store").toString
    val cp = Files.createTempDirectory("graft-ingest-cp").toString

    def runOnce(): Unit =
      IngestDedup.start(spark, corpus, srcDir.toString, base, cp).awaitTermination()

    runOnce()
    assert(VersionedStore.listVersions(base).size === 2,
      "one store version per micro-batch")

    // union of per-batch pairs == the batch dedup_incremental_minhash
    // result (each new doc pairs with the corpus independently)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("corpus_doc"), r.getAs[Long]("new_doc")) ->
        r.getAs[Double]("jaccard")).toMap
    val streamed = pairsOf(VersionedStore.readVersions(spark, base, 2)
      .select("corpus_doc", "new_doc", "jaccard"))
    val batch = SparkEntry.queries("dedup_incremental_minhash")(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("old_doc"), r.getAs[Long]("new_doc")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(streamed === batch,
      s"streamed pairs ${streamed.keySet} != batch pairs ${batch.keySet}")

    // exactly-once: re-running from the same checkpoint with no new files
    // adds nothing, and a REPLAYED batch overwrites its own version
    // instead of appending (writeBatch idempotence)
    runOnce()
    assert(VersionedStore.listVersions(base).size === 2, "no reprocessing on resume")
    val sh = Dedup.shingles(corpus)
    val bands = Dedup.lshBands(Dedup.minhashSignature(sh))
    val replayed = IngestDedup.pairsVsCorpus(sh, bands,
      spark.read.parquet(srcDir.resolve("batch0.parquet").toString))
    VersionedStore.writeBatch(replayed, base, 0L): Unit
    assert(VersionedStore.listVersions(base).size === 2, "replay overwrites, never appends")
    assert(pairsOf(VersionedStore.readVersions(spark, base, 2)
      .select("corpus_doc", "new_doc", "jaccard")) === streamed,
      "replayed batch content identical")
  }

  test("bloom-gated ingest stream: cross-batch dedup, artifact refresh, exactly-once") {
    import graft.sources.VersionedStore
    import graft.streaming.IngestDedup

    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") < 40)
    // batch 0: two new docs, one corpus copy, one in-batch duplicate pair
    // batch 1: one new doc, one copy of a batch-0 doc (must be dropped
    //          ONLY if the artifacts were refreshed), one corpus copy
    def doc(id: Long, text: String) = (id, text, "en", "srcX", text.length.toLong)
    import spark.implicits._
    val corpusText0 = corpus.orderBy("doc_id").select("text").as[String].head()
    val b0 = Seq(
      doc(1000L, "batch zero fresh document one"),
      doc(1001L, "batch zero fresh document two"),
      doc(1002L, corpusText0),                       // corpus dup → drop
      doc(1003L, "batch zero fresh document one"))   // in-batch dup → drop
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b1 = Seq(
      doc(2000L, "batch one fresh document"),
      doc(2001L, "batch zero fresh document two"),   // batch-0 dup → drop
      doc(2002L, corpusText0))                       // corpus dup → drop
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    val srcDir = Files.createTempDirectory("graft-bloomgate-src")
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-bloomgate-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(part, srcDir.resolve(name))
    }
    addFile(b0, "batch0.parquet")
    addFile(b1, "batch1.parquet")
    val base = Files.createTempDirectory("graft-bloomgate-store").toString
    val cp = Files.createTempDirectory("graft-bloomgate-cp").toString

    IngestDedup.startBloomGate(spark, corpus, srcDir.toString, base, cp)
      .awaitTermination()
    assert(VersionedStore.listVersions(base).size === 2)
    def ids(v: Long) = VersionedStore.readVersion(spark, base, v)
      .select("doc_id").as[Long].collect().toSet
    // file order = alphabetical: batch0 then batch1
    assert(ids(1L) === Set(1000L, 1001L), s"v1 got ${ids(1L)}")
    assert(ids(2L) === Set(2000L), s"v2 got ${ids(2L)}")

    // exactly-once: restart from the same checkpoint with no new files —
    // versions unchanged, replayed state does not blank them
    IngestDedup.startBloomGate(spark, corpus, srcDir.toString, base, cp)
      .awaitTermination()
    assert(VersionedStore.listVersions(base).size === 2)
    assert(ids(1L) === Set(1000L, 1001L) && ids(2L) === Set(2000L))

    // a third file arriving after restart is gated against EVERYTHING
    // accepted so far (state rebuilt from the store on start)
    val b2 = Seq(
      doc(3000L, "batch two fresh document"),
      doc(3001L, "batch one fresh document"))        // batch-1 dup → drop
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    addFile(b2, "batch2.parquet")
    IngestDedup.startBloomGate(spark, corpus, srcDir.toString, base, cp)
      .awaitTermination()
    assert(VersionedStore.listVersions(base).size === 3)
    assert(ids(3L) === Set(3000L), s"v3 got ${ids(3L)}")
  }

  test("streaming dedup drops watermark-horizon duplicates") {
    val ev = Tables.events(spark, sf0001)
    val dir = Files.createTempDirectory("graft-dedup-in").toString
    // duplicate every event once → exact dup stream
    ev.union(ev).write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(ev.schema).parquet(dir)
    val q = Streams.dedupStream(streamed, Seq("event_id"))
      .writeStream.outputMode("append").format("memory").queryName("dedup_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val n = spark.table("dedup_stream").count()
    assert(n === ev.count(), s"expected ${ev.count()} unique events, got $n")
  }
}
