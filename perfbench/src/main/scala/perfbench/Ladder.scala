package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, Parity}
import graft.sources.VersionedStore
import graft.streaming.{IngestDedup, Streams}

/** The streaming workload: an open-loop generator feeds two pipelines,
  * one after the other, each climbing a fixed geometric ladder of rates.
  *
  *  - `wc`: `Streams.wordCountStream` in update mode over lines of the
  *    sf0.1 documents text; the sink keeps the running counts.
  *  - `ingest`: `IngestDedup.pairsVsCorpus` of arriving documents against
  *    the sf0.1 corpus, each batch's pairs written as one
  *    `VersionedStore` version. Arrivals are copies of corpus documents,
  *    about a tenth of them mutated.
  *
  * The generator is one thread that writes a file per tick by rename, on a
  * schedule that does not wait for the system. Every event is due at its
  * slot in that schedule; its latency runs from that slot to the commit of
  * the micro-batch that carried it. The seed sets the event content and
  * arrival order. */
final class Ladder(run: Run, dataDir: Path) {
  import Ladder._

  private val tracer = run.tracer

  private lazy val docsOnly: Path = {
    val d = Files.createDirectories(run.work.resolve("stream/input"))
    Files.createSymbolicLink(d.resolve("documents.parquet"),
      dataDir.resolve("documents.parquet").toAbsolutePath)
    d
  }

  def apply(): Result = {
    val setup = run.setups { (spark, i) =>
      // the pipelines read one table, so the layout covers that table only
      val layout = tracer.span("ensure", "core", s"setup$i") {
        graft.core.ScanLayout.ensure(spark, docsOnly.toString)
      }
      val corpus = tracer.span("artifacts", "core", s"setup$i") {
        new Corpus(spark.read.parquet(s"$layout/documents.parquet"))
      }
      corpus
    }
    val spark = setup.spark
    val corpus = setup.value
    val inputs = new Inputs(corpus)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    val wc = runPipe(spark, WordCount, corpus, inputs)
    run.heapCheckpoint()
    val ing = runPipe(spark, Ingest, corpus, inputs)
    run.heapCheckpoint()

    val outs = Seq(wc, ing)
    // one value per pipeline, combined by geometric mean so that each
    // pipeline moves the metric by the same share: the ingest batch takes
    // several times the wc batch and would otherwise drown it
    val refLat = outs.map(o => o.latencies(o.pipe.refRung))
    val e2e = Map(
      "setup_s" -> (setup.medianS, "s"),
      "peak_heap_mb" -> (run.peakHeapMb, "MB"),
      "first_use_s" -> (Stats.geoMean(outs.map(o => duration(o.byBatch(o.firstBatch), "triggerExecution"))) / 1000, "s"),
      "warm_total_s" -> (Stats.geoMean(outs.map(o => medianPhase(o, "triggerExecution"))) / 1000, "s"),
      "latency_p50_ms" -> (Stats.geoMean(refLat.map(Stats.median)), "ms"),
      "latency_tail_ms" -> (Stats.geoMean(refLat.map(Stats.tail(_))), "ms"))

    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (tracer.on) {
      Run.busDrain(spark)
      layers ++= run.setupLayers(setup)
      for (o <- outs) {
        val p = o.pipe.name
        recordSpans(o)
        val k = o.pipe.refRung
        val lat = o.latencies(k)
        val refFiles = o.files.filter(_.rung == k)
        layers ++= Seq(
          s"streaming.$p.trigger_ms" -> (medianPhase(o, "triggerExecution"), "ms"),
          s"streaming.$p.planning_ms" -> (medianPhase(o, "queryPlanning"), "ms"),
          s"streaming.$p.getbatch_ms" -> (medianPhase(o, "getBatch"), "ms"),
          s"streaming.$p.addbatch_ms" -> (medianPhase(o, "addBatch"), "ms"),
          s"streaming.$p.wal_ms" -> (medianPhase(o, "walCommit"), "ms"),
          s"streaming.$p.backlog_files" -> (Stats.median(o.backlog(k).map(_._2) :+ 0.0), "count"),
          s"streaming.$p.input_lag_ms" -> (Stats.median(refFiles.flatMap(f =>
            o.batchOf.get(f.name).flatMap(o.byBatch.get).map(b => startMs(b) - f.writtenMs)) :+ 0.0), "ms"),
          s"streaming.$p.e2r_p50_ms" -> (Stats.median(lat), "ms"),
          s"streaming.$p.e2r_tail_ms" -> (Stats.tail(lat), "ms"),
          s"streaming.$p.${o.pipe.rateName}" -> (o.maxRate, o.pipe.rateUnit))
      }
      val last = wc.progress.maxBy(_.batchId)
      val state = last.stateOperators.headOption
      layers ++= Seq(
        "streaming.wc.state_rows" -> (state.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
        "streaming.wc.state_mb" -> (state.map(_.memoryUsedBytes / 1e6).getOrElse(0.0), "MB"),
        "streaming.gen_late_ms" -> (Stats.tail(outs.flatMap(_.files).map(f => f.writtenMs - f.tickEndMs)), "ms"),
        "sources.write_ms" -> (Stats.median(ing.batchesIn(Ingest.refRung).flatMap(p =>
          ing.sinkMs.get(p.batchId).map { case (a, b) => (b - a).toDouble }) :+ 0.0), "ms"),
        "sources.versions" -> (VersionedStore.listVersions(storeBase(Ingest)).size.toDouble, "count"))
      val stream = run.counters.sum(_.startsWith("stream:"))
      layers ++= Run.resourceLayers(stream, 1.0)
      layers ++= Seq(
        "exec.jobs" -> (stream.jobs.toDouble, "count"),
        "exec.stages" -> (stream.stages.toDouble, "count"),
        "exec.tasks" -> (stream.tasks.toDouble, "count"))
    }
    val attempted = outs.map(_.events).sum
    val failed = outs.map(_.failed).sum
    for (o <- outs) {
      println(s"perfbench: ${o.pipe.name} ${o.events} events, ${o.failed} failed, ${o.progress.size} batches")
      for (k <- o.pipe.rungs.indices) {
        val lat = o.latencies(k)
        println(f"perfbench:   ${o.pipe.name} rung ${o.pipe.rungs(k)}%.0f/s: ${lat.size} events, " +
          f"latency p50 ${Stats.median(lat :+ 0.0)}%.0f ms tail ${Stats.tail(lat :+ 0.0)}%.0f ms, " +
          f"backlog ${o.backlog(k).map(_._2.toInt).mkString(",")} -> ${if (o.sustained(k)) "ok" else "over"}, " +
          f"batches ${o.batchesIn(k).map(duration(_, "triggerExecution").toInt).mkString(",")} ms")
      }
    }
    Result(attempted, failed, e2e, layers.toMap)
  }

  private def medianPhase(o: Outcome, phase: String): Double = {
    val bs = o.batchesIn(o.pipe.refRung)
    if (bs.isEmpty) 0.0 else Stats.median(bs.map(duration(_, phase)))
  }

  private def storeBase(p: Pipe): String = run.work.resolve(s"stream/${p.name}/store").toString

  /** Trigger spans with their phases as children, from the engine's
    * progress reports; each sink write is a child of its addBatch. */
  private def recordSpans(o: Outcome): Unit =
    for (p <- o.progress) {
      val s0 = (startMs(p) * 1e6).toLong
      val ref = s"${o.pipe.name}#${p.batchId}"
      val trig = tracer.record(0, "trigger", "streaming", ref, s0,
        s0 + (duration(p, "triggerExecution") * 1e6).toLong)
      var at = s0
      for (ph <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")) {
        val d = (duration(p, ph) * 1e6).toLong
        val id = tracer.record(trig, ph, "streaming", ref, at, at + d)
        if (ph == "addBatch") o.sinkMs.get(p.batchId).foreach { case (a, b) =>
          tracer.record(id, "sink.write", "sources", ref, a * 1000000L, b * 1000000L)
        }
        at += d
      }
    }

  private def runPipe(spark: SparkSession, pipe: Pipe, corpus: Corpus, inputs: Inputs): Outcome = {
    val base = run.work.resolve(s"stream/${pipe.name}")
    val in = Files.createDirectories(base.resolve("in"))
    val ckpt = base.resolve("ckpt")
    val sinkMs = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    val rnd = new scala.util.Random(run.seed * 31 + pipe.name.hashCode)
    val words = mutable.HashMap.empty[String, Long]
    val mutated = mutable.HashSet.empty[Int]

    val (lines, docs) = (inputs.lines, inputs.pairable)
    val order = rnd.shuffle((0 until (if (pipe == WordCount) lines.size else docs.size)).toVector)
    def payload(e: Int): String =
      if (pipe == WordCount) lines(order(e % order.size))
      else {
        val d = docs(order(e % order.size))
        val id = IngestIdBase + e
        val mut = inputs.mutable(d.getLong(0)) && rnd.nextDouble() < MutateShare
        if (mut) mutated += e
        val text = if (mut) d.getString(1) + s" zqmut$e" else d.getString(1)
        s"""{"doc_id":$id,"text":${Json.str(text)},"lang":${Json.str(d.getString(2))},""" +
          s""""source":${Json.str(d.getString(3))},"n_chars":${d.getLong(4)}}"""
      }

    val sc = spark.sparkContext
    val query: StreamingQuery = Counters.withScope(sc, s"stream:${pipe.name}") {
      val writer =
        if (pipe == WordCount)
          Streams.wordCountStream(spark, in.toString).writeStream.outputMode("update")
            .foreachBatch { (b: Dataset[Row], id: Long) =>
              val rows = b.collect()
              words.synchronized(rows.foreach(r => words(r.getString(0)) = r.getLong(1)))
            }
        else
          spark.readStream.schema(corpus.schema).json(in.toString).writeStream
            .foreachBatch { (b: Dataset[Row], id: Long) =>
              val t0 = System.currentTimeMillis()
              VersionedStore.writeBatch(IngestDedup.pairsVsCorpus(corpus.sh, corpus.bands, b),
                storeBase(pipe), id)
              sinkMs.put(id, (t0, System.currentTimeMillis())): Unit
            }
      writer.option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.ProcessingTime(pipe.triggerMs))
        .start()
    }

    val files = mutable.ArrayBuffer.empty[FileRec]
    var event = 0
    def write(rung: Int, n: Int, dueStartMs: Double, stepMs: Double, tickEndMs: Double): Unit = {
      val sb = new StringBuilder
      for (e <- event until event + n) sb ++= payload(e) += '\n'
      val name = f"${files.size}%06d.${pipe.ext}"
      val tmp = in.resolve("." + name + ".tmp")
      Files.writeString(tmp, sb.toString)
      Files.move(tmp, in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      files += FileRec(name, rung, n, dueStartMs, stepMs, tickEndMs, System.currentTimeMillis())
      event += n
    }
    // an event is committed once its file's batch (from the source log)
    // has reported progress, which the engine does after the commit
    def uncommitted(): Int = {
      val log = sourceLog(ckpt)
      val last = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
      files.count(f => !log.get(f.name).exists(_ <= last))
    }
    def awaitCommitted(deadline: Long): Unit =
      while (uncommitted() > 0 && System.currentTimeMillis() < deadline && query.isActive)
        Thread.sleep(50)

    // first use: one file of one tick's events at the lowest rate, its
    // batch committed before the ladder starts
    val primeAt = System.currentTimeMillis().toDouble
    write(Prime, (pipe.rungs.head * pipe.tickMs / 1000).ceil.toInt, primeAt, 0.0, primeAt)
    awaitCommitted(System.currentTimeMillis() + DrainMs)

    // the open-loop schedule: a warm-up at the reference rate for
    // pipe.warmS, measured by no metric, then rung k holds rate r_k for
    // pipe.holdsS(k). One file per tick carries the events due in that
    // tick, and is written when the tick ends whether or not the system
    // has kept up. The engine fires ProcessingTime triggers on multiples
    // of the interval since the epoch; starting half a tick past one,
    // every tick ends half a tick away from a trigger, so a batch that
    // keeps up carries the same files in every run.
    val segments = (pipe.rungs(pipe.refRung), Warm, pipe.warmS) +:
      pipe.rungs.indices.map(k => (pipe.rungs(k), k, pipe.holdsS(k)))
    val now = System.currentTimeMillis()
    val t0 = (now / pipe.triggerMs + 1) * pipe.triggerMs + pipe.tickMs / 2.0
    for (((rate, k, holdS), i) <- segments.zipWithIndex) {
      val rungStart = t0 + segments.take(i).map(_._3).sum * 1000
      val step = 1000.0 / rate
      val firstOfRung = event
      for (m <- 0 until (holdS * 1000 / pipe.tickMs).round.toInt) {
        val tickEnd = rungStart + (m + 1) * pipe.tickMs
        // events j of the rung with due time j * step < tickEnd
        val n = ((tickEnd - rungStart) / step).ceil.toInt - (event - firstOfRung)
        val wait = tickEnd - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait.toLong)
        if (n > 0) write(k, n, rungStart + (event - firstOfRung) * step, step, tickEnd)
      }
    }
    // drain: wait for every event to commit, then stop
    awaitCommitted(System.currentTimeMillis() + DrainMs)
    query.stop()
    val progress = query.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
    val batchOf = sourceLog(ckpt)

    // correctness: every event counted exactly once
    val committedIds = progress.map(_.batchId).toSet
    val lost = files.filterNot(f => batchOf.get(f.name).exists(committedIds)).map(_.n).sum
    if (lost > 0) System.err.println(s"perfbench: ${pipe.name} lost $lost events")
    var failed = lost
    if (pipe == WordCount) {
      // one scan of the source per batch, so its row count is the lines read
      val read = progress.map(_.numInputRows).sum
      if (read != event) System.err.println(s"perfbench: wc read $read lines of $event")
      failed += math.abs(read - event).toInt
      val expected = Parity.wordCount(spark.read.text(in.toString)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val diff = (expected.keySet ++ words.keySet).count(w => expected.get(w) != words.get(w))
      if (diff > 0) System.err.println(s"perfbench: wc counts differ from batch on $diff words")
      failed += diff
    } else {
      val versions = VersionedStore.listVersions(storeBase(pipe)).toSet
      val batches = sinkMs.keySet().asScala.map(_.longValue + 1).toSet
      val versionErr = (versions diff batches).size + (batches diff versions).size
      if (versionErr > 0) System.err.println(s"perfbench: ingest versions $versions != batches $batches")
      failed += versionErr
      val pairs = VersionedStore.readVersions(spark, storeBase(pipe), versions.size)
        .select("corpus_doc", "new_doc", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val bad = (0 until event).count { e =>
        val orig = docs(order(e % order.size)).getLong(0)
        pairs.get((orig, IngestIdBase + e)) match {
          case Some(j) => (j < 1.0) != mutated(e)
          case None => true
        }
      }
      if (bad > 0) System.err.println(s"perfbench: $bad arriving documents missed their original")
      failed += bad
    }
    Outcome(pipe, files.toSeq, progress, batchOf, sinkMs.asScala.map { case (k, v) => k.longValue -> v }.toMap,
      event, failed)
  }
}

object Ladder {
  final case class FileRec(name: String, rung: Int, n: Int,
                           dueStartMs: Double, stepMs: Double, tickEndMs: Double,
                           writtenMs: Long)

  final case class Outcome(pipe: Pipe, files: Seq[FileRec],
                           progress: Seq[StreamingQueryProgress], batchOf: Map[String, Long],
                           sinkMs: Map[Long, (Long, Long)], events: Int, failed: Int) {
    val commitMs: Map[Long, Double] = progress.map(p => p.batchId -> (startMs(p) +
      duration(p, "triggerExecution"))).toMap
    val byBatch: Map[Long, StreamingQueryProgress] = progress.map(p => p.batchId -> p).toMap
    /** The batch that carried the prime file: the pipeline's first use. */
    val firstBatch: Long = files.find(_.rung == Prime).flatMap(f => batchOf.get(f.name))
      .getOrElse(progress.map(_.batchId).min)
    /** Latencies (ms) of the events of rung `k` that were committed. */
    def latencies(k: Int): Seq[Double] = files.filter(_.rung == k).flatMap { f =>
      batchOf.get(f.name).flatMap(commitMs.get).toSeq.flatMap { c =>
        Stats.latenciesMs((0 until f.n).map(j => f.dueStartMs + j * f.stepMs), Seq.fill(f.n)(c))
      }
    }
    /** (commit time s, files written but not yet committed) at the commit
      * of each batch that carried rung `k`'s events. */
    def backlog(k: Int): Seq[(Double, Double)] = {
      val filesBatch = files.flatMap(f => batchOf.get(f.name).map(f -> _))
      val ids = filesBatch.filter(_._1.rung == k).map(_._2).toSet
      commitMs.toSeq.filter(bc => ids(bc._1)).sortBy(_._2).map { case (b, c) =>
        val written = files.count(_.writtenMs <= c)
        val done = filesBatch.count(_._2 <= b)
        (c / 1000.0, (written - done).toDouble)
      }
    }
    def batchesIn(k: Int): Seq[StreamingQueryProgress] = {
      val ids = files.filter(_.rung == k).flatMap(f => batchOf.get(f.name)).toSet
      progress.filter(p => ids(p.batchId) && p.batchId > firstBatch)
    }
    def sustained(k: Int): Boolean = {
      val lat = latencies(k)
      lat.size == files.filter(_.rung == k).map(_.n).sum && lat.nonEmpty &&
        !Stats.backlogGrows(backlog(k), pipe.triggerMs.toDouble / pipe.tickMs) &&
        Stats.tail(lat) <= pipe.limitMs
    }
    def maxRate: Double =
      Stats.maxSustained(pipe.rungs.indices.map(k => (pipe.rungs(k), sustained(k)))).getOrElse(0.0)
  }

  /** One pipeline's ladder. Rates in events per second, each held for
    * its time in `holdsS` after a warm-up of `warmS` at the reference
    * rate; the reference rung is where latency and batch time are
    * reported, held longest so that their medians cover several
    * batches. */
  final case class Pipe(name: String, rungs: Seq[Double], warmS: Double, holdsS: Seq[Double], tickMs: Int,
                        triggerMs: Long, limitMs: Double, refRung: Int,
                        ext: String, rateName: String, rateUnit: String)

  val WordCount = Pipe("wc", Seq(2000, 16000), warmS = 0, holdsS = Seq(4, 1.5), tickMs = 100,
    triggerMs = 1000, limitMs = 2000, refRung = 0, ext = "txt",
    rateName = "max_rate_eps", rateUnit = "1/s")
  val Ingest = Pipe("ingest", Seq(10, 40), warmS = 3, holdsS = Seq(8, 3), tickMs = 250,
    triggerMs = 1000, limitMs = 10000, refRung = 0, ext = "json",
    rateName = "max_rate_dps", rateUnit = "1/s")

  /** About a tenth of arrivals: a third of the ~30% of sf0.1 documents
    * with enough shingles to be mutated. */
  val MutateShare = 1.0 / 3
  /** Rung tags of the files that belong to no rung. */
  val Prime = -1
  val Warm = -2
  val MutableShingles = 70L
  val IngestIdBase = 100000000L
  val DrainMs = 15000L

  def startMs(p: StreamingQueryProgress): Double = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  def duration(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)

  /** File name → micro-batch id, from the file source's own log in the
    * checkpoint (one JSON entry per file, compacted every few batches). */
  def sourceLog(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources/0")
    if (!Files.isDirectory(dir)) return Map.empty
    val entry = """"path":"([^"]*)".*?"batchId":(\d+)""".r
    val s = Files.list(dir)
    try s.iterator().asScala.filterNot(_.getFileName.toString.startsWith(".")).flatMap { f =>
      Files.readAllLines(f).asScala.flatMap(l => entry.findFirstMatchIn(l).map { m =>
        m.group(1).split('/').last -> m.group(2).toLong
      })
    }.toMap
    finally s.close()
  }

  /** The corpus artifacts the ingest pipeline joins against: built once
    * per set-up and cached, as `IngestDedup.start` does. */
  final class Corpus(all: DataFrame) {
    val df: DataFrame = all.select("doc_id", "text", "lang", "source", "n_chars")
    val schema = df.schema
    val sh: DataFrame = Dedup.shingles(df).persist(StorageLevel.MEMORY_AND_DISK)
    val bands: DataFrame = Dedup.lshBands(Dedup.minhashSignature(sh)).persist(StorageLevel.MEMORY_AND_DISK)
    bands.count()
  }

  /** What the generator draws events from: benchmark input, made once
    * after the set-ups and not timed. */
  final class Inputs(corpus: Corpus) {
    private val shCount: Map[Long, Long] = corpus.sh.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs: IndexedSeq[Row] = corpus.df.orderBy("doc_id").collect().toIndexedSeq
    /** Documents that have shingles, so a copy must pair with its original. */
    val pairable: IndexedSeq[Row] = docs.filter(d => shCount.contains(d.getLong(0)))
    /** A mutation appends one alien token: one new 3-gram, so a copy of a
      * document with n distinct shingles has J = n / (n + 1) < 1. Only
      * documents with at least [[MutableShingles]] are mutated, where the
      * 4-band x 4-row LSH misses the pair with odds under 1e-5. */
    def mutable(docId: Long): Boolean = shCount.getOrElse(docId, 0L) >= MutableShingles
    val lines: IndexedSeq[String] = docs.map(_.getString(1).replaceAll("[\r\n]", " "))
  }
}
