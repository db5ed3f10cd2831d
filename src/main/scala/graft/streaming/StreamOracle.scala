package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{Artifacts, Sessions, Staged, Tables}

/** Oracle-registered streaming twins: each query stages its input as a
  * MULTI-FILE directory, replays it through the real Structured
  * Streaming engine (file source + `maxFilesPerTrigger=1`, i.e. one
  * micro-batch per file, `Trigger.AvailableNow`), and returns the
  * drained sink as a batch DataFrame the DuckDB oracle can hash against
  * the equivalent SQL over the original parquet table.
  *
  * This closes the one verification asymmetry the streaming layer had:
  * the topology twins were stream≡batch-asserted in specs (reference
  * `crane_master.py:148-164` micro-batch loop), but nothing streaming
  * sat behind the cross-engine oracle gate.
  * Here the streamed result itself is the registered answer, so the
  * micro-batch planner, the state store (complete-mode running totals,
  * windowed aggregation state, dropDuplicates key state), and the
  * cross-batch carry all sit INSIDE the correctness gate: a dup key pair
  * split across micro-batch files only dedups correctly if state really
  * carries between triggers.
  *
  * Scale shape: the file source reads one file per trigger regardless of
  * corpus size; state is keyed (words / windows / dedup keys), i.e. the
  * domain of the aggregation, not the event volume; and the drained sink
  * is the aggregate's cardinality. At 100 TB the same topology runs with
  * a real message bus behind the source and a distributed state store —
  * nothing here holds the input in memory.
  */
object StreamOracle {

  /** Unique memory-sink name per run: a completed AvailableNow query
    * frees its name, but a stable name would silently serve a STALE temp
    * view if an earlier failed run left one registered. */
  private def uniq(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  /** Mint this run's sink name and DROP the previous run's: each memory
    * sink holds its complete drained result on the driver, so a session
    * that re-invokes the stream queries (Bench's repeat passes, a soak
    * loop) would otherwise accrete one full result set per invocation,
    * unreachable by name and freed only at session death. By the time
    * the SAME query is re-invoked, its previous result has been
    * materialized by the caller, so the previous view is safe to drop.
    * The previous name lives in [[Sessions.memo]], per session; its
    * validity check drops that view and rejects it, so every call mints
    * a fresh name. */
  private def freshSink(s: SparkSession, prefix: String): String =
    Sessions.memo(s, s"lastsink|$prefix") { (prev: String) =>
      try { s.catalog.dropTempView(prev); () } catch { case _: Throwable => () }
      false
    }(uniq(prefix))

  /** Micro-batch count for a replay: SCALE-ADAPTIVE instead of the
    * former constant 4. One micro-batch per ~4 MB of source bytes
    * (`BatchBytes`), floor 2 (cross-trigger state carry must stay
    * exercised — StreamOracleSpec's ≥2-file contract), cap 64
    * (a replay is a bounded oracle run, not a production stream). A
    * constant trigger count is wrong in BOTH directions: at sf0.1 it
    * pays 4 × ~0.8 s of micro-batch machinery (state-store commits,
    * offset/commit WAL, sink swap) to replay 2 MB, and at 100× it
    * crams 200 MB into one trigger. Bytes-derived batches keep the
    * per-trigger work roughly constant across scale factors — the same
    * sizing rule a production stream applies via maxBytesPerTrigger.
    * The OUTPUT is trigger-count-invariant (complete-mode totals /
    * append-mode first-occurrence key sets), so the oracle hash is
    * unchanged by construction. */
  private def srcBytes(srcPath: String): Long = {
    val f = new java.io.File(srcPath)
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty)
        .filter(_.isFile).map(_.length).sum
    else f.length
  }

  private val BatchBytes: Long = 4L << 20

  private def nBatches(srcPath: String): Int =
    math.max(2L, math.min(64L, (srcBytes(srcPath) + BatchBytes - 1) / BatchBytes)).toInt

  /** State-store partition count for a replay, and the conf scope that
    * applies it. Structured Streaming fixes the stateful-operator
    * partition count from `spark.sql.shuffle.partitions` at FIRST batch
    * and AQE never revisits it (adaptive execution is inactive inside
    * micro-batches), so a replay over KB-scale state otherwise runs —
    * and commits, and fsyncs — one state store per session core on
    * every trigger: 32 stores for 31 words of running state was most of
    * the per-trigger second at sf0.1. Like [[nBatches]] the count
    * derives from source bytes (state volume tracks input here: words /
    * windows / distinct keys), clamped to [2, defaultParallelism] so
    * larger corpora scale the store count back up to the session's full
    * parallelism. Restarts are unaffected: a checkpoint carries its own
    * partition count and Spark restores it from the offset log. */
  private def statePartitions(s: SparkSession, srcPath: String): Int = {
    val n = (srcBytes(srcPath) + BatchBytes - 1) / BatchBytes
    math.max(2L, math.min(s.sparkContext.defaultParallelism.toLong, n)).toInt
  }

  private def withStateParts[T](s: SparkSession, srcPath: String)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, statePartitions(s, srcPath).toString)
    try body finally s.conf.set(key, prev)
  }

  /** Checkpoint dir for a BOUNDED memory-sink replay, placed on tmpfs
    * when one exists. A replay's checkpoint is throwaway by design —
    * Spark itself uses a temp dir deleted at stop when no location is
    * given — but that temp dir lives under java.io.tmpdir (ext4 here),
    * so every trigger pays offsets+commits WAL fsyncs to REAL disk for
    * durability nothing ever reads back: the result is the drained
    * driver-resident sink, and a failed replay is re-run from scratch,
    * never resumed. Placing the same throwaway dir on tmpfs removes the
    * fsync stall without touching semantics (measured: see
    * OPTIMIZATION_r13.md — the win is the WAL, not the state store).
    * `graft.stream.ckptBase` overrides the base (a durability-sensitive
    * deployment points it at real storage or at "" to fall back to
    * Spark's own temp dir); stream_dedup_sink is NOT routed through
    * this — its checkpoint is the restart contract StreamOracleSpec
    * replays, so it stays under the staged dir. The dir is deleted as
    * soon as the replay completes (tmpfs is RAM — nothing may accrete). */
  private def replayCkpt(s: SparkSession): Option[java.nio.file.Path] = {
    val base = s.conf.getOption("graft.stream.ckptBase").getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) shm.getPath else ""
    }
    if (base.isEmpty) None
    else scala.util.Try(java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(base), "graft-replay-ckpt-")).toOption
  }

  /** [[Streams.runToCompletion]] with a replay-owned checkpoint that is
    * reclaimed the moment the bounded run drains (the memory sink is
    * driver-resident — nothing reads the checkpoint after termination). */
  private def runReplay(s: SparkSession, df: DataFrame, sink: String,
                        mode: String = "complete"): DataFrame = {
    val ckpt = replayCkpt(s)
    try Streams.runToCompletion(s, df, sink, mode, ckpt.map(_.toString))
    finally ckpt.foreach(Artifacts.deleteRecursively)
  }

  /** documents.text as a multi-file text dir (one line per doc — the
    * corpus ships newline-free text, asserted in StreamOracleSpec):
    * n files = n micro-batches under maxFilesPerTrigger=1. Data lives
    * under `<stage>/data` so the stage-completion marker never enters
    * the source glob. */
  private def textDir(s: SparkSession, dir: String): String =
    Staged.materialize(s, s"$dir|streamtext")(d =>
      Tables.documents(s, dir).select("text")
        .repartition(nBatches(s"$dir/documents.parquet"))
        .write.text(s"$d/data")) + "/data"

  /** Normalized events as a multi-file parquet dir + the schema the file
    * source needs (streaming reads never infer). */
  private def eventsDir(s: SparkSession, dir: String): (String, StructType) = {
    val ev = Tables.events(s, dir)
    val d = Staged.materialize(s, s"$dir|streamevents")(d =>
      ev.repartition(nBatches(s"$dir/events.parquet"))
        .write.parquet(s"$d/data"))
    (d + "/data", ev.schema)
  }

  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    val (path, schema) = eventsDir(s, dir)
    Streams.parquetSpout(s, schema, path)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O1–O5 as a LIVE stream under the oracle: micro-batches of
    // document lines, complete-mode running totals; the final table is
    // bit-equal to batch wordcount iff count state carried across all
    // triggers.
    "stream_wordcount" -> ((s, dir) =>
      withStateParts(s, s"$dir/documents.parquet") {
        runReplay(s,
          Streams.wordCountStream(s, textDir(s, dir), maxFilesPerTrigger = Some(1)),
          freshSink(s, "so_wc"))
      }.orderBy("word")),

    // Watermarked tumbling windows (the event-time capability the
    // reference lacks, SURVEY §2.1) streamed batch-by-batch; complete
    // mode emits every window, so the drained sink equals the batch
    // twin's windowed aggregate exactly.
    "stream_tumbling" -> ((s, dir) =>
      withStateParts(s, s"$dir/events.parquet") {
        runReplay(s,
          Streams.tumblingCounts(eventStream(s, dir)),
          freshSink(s, "so_tw"))
      }.select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"), col("event_type"), col("n"))
        .orderBy("window_start", "event_type")),

    // Streaming exact dedup in append mode: first occurrence of each
    // (user_id, event_type) wins; duplicates landing in LATER
    // micro-batches are dropped by state-store lookups, so the emitted
    // key set equals DISTINCT over the whole table only if state
    // persists across triggers.
    "stream_dedup_keys" -> ((s, dir) =>
      withStateParts(s, s"$dir/events.parquet") {
        runReplay(s,
          eventStream(s, dir).dropDuplicates("user_id", "event_type")
            .select(col("user_id"), col("event_type")),
          freshSink(s, "so_dd"), mode = "append")
      }.orderBy("user_id", "event_type")),

    // The same cross-trigger dedup drained through a DISTRIBUTED sink:
    // executor-side parquet writes under the file sink's commit protocol
    // (per-batch transaction log in _spark_metadata, read back through
    // that log so uncommitted files are invisible). This closes the one
    // asterisk on the O11/O12 evidence — every other oracle-registered
    // stream drains a driver-resident memory sink — and puts the full
    // production write path (state store → append output → sink commit →
    // committed-files-only read-back) inside the cross-engine gate. The
    // stream runs ONCE per (session, corpus) under Staged's completion
    // marker; StreamOracleSpec restarts it over the same checkpoint and
    // asserts the sink is byte-stable (exactly-once on replay).
    "stream_dedup_sink" -> ((s, dir) => {
      val out = Staged.materialize(s, s"$dir|streamdedupsink")(d =>
        dedupSinkRun(s, dir, d))
      s.read.parquet(s"$out/data").orderBy("user_id", "event_type")
    })
  )

  /** One AvailableNow run of the dedup topology into the parquet file
    * sink under `d` — factored out so the spec can REPLAY it over the
    * same checkpoint and prove the restart writes nothing new. */
  private[graft] def dedupSinkRun(s: SparkSession, dir: String, d: String): Unit =
    withStateParts(s, s"$dir/events.parquet") {
      eventStream(s, dir)
        .dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", s"$d/data")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

  def oracles: Map[String, String] = Map(
    // identical to the batch wordcount oracle — the stream must land on
    // the same totals
    "stream_wordcount" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin,

    "stream_tumbling" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "stream_dedup_keys" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    // same key set as stream_dedup_keys — the sink swap must not change
    // the answer
    "stream_dedup_sink" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin
  )
}
