package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Parity
import graft.sources.VersionedStore

/** Structured Streaming equivalents of the reference's micro-batch
  * pipelines (SURVEY.md §7.1 layer 2).
  *
  * Crane's model — spout pulls lines, 500-tuple batches, at-least-once
  * ack/replay (reference `crane_master.py:41-61,148-164`, `util.py:61`) —
  * maps to the file source + micro-batch triggers + checkpointed sinks,
  * which upgrade the delivery guarantee to exactly-once. `maxFilesPerTrigger`
  * is the batch-size knob; the WAL + task retry replace the 40 s replay
  * timer; there is no master-side merge because the final aggregation is
  * a distributed HashAggregate in update/complete mode.
  *
  * All three pipelines reuse the SAME transforms as batch (graft.operators
  * .Parity) — a streaming DataFrame is just a DataFrame; stream≡batch is
  * asserted in StreamingSpec.
  */
object Streams {

  /** Streaming word count over a directory of text files (reference
    * word_count topology, O1–O5). Complete mode: the running totals.
    * maxFilesPerTrigger is the micro-batch size knob — the analogue of
    * Crane's CRANE_BATCH_SIZE=500 (reference util.py:61). */
  def wordCountStream(spark: SparkSession, inputDir: String,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    Parity.wordCount(reader.text(inputDir))
  }

  /** Streaming pagerank contributions (reference page_rank topology). */
  def pageRankStream(spark: SparkSession, inputDir: String): DataFrame =
    Parity.pageRankContribs(Parity.parseAdjacency(spark.readStream.text(inputDir)))

  /** Streaming filter+count (reference twitter topology). */
  def twitterStream(spark: SparkSession, inputDir: String): DataFrame =
    Parity.filterCount(Parity.parseTwitter(spark.readStream.text(inputDir)),
      "followers", 50.0)

  /** Watermarked tumbling-window aggregation over an event stream —
    * the event-time capability Crane lacks entirely (SURVEY.md §2.1).
    * The 10-minute watermark bounds state: windows older than
    * max(event time) - 10 min are finalized and evicted. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Watermarked SESSION windows per user — merge-as-you-go gap windows
    * in streaming mode: a session finalizes (and its state evicts) once
    * the watermark passes its close + gap. The batch twin is
    * EventTime's events_session; the spec asserts emitted sessions
    * match it exactly. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  /** Streaming exact dedup: drop events whose key was already seen within
    * the watermark horizon — the streaming arm of the dedup suite
    * (graft.operators.Dedup covers batch). State is bounded by the
    * watermark: keys older than it are evicted, so this runs forever on
    * an unbounded stream. */
  def dedupStream(events: DataFrame, keyCols: Seq[String], watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates(keyCols :+ "ts")

  /** The one-file-per-trigger parquet spout: each file under `dir` is one
    * micro-batch (`maxFilesPerTrigger` 1, Crane's batch boundary). A
    * streaming file read never infers, so the schema is given. */
  def parquetSpout(spark: SparkSession, schema: StructType, dir: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  /** The exactly-once versioned sink every spout→bolt→store topology
    * shares: each micro-batch `id` goes through `bolt(batch, id)` and lands
    * as one [[VersionedStore]] version via [[VersionedStore.writeBatch]].
    * The version derives from the batch id and a replayed batch keeps its
    * first complete write, so foreachBatch's at-least-once becomes
    * exactly-once under the checkpoint. Started with
    * Trigger.AvailableNow: `awaitTermination()` drains what is there, and
    * a restart on the same checkpoint processes only new input. */
  def versionedSink(stream: DataFrame, base: String, checkpoint: String)(
      bolt: (DataFrame, Long) => DataFrame): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        VersionedStore.writeBatch(bolt(batch.toDF(), id), base, id): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream-stream interval join: pair each event with the same user's
    * events in the following hour. Both sides carry watermarks so the
    * join state is bounded — rows older than the watermark minus the
    * interval are evicted; without them a stream-stream join buffers
    * forever. Works identically on batch frames (the spec asserts
    * stream ≡ batch). */
  def intervalJoin(l: DataFrame, r: DataFrame, joinType: String = "inner"): DataFrame = {
    val le = l.select(col("user_id").as("l_user"), col("event_id").as("l_id"),
      col("ts").as("l_ts")).withWatermark("l_ts", "1 hour")
    val re = r.select(col("user_id").as("r_user"), col("event_id").as("r_id"),
      col("ts").as("r_ts")).withWatermark("r_ts", "1 hour")
    le.join(re,
      col("l_user") === col("r_user") &&
        col("r_ts") > col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
      .select(col("l_user").as("user_id"), col("l_id"), col("r_id"))
  }

  /** Stream-static join: enrich a stream with a batch dimension table.
    * The static side is re-planned per micro-batch — the planner
    * broadcasts it while it fits autoBroadcastJoinThreshold and falls
    * back to a shuffle join when it doesn't, so callers may pass
    * sf-scaling dimensions (customer) without a forced hint killing
    * the job at scale. Needs no watermark and holds no join state —
    * the streaming analogue of every star-schema enrichment. */
  def enrichedCounts(stream: DataFrame, dim: DataFrame,
                     streamKey: String, dimKey: String, dimAttr: String): DataFrame =
    // frame-qualified key columns: bare col(...) is AMBIGUOUS_REFERENCE
    // when both sides share the key name (the natural-key case)
    stream
      .join(dim, stream(streamKey) === dim(dimKey))
      .groupBy(dim(dimAttr))
      .agg(count(lit(1)).as("n"))

  /** Synthetic generator spout: the built-in rate source emits
    * monotonically increasing (timestamp, value) rows at rowsPerSecond,
    * pre-partitioned across numPartitions — the load-generator analogue
    * of a reference spout replaying a fixed feed, useful for soak/perf
    * tests of any downstream pipeline without file staging. Downstream
    * here: modular bucketing + running counts, the same declarative
    * shape as the parity aggregations. */
  def rateBucketCounts(spark: SparkSession, rowsPerSecond: Int = 1000,
                       numPartitions: Int = 4, buckets: Int = 10): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .option("numPartitions", numPartitions)
      .load()
      .withColumn("bucket", pmod(col("value"), lit(buckets)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), max(col("value")).as("max_value"))

  /** Run a (complete/update-mode) streaming aggregate to completion over
    * whatever is already in the source, collecting via a memory sink.
    * Trigger.AvailableNow processes the backlog in micro-batches then
    * stops — the faithful analogue of Crane draining its spout to EOF. */
  def runToCompletion(spark: SparkSession, df: DataFrame, name: String,
                      mode: String = "complete", checkpoint: Option[String] = None): DataFrame = {
    val writer = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
    val q = checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
    q.awaitTermination()
    spark.table(name)
  }
}
