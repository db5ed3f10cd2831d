package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Pipeline
import graft.sources.VersionedStore

/** Streaming CDC apply — the continuous form of `pipeline_merge_upsert`:
  * a changelog arriving as parquet micro-batches folds into a keyed
  * state snapshot, one immutable [[VersionedStore]] version per batch
  * (latest-wins upserts, 'error' tombstones delete).
  *
  * Per-trigger cost is proportional to the BATCH: the batch compacts to
  * its per-key latest via [[Pipeline.latestPerKey]] (one narrow shuffle
  * + map-side WindowGroupLimit), then one full-outer equi-join folds it
  * into the prior snapshot. Nothing rescans the changelog history.
  *
  * Exactly-once via VERSION-PINNED pre-state: batch b reads snapshot
  * version v=b (never "latest") and writes v=b+1 — so a replayed batch
  * re-reads the same immutable input version, and its identical output
  * version is already published, so nothing is rewritten. foreachBatch's
  * at-least-once becomes idempotent without any transactional sink,
  * and every intermediate snapshot stays readable (time travel per
  * batch). The seed snapshot lands at v=0 only if no complete v=0
  * exists yet: a checkpoint restart mid-stream must never rewrite history
  * (a changed seed would silently fork it, and a crash during the
  * rewrite would leave v=0 half-written under readable later versions).
  */
object CdcApply {

  /** Fold one key-compacted delta into a prior state snapshot: delta
    * tombstones delete the key, delta upserts replace-or-insert,
    * untouched snapshot rows carry forward. Same rules as the batch
    * query's merge (spec-pinned equal to a from-scratch replay). */
  private[graft] def foldState(pre: DataFrame, delta: DataFrame): DataFrame = {
    val d = delta.select(col("user_id"), col("ts").as("d_ts"),
      col("event_type").as("d_type"), col("value").as("d_value"))
    pre.join(d, Seq("user_id"), "full_outer")
      .filter(col("d_type").isNull || col("d_type") =!= "error")
      .select(col("user_id"),
        when(col("d_type").isNotNull, col("d_ts"))
          .otherwise(col("ts")).as("ts"),
        when(col("d_type").isNotNull, col("d_type"))
          .otherwise(col("event_type")).as("event_type"),
        when(col("d_type").isNotNull, col("d_value"))
          .otherwise(col("value")).as("value"))
  }

  /** Start the CDC stream: changelog parquet (events schema) under
    * `inDir`, one file per micro-batch, → per-batch snapshot versions under
    * `outBase` through [[Streams.versionedSink]]. `seedState` is the base
    * snapshot (user_id, ts, event_type, value; tombstones already
    * compacted away) and MUST be deterministic across restarts. */
  def start(spark: SparkSession, template: DataFrame, seedState: DataFrame,
            inDir: String, outBase: String, checkpointDir: String): StreamingQuery = {
    // seed v=0 (pre-state of batch 0) exactly once — on restart a
    // COMPLETE v=0 (committer's _SUCCESS marker present) wins and the
    // supplied seed is ignored. A bare v=0 directory without the marker
    // is a crash mid-first-seed: writeBatch replaces it (nothing
    // downstream can have read it, since batch 0 only starts after the
    // seed is published).
    VersionedStore.writeBatch(seedState, outBase, -1L): Unit
    Streams.versionedSink(Streams.parquetSpout(spark, template.schema, inDir),
      outBase, checkpointDir) { (batch, batchId) =>
      val delta = Pipeline.latestPerKey(batch.select(
        col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value")))
      foldState(VersionedStore.readVersion(spark, outBase, batchId), delta)
    }
  }
}
