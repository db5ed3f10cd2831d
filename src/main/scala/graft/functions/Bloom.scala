package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** Explicit bloom-filter membership artifact — the persisted
  * "have we seen this key" gate of large ingest pipelines (URL / document
  * fingerprints vs an existing corpus), built on the same Catalyst
  * expressions Spark's automatic runtime bloom join pruning uses
  * ([[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
  * / [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]],
  * both codegen'd), but user-controlled: build once per corpus version,
  * persist, reuse across every subsequent ingest job.
  *
  * 100 TB posture: the build is a distributed partial/final aggregate —
  * each task folds its keys into a local filter, the merge ORs fixed-size
  * bitmaps — so the only data movement is one filter per task. The
  * finished artifact is sized by expected KEY COUNT, not data volume
  * (~1.2 MB per million keys at the default 3% fpp), and is fetched to
  * the driver exactly once like a broadcast variable, then shipped into
  * the probe-side scan as a literal: definitely-miss rows drop at the
  * scan with no shuffle and no join, and only possible members (true
  * members + fpp false positives) reach the exact confirm join — results
  * stay exact, the bloom only prunes.
  */
object Bloom {

  /** Distributed build: fold xxhash64(key) into one serialized filter.
    * The build side must be non-empty (an empty corpus has nothing to
    * dedup against — and the aggregate would return null, which would
    * silently null out every probe). */
  def buildBytes(keys: DataFrame, key: Column, expectedKeys: Long): Array[Byte] = {
    val hashed = new XxHash64(Seq(ColumnBridge.expression(key)))
    val agg = new BloomFilterAggregate(hashed, expectedKeys).toAggregateExpression()
    val bytes = keys.select(ColumnBridge.column(agg).as("bloom")).head().getAs[Array[Byte]](0)
    require(bytes != null, "Bloom.buildBytes: empty build side")
    bytes
  }

  /** Build-once-per-(session, key) variant: the filter bytes are
    * memoized in [[graft.core.Sessions.memo]], so repeated query
    * construction reuses them instead of re-scanning the corpus. */
  def memoBytes(s: SparkSession, memoKey: String, keys: DataFrame, key: Column,
      expectedKeys: Long): Array[Byte] =
    graft.core.Sessions.memo(s, s"bloom|$memoKey")((_: Array[Byte]) => true)(
      buildBytes(keys, key, expectedKeys))

  /** Probe: true if `c` is possibly in the set, false only if definitely
    * not (no false negatives). Codegen'd; safe to push into a scan
    * filter. */
  def mightContain(bloom: Array[Byte], c: Column): Column =
    ColumnBridge.column(new BloomFilterMightContain(
      Literal(bloom, BinaryType),
      new XxHash64(Seq(ColumnBridge.expression(c)))))
}
