package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}
import graft.sources.VersionedStore

/** Persisted trained-IVF index lifecycle — the 100 TB serving shape.
  *
  * The other `ann_ivf_trained_*` queries re-train the coarse quantizer
  * per session (session-staged via `Staged`). At scale you train ONCE,
  * land the index as an immutable [[VersionedStore]] version, and every
  * later session/job serves — and upserts — against the STORED artifact:
  * train → v1; each ingest batch assigns against the stored centroids
  * and lands the merged assignment as the next version; serving reads
  * the latest version. Nothing ever re-runs Lloyd training unless the
  * corpus itself changes.
  *
  * Index content per version: `<base>/assign` (vec_id, cell — the
  * inverted file) and `<base>/cents` (cid, carr — the micro-quantized
  * centroids future batches are assigned against). A production index
  * would inline the vectors next to the assignment to skip the serve
  * join; here the corpus parquet IS the vector store and the serve path
  * joins on vec_id — one co-partitioned shuffle join at scale.
  *
  * Store identity: a CONTENT fingerprint — row count plus the sum of
  * xxhash64 over (vec_id, embedding) — salted with a training-algorithm
  * version constant. Content (not id-checksum) hashing means a
  * regenerated corpus that happens to preserve its vec_ids can never be
  * served the stale corpus's index; the algorithm salt means a change
  * to Lloyd training / microQuant / k selection retires every index the
  * OLD math built instead of silently serving it (bump
  * [[TrainAlgoVersion]] with any such change). The fingerprint costs
  * one narrow aggregate scan, memoized per (session, dir) and stamped
  * with the embeddings file's [[Tables.sourceFp]], so a corpus rewritten
  * in place resolves to its own store.
  *
  * Durability: the store base defaults to `bench_local/ann_index` under
  * the working directory — a cross-session artifact must not live in
  * `java.io.tmpdir` (semantically ephemeral) and must not be written
  * into the read-only corpus dir; override with the
  * `graft.ann.index.base` session conf. First build is crash- AND
  * race-safe: versions are published by atomic rename
  * ([[VersionedStore.writeBatch]]) — two JVMs racing the first build
  * (Bench and Verify on the same sf dir) each write a private scratch
  * dir and the first rename wins.
  */
object AnnIndex {

  /** Bump whenever Clustering's training math changes (Lloyd rounds,
    * microQuant, k selection, seeding) — retires stored indexes built
    * by the old algorithm. */
  private val TrainAlgoVersion = 1

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Unmemoized content fingerprint — package-visible so the spec can
    * pin the "same vec_ids, different vectors" regeneration scenario. */
  private[graft] def corpusFingerprint(s: SparkSession, dir: String, flavor: String): String = {
    // bounded 1-row fetch (the allowed driver-side pattern): corpus
    // identity, not corpus data
    // sum through decimal(38,0): ANSI mode makes a long sum of 2^63-range
    // hashes overflow-strict, and the checksum only needs order-free
    // content sensitivity, not modular arithmetic
    val r = Tables.embeddings(s, dir)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("vec_id"), col("embedding"))
          .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("hv"))
      .head()
    md5hex(s"$dir|$flavor|algo$TrainAlgoVersion|${r.getLong(0)}|${r.get(1)}")
  }

  private def storeBase(s: SparkSession, dir: String, flavor: String): String = {
    val src = Tables.sourceFp(s"$dir/embeddings.parquet")
    val fp = Sessions.memo(s, s"annfp|$dir|$flavor")((e: (String, String)) => e._1 == src)(
      (src, corpusFingerprint(s, dir, flavor)))._2
    // session conf → durable default under the working directory
    val root = s.conf.getOption("graft.ann.index.base")
      .getOrElse(new java.io.File("bench_local/ann_index").getAbsolutePath)
    s"$root/$fp"
  }

  private def writeV1(assign: DataFrame, cents: DataFrame, base: String): Unit = {
    // batchId=0 → v=1, published by atomic rename: a crashed half-build
    // (no _SUCCESS) is tombstoned and replaced on the next call; a
    // concurrent complete build wins the rename and this one discards
    VersionedStore.writeBatch(assign, s"$base/assign", 0L): Unit
    VersionedStore.writeBatch(cents, s"$base/cents", 0L): Unit
  }

  private def built(base: String): Boolean =
    VersionedStore.isComplete(s"$base/assign", 1L) &&
      VersionedStore.isComplete(s"$base/cents", 1L)

  /** Train-once on the FULL corpus; returns the store base. Subsequent
    * calls (any session, any JVM) see the committed v1 and skip
    * training entirely. */
  def ensureFull(s: SparkSession, dir: String): String = {
    val base = storeBase(s, dir, "full")
    if (!built(base)) {
      val (emb, cents1) = Clustering.trained(s, dir)
      writeV1(Clustering.assign(emb, cents1).select(col("vec_id"), col("cell")),
        cents1, base)
    }
    base
  }

  /** Train-once on the 80% base slice (ann_ivf_upsert's split, same
    * in-plan seed-coverage guard) — the index the persisted UPSERT
    * folds the remaining 20% "arriving" batch into. */
  def ensureBase80(s: SparkSession, dir: String): String = {
    val base = storeBase(s, dir, "base80")
    if (!built(base)) {
      val emb = Tables.embeddings(s, dir)
      val split = Clustering.upsertSplit(emb)
      val baseSlice = emb.crossJoin(broadcast(split))
        .filter(col("vec_id") < col("s")).select("vec_id", "embedding")
      val (qemb, cents1) = Clustering.trainedOn(baseSlice)
      writeV1(Clustering.assign(qemb, cents1).select(col("vec_id"), col("cell")),
        cents1, base)
    }
    base
  }
}
