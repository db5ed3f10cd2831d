package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Staged, Tables}

/** Multimodal-column plumbing: media as opaque binary columns + typed
  * metadata, processed partition-batch-wise.
  *
  * The container has no image/audio codecs, so decode is a STUB — a
  * deterministic fake deriving "decoded" dimensions from the bytes. What
  * is real, and what a cluster run needs: the binary column schema, the
  * partition-wise batched processing shape (mapPartitions — the Scala
  * analogue of arrow-batched UDFs: amortize per-batch setup, stream rows,
  * never collect), and the oracle-checkable byte-level metadata.
  */
object Multimodal {

  case class MediaMeta(doc_id: Long, n_bytes: Int, first_byte: Int,
                       fake_width: Int, fake_height: Int)

  /** STUB decoder: real systems call the codec here, once per partition
    * batch. Deterministic fake: dimensions derived from payload size. */
  def decodeStub(blob: Array[Byte]): (Int, Int) =
    (blob.length % 64 + 1, (blob.length / 64) % 64 + 1)

  /** Partition-wise "decode": the mapPartitions shape a real media
    * pipeline uses (per-partition codec init, streamed rows). */
  def decodeMeta(docs: DataFrame): Dataset[MediaMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition setup would open the codec once, here
        rows.map { case (id, blob) =>
          val (w, h) = decodeStub(blob)
          MediaMeta(id, blob.length, if (blob.isEmpty) -1 else blob(0) & 0xff, w, h)
        }
      }
  }

  /** 60-bit average-hash (aHash) fingerprint over the opaque binary
    * payload — the perceptual-hash shape image dedup uses, computed on
    * bytes so it is oracle-checkable without codecs: the payload is cut
    * into 60 equal slices ("pixels"), each slice's mean byte value is
    * thresholded against the whole-payload mean, and the 60 resulting
    * bits pack into one BIGINT. Mean-based bits are what makes this a
    * NEAR-dup hash: a small insertion shifts slice contents by a few
    * bytes and most slice means stay on the same side of the global
    * mean (measured on the corpus: near-dup pairs land at hamming ≈ 4,
    * unrelated pairs at ≈ 30 of 60). All arithmetic is integer-exact —
    * slice sums are integer-valued doubles (< 2^53) and both thresholds
    * are integer/integer divisions — so Spark and DuckDB agree
    * bit-for-bit with no float-summation-order hazard. Row-local: one
    * narrow projection, no explode, no shuffle. */
  private[graft] def ahashFingerprints(s: SparkSession, dir: String): DataFrame =
    Staged(s, s"$dir|multimodal_ahash_fp") {
      ahashOf(Tables.documents(s, dir))
    }

  /** The fingerprint computation itself, over any (doc_id, text) frame —
    * split out so specs can feed adversarial synthetic payloads.
    *
    * Shape: a per-byte EXPLODE feeding two aggregations, not a
    * higher-order lambda. The previous nested transform/aggregate
    * formulation evaluated one interpreted lambda step per byte
    * (HigherOrderFunctions have no codegen) and dominated the staged
    * fingerprint's cost — ~55 s of the phash-cluster query's 60 s at
    * the 10× soak. Exploded, every stage (conv, the two hash
    * aggregates, the window) runs in whole-stage codegen; byte sums
    * stay in LONG (exact — each byte ≤ 255, so the per-bucket and
    * per-doc totals are exact integers and the two double divisions
    * reproduce the lambda formulation's values bit-for-bit; the oracle
    * is unchanged). */
  private[graft] def ahashOf(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), hex(col("text").cast("binary")).as("h"),
        length(col("text").cast("binary")).as("nb"))
      .withColumn("bl", greatest(lit(1), expr("(nb + 59) div 60")))
    // the generator tokenizes the hex into 2-char byte tokens BEFORE
    // the fan-out (regexp_extract_all '..' = successive byte pairs), so
    // exploded rows carry one tiny token — not the whole multi-KB hex
    // string duplicated once per byte through the Generate
    val bytes = base.filter(col("nb") > 0)
      .select(col("doc_id"), col("nb"), col("bl"),
        posexplode(expr("regexp_extract_all(h, '..', 0)")).as(Seq("k", "hx")))
      .select(col("doc_id"), col("nb"), expr("k div bl").as("i"),
        expr("cast(conv(hx, 16, 10) as bigint)").as("v"))
    val bsums = bytes.groupBy("doc_id", "nb", "i")
      .agg(sum("v").as("s"), count(lit(1)).as("c"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val nonEmpty = bsums
      .withColumn("da", sum(col("s")).over(wDoc).cast("double") / col("nb"))
      .groupBy("doc_id")
      .agg(sum(when(col("s").cast("double") / col("c") > col("da"),
        expr("shiftleft(cast(1 as bigint), i)")).otherwise(lit(0L))).as("fp"))
    base.filter(col("nb") === 0)
      .select(col("doc_id"), lit(0L).as("fp"))
      .unionByName(nonEmpty.select(col("doc_id"), col("fp")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Declarative twin of decodeMeta (same arithmetic in pure columns) so
    // the binary plumbing is oracle-checked end to end. first_byte is the
    // raw first UTF-8 BYTE (hex of the binary cast), matching the
    // mapPartitions twin's blob(0) & 0xff — ascii(substring(text,1,1))
    // would be the first CHARACTER's codepoint, which diverges on any
    // non-ASCII document.
    "multimodal_meta" -> ((s, dir) => {
      val blob = col("text").cast("binary")
      val blobLen = length(blob)
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          blobLen.as("n_bytes"),
          when(blobLen === 0, lit(-1))
            .otherwise(conv(substring(hex(blob), 1, 2), 16, 10).cast("int"))
            .as("first_byte"),
          (blobLen % 64 + 1).as("fake_width"),
          (floor(blobLen / 64) % 64 + 1).cast("int").as("fake_height"))
        .orderBy("doc_id")
    }),

    "multimodal_meta_mp" -> ((s, dir) =>
      decodeMeta(Tables.documents(s, dir)).toDF().orderBy("doc_id")),

    // Perceptual-hash near-dup over the binary payload — the image-dedup
    // pipeline with the codec stubbed out: aHash fingerprint (see
    // ahashFingerprints), then 4×15-bit LSH banding for candidates and
    // an exact hamming ≤ 12 verify (Dedup.bandedHammingPairs — the
    // simhash pair join, with wider bands and a looser verify). The
    // staged fingerprint table is the artifact a production image-dedup
    // job persists between "hash the corpus" and "mine the pairs".
    "multimodal_phash_neardup" -> ((s, dir) =>
      Dedup.bandedHammingPairs(ahashFingerprints(s, dir), 15, 12).orderBy("doc_a", "doc_b")),

    // The shippable decision over the media pairs: connected components
    // + canonical keep (cluster = transitive near-dup group, keep = the
    // cluster's min doc_id) — the multimodal arm of
    // dedup_keep_canonical, composed from the same Dedup helpers
    // (hammingClusters, keepCanonical) as dedup_simhash_clusters and
    // dedup_keep_canonical, so the dedup families cannot diverge in
    // cluster semantics. Byte-identical re-crawled media share an aHash,
    // so CC runs over one representative per distinct fingerprint (the
    // round-8 10× soak measured this query at 60.1 s pre-collapse).
    "multimodal_phash_clusters" -> ((s, dir) => {
      val fp = ahashFingerprints(s, dir)
      Dedup.keepCanonical(fp, Dedup.hammingClusters(fp, 15, 12)).orderBy("doc_id")
    }),

    // Frame sampling — the video-pipeline shape: chop each blob into
    // fixed 256-byte frames, keep every 4th, fingerprint each kept
    // frame. Runs over the hex encoding so the per-frame slice +
    // fingerprint is pure engine-portable column algebra (a real
    // pipeline would hand the sliced bytes to a codec UDF at exactly
    // this point). explode(sequence) fans out rows — never a
    // driver-side loop — and everything before the final sort is a
    // narrow per-row pass.
    "multimodal_frame_sample" -> ((s, dir) => {
      val frameBytes = 256
      val hexPerFrame = frameBytes * 2
      Tables.documents(s, dir)
        .select(col("doc_id"), hex(col("text").cast("binary")).as("h"))
        .withColumn("n_frames",
          ceil(length(col("h")).cast("double") / hexPerFrame).cast("int"))
        .filter(col("n_frames") > 0)
        .select(col("doc_id"), col("h"), col("n_frames"),
          explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
        .filter(col("frame_idx") % 4 === 0)
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          md5(expr(s"substring(h, frame_idx * $hexPerFrame + 1, $hexPerFrame)"))
            .as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    })
  )

  /** aHash pair CTE chain shared by the pair and cluster oracles;
    * final CTE is ppairs(doc_a, doc_b, hamming). */
  private val phashPairCtes: String =
    """hx AS (
      |  SELECT doc_id, hex(encode(text)) AS h,
      |         octet_length(encode(text)) AS nb FROM documents),
      |sl AS (SELECT doc_id, h, nb, greatest(1, (nb + 59) // 60) AS bl FROM hx),
      |arrs AS (
      |  SELECT doc_id, nb,
      |    list_transform(range(0,60), i ->
      |      list_sum(list_transform(range(0,bl), j -> CASE WHEN i*bl+j < nb THEN
      |        (strpos('0123456789ABCDEF', substr(h,(i*bl+j)*2+1,1))-1)*16 +
      |        (strpos('0123456789ABCDEF', substr(h,(i*bl+j)*2+2,1))-1) ELSE NULL END))) AS ss,
      |    list_transform(range(0,60), i ->
      |      len(list_filter(range(0,bl), j -> i*bl+j < nb))) AS cc
      |  FROM sl),
      |fp AS (
      |  SELECT doc_id,
      |    CASE WHEN nb = 0 THEN 0 ELSE
      |      CAST(list_sum(list_transform(range(0,60), i ->
      |        CASE WHEN cc[i+1] > 0 AND CAST(ss[i+1] AS DOUBLE)/cc[i+1] >
      |          CAST(list_sum(list_filter(ss, x -> x IS NOT NULL)) AS DOUBLE)/nb
      |        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) END AS fp
      |  FROM arrs),
      |bands AS (
      |  SELECT doc_id, fp, t.b,
      |         (fp >> (15*CAST(t.b AS INTEGER))) & 32767 AS sig
      |  FROM fp, range(4) t(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      |  FROM bands a JOIN bands b2
      |    ON a.b = b2.b AND a.sig = b2.sig AND a.doc_id < b2.doc_id),
      |ppairs AS (
      |  SELECT c.doc_a, c.doc_b,
      |         CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming
      |  FROM cand c
      |  JOIN fp fa ON c.doc_a = fa.doc_id
      |  JOIN fp fb ON c.doc_b = fb.doc_id
      |  WHERE bit_count(xor(fa.fp, fb.fp)) <= 12)""".stripMargin

  // first_byte = raw first UTF-8 byte via hex digits (DuckDB has no
  // direct blob[0] → int), matching Spark's conv(substr(hex(blob),1,2))
  private val metaSql =
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      |       CASE WHEN octet_length(encode(text)) = 0 THEN -1
      |            ELSE CAST(16*(strpos('0123456789ABCDEF', substr(hex(encode(text)),1,1))-1)
      |                    + strpos('0123456789ABCDEF', substr(hex(encode(text)),2,1))-1 AS INT)
      |       END AS first_byte,
      |       octet_length(encode(text)) % 64 + 1 AS fake_width,
      |       (octet_length(encode(text)) // 64) % 64 + 1 AS fake_height
      |FROM documents ORDER BY doc_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "multimodal_meta" -> metaSql,
    "multimodal_meta_mp" -> metaSql,
    // aHash fingerprints replayed in list algebra (integer-exact slice
    // sums and thresholds — see ahashFingerprints); candidate pairs via
    // DISTINCT band join (values equal to the canonical-band emission)
    "multimodal_phash_neardup" ->
      s"""WITH $phashPairCtes
         |SELECT doc_a, doc_b, hamming FROM ppairs
         |ORDER BY doc_a, doc_b""".stripMargin,

    "multimodal_phash_clusters" ->
      s"""WITH RECURSIVE $phashPairCtes,
         |sym AS (SELECT doc_a AS src, doc_b AS dst FROM ppairs
         |        UNION ALL SELECT doc_b, doc_a FROM ppairs),
         |reach(doc, root) AS (
         |  SELECT src, src FROM sym
         |  UNION
         |  SELECT s.dst, r.root FROM reach r JOIN sym s ON s.src = r.doc),
         |clusters AS (
         |  SELECT doc AS doc_id, min(root) AS cluster_id FROM reach GROUP BY doc)
         |SELECT d.doc_id,
         |       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |       coalesce(c.cluster_id, d.doc_id) = d.doc_id AS keep
         |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "multimodal_frame_sample" ->
      """WITH hx AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |         CAST(ceil(CAST(length(hex(encode(text))) AS DOUBLE) / 512) AS INT) AS n_frames
        |  FROM documents),
        |frames AS (
        |  SELECT doc_id, h, n_frames,
        |         CAST(unnest(generate_series(0, n_frames - 1)) AS INT) AS frame_idx
        |  FROM hx WHERE n_frames > 0)
        |SELECT doc_id, frame_idx, n_frames,
        |       md5(substr(h, frame_idx * 512 + 1, 512)) AS frame_md5
        |FROM frames WHERE frame_idx % 4 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin
  )
}
