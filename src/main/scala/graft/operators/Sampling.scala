package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.PortableHash
import graft.functions.Decimals.rsum2

/** Deterministic hash-based sampling and splitting — how a training
  * pipeline carves reproducible train/val/test sets and cheap stratified
  * samples out of a 100 TB corpus. Random sampling (rand(), reservoir)
  * is NOT reproducible across engines, retries, or re-partitions; a
  * content hash of a stable key is — the same row lands in the same
  * split on every run of every engine, and adding data never reshuffles
  * existing assignments. Pure narrow projection + one aggregation: no
  * shuffle until the final count.
  */
object Sampling {

  /** Percent bucket 0..99 from a stable key. */
  def hashBucket(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(PortableHash.hash60(key.cast("string")), lit(100L))

  /** Poisson(1) CDF thresholds at 2^16 scale (floor(c_k · 65536), exact
    * integer literals shared verbatim with the oracle): a uniform
    * 16-bit draw inverts to the bootstrap resampling weight 0,1,…,5
    * (tail ≥ 6, p ≈ 6e-4, truncates to 6; 16-bit quantization biases
    * the weight distribution by < 2e-5 — negligible against the
    * bootstrap's own sampling noise). */
  private val PoissonCdf16 = Seq(24109L, 48218L, 60273L, 64291L, 65296L, 65497L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BOOTSTRAP confidence interval — metric uncertainty without
    // randomness: the Poisson bootstrap (each row enters replica b with
    // weight ~ Poisson(1)) made fully deterministic by drawing each
    // replica's weight from a 16-bit md5 slice of (replica-group, row
    // key) against exact integer CDF thresholds, so every engine and
    // every re-run draws the identical resample. B=32 replica means of
    // l_extendedprice; the CI is the 2nd/31st order statistic (≈ 90%
    // interval). Scale shape: the 32× row fan-out NEVER shuffles — it
    // feeds a partial aggregate, so the exchange carries 32 rows of
    // integer sums per task regardless of corpus size (compute-heavy,
    // shuffle-trivial — the right trade at 100 TB), and the order
    // statistic sorts a 32-element array on one row. Replica means are
    // exact integer sums divided once in IEEE doubles — bit-identical
    // cross-engine, so even the sort order of means replays.
    "sample_bootstrap_ci" -> ((s, dir) => {
      val B = 32
      // price as integer cents (floor(x·100): the same IEEE multiply
      // both engines run) so every sum is exact and each replica mean
      // is ONE double division of two exact integers — bit-identical
      // cross-engine, no decimal→double conversion in the path
      // REBALANCE before the compute-heavy fan-out: the downstream work
      // (4 md5 + 32 conv + 32 agg updates ≈ 2 µs/row) is ~60× the cost
      // of shuffling this 24-byte projection, so one narrow hash
      // exchange buys full-cluster parallelism even when the source
      // collapses to few splits (a single-row-group file here; at
      // 100 TB it also evens out ragged scan splits for ~1% overhead)
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("l_orderkey"))
      val thr = PoissonCdf16
      // Four PLAIN md5 columns (not a transform array) hoisted BELOW
      // the generator: every expression in the hot path — md5/concat,
      // substring/conv, CASE — has doGenCode, so scan → hash → Generate
      // → weight → partial agg is ONE WholeStageCodegen span
      // (higher-order transform/filter lambdas are interpreted-only and
      // cost ~4× the whole query at 19M rows).
      val hashCols = (0 until 4).map(i => md5(expr(
        s"concat('$i:', cast(l_orderkey as string), ':', cast(l_linenumber as string))"))
        .as(s"h$i"))
      // 16-bit draw for replica b: 4 hex chars of h(b div 8) at offset
      // (b%8)*4+1 — identical slicing to the oracle. All 32 draws go
      // into one plain (lambda-free) array per row, each conv written
      // exactly once, so the exploded rows carry only (cents, b, d) —
      // 24 bytes, no md5 strings duplicated 32× through the Generate,
      // and the Generate is a projection-collapse barrier: the md5s can
      // never be re-inlined into per-replica math above it (the round-7
      // regression, 20.8 s → 460 s; PlanAuditSpec pins ≤ 4 md5s in the
      // physical plan). A 64-parallel-aggregate no-fanout twin was
      // measured SLOWER (2.8–14 s vs 1.5 s at sf0.1): its fused
      // 64-slot codegen function exceeds JIT limits, while this shape
      // keeps every stage in small, hot whole-stage-codegen loops.
      val draws = (0 until B).map(b => expr(
        s"cast(conv(substring(h${b / 8}, ${(b % 8) * 4 + 1}, 4), 16, 10) as bigint)"))
      val wCase = thr.zipWithIndex
        .map { case (t, i) => s"WHEN d < $t THEN $i" }
        .mkString("CASE ", " ", s" ELSE ${thr.size} END")
      val exploded = li
        .select((col("cents") +: hashCols): _*)
        .select(col("cents"), posexplode(array(draws: _*)).as(Seq("b", "d")))
        .withColumn("w", expr(wCase))
      // one scan: sum(cents)/count per b-group are each the full-corpus
      // totals (every row lands in all 32 groups), so the grand mean
      // rides the same aggregate instead of a second pass. Sums stay in
      // LONG: exact (no float ordering) and far from overflow — total
      // cents would have to pass 2^63 ≈ $92 quadrillion before the
      // decimal(38,0) formulation becomes necessary
      val perB = exploded.groupBy("b").agg(
        sum(expr("cents * w")).as("cw"),
        sum(col("w")).as("sw"),
        sum(col("cents")).as("sc"),
        count(lit(1)).as("n"))
      perB.agg(
        sort_array(collect_list(
          col("cw").cast("double") / (col("sw") * 100).cast("double"))).as("l"),
        min("sc").as("sc"), min("n").as("n"))
        .select(
          round(col("sc").cast("double") / (col("n") * 100).cast("double"), 4)
            .as("mean_price"),
          round(col("l")(1), 4).as("ci_lo"),
          round(col("l")(30), 4).as("ci_hi"),
          lit(B.toLong).as("n_replicas"))
    }),

    // 80/10/10 split assignment + per-stratum audit: event counts and
    // value mass per (event_type, split) prove the split is unbiased
    // across strata without materializing any split.
    "sample_hash_split" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("bucket", hashBucket(col("event_id")))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy("event_type", "split")
        .agg(count(lit(1)).as("n"), rsum2(col("value")).as("value_sum"))
        .orderBy("event_type", "split")),

    // Temperature-based source re-weighting (the multilingual-corpus
    // flattening pass, τ = 0.5): each source is downsampled at rate
    // sqrt(n_min / n_s), so the rarest source keeps everything and the
    // biggest sources are flattened toward sqrt scaling. Deterministic
    // end to end — the per-source keep threshold is floor(1e6·sqrt(ratio))
    // (sqrt and the division are single correctly-rounded IEEE ops, so
    // both engines agree bit-for-bit) and membership is the md5 bucket of
    // the doc id, never rand(). One count pass, one broadcast of the
    // 20-row threshold table, one audit aggregation.
    "sample_temperature_sources" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val thr = counts.crossJoin(broadcast(counts.agg(min("n_docs").as("n_min"))))
        .select(col("source"), col("n_docs"),
          floor(lit(1e6) * sqrt(col("n_min").cast("double") /
            col("n_docs").cast("double"))).cast("long").as("threshold"))
      docs.join(broadcast(thr), "source")
        .groupBy(col("source"), col("n_docs"), col("threshold"))
        .agg(sum(when(pmod(PortableHash.hash60(col("doc_id").cast("string")),
          lit(1000000L)) < col("threshold"), 1L).otherwise(0L)).as("n_kept"))
        .select("source", "n_docs", "threshold", "n_kept")
        .orderBy("source")
    }),

    // Stratified 10% sample (bucket 0 of 10 per doc), with per-language
    // acceptance stats — the reproducible corpus-thinning pass.
    "sample_stratified_docs" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("sampled",
          pmod(PortableHash.hash60(col("doc_id").cast("string")), lit(10L)) === 0)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
          min(when(col("sampled"), col("doc_id"))).as("first_sampled_doc"))
        .orderBy("lang")),

    // Per-source QUOTA sampling — the data-mixing cap ("at most K docs
    // from any one source") applied deterministically: rank docs within
    // each source by content-hash order (a reproducible pseudo-random
    // permutation — rand() would give a different sample every run) and
    // keep rank ≤ K. The window sorts only WITHIN a source; sources are
    // a bounded categorical key, and a skewed giant source is the
    // documented pre-shuffle salting case (rank within (source, salt)
    // then re-rank the K·S survivors) rather than a global sort.
    "sample_quota_per_source" -> ((s, dir) => {
      val K = 10
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source")
        .orderBy(PortableHash.hash60(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .orderBy("source", "rk")
    }),

    // EPOCH-MIX upsampling — the other half of data mixing (temperature
    // sampling caps the dominant slices; epoch repetition lifts the
    // minority ones — here the language axis, where the corpus is
    // genuinely imbalanced): each language's docs repeat
    // epochs = ceil(sqrt(n_max/n)), capped at 4 (past a few epochs
    // repetition hurts more than it helps). Repetition is a per-row
    // sequence explode at scan parallelism — the only exchanges are two
    // bounded lang-key aggregates; sqrt and the division are IEEE-exact,
    // so the epoch table is bit-identical cross-engine.
    "sample_epoch_mix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val ep = counts.crossJoin(broadcast(counts.agg(max("n_docs").as("n_max"))))
        .select(col("lang"), col("n_docs"),
          least(ceil(sqrt(col("n_max").cast("double") /
            col("n_docs").cast("double"))).cast("long"), lit(4L)).as("epochs"))
      docs.join(broadcast(ep), "lang")
        .select(col("lang"), col("n_docs"), col("epochs"),
          col("doc_id"), explode(sequence(lit(1L), col("epochs"))).as("epoch"))
        .groupBy("lang", "n_docs", "epochs")
        .agg(count(lit(1)).as("n_epoch_rows"),
          countDistinct(col("doc_id")).as("n_unique"))
        .orderBy("lang")
    }),

    // WEIGHTED sampling without replacement (priority sampling,
    // Duffield–Lund–Thorup): each doc draws a deterministic uniform
    // u ∈ [1, 2³²] from its md5 hash and gets priority w/u — taking the
    // top-k priorities per source selects docs with probability ≈
    // proportional to weight (here n_chars: longer docs carry more
    // training tokens, so a token-budgeted mix samples them more often).
    // Rendition is INTEGER-EXACT so both engines agree bit-for-bit:
    // priority = (w·2³²) div u — floor division of two positive BIGINTs,
    // monotone in w/u (never a float pow/log, whose libm rounding can
    // flip cross-engine orderings near ties). Scale shape: the rank
    // window partitions on source and Spark's rank-limit pushdown
    // (WindowGroupLimit) keeps a running top-k per map task BEFORE the
    // shuffle, so the exchange carries O(k·partitions) rows, not the
    // corpus — the same partial/final discipline as an aggregation.
    "sample_weighted_priority" -> ((s, dir) => {
      val K = 10
      val u = pmod(PortableHash.hash60(col("doc_id").cast("string")),
        lit(4294967296L)) + lit(1L)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("priority"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars").as("weight"),
          u.as("u"))
        .withColumn("priority", expr("weight * 4294967296L div u"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("source"), col("rk"), col("doc_id"), col("weight"),
          col("priority"))
        .orderBy("source", "rk")
    }),

    // The ESTIMATOR half of priority sampling — why the scheme exists:
    // with τ = the (k+1)-th priority, Σ_{i∈sample} max(w_i, τ) is an
    // unbiased (Horvitz–Thompson) estimate of the source's TOTAL weight,
    // so a 10-doc sample prices a source's token mass without scanning
    // it. (The integer priority (w·2³²) div u_scaled already equals w/u
    // for u = u_scaled/2³² ∈ (0,1] — τ is in WEIGHT units, no rescale;
    // its ≤1-unit floor slack is deterministic and engine-identical.)
    // Estimate and exact total ship side by side (the same
    // calibration pattern as dedup_minhash_est / kmv_source_overlap);
    // τ comes from a second aggregate over the SAME source window
    // partition — no extra exchange — and the estimate sums through
    // DECIMAL so addition order cannot move the result cross-engine.
    // A source with ≤ k docs has τ = 0 and the estimate is exact.
    "sample_weighted_estimate" -> ((s, dir) => {
      val K = 10
      val u = pmod(PortableHash.hash60(col("doc_id").cast("string")),
        lit(4294967296L)) + lit(1L)
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("priority"), col("doc_id"))
      val wSrc = org.apache.spark.sql.expressions.Window.partitionBy("source")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars").as("weight"),
          u.as("u"))
        .withColumn("priority", expr("weight * 4294967296L div u"))
        .withColumn("rk", row_number().over(wRank))
        .withColumn("tau",
          coalesce(max(when(col("rk") === K + 1, col("priority"))).over(wSrc),
            lit(0L)))
        .withColumn("n_docs", count(lit(1)).over(wSrc))
        .withColumn("total_weight", sum(col("weight")).over(wSrc))
        .filter(col("rk") <= K)
        .groupBy("source", "n_docs", "total_weight", "tau")
        .agg(round(sum(round(greatest(col("weight").cast("double"),
          col("tau").cast("double")), 6).cast("decimal(18,6)")), 2)
          .cast("double").as("ht_estimate"))
        .orderBy("source")
    }),

    // TOKEN-BUDGET fill — the mixing op stated in budget units ("at
    // most B chars of training data per language") rather than doc
    // counts: walk each language's docs in deterministic hash order (a
    // reproducible pseudo-random permutation; rand() would change the
    // mix every run) and keep docs while the running char total stays
    // inside the budget. The cumulative sum is an ordered window per
    // lang — a bounded categorical partition, so the same skew posture
    // as sample_quota_per_source (salt + re-rank is the giant-slice
    // path). Audit output: one row per language, never the corpus.
    "sample_token_budget" -> ((s, dir) => {
      val B = 20000L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang")
        .orderBy(pmod(PortableHash.hash60(col("doc_id").cast("string")),
          lit(1000000L)), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("cum", sum("n_chars").over(w))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cum") <= B, 1L).otherwise(0L)).as("n_kept"),
          coalesce(sum(when(col("cum") <= B, col("n_chars"))), lit(0L))
            .as("chars_kept"))
        .withColumn("budget", lit(B))
        .orderBy("lang")
    }),

    // Cluster-balanced diversity sampling (the SemDeDup-family
    // subsampling pass): cap every trained k-means cell at a fixed
    // quota so dense regions of embedding space are downsampled and
    // sparse regions survive intact. Selection within a cell is the
    // deterministic md5 rank of vec_id (tie→vec_id), never rand().
    // Scale shape: reuses the staged trained-cells artifact (train
    // once, reuse everywhere); the rank window partitions on cell —
    // per-cell population stays bounded as k grows with the corpus
    // (same argument as dedup_semantic's within-cell join), so no
    // single window task can blow up. One shuffle on cell, then the
    // audit aggregate on the same key — Catalyst reuses the exchange.
    "sample_cluster_diverse" -> ((s, dir) => {
      val quota = 8
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cell")
        .orderBy(pmod(PortableHash.hash60(col("vec_id").cast("string")),
          lit(1000000L)), col("vec_id"))
      Clustering.trainedCells(s, dir)
        .withColumn("rk", row_number().over(w))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"),
          sum(when(col("rk") <= quota, 1L).otherwise(0L)).as("n_keep"),
          sum(when(col("rk") <= quota, col("vec_id"))).as("keep_id_sum"))
        .select(col("cell").cast("long").as("cell"), col("n"),
          col("n_keep"), col("keep_id_sum"))
        .orderBy("cell")
    })
  )

  private val bucketSql = s"${PortableHash.sql("CAST(event_id AS VARCHAR)")} % 100"

  def oracles: Map[String, String] = Map(
    "sample_bootstrap_ci" -> {
      // 16-bit draw: 4 hex chars of md5(b//8 : key) at offset (b%8)*4+1
      // — the same slicing the Spark side runs (values identical; the
      // oracle just doesn't bother hoisting the md5 above the fan-out)
      def hex4(s: String, off: String) = (0 until 4).map(k =>
        s"(strpos('0123456789abcdef', substr($s, ($off) + $k, 1)) - 1) * ${1L << (4 * (3 - k))}")
        .mkString("(", " + ", ")")
      val h = hex4(
        "md5(CAST(t.b // 8 AS VARCHAR) || ':' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))",
        "(t.b % 8) * 4 + 1")
      val thr = PoissonCdf16
      s"""WITH li AS (
         |  SELECT l_orderkey, l_linenumber,
         |         CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
         |  FROM lineitem),
         |ww AS (
         |  SELECT cents, t.b,
         |         CASE WHEN $h < ${thr(0)} THEN 0
         |              WHEN $h < ${thr(1)} THEN 1
         |              WHEN $h < ${thr(2)} THEN 2
         |              WHEN $h < ${thr(3)} THEN 3
         |              WHEN $h < ${thr(4)} THEN 4
         |              WHEN $h < ${thr(5)} THEN 5
         |              ELSE 6 END AS w
         |  FROM li, range(32) t(b)),
         |means AS (
         |  SELECT b, CAST(sum(cents * w) AS DOUBLE)
         |            / CAST(100 * sum(w) AS DOUBLE) AS m
         |  FROM ww GROUP BY b),
         |ms AS (SELECT list_sort(list(m)) AS l FROM means),
         |f AS (SELECT CAST(sum(cents) AS DOUBLE)
         |             / CAST(100 * count(*) AS DOUBLE) AS mean_price FROM li)
         |SELECT round(f.mean_price, 4) AS mean_price,
         |       round(ms.l[2], 4) AS ci_lo, round(ms.l[31], 4) AS ci_hi,
         |       CAST(32 AS BIGINT) AS n_replicas
         |FROM ms, f""".stripMargin
    },

    "sample_hash_split" ->
      s"""SELECT event_type,
         |       CASE WHEN $bucketSql < 80 THEN 'train'
         |            WHEN $bucketSql < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         |       count(*) AS n,
         |       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS value_sum
         |FROM events GROUP BY 1, 2 ORDER BY event_type, split""".stripMargin,

    "sample_temperature_sources" ->
      s"""WITH counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         |thr AS (
         |  SELECT source, n_docs,
         |         CAST(floor(1e6 * sqrt(
         |           CAST((SELECT min(n_docs) FROM counts) AS DOUBLE) / n_docs))
         |           AS BIGINT) AS threshold
         |  FROM counts)
         |SELECT d.source, t.n_docs, t.threshold,
         |       CAST(sum(CASE WHEN ${PortableHash.sql("CAST(doc_id AS VARCHAR)")} % 1000000 < t.threshold
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents d JOIN thr t ON d.source = t.source
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    "sample_stratified_docs" ->
      s"""SELECT lang, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN ${PortableHash.sql("CAST(doc_id AS VARCHAR)")} % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |       min(CASE WHEN ${PortableHash.sql("CAST(doc_id AS VARCHAR)")} % 10 = 0 THEN doc_id END) AS first_sampled_doc
         |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,

    "sample_token_budget" -> {
      val h = s"${PortableHash.sql("CAST(doc_id AS VARCHAR)")} % 1000000"
      s"""WITH r AS (
         |  SELECT lang, doc_id, n_chars,
         |         sum(n_chars) OVER (
         |           PARTITION BY lang ORDER BY $h, doc_id) AS cum
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN cum <= 20000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(coalesce(sum(CASE WHEN cum <= 20000 THEN n_chars END), 0) AS BIGINT) AS chars_kept,
         |       CAST(20000 AS BIGINT) AS budget
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin
    },

    "sample_quota_per_source" ->
      s"""SELECT doc_id, source, rk FROM (
         |  SELECT doc_id, source,
         |         CAST(row_number() OVER (
         |           PARTITION BY source
         |           ORDER BY ${PortableHash.sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS INT) AS rk
         |  FROM documents)
         |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,

    "sample_epoch_mix" ->
      """WITH counts AS (
        |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |mx AS (SELECT max(n_docs) AS n_max FROM counts),
        |ep AS (
        |  SELECT lang, n_docs,
        |         least(CAST(ceil(sqrt(CAST(n_max AS DOUBLE) / n_docs)) AS BIGINT),
        |               4) AS epochs
        |  FROM counts, mx),
        |reps AS (
        |  SELECT d.lang, ep.n_docs, ep.epochs, d.doc_id,
        |         unnest(generate_series(1, ep.epochs)) AS epoch
        |  FROM documents d JOIN ep USING (lang))
        |SELECT lang, n_docs, epochs, count(*) AS n_epoch_rows,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_unique
        |FROM reps GROUP BY 1, 2, 3 ORDER BY lang""".stripMargin,

    "sample_weighted_priority" -> {
      val h = PortableHash.sql("CAST(doc_id AS VARCHAR)")
      s"""WITH pr AS (
         |  SELECT source, doc_id, n_chars AS weight,
         |         (n_chars * 4294967296) // (($h % 4294967296) + 1) AS priority
         |  FROM documents),
         |rk AS (
         |  SELECT source, doc_id, weight, priority,
         |         CAST(row_number() OVER (
         |           PARTITION BY source
         |           ORDER BY priority DESC, doc_id) AS INT) AS rk
         |  FROM pr)
         |SELECT source, rk, doc_id, weight, priority
         |FROM rk WHERE rk <= 10 ORDER BY source, rk""".stripMargin
    },

    "sample_weighted_estimate" -> {
      val h = PortableHash.sql("CAST(doc_id AS VARCHAR)")
      s"""WITH pr AS (
         |  SELECT source, doc_id, n_chars AS weight,
         |         (n_chars * 4294967296) // (($h % 4294967296) + 1) AS priority
         |  FROM documents),
         |rk AS (
         |  SELECT source, doc_id, weight, priority,
         |         row_number() OVER (
         |           PARTITION BY source
         |           ORDER BY priority DESC, doc_id) AS rk
         |  FROM pr),
         |srcs AS (
         |  SELECT source,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(weight) AS BIGINT) AS total_weight,
         |         CAST(coalesce(max(CASE WHEN rk = 11 THEN priority END), 0)
         |           AS BIGINT) AS tau
         |  FROM rk GROUP BY source)
         |SELECT r.source, s.n_docs, s.total_weight, s.tau,
         |       CAST(round(sum(CAST(round(greatest(
         |           CAST(r.weight AS DOUBLE),
         |           CAST(s.tau AS DOUBLE)), 6)
         |         AS DECIMAL(18,6))), 2) AS DOUBLE) AS ht_estimate
         |FROM rk r JOIN srcs s USING (source)
         |WHERE r.rk <= 10
         |GROUP BY 1, 2, 3, 4 ORDER BY source""".stripMargin
    },

    // Replays the SAME two-round Lloyd training CTE as kmeans_lloyd /
    // ann_ivf_trained_topk / dedup_semantic, then the md5 rank.
    "sample_cluster_diverse" ->
      s"""WITH ${Clustering.trainedCellsCtes},
         |rk AS (
         |  SELECT cell, vec_id,
         |         row_number() OVER (PARTITION BY cell ORDER BY
         |           ${PortableHash.sql("CAST(vec_id AS VARCHAR)")} % 1000000,
         |           vec_id) AS rk
         |  FROM a2)
         |SELECT CAST(cell AS BIGINT) AS cell, count(*) AS n,
         |       CAST(sum(CASE WHEN rk <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |       CAST(sum(CASE WHEN rk <= 8 THEN vec_id END) AS BIGINT) AS keep_id_sum
         |FROM rk GROUP BY cell ORDER BY cell""".stripMargin
  )
}
