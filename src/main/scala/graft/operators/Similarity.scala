package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{CodeLookupSum, DotProductFloat, DotProductInt, VectorOps}
import graft.sources.VersionedStore

/** Similarity search over the embeddings table.
  *
  * Brute-force cosine top-k is the correctness baseline: broadcast the
  * (small) query set against the corpus — one scan, no corpus shuffle,
  * per-partition top-k via window rank. The scale path is sign-LSH
  * bucketing (VectorOps.signBucket): restrict candidates to the query's
  * bucket, turning O(N·Q) into O(N/2^bits·Q) at a recall cost.
  */
object Similarity {

  private val TopK = 10
  private val QuerySetSize = 5 // vec_id < 5 are the query vectors
  private val BatchTopK = 3 // per-query k for the unbounded-query batch search
  private val BatchProbes = 2 // nprobe for the batch multi-probe search
  private val BucketBits = 8
  // banded near-dup LSH: 8 bands × 8 sign bits tile the 64 dims
  private val NeardupBands = 8
  private val NeardupBandBits = 8

  /** Exact all-pairs near-dup — the cartesian formulation the banded
    * emb_neardup_lsh approximates. Spec-only (SimilaritySpec recall
    * cross-check at sf0.001): a registered cartesian product would be
    * benched, and cannot run at corpus scale. */
  private[graft] def allPairsNeardup(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(Tables.embeddings(s, dir))
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
      col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
      col("nrm").as("nb"))
    a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (DotProductFloat(col("va"), col("vb")) / (col("na") * col("nb"))).as("score"))
      .filter(col("score") >= 0.4)
      .select(col("vec_a"), col("vec_b"), round(col("score"), 6).as("score"))
      .orderBy("vec_a", "vec_b")
  }

  /** Verified near-dup pair graph (multi-probe sign-LSH candidates +
    * exact cosine ≥ 0.4), staged once per session: emb_neardup_lsh
    * lists it, and the density clustering references it three times
    * (degree gate, core-core edges, border assignment). */
  private def stagedNeardupPairs(s: SparkSession, dir: String): DataFrame =
    graft.core.Staged(s, s"$dir|neardup_pairs") {
      val emb0 = withNorm(Tables.embeddings(s, dir))
      // EXACT-VECTOR COLLAPSE before the LSH candidate join: identical
      // float arrays — what a re-crawl multiplies — have identical band
      // values, so candidates + verify run on one REPRESENTATIVE per
      // distinct embedding without changing which cross-group pairs
      // surface (recall is a pure function of the arrays), while every
      // (band, bval) bucket shrinks by the duplication factor (the 10×
      // soak measured the uncollapsed staging at ~88 s; the oracle
      // replays the uncollapsed formulation). Verified rep pairs expand
      // through Dedup.expandQualified.
      val grp = emb0.groupBy("embedding")
        .agg(min("vec_id").as("rep"), min("nrm").as("gnrm"))
      val members = emb0.join(grp.select(col("embedding"), col("rep")), "embedding")
        .select(col("rep"), col("vec_id").as("doc_id"))
      val reps = emb0.join(grp.select(col("embedding"), col("rep")), "embedding")
        .filter(col("vec_id") === col("rep"))
        .select(col("vec_id"), col("embedding"), col("nrm"))
      val bandVals = array((0 until NeardupBands).map(b =>
        VectorOps.signBucketAt(col("embedding"), b * NeardupBandBits, NeardupBandBits)): _*)
      // staged: the band table feeds BOTH the exact side and the 9x probe
      // side of the candidate join — unstaged, the 8-band sign explode
      // ran twice (the same convention as Dedup.stagedLshCandidates)
      val bx = graft.core.Staged(s, s"$dir|neardup_bands") {
        reps.select(col("vec_id"), posexplode(bandVals).as(Seq("band", "bval")))
      }
      // probe stream: each band value plus its 8 one-bit flips; an
      // exact-side row then equi-joins any probe within hamming <= 1
      val probes = bx.select(col("vec_id").as("vec_b"), col("band"),
        explode(concat(array(col("bval")),
          array((0 until NeardupBandBits).map(j =>
            col("bval").bitwiseXOR(lit(1L << j))): _*))).as("bval"))
      val cand = bx.select(col("vec_id").as("vec_a"), col("band"), col("bval"))
        .join(probes, Seq("band", "bval"))
        .filter(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b").distinct()
      val repPairs = cand
        .join(reps.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
          col("nrm").as("na")), "vec_a")
        .join(reps.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
          col("nrm").as("nb")), "vec_b")
        .select(col("vec_a"), col("vec_b"),
          (DotProductFloat(col("va"), col("vb")) / (col("na") * col("nb"))).as("score"))
        .filter(col("score") >= 0.4)
      // within-group pairs score as the group's self-cosine: the
      // pairwise formula on equal arrays, NaN for zero vectors (and
      // NaN >= 0.4 is false, exactly as the uncollapsed verify behaves)
      val selfScore = grp.select(col("rep"),
        (DotProductFloat(col("embedding"), col("embedding")) /
          (col("gnrm") * col("gnrm"))).as("score"))
        .filter(col("score") >= 0.4)
      Dedup.expandQualified(
          repPairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"), col("score")),
          members, selfScore)
        .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"),
          round(col("score"), 6).as("score"))
    }

  /** Attach the L2 norm once per row (codegen'd dot with itself) so pair
    * joins never recompute it. */
  private def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("nrm", sqrt(DotProductFloat(col("embedding"), col("embedding"))))

  /** The cosine top-k tail every ANN search shares: drop the query
    * itself, score each (query, candidate) pair with one codegen'd dot
    * product over precomputed norms, keep each query's k best (ties by
    * vec_id) and round the score. `joined` carries the corpus side's
    * vec_id/embedding/nrm and the query side's query_id/qv/qn; the join
    * that produced it — broadcast, cross or shuffle-hash — stays at the
    * caller. */
  private def cosineTopK(joined: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col("vec_id"))
    joined
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (DotProductFloat(col("embedding"), col("qv")) /
          (col("nrm") * col("qn"))).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("score"), 6).as("score"))
      .orderBy("query_id", "rank")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact cosine top-10 for each query vector (vec_id < 5), excluding
    // self. Query side broadcast; norms precomputed per side so the
    // per-pair work is ONE codegen'd dot product (DotProductFloat);
    // ties broken by vec_id.
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = withNorm(Tables.embeddings(s, dir))
      val q = emb.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("nrm").as("qn"))
      cosineTopK(emb.crossJoin(broadcast(q)), TopK)
    }),

    // Same queries, candidates restricted to the query's sign-LSH bucket.
    "ann_lsh_bucketed" -> ((s, dir) => {
      val emb = withNorm(Tables.embeddings(s, dir))
        .withColumn("bucket", VectorOps.signBucket(col("embedding"), BucketBits))
      val q = emb.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("nrm").as("qn"), col("bucket"))
      cosineTopK(emb.join(broadcast(q), Seq("bucket")), TopK)
    }),

    // APPROXIMATE embedding near-duplicate pairs above a cosine
    // threshold (0.4 — calibrated to this corpus; raise for real
    // dedup), via MULTI-PROBE banded sign-LSH: 8 bands of 8 hyperplane
    // signs tile all 64 dims, and a pair is a candidate iff some band
    // matches within hamming distance <= 1 — realized as an equi-join
    // of exact band values against the probe side's 9 values per band
    // (the exact value + its 8 one-bit flips), never an all-pairs
    // scan. Candidates are verified with the exact cosine on the full
    // vectors.
    //
    // RECALL CONTRACT (hence the _lsh name): precision is 1.0 — every
    // reported pair truly has cosine >= 0.4, scored exactly — but
    // recall is that of the LSH family. Per-sign agreement for a
    // cosine-0.4 pair is p = 1 - acos(0.4)/pi ~ 0.63; a single band
    // matches within hamming <= 1 with prob p^8 + 8p^7(1-p) ~ 0.14,
    // so expected recall over 8 bands is ~ 1-(1-0.14)^8 ~ 0.7 at the
    // threshold (vs ~0.2 for exact-band matching), rising steeply with
    // similarity. Multi-probe buys that recall with a 9x wider probe
    // stream instead of more tables — the standard memory-lean
    // trade-off. At a 0.4 threshold no LSH configuration is both
    // exhaustive and sub-quadratic; a caller needing every pair at low
    // thresholds needs the all-pairs scan, which lives spec-only
    // (allPairsNeardup) because a registered cartesian product cannot
    // run at corpus scale. The oracle replays this exact multi-probe
    // formulation, so the entry is hash-checked, not rows-only.
    "emb_neardup_lsh" -> ((s, dir) =>
      stagedNeardupPairs(s, dir).orderBy("vec_a", "vec_b")),

    // DENSITY CLUSTERING (DBSCAN shape) over the embedding space: core
    // points have ≥ minPts−1 = 2 verified neighbors at cosine ≥ 0.4,
    // clusters are connected components of the core-core subgraph
    // labeled by their minimum core id, borders are non-core points
    // adjacent to a core (assigned the smallest adjacent cluster —
    // deterministic tie-break); everything else is noise and is simply
    // absent. The neighbor graph is the SAME staged multi-probe LSH +
    // exact-verify pair artifact emb_neardup_lsh lists (precision 1.0,
    // LSH-family recall — this is approximate DBSCAN exactly the way
    // production density dedup runs it: candidates from buckets, never
    // all-pairs), so the density pass costs three references to one
    // staged table + one connected-components call. The oracle replays
    // candidates, verify, degree gate, a recursive-CTE reachability, and
    // the border assignment — hash-checked end to end.
    "emb_dbscan" -> ((s, dir) => {
      val pairs = stagedNeardupPairs(s, dir).select("vec_a", "vec_b")
      val sym = pairs.select(col("vec_a").as("v"), col("vec_b").as("nb"))
        .unionByName(pairs.select(col("vec_b").as("v"), col("vec_a").as("nb")))
      val core = sym.groupBy("v").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2).select("v")
      val coreEdges = pairs
        .join(core.select(col("v").as("vec_a")), Seq("vec_a"), "left_semi")
        .join(core.select(col("v").as("vec_b")), Seq("vec_b"), "left_semi")
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      val cc = Dedup.components(coreEdges)
        .select(col("doc_id").as("v"), col("cluster_id"))
      // cores outside any core-core edge are their own singleton cluster
      val coreLabels = core.join(cc, Seq("v"), "left")
        .select(col("v"), coalesce(col("cluster_id"), col("v")).as("cluster_id"))
      val borders = sym.join(core, Seq("v"), "left_anti")
        .join(coreLabels.select(col("v").as("nb"), col("cluster_id")), "nb")
        .groupBy("v").agg(min(col("cluster_id")).as("cluster_id"))
      coreLabels
        .select(col("v").as("vec_id"), lit("core").as("role"), col("cluster_id"))
        .unionByName(borders
          .select(col("v").as("vec_id"), lit("border").as("role"), col("cluster_id")))
        .orderBy("vec_id")
    }),



    // IVF-style ANN: 16 fixed seed vectors act as coarse centroids; every
    // vector is assigned to its nearest centroid (one broadcast pass),
    // and each query searches only its own cell. The inverted-file
    // layout that makes billion-vector search tractable — here with
    // deterministic seeds (vec_id 16..31) instead of trained k-means so
    // the oracle can replay it.
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = withNorm(Tables.embeddings(s, dir))
      val cents = emb.filter(col("vec_id") >= 16 && col("vec_id") < 32)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cv"),
          col("nrm").as("cn"))
      val w = Window.partitionBy("vec_id").orderBy(desc("cscore"), col("cent_id"))
      val assigned = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"),
          (DotProductFloat(col("embedding"), col("cv")) /
            (col("nrm") * col("cn"))).as("cscore"))
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") === 1)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id").as("cell"))
      val q = assigned.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("nrm").as("qn"), col("cell"))
      cosineTopK(assigned.join(broadcast(q), Seq("cell")), TopK)
    }),

    // Multi-probe bucketed search — ann_lsh_bucketed with the query
    // probing its own bucket PLUS the 8 one-bit-flip buckets (9 probes):
    // the standard recall lift for sign-LSH without adding hash tables.
    // Per-bit agreement p rises the candidate-found probability from p^8
    // to p^8 + 8p^7(1-p); candidates stay bucket-restricted (the corpus
    // side never explodes — only the tiny broadcast query side carries
    // 9 rows per query), so the scan cost is ~9 bucket lookups instead
    // of a corpus sweep. Scores are exact cosine, ties by vec_id.
    "ann_multiprobe_topk" -> ((s, dir) => {
      val emb = withNorm(Tables.embeddings(s, dir))
        .withColumn("bucket", VectorOps.signBucket(col("embedding"), BucketBits))
      val q = emb.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("nrm").as("qn"),
          explode(concat(array(col("bucket")),
            array((0 until BucketBits).map(j =>
              col("bucket").bitwiseXOR(lit(1L << j))): _*))).as("bucket"))
      cosineTopK(emb.join(broadcast(q), Seq("bucket")), TopK)
    }),

    // RECALL@K EVAL — the measurement an ANN deployment publishes before
    // putting an approximate index in front of exact search: each
    // variant's top-k intersected with the exact top-k ground truth,
    // per query. The ANN twin of dedup_lsh_tuning / dedup_minhash_est:
    // calibrate the approximation against its exact twin, then trust
    // it. Ground truth is staged once; each variant adds one semi-join
    // over k·|queries| rows + a tiny aggregate.
    "ann_recall_eval" -> ((s, dir) => {
      val exact = graft.core.Staged(s, s"$dir|ann_exact_topk") {
        queries("ann_cosine_topk")(s, dir).select(col("query_id"), col("vec_id"))
      }
      // each variant's top-k is staged exactly like the ground truth:
      // an eval pass consumes the PUBLISHED results of the index runs,
      // it does not re-execute five index searches per evaluation —
      // within a session the variant result is built once (its own
      // bench row still measures the full search) and every eval
      // reference is a bounded parquet read (r12: 1.7 s → the semi-join
      // + aggregate cost alone)
      Seq("ann_lsh_bucketed", "ann_multiprobe_topk", "ann_ivf_topk",
          "ann_sq8_topk", "ann_pq_adc").map { v =>
        graft.core.Staged(s, s"$dir|recall_in|$v") {
          queries(v)(s, dir).select(col("query_id"), col("vec_id"))
        }
          .join(exact, Seq("query_id", "vec_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
          .select(lit(v).as("variant"), col("query_id"), col("n_hits"),
            round(col("n_hits").cast("double") / TopK, 6).as("recall"))
      }.reduce(_ unionByName _).orderBy("variant", "query_id")
    }),

    // TRAINED-IVF ANN — the production composition: train the coarse
    // quantizer (two integer-exact Lloyd rounds, Clustering.trainedCells),
    // build the inverted file from its assignment, then search each
    // query's cell with exact cosine. Identical search shape to
    // ann_ivf_topk, but the cells come from k-means training rather than
    // fixed seed vectors, so cell populations are balanced the way a
    // real IVF index's are. The training assign is shuffle-free
    // (broadcast centroid argmin) and the oracle replays the full
    // two-round training via the shared CTE chain.
    "ann_ivf_trained_topk" -> ((s, dir) => {
      val emb = withNorm(Tables.embeddings(s, dir))
      val assigned = emb.join(Clustering.trainedCells(s, dir), "vec_id")
      val q = assigned.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("nrm").as("qn"), col("cell"))
      cosineTopK(assigned.join(broadcast(q), Seq("cell")), TopK)
    }),

    // PERSISTED-INDEX serve — the lifecycle the trained variants lack:
    // the first execution anywhere trains once and lands the index as
    // VersionedStore v1 (AnnIndex.ensureFull); every later execution —
    // any session, any JVM — SKIPS training and serves against the
    // STORED inverted file (readLatest, so index upserts are picked up).
    // Search shape is identical to ann_ivf_trained_topk, and because
    // training is deterministic the stored assignment equals the
    // freshly-trained one — so the oracle replays training via the same
    // shared CTE chain and the hash check proves the round trip through
    // storage changed nothing. Cross-session reuse (and that serving
    // genuinely reads the store, not a retrain) is pinned in
    // AnnIndexSpec via a tampered-version probe.
    "ann_ivf_persisted_topk" -> ((s, dir) => {
      val stored = VersionedStore.readLatest(s,
        s"${graft.operators.AnnIndex.ensureFull(s, dir)}/assign")
      val emb = withNorm(Tables.embeddings(s, dir))
      val assigned = emb.join(stored, "vec_id")
      val q = assigned.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("nrm").as("qn"), col("cell"))
      cosineTopK(assigned.join(broadcast(q), Seq("cell")), TopK)
    }),

    // PERSISTED-INDEX upsert — version N+1 of the stored inverted file:
    // the "arriving" 20% batch is assigned against the STORED centroids
    // (v1 of the base-slice index — no retraining, per-batch cost ∝
    // batch exactly like ann_ivf_upsert), the merged assignment lands
    // as v=2 via the idempotent writeBatch (a re-run keeps the complete
    // v=2, never appends a duplicate), and the OUTPUT is read back
    // from the stored v=2 — the hash check therefore proves the full
    // write→read round trip, not just the in-memory fold. Same oracle
    // as ann_ivf_upsert: stored centroids ≡ freshly-trained ones.
    "ann_ivf_persisted_upsert" -> ((s, dir) => {
      val base = graft.operators.AnnIndex.ensureBase80(s, dir)
      val emb = Tables.embeddings(s, dir)
      val split = Clustering.upsertSplit(emb)
      val cents = VersionedStore.readVersion(s, s"$base/cents", 1L)
      val newVecs = emb.crossJoin(broadcast(split))
        .filter(col("vec_id") >= col("s"))
        .select(col("vec_id"), Clustering.microQuant(col("embedding")).as("qarr"))
      val newAssign = Clustering.assign(newVecs, cents)
        .select(col("vec_id"), col("cell"))
      val v1 = VersionedStore.readVersion(s, s"$base/assign", 1L)
      // a complete v2 is reused as-is (content is deterministic), a
      // racing writer loses the atomic rename harmlessly
      VersionedStore.writeBatch(v1.unionByName(newAssign), s"$base/assign", 1L): Unit
      VersionedStore.readVersion(s, s"$base/assign", 2L)
        .crossJoin(broadcast(split)).filter(col("vec_id") >= col("s"))
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .orderBy("vec_id")
    }),

    // BATCH trained-IVF search — the QUERY-AXIS scale path the broadcast
    // variants don't prove: here the query set is the WHOLE corpus
    // (every vector retrieves its top-3 cellmates — the shape of
    // kNN-graph construction, recommendation backfill, or scoring 10⁶+
    // queries against an IVF index), so the query side cannot broadcast.
    // Both sides partition by `cell` into a shuffle hash join: corpus
    // cell lists and the queries assigned to that cell land on the same
    // executor, per-cell work Σ n_cell² is the same in-cell confinement
    // the other trained-cell queries rely on, and NOTHING is proportional
    // to |queries| on any single node. The top-k window then partitions
    // by query_id — also unbounded, also hash-distributed. Same trained
    // assignment artifact as ann_ivf_trained_topk (train once, reuse);
    // the oracle replays training + in-cell search without the
    // 5-query filter.
    "ann_ivf_trained_batch" -> ((s, dir) => {
      val emb = withNorm(Tables.embeddings(s, dir))
      val assigned = emb.join(Clustering.trainedCells(s, dir), "vec_id")
      val q = assigned
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("nrm").as("qn"), col("cell"))
      cosineTopK(assigned.hint("shuffle_hash").join(q, Seq("cell")), BatchTopK)
    }),

    // HARD-NEGATIVE MINING — the contrastive-training payoff of the
    // batch query axis: for EVERY vector, the single most-similar
    // neighbor carrying a DIFFERENT label (the "hard negative" a
    // contrastive loss wants: maximally confusable, definitely wrong).
    // Identical plan discipline to ann_ivf_trained_batch — whole corpus
    // as query set, shuffle-hash join on the trained cell, label
    // mismatch applied as a join-side filter BEFORE scoring so excluded
    // same-label pairs never cost a dot product, top-1 via a
    // query_id-partitioned window (WindowGroupLimit prunes to 1 row per
    // query map-side). Queries whose cell holds no opposite-label vector
    // yield no row — a real miner would widen nprobe for those, which
    // ann_ivf_trained_batch_mp already proves out. Nothing is
    // proportional to |queries| on any single node.
    "emb_hard_negatives" -> ((s, dir) => {
      val emb = withNorm(Tables.embeddings(s, dir))
      val assigned = emb.join(Clustering.trainedCells(s, dir), "vec_id")
      val q = assigned
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("nrm").as("qn"), col("cell"), col("label").as("qlabel"))
      val wr = Window.partitionBy("query_id").orderBy(desc("score"), col("vec_id"))
      assigned.hint("shuffle_hash").join(q, Seq("cell"))
        .filter(col("vec_id") =!= col("query_id") &&
          col("label") =!= col("qlabel"))
        .select(col("query_id"), col("qlabel"), col("vec_id"),
          col("label").as("neg_label"),
          (DotProductFloat(col("embedding"), col("qv")) /
            (col("nrm") * col("qn"))).as("score"))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") === 1)
        .select(col("query_id"), col("qlabel"), col("vec_id").as("neg_id"),
          col("neg_label"), round(col("score"), 6).as("score"))
        .orderBy("query_id")
    }),

    // MULTI-PROBE batch IVF — ann_ivf_trained_batch widened to nprobe=2,
    // marrying ann_multiprobe_topk's recall lift with the query-axis
    // scale plan: each query searches its own trained cell PLUS its
    // second-nearest (cell-boundary neighbors are exactly what a single
    // probe misses; recall rises at 2× in-cell candidate cost). The
    // probe fan-out keeps the batch shape intact — queries explode to
    // (query_id, cell) rows, BOTH sides shuffle-hash on `cell` (the
    // query side is the whole corpus ×P and can never broadcast),
    // per-cell work stays Σ n_cell·|probes into cell| with nothing
    // proportional to |queries| on one node, and the top-k window
    // hash-partitions by query_id. Each corpus vector lives in exactly
    // one cell and a query's P probes are distinct cells, so no
    // candidate pair is scored twice — no dedup pass needed.
    "ann_ivf_trained_batch_mp" -> ((s, dir) => {
      val emb = withNorm(Tables.embeddings(s, dir))
      val assigned = emb.join(Clustering.trainedCells(s, dir), "vec_id")
      val probes = Clustering.trainedProbes(s, dir, BatchProbes)
      val q = emb
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("nrm").as("qn"))
        .join(probes.select(col("vec_id").as("query_id"), col("cell")), "query_id")
      cosineTopK(assigned.hint("shuffle_hash").join(q, Seq("cell")), BatchTopK)
    }),

    // SQ8 scalar-quantized search: each dimension is linearly quantized
    // to an 8-bit code against its corpus-wide [min, max] (one scalar
    // broadcast stats row holding the per-dim min/max ARRAYS), and
    // ranking uses the symmetric INTEGER dot product of zero-centered
    // codes — the int8-SIMD trick production vector stores use, which
    // shrinks a float32 corpus 4× so far more of it fits executor
    // memory. ARRAY-NATIVE: the corpus stays one row per vector with an
    // ARRAY<INT> code column, and scoring is the codegen'd DotProductInt
    // — no 64× posexplode row inflation, no per-dim join, no hash
    // aggregate in the hot path (the explode survives only in the tiny
    // stats build, whose output is one row). Integer scores are exact
    // and summation-order independent, so results are deterministic at
    // any parallelism and the exploded DuckDB oracle replays them
    // bit-for-bit.
    "ann_sq8_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // per-dim [min, max] as two 64-element arrays in ONE row, via the
      // element-wise VecMinMax aggregate (r13): the former explode →
      // groupBy(dim) → collect_list re-assembly multiplied every vector
      // by d through a Generate and paid two exchanges for a 1-row
      // result; one whole-array buffer per partition does the same math
      // (floats widened to double before comparing — identical values)
      val stats = emb
        .agg(graft.functions.VecAgg.vecMinMax(col("embedding")).as("mm"))
        .select(col("mm.mns").as("mns"), col("mm.mxs").as("mxs"))
      // zero-centered int8 code per dimension, computed in-place over
      // the embedding array (identical arithmetic to the exploded
      // formulation: double math, floor, clamp at 255, then -128)
      val codes = emb.crossJoin(broadcast(stats))
        .select(col("vec_id"),
          transform(col("embedding"), (x, i) => {
            val mn = element_at(col("mns"), i + 1)
            val mx = element_at(col("mxs"), i + 1)
            (when(mx === mn, lit(0L))
              .otherwise(least(floor((x.cast("double") - mn) / (mx - mn) * 256.0),
                lit(255.0)).cast("long")) - 128L).cast("int")
          }).as("codes"))
      val q = codes.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("query_id"), col("codes").as("qcodes"))
      val scored = codes.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          DotProductInt(col("codes"), col("qcodes")).as("score_int"))
      val w = Window.partitionBy("query_id").orderBy(desc("score_int"), col("vec_id"))
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select(col("query_id"), col("rank"), col("vec_id"), col("score_int"))
        .orderBy("query_id", "rank")
    }),

    // Product quantization + asymmetric-distance search — the
    // billion-vector compression scheme: 64 dims → 8 subspaces × 8 dims,
    // each subvector coded as its nearest of 16 deterministic centroids
    // (the sub-slices of vec_id 32..47, standing in for trained k-means
    // so the oracle can replay it) — 8 bytes per vector, 32× smaller
    // than float32. A query never decompresses the corpus: it computes
    // an 8×16 distance table once, and each corpus vector's distance is
    // 8 table lookups summed. Determinism by construction: per-subspace
    // L2 goes through aggregate(zip_with(...)) (sequential, bit-equal
    // to DuckDB's list_sum), and table entries are floor-quantized to
    // integer micro-units so the final sums are order-independent.
    "ann_pq_adc" -> ((s, dir) => {
      val Subs = 8; val SubDim = 8; val CentBase = 32; val NCents = 16
      val emb = Tables.embeddings(s, dir)
      val sub = emb.select(col("vec_id"),
          explode(sequence(lit(0), lit(Subs - 1))).as("sub"), col("embedding"))
        .select(col("vec_id"), col("sub"),
          slice(col("embedding"), col("sub") * SubDim + 1, lit(SubDim)).as("sarr"))
      val cents = sub
        .filter(col("vec_id") >= CentBase && col("vec_id") < CentBase + NCents)
        .select((col("vec_id") - CentBase).as("cent_id"), col("sub"), col("sarr").as("carr"))
      val d2 = aggregate(
        zip_with(col("sarr"), col("carr"),
          (a, b) => (a.cast("double") - b.cast("double")) * (a.cast("double") - b.cast("double"))),
        lit(0.0d), (acc, v) => acc + v)
      val dists = sub.join(broadcast(cents), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("cent_id"), d2.as("d2"))
      // ARRAY-NATIVE compressed corpus: one row per vector carrying its
      // 8 centroid ids as ARRAY<INT> (8 bytes of payload standing in
      // for the 256-byte float vector). Argmin per (vec, sub) is a
      // lexicographic struct-min — same (d2, cent_id) tie-break as a
      // window rank, without the window's extra sort.
      val codes = dists
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("d2"), col("cent_id"))).as("best"))
        .groupBy("vec_id")
        .agg(transform(array_sort(collect_list(struct(col("sub"), col("best.cent_id").as("cent_id")))),
          s => s.getField("cent_id").cast("int")).as("codes"))
      // per-query 8×16 distance table (subspace-major nested array):
      // scoring a corpus vector is then 8 array lookups summed inside
      // the codegen'd CodeLookupSum — the corpus is never decompressed,
      // never exploded, never joined per-subspace.
      val qtab = dists.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("query_id"), col("sub"), col("cent_id"),
          floor(col("d2") * 1e6).cast("long").as("d_int"))
        .groupBy("query_id", "sub")
        .agg(transform(array_sort(collect_list(struct(col("cent_id"), col("d_int")))),
          s => s.getField("d_int")).as("row16"))
        .groupBy("query_id")
        .agg(transform(array_sort(collect_list(struct(col("sub"), col("row16")))),
          s => s.getField("row16")).as("dtab"))
      val wr = Window.partitionBy("query_id").orderBy(col("adc_int"), col("vec_id"))
      codes.crossJoin(broadcast(qtab))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          CodeLookupSum(col("codes"), col("dtab")).as("adc_int"))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= TopK)
        .select(col("query_id"), col("rank"), col("vec_id"), col("adc_int"))
        .orderBy("query_id", "rank")
    }),

    // Bucket histogram — the data profile an IVF/LSH planner needs.
    "ann_bucket_histogram" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .groupBy(VectorOps.signBucket(col("embedding"), BucketBits).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    "dedup_semantic" -> ((s, dir) =>
      semanticPairs(s, dir)
        .select(col("cell").cast("long").as("cell"), col("vec_a"), col("vec_b"),
          round(col("score"), 6).as("score"))
        .orderBy("cell", "vec_a", "vec_b")),

    // Drop decision: any vector with a confirmed dup of smaller id in its
    // cell is dropped; report per-cell population vs survivors.
    "dedup_semantic_keep" -> ((s, dir) => {
      val dropped = semanticPairs(s, dir).select(col("vec_b").as("vec_id")).distinct()
      Clustering.trainedCells(s, dir)
        .join(dropped.withColumn("drop", lit(1)), Seq("vec_id"), "left")
        .groupBy("cell")
        .agg(count(lit(1)).as("n"),
          sum(when(col("drop").isNull, 1L).otherwise(0L)).as("n_keep"))
        .select(col("cell").cast("long").as("cell"), col("n"), col("n_keep"))
        .orderBy("cell")
    })
  )

  /** SEMANTIC dedup (SemDeDup shape): cluster the corpus with the trained
    * k-means coarse quantizer, then compare pairs only WITHIN a cluster
    * with the exact cosine — the embedding-space analogue of the text
    * pipeline's minhash banding, and the published recipe for pruning
    * semantically redundant training data (Abbas et al. 2023,
    * "SemDeDup"). Complements emb_neardup_lsh: LSH candidates come from
    * local sign agreement (high-threshold near-dups), clustering
    * candidates from global structure (catches paraphrase-distance pairs
    * whose sign bands disagree).
    *
    * Scale shape: the quadratic blowup is confined to within-cell
    * self-joins — cost Σ n_cell² ≈ N²/k for balanced cells, and k GROWS
    * with the corpus (k = greatest(16, ⌊√N⌋), Clustering.kRow — since
    * round 7; the 10× soak showed fixed k leaves the in-cell work
    * quadratic) so the per-cell population (and thus the largest join
    * task) stays ~√N. The trained
    * assignment is the SAME staged artifact ann_ivf_trained_topk
    * searches (train once, reuse everywhere), the cell equi-join
    * shuffles each side once on cell, and the verify is one codegen'd
    * dot product per candidate with norms attached once per row.
    *
    * dedup_semantic reports the confirmed pairs; dedup_semantic_keep is
    * the drop decision a pipeline acts on — canonical = smallest vec_id
    * per duplicate pair (the transitive-closure variant is
    * dedup_clusters' connected components, shared machinery).
    */
  private def semanticPairs(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(Tables.embeddings(s, dir))
    val e = emb.join(Clustering.trainedCells(s, dir), "vec_id")
    val a = e.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("va"), col("nrm").as("na"))
    val b = e.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("cell"), col("vec_a"), col("vec_b"),
        (DotProductFloat(col("va"), col("vb")) / (col("na") * col("nb"))).as("score"))
      .filter(col("score") >= 0.4)
  }

  private def cosineSql(va: String, vb: String): String =
    s"""list_sum(list_transform(list_zip($va, $vb), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform($va, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |    * sqrt(list_sum(list_transform($vb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  private val bucketSql = (0 until BucketBits)
    .map(j => s"CASE WHEN embedding[${j + 1}] > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
    .mkString(" + ")

  // band value for band index `band` (a column in scope): sign bits of
  // dims band*8+1 .. band*8+8 — the SQL twin of VectorOps.signBucketAt
  private val neardupBandSql = (0 until NeardupBandBits)
    .map(j => s"CASE WHEN embedding[band * $NeardupBandBits + ${j + 1}] > 0 " +
      s"THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
    .mkString(" + ")

  def oracles: Map[String, String] = {
    val base = baseOracles
    // recall eval replays each variant's full oracle as a derived table
    // against the exact top-k's — one composed statement, zero drift
    // from the per-variant oracles
    val variants = Seq("ann_lsh_bucketed", "ann_multiprobe_topk", "ann_ivf_topk",
      "ann_sq8_topk", "ann_pq_adc")
    val candSql = variants.map(v =>
      s"  SELECT '$v' AS variant, query_id, vec_id FROM (\n${base(v)}\n) ${v}_t")
      .mkString("\n  UNION ALL\n")
    base +
      // persisted-index twins: training is deterministic, so the stored
      // artifact's content equals a fresh train — the oracles ARE the
      // retrain-replaying ones, and a hash match proves storage round
      // trips exactly
      ("ann_ivf_persisted_topk" -> base("ann_ivf_trained_topk")) +
      ("ann_ivf_persisted_upsert" -> Clustering.oracles("ann_ivf_upsert")) +
      ("ann_recall_eval" ->
      s"""WITH exact AS (SELECT query_id, vec_id FROM (
         |${base("ann_cosine_topk")}
         |) exact_t),
         |cand AS (
         |$candSql),
         |hits AS (
         |  SELECT variant, c.query_id, count(*) AS n_hits
         |  FROM cand c JOIN exact e ON c.query_id = e.query_id AND c.vec_id = e.vec_id
         |  GROUP BY 1, 2)
         |SELECT variant, query_id, CAST(n_hits AS BIGINT) AS n_hits,
         |       round(CAST(n_hits AS DOUBLE) / $TopK, 6) AS recall
         |FROM hits ORDER BY variant, query_id""".stripMargin)
  }

  /** Shared CTE: the verified near-dup pair graph (twin of
    * [[stagedNeardupPairs]]) — listed by emb_neardup_lsh, consumed by
    * the density clustering. */
  private lazy val neardupPairsCte =
    s"""bx AS (
       |  SELECT vec_id, b.band, $neardupBandSql AS bval
       |  FROM embeddings, (SELECT unnest(generate_series(0, ${NeardupBands - 1})) AS band) b),
       |probes AS (
       |  SELECT vec_id, band, bval FROM bx
       |  UNION ALL
       |  SELECT vec_id, band, xor(bval, CAST(f.p AS BIGINT)) AS bval
       |  FROM bx, (SELECT unnest([${(0 until NeardupBandBits).map(1L << _).mkString(", ")}]) AS p) f),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bx a JOIN probes b ON a.band = b.band AND a.bval = b.bval
       |         AND a.vec_id < b.vec_id),
       |pairs AS (
       |  SELECT vec_a, vec_b,
       |         round(${cosineSql("a.embedding", "b.embedding")}, 6) AS score
       |  FROM cand JOIN embeddings a ON vec_a = a.vec_id
       |            JOIN embeddings b ON vec_b = b.vec_id
       |  WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.4)""".stripMargin

  private def baseOracles: Map[String, String] = Map(
    "ann_cosine_topk" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |         ${cosineSql("e.embedding", "q.embedding")} AS score
         |  FROM embeddings e, embeddings q
         |  WHERE q.vec_id < $QuerySetSize AND e.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, score,
         |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, vec_id, round(score, 6) AS score
         |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,

    "ann_lsh_bucketed" ->
      s"""WITH eb AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |         ${cosineSql("e.embedding", "q.embedding")} AS score
         |  FROM eb e JOIN eb q ON e.bucket = q.bucket
         |  WHERE q.vec_id < $QuerySetSize AND e.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, score,
         |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, vec_id, round(score, 6) AS score
         |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,

    "ann_multiprobe_topk" ->
      s"""WITH eb AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |qp AS (
         |  SELECT vec_id, embedding, bucket FROM eb WHERE vec_id < $QuerySetSize
         |  UNION ALL
         |  SELECT vec_id, embedding, xor(bucket, CAST(f.p AS BIGINT)) AS bucket
         |  FROM eb, (SELECT unnest([${(0 until BucketBits).map(1L << _).mkString(", ")}]) AS p) f
         |  WHERE vec_id < $QuerySetSize),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |         ${cosineSql("e.embedding", "q.embedding")} AS score
         |  FROM eb e JOIN qp q ON e.bucket = q.bucket
         |  WHERE e.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, score,
         |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, vec_id, round(score, 6) AS score
         |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,

    "emb_neardup_lsh" ->
      s"""WITH $neardupPairsCte
         |SELECT vec_a, vec_b, score FROM pairs
         |ORDER BY vec_a, vec_b""".stripMargin,

    "emb_dbscan" ->
      s"""WITH RECURSIVE $neardupPairsCte,
         |sym AS (SELECT vec_a AS v, vec_b AS nb FROM pairs
         |        UNION ALL SELECT vec_b, vec_a FROM pairs),
         |core AS (SELECT v FROM (SELECT v, count(*) AS deg FROM sym GROUP BY 1)
         |         WHERE deg >= 2),
         |ce AS (SELECT vec_a, vec_b FROM pairs
         |       WHERE vec_a IN (SELECT v FROM core) AND vec_b IN (SELECT v FROM core)),
         |csym AS (SELECT vec_a AS src, vec_b AS dst FROM ce
         |         UNION ALL SELECT vec_b, vec_a FROM ce),
         |reach(v, root) AS (
         |  SELECT src, src FROM csym
         |  UNION
         |  SELECT s.dst, r.root FROM reach r JOIN csym s ON s.src = r.v),
         |cc AS (SELECT v, min(root) AS cl FROM reach GROUP BY 1),
         |corelab AS (
         |  SELECT core.v, coalesce(cc.cl, core.v) AS cl
         |  FROM core LEFT JOIN cc ON core.v = cc.v),
         |borders AS (
         |  SELECT sym.v, min(corelab.cl) AS cl
         |  FROM sym JOIN corelab ON sym.nb = corelab.v
         |  WHERE sym.v NOT IN (SELECT v FROM core)
         |  GROUP BY 1)
         |SELECT v AS vec_id, 'core' AS role, cl AS cluster_id FROM corelab
         |UNION ALL
         |SELECT v, 'border', cl FROM borders
         |ORDER BY vec_id""".stripMargin,

    "ann_bucket_histogram" ->
      s"""SELECT $bucketSql AS bucket, count(*) AS n
         |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin,

    "ann_pq_adc" ->
      s"""WITH sub AS (
         |  SELECT vec_id, s.sub, embedding[s.sub*8+1 : s.sub*8+8] AS sarr
         |  FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |cents AS (
         |  SELECT vec_id - 32 AS cent_id, sub, sarr AS carr
         |  FROM sub WHERE vec_id >= 32 AND vec_id < 48),
         |dists AS (
         |  SELECT v.vec_id, v.sub, c.cent_id,
         |         list_sum(list_transform(list_zip(v.sarr, c.carr),
         |           p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |              * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
         |  FROM sub v JOIN cents c USING (sub)),
         |codes AS (
         |  SELECT vec_id, sub, cent_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d2, cent_id) AS rn FROM dists)
         |  WHERE rn = 1),
         |qtab AS (
         |  SELECT vec_id AS query_id, sub, cent_id,
         |         CAST(floor(d2 * 1e6) AS BIGINT) AS d_int
         |  FROM dists WHERE vec_id < $QuerySetSize),
         |adc AS (
         |  SELECT q.query_id, c.vec_id, CAST(sum(q.d_int) AS BIGINT) AS adc_int
         |  FROM codes c JOIN qtab q ON c.sub = q.sub AND c.cent_id = q.cent_id
         |  WHERE c.vec_id <> q.query_id
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, vec_id, adc_int,
         |         row_number() OVER (PARTITION BY query_id ORDER BY adc_int, vec_id) AS rank
         |  FROM adc)
         |SELECT query_id, rank, vec_id, adc_int
         |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,

    "ann_sq8_topk" ->
      s"""WITH ex AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         |         CAST(unnest(embedding) AS DOUBLE) AS x
         |  FROM embeddings),
         |stats AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
         |codes AS (
         |  SELECT vec_id, ex.dim,
         |         CASE WHEN mx = mn THEN 0
         |              ELSE CAST(least(floor((x - mn) / (mx - mn) * 256.0), 255.0) AS BIGINT)
         |         END AS code
         |  FROM ex JOIN stats ON ex.dim = stats.dim),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |         CAST(sum((e.code - 128) * (q.code - 128)) AS BIGINT) AS score_int
         |  FROM codes e JOIN codes q ON e.dim = q.dim
         |  WHERE q.vec_id < $QuerySetSize AND e.vec_id <> q.vec_id
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, vec_id, score_int,
         |         row_number() OVER (PARTITION BY query_id ORDER BY score_int DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, vec_id, score_int
         |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,

    "ann_ivf_topk" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
         |  WHERE vec_id >= 16 AND vec_id < 32),
         |assigned AS (
         |  SELECT vec_id, embedding, cent_id AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cent_id,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${cosineSql("e.embedding", "c.cv")} DESC, c.cent_id) AS crank
         |    FROM embeddings e, cents c)
         |  WHERE crank = 1),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |         ${cosineSql("e.embedding", "q.embedding")} AS score
         |  FROM assigned e JOIN assigned q ON e.cell = q.cell
         |  WHERE q.vec_id < $QuerySetSize AND e.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, score,
         |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, vec_id, round(score, 6) AS score
         |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,

    // replays the TWO-ROUND TRAINING via the CTE chain shared with the
    // kmeans_lloyd oracle, then the in-cell cosine search
    "ann_ivf_trained_topk" ->
      s"""WITH ${Clustering.trainedCellsCtes},
         |assigned AS (
         |  SELECT e.vec_id, e.embedding, a2.cell
         |  FROM embeddings e JOIN a2 USING (vec_id)),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |         ${cosineSql("e.embedding", "q.embedding")} AS score
         |  FROM assigned e JOIN assigned q ON e.cell = q.cell
         |  WHERE q.vec_id < $QuerySetSize AND e.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, score,
         |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, vec_id, round(score, 6) AS score
         |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,

    // batch variant: same trained cells, every vector is a query, top-3
    "ann_ivf_trained_batch" ->
      s"""WITH ${Clustering.trainedCellsCtes},
         |assigned AS (
         |  SELECT e.vec_id, e.embedding, a2.cell
         |  FROM embeddings e JOIN a2 USING (vec_id)),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |         ${cosineSql("e.embedding", "q.embedding")} AS score
         |  FROM assigned e JOIN assigned q ON e.cell = q.cell
         |  WHERE e.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, score,
         |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, vec_id, round(score, 6) AS score
         |FROM ranked WHERE rank <= $BatchTopK ORDER BY query_id, rank""".stripMargin,

    // hard negatives: batch chain + label-mismatch filter, top-1
    "emb_hard_negatives" ->
      s"""WITH ${Clustering.trainedCellsCtes},
         |assigned AS (
         |  SELECT e.vec_id, e.embedding, e.label, a2.cell
         |  FROM embeddings e JOIN a2 USING (vec_id)),
         |scored AS (
         |  SELECT q.vec_id AS query_id, q.label AS qlabel,
         |         e.vec_id AS vec_id, e.label AS neg_label,
         |         ${cosineSql("e.embedding", "q.embedding")} AS score
         |  FROM assigned e JOIN assigned q ON e.cell = q.cell
         |  WHERE e.vec_id <> q.vec_id AND e.label <> q.label),
         |ranked AS (
         |  SELECT query_id, qlabel, vec_id, neg_label, score,
         |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, qlabel, vec_id AS neg_id, neg_label,
         |       round(score, 6) AS score
         |FROM ranked WHERE rank = 1 ORDER BY query_id""".stripMargin,

    // multi-probe batch: same training chain + the probes CTE (rn ≤ P
    // under a2's exact ranking), queries meet cells via the probe rows
    "ann_ivf_trained_batch_mp" ->
      s"""WITH ${Clustering.trainedCellsCtes},
         |${Clustering.trainedProbesCte(BatchProbes)},
         |assigned AS (
         |  SELECT e.vec_id, e.embedding, a2.cell
         |  FROM embeddings e JOIN a2 USING (vec_id)),
         |scored AS (
         |  SELECT p.vec_id AS query_id, e.vec_id AS vec_id,
         |         ${cosineSql("e.embedding", "q.embedding")} AS score
         |  FROM probes p
         |  JOIN assigned e ON e.cell = p.cell
         |  JOIN embeddings q ON q.vec_id = p.vec_id
         |  WHERE e.vec_id <> p.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, score,
         |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, vec_id, round(score, 6) AS score
         |FROM ranked WHERE rank <= $BatchTopK ORDER BY query_id, rank""".stripMargin,

    // SemDeDup: within-trained-cell pairs above the cosine threshold —
    // the same a2 assignment CTE as kmeans/trained-IVF, so all three
    // gates replay ONE training
    "dedup_semantic" ->
      s"""WITH ${Clustering.trainedCellsCtes},
         |pairs AS (
         |  SELECT x.cell, x.vec_id AS vec_a, y.vec_id AS vec_b,
         |         ${cosineSql("a.embedding", "b.embedding")} AS score
         |  FROM a2 x JOIN a2 y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  JOIN embeddings a ON x.vec_id = a.vec_id
         |  JOIN embeddings b ON y.vec_id = b.vec_id)
         |SELECT CAST(cell AS BIGINT) AS cell, vec_a, vec_b,
         |       round(score, 6) AS score
         |FROM pairs WHERE score >= 0.4 ORDER BY cell, vec_a, vec_b""".stripMargin,

    "dedup_semantic_keep" ->
      s"""WITH ${Clustering.trainedCellsCtes},
         |pairs AS (
         |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |         ${cosineSql("a.embedding", "b.embedding")} AS score
         |  FROM a2 x JOIN a2 y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  JOIN embeddings a ON x.vec_id = a.vec_id
         |  JOIN embeddings b ON y.vec_id = b.vec_id),
         |dropped AS (SELECT DISTINCT vec_b AS vec_id FROM pairs WHERE score >= 0.4)
         |SELECT CAST(a2.cell AS BIGINT) AS cell, count(*) AS n,
         |       CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         |FROM a2 LEFT JOIN dropped d USING (vec_id)
         |GROUP BY a2.cell ORDER BY cell""".stripMargin
  )
}
