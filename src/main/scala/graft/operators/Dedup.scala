package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Staged, Tables}
import graft.functions.{MinHash16, ShingleSet, TextAnalysis}
import graft.functions.PortableHash.hash60

/** Deduplication suite over the documents table — the operators a
  * 100 TB pre-training corpus pipeline actually runs:
  *
  *  - exact:   group by content fingerprint (one shuffle on the hash);
  *  - n-gram Jaccard: 3-gram shingles, inverted-index self-join on the
  *    shingle (candidates = pairs sharing ≥1 shingle) — never the naive
  *    all-pairs cross join;
  *  - MinHash+LSH: 16 md5-derived min-hashes, 4 bands × 4 rows; band
  *    buckets join candidates, then exact Jaccard verifies. At scale the
  *    band join touches only colliding docs, making near-dup detection
  *    ~linear instead of quadratic;
  *  - SimHash: 32-bit sign fingerprint from md5 hex digits, built with
  *    pure column algebra (groupBy doc + 32 conditional sums).
  *
  * Every hash is derived from md5(), which DuckDB computes identically —
  * all four operators are oracle-checked, not just row-counted.
  */
object Dedup {

  /** (doc_id, shingle) — distinct 3-gram word shingles per document:
    * the [[graft.functions.ShingleSet]] kernel exploded, a narrow
    * projection at scan parallelism. A document of fewer than 3 tokens
    * has no rows. Not a window (posexplode → lead ×2 → distinct, kept in
    * LlmOpsSpec as the equivalence reference): a doc's distinct 3-gram
    * set is a pure function of its own text, so building it through a
    * per-token window sort plus a corpus-wide distinct paid two full
    * shuffles of the token stream for state that never crossed rows.
    * The kernel's null below 3 tokens mirrors the lead-null drop, and
    * the per-doc distinct equals the global distinct because doc_id is
    * part of the pair. */
  def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(ShingleSet(col("text"))).as("shingle"))

  /** (doc_id, shset) — [[shingles]] kept as one distinct array per
    * document in first-occurrence order, computed within each row: no
    * shuffle, no explode. A document of fewer than 3 tokens has no row. */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    // the one-element explode is a Generate, which the null filter is not
    // pushed below: over a projection it would be, and the kernel would
    // run twice per row, once in the filter and once in the projection
    docs.select(col("doc_id"), explode(array(ShingleSet(col("text")))).as("shset"))
      .filter(col("shset").isNotNull)

  private val NumHashes = 16
  private val Bands = 4
  private val Rows = 4 // NumHashes / Bands
  private val SubstrLen = 20 // dedup_substring_spans window width (chars)

  /** Min-hash function `i` of one shingle. */
  private def minhashKey(i: Int, shingle: Column): Column =
    hash60(concat(lit(s"$i|"), shingle))

  /** Per-doc minhash signature h0..h15 + shingle count c, in ONE
    * hash aggregation pass over the shingle index. */
  def minhashSignature(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(
      count(lit(1)).as("c"),
      (0 until NumHashes).map(i => min(minhashKey(i, col("shingle"))).as(s"h$i")): _*)

  /** [[minhashSignature]]'s h0..h15 computed within each row of a
    * [[shingleSets]] frame: (doc_id, shset, h0..h15), no groupBy. The
    * [[graft.functions.MinHash16]] kernel makes all 16 in one pass over
    * the set, once per row: the optimizer does not inline a kernel call
    * into the 16 field reads of the projection above it, since it is
    * not cheap and is read more than once. */
  private[graft] def minhashOfSets(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), col("shset"), MinHash16(col("shset")).as("mh"))
      .select(col("doc_id") +: col("shset") +:
        (0 until NumHashes).map(i => col(s"mh.h$i").as(s"h$i")): _*)

  /** (doc_id, band, sig) for an arbitrary (bands × rows) tiling of the
    * 16 min-hashes: band signature = md5 of its `rows` concatenated
    * min-hashes. Pairs sharing any (band, sig) are candidates. */
  def lshBandsCfg(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"), explode(bandSigs(bands, rows)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  /** One row's (band, sig) structs over its h0..h15 columns. */
  private[graft] def bandSigs(bands: Int = Bands, rows: Int = Rows): Column = {
    require(bands * rows == NumHashes, s"$bands x $rows != $NumHashes")
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|",
          (b * rows until (b + 1) * rows).map(i => col(s"h$i").cast("string")): _*)).as("sig"))
    }: _*)
  }

  /** The shipped 4 × 4 tiling. */
  def lshBands(sigs: DataFrame): DataFrame = lshBandsCfg(sigs, Bands, Rows)

  /** Exact Jaccard for candidate pairs by per-doc shingle-set
    * intersection: O(|candidates| × doc length), independent of shingle
    * document frequency. Right when candidates are FEW (post-LSH): the
    * inverted-index alternative would regenerate O(df²) pairs per
    * stop-shingle bucket only to discard them, an adversarial-corpus
    * cliff this path does not have. */
  def jaccardBySets(cand: DataFrame, sh: DataFrame): DataFrame = {
    // cand is referenced twice below (doc pruning + the pair join); the
    // identical subtrees share work through Spark's ReusedExchange —
    // measured FASTER than forcing one materialization with
    // localCheckpoint, which adds a job and breaks exchange reuse
    // build shingle sets ONLY for docs that appear in a candidate pair —
    // post-LSH/prefix that is a small fraction of the corpus, and the
    // left-semi prunes the collect_set input before the per-doc arrays
    // ever materialize
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    val sets = sh.join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("shset"))
    jaccardOfSets(cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shset").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shset").as("sb")), "doc_b"))
  }

  /** (doc_a, doc_b, jaccard) of pairs that carry both shingle sets as
    * `sa` and `sb`. */
  private[graft] def jaccardOfSets(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("shared", size(array_intersect(col("sa"), col("sb"))))
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("shared")).cast("double")).as("jaccard"))

  /** Two-tier exact verify for the MANY-candidate regime (the prefix
    * path ships ~125k candidates at t=0.5 where LSH ships ~250): tier 1
    * screens every candidate on 60-bit-hashed shingle sets — long arrays
    * shuffle ~25× less than the 50-char string sets and intersect on
    * long equality — at threshold t−0.1; tier 2 re-scores the few
    * survivors EXACTLY on full string sets, so the reported pairs and
    * scores are identical to [[jaccardBySets]]. The 0.1 slack exists
    * only for 60-bit collisions (a single collision moves a hashed
    * Jaccard by at most ~2/|union|, and two colliding shingle pairs
    * inside one candidate pair is a ~2⁻⁴⁰ event per pair) — in the
    * collision-free case tier 1 computes the exact score already.
    * Per-pair cost stays independent of shingle document frequency:
    * this is the tiered screen-then-confirm shape production similarity
    * joins use, NOT the Σ df² inverted-index self-join of
    * [[sharedCounts]], which would reintroduce the stop-shingle cliff the
    * prefix filter exists to avoid. */
  def jaccardBySetsTiered(cand: DataFrame, sh: DataFrame, t: Double): DataFrame = {
    // The screen's cost is CPU (an array_intersect over ~500-element
    // hashed sets per candidate pair), but its shuffled BYTES are tiny —
    // AQE's byte-based coalescing folded these stages to 1-2 tasks and
    // serialized the intersect work (measured 0.7-0.9 s per 2-task stage
    // at sf0.1). Pinning the two join exchanges at defaultParallelism
    // keeps the per-pair kernel spread across the machine; the shuffle
    // volume is unchanged, only the reducer count. At cluster scale the
    // candidate stream is large enough that AQE would pick a wide plan
    // anyway — the pin only matters in exactly this small-bytes/high-CPU
    // regime.
    val p = sh.sparkSession.sparkContext.defaultParallelism
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    val hsets = sh.join(candDocs, Seq("doc_id"), "left_semi")
      .repartition(p, col("doc_id"))
      .groupBy("doc_id")
      .agg(collect_set(hash60(col("shingle"))).as("hset"))
    val screened = cand
      .repartition(p, col("doc_a"))
      .join(hsets.select(col("doc_id").as("doc_a"), col("hset").as("ha")), "doc_a")
      .repartition(p, col("doc_b"))
      .join(hsets.select(col("doc_id").as("doc_b"), col("hset").as("hb")), "doc_b")
      .withColumn("shared", size(array_intersect(col("ha"), col("hb"))))
      .filter(col("shared").cast("double") /
        (size(col("ha")) + size(col("hb")) - col("shared")).cast("double") >= t - 0.1)
      .select("doc_a", "doc_b")
    jaccardBySets(screened, sh)
  }

  /** The full-corpus proportional df cap as a 1-row broadcast frame:
    * greatest(64, ⌈n_docs/200⌉), i.e. 0.5% of the corpus. THE single
    * definition of the cap policy — every capped path (staging, volume
    * bound, rep stats, winnow) derives from here, so a policy change is
    * one edit.
    *
    * The ceiling is INTEGER division, (n_docs + 199) div 200, so every
    * engine agrees bit-for-bit at any corpus size: ceil of n·0.005 in
    * doubles rounds UP spuriously whenever n is a multiple of 200 (0.005
    * has no binary representation). The cap is proportional because an
    * ABSOLUTE cap is a recall cliff: duplication multiplies every
    * shingle's df and pushes previously-rare shingles past a fixed 64
    * (the 10× soak exposed it on the winnow path and, at 7% of true
    * pairs, on this one). "Too common to be discriminative" is a
    * fraction of the corpus, not a constant. It equals 64 at every
    * shipped SF, and 250 at the 10× soak's 50 k docs. */
  private def propCap(fullSh: DataFrame): DataFrame =
    fullSh.agg(countDistinct("doc_id").as("n_docs"))
      .select(greatest(lit(64L),
        expr("(n_docs + 199) div 200")).as("cap"))

  /** (ra < rb, shared, ca, cb) for every pair of `shR` documents sharing
    * at least one RARE (df <= [[propCap]]) shingle, with `shared`
    * counting over FULL shingle sets. `shR` is one representative per
    * distinct text on the rep path and the full index on the doc-level
    * path ([[docLevelPath]]); rarity stays FULL-corpus either way, since
    * it is a property of the corpus, not of the distinct-text set.
    *
    * Stop shingles (df > cap) are left out of pair GENERATION — a df-f
    * bucket emits O(f²) pairs — but still COUNT, because scores use full
    * sets. One self-join does both:
    *
    *   shared(a,b) = sharedRare(a,b) + |stop(a) ∩ stop(b)|
    *
    *  - sharedRare comes straight off the rare-index self-join via a
    *    partial-aggregating groupBy: candidacy (sharedRare >= 1) falls
    *    out for free, and the quadratic slot stream is map-side-combined
    *    and spillable instead of hash-table-resident;
    *  - the stop term is an array_intersect of per-doc stop-shingle sets
    *    joined onto the already-aggregated pair table. Stop sets are
    *    small by construction (at most vocabulary_postings/cap distinct
    *    stop shingles corpus-wide) and ride a per-doc side table, never
    *    the pair stream.
    *
    * Why one join: a two-join form — the capped self-join for candidates,
    * then a SECOND, UNCAPPED inverted-index self-join (Σ df²/2 pair
    * slots, 1.25e9 at the 150 k-doc 30× soak corpus) shuffled whole
    * through a left-semi join against the candidate stream — OOM'd that
    * soak in the semi-join's per-partition hash build.
    *
    * This is the staged production artifact. Since `shared`/`ca`/`cb`
    * are pure functions of the two shingle SETS, every derived measure
    * (Jaccard, containment, rank) is INVARIANT across exact-dup group
    * members, so consumers filter/rank here and expand through the member
    * map afterwards ([[expandQualified]]) — nothing dup²-sized is ever
    * staged. */
  def cappedRepPairs(shR: DataFrame, fullSh: DataFrame,
                     dfTab: DataFrame): DataFrame = {
    val withCap = dfTab.crossJoin(broadcast(propCap(fullSh)))
    val rareIdxR = shR.join(withCap.filter(col("df") <= col("cap"))
      .select("shingle"), Seq("shingle"))
    val pairsRareR = rareIdxR.select(col("doc_id").as("ra"), col("shingle"))
      .join(rareIdxR.select(col("doc_id").as("rb"), col("shingle")), Seq("shingle"))
      .filter(col("ra") < col("rb"))
      .groupBy("ra", "rb").agg(count(lit(1)).as("shared_rare"))
    val stopSetsR = shR.join(withCap.filter(col("df") > col("cap"))
        .select("shingle"), Seq("shingle"))
      .groupBy("doc_id").agg(collect_set(col("shingle")).as("stopset"))
    // one per-doc side table (set size + stop set) joined twice, not four
    // separate count/set joins shuffling the pair table each time
    val docSideR = shR.groupBy("doc_id").agg(count(lit(1)).as("c"))
      .join(stopSetsR, Seq("doc_id"), "left")
    pairsRareR
      .join(docSideR.select(col("doc_id").as("ra"),
        col("c").as("ca"), col("stopset").as("sa")), "ra")
      .join(docSideR.select(col("doc_id").as("rb"),
        col("c").as("cb"), col("stopset").as("sb")), "rb")
      .select(col("ra"), col("rb"),
        (col("shared_rare") + when(col("sa").isNull || col("sb").isNull, lit(0))
          .otherwise(size(array_intersect(col("sa"), col("sb")))).cast("bigint"))
          .as("shared"),
        col("ca"), col("cb"))
  }

  /** Global rarest-first rank per distinct shingle, fully distributed:
    * a range-partitioned sort on (df, shingle) followed by RDD
    * zipWithIndex — contiguous global ranks with NO single-partition
    * window (the previous side-table approach funneled the whole
    * vocabulary through one task; at 100 TB the vocabulary alone is
    * billions of shingles). zipWithIndex costs one extra lightweight
    * job (per-partition counts) and keeps the sort parallel. */
  def shingleRanks(sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = sh.sparkSession
    val sorted = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .sort("df", "shingle") // total order: shingle is distinct here
      .select("shingle")
    val rdd = sorted.rdd.zipWithIndex.map { case (row, i) => Row(row.get(0), i + 1L) }
    spark.createDataFrame(rdd, StructType(Seq(
      sorted.schema.head.copy(nullable = false), StructField("rank", LongType, nullable = false))))
  }

  /** Each document's prefix shingles (the PPJoin family's prefix
    * principle): order all shingles canonically by ascending document
    * frequency (rarest first, ties by value) and keep the first
    * c - ceil(t*c) + 1 of each document's shingles in that order. Two
    * docs with Jaccard >= t MUST share a prefix shingle — if they only
    * shared suffix (frequent) shingles, fewer than t*c of their shingles
    * could overlap. Self-joined by [[pairsSharing]], candidates shrink
    * from "any shared shingle" to typically a few per doc, and because
    * prefixes hold the RAREST shingles, the df² bucket blowup
    * concentrates where df is smallest. Lossless for threshold t, unlike
    * a df cap. */
  def prefixes(sh: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // global rank SIDE TABLE (one long per distinct shingle): the
    // per-doc windows then sort cheap longs, not (df, string) tuples —
    // measured 10x faster than ordering doc windows by the tuple
    // directly. rn (the shingle's 1-based position in the doc's
    // canonical order) rides along for the positional filter.
    val ranks = shingleRanks(sh)
    val docW = Window.partitionBy("doc_id").orderBy("rank")
    // the candidate self-join only needs EQUALITY of shingles, so the
    // prefix index carries the 60-bit hash as join key: long-vs-long
    // hash joins beat string joins, and a (vanishingly rare) collision
    // merely admits one spurious candidate for exact verification to
    // discard — it can never lose a pair
    sh.join(ranks, Seq("shingle"))
      .withColumn("rn", row_number().over(docW))
      .withColumn("c", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("rn") <= col("c") - ceil(lit(t) * col("c")) + 1)
      .select(col("doc_id"), hash60(col("shingle")).as("shkey"), col("c"), col("rn"))
  }

  /** Self-join a prefix index (doc_id, shingle, c, rn) into ordered
    * candidate pairs with PPJoin's two lossless prunes:
    *
    *  - LENGTH filter: J(x,y) >= t forces |y| >= ceil(t*|x|) and vice
    *    versa (the intersection is at most the smaller set yet at least
    *    t of the union);
    *  - POSITIONAL filter: J >= t also forces overlap
    *    O >= ceil(t/(1+t) * (|x|+|y|)). For a true pair, take its FIRST
    *    common shingle in the canonical order, at positions (rn_a, rn_b):
    *    every other common shingle sits after it in both docs, so
    *    O <= 1 + min(|x|-rn_a, |y|-rn_b). Any pair whose every prefix
    *    match fails that bound cannot reach the overlap threshold — it
    *    is dropped before the (much costlier) exact verification.
    *
    * The 1e-9 slack keeps double rounding from ever pushing the
    * threshold ABOVE the true ceil (which would lossily drop a pair
    * sitting exactly on the overlap boundary); it can only let a few
    * extra candidates through, and exact verification removes those. */
  def pairsSharing(idx: DataFrame, t: Double): DataFrame = {
    val alpha = ceil(lit(t / (1 + t) - 1e-9) * (col("ca") + col("cb")))
    idx.select(col("doc_id").as("doc_a"), col("shkey"), col("c").as("ca"), col("rn").as("rna"))
      .join(idx.select(col("doc_id").as("doc_b"), col("shkey"), col("c").as("cb"), col("rn").as("rnb")),
        Seq("shkey"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("cb") >= ceil(lit(t) * col("ca")) &&
        col("ca") >= ceil(lit(t) * col("cb")))
      .filter(lit(1) + least(col("ca") - col("rna"), col("cb") - col("rnb")) >= alpha)
      .select("doc_a", "doc_b")
  }

  /** (doc_a, doc_b, shared, ca, cb) for every unordered doc pair sharing
    * at least one shingle — the inverted-index self-join + shared-count
    * aggregate that Jaccard, containment, and edge building all start
    * from (one definition; a pair-generation fix must not need three
    * synchronized edits). */
  private[graft] def sharedCounts(sh: DataFrame): DataFrame = {
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .join(counts.select(col("doc_id").as("doc_a"), col("c").as("ca")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("c").as("cb")), "doc_b")
  }

  /** Corpus duplication gate for the capped/prefix near-dup family —
    * true ⇒ run the ORIGINAL DOC-LEVEL formulation (self-join over the
    * full shingle index; within-dup-group pairs emerge from the join
    * itself), false ⇒ the round-10 rep-collapsed pipeline (self-join
    * over one representative per distinct text, qualifying pairs
    * expanded through the member map).
    *
    * Both paths are CORRECT on any corpus — RepCollapseGateSpec pins
    * row-for-row equality of the shipped queries across the gate, on a
    * fixture with 10-way duplicate groups and a stop shingle — the
    * choice is purely a cost model: the rep indirection saves ~dup² of
    * self-join work on a re-crawl-shaped corpus (OOM → 41 s at 30×) but
    * COSTS an extra staged artifact plus 2-3 expansion joins per
    * consumer, which on a nearly-dup-free corpus is pure overhead. At
    * sf0.1 on 4 cores (`graft.Bench`, 5 passes, 3 alternating runs per
    * side), forcing the rep path on the 7 gated queries raised their
    * summed steady medians 6.71 → 9.01 s (+34 %) and their first use
    * 34.1 → 41.5 s; every query got slower, from containment_topk
    * 0.38 → 0.98 s to prefix 3.22 → 3.58 s. The decision statistic is the exact
    * within-group pair mass Σ C(k_g, 2) over exact-dup text groups —
    * the quadratic slot inflation the doc-level self-join would pay per
    * shared rare shingle — from ONE narrow aggregate over md5(text)
    * (bounded driver-side head, the budget-guard pattern). Doc level
    * iff that mass ≤ max(64, n_docs/100): sf0.1's 8 duplicate pairs in
    * 5 000 docs stay doc-level; a SoakGen
    * N-way replica (every text an N-way group) or any real re-crawl
    * trips to rep level. A pure function of the corpus, so the (path-
    * independent) DuckDB oracles replay unchanged. The decision is
    * memoized per (session, dir) in [[graft.core.Sessions.memo]] and
    * stamped with the documents file's [[Tables.sourceFp]], so a
    * documents.parquet rewritten mid-session recomputes the gate instead
    * of replaying a stale decision. */
  private[graft] def docLevelPath(s: SparkSession, dir: String): Boolean = {
    val fp = Tables.sourceFp(s"$dir/documents.parquet")
    Sessions.memo(s, s"doclevel|$dir")((e: (String, Boolean)) => e._1 == fp) {
      val r = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .groupBy(md5(col("text"))).agg(count(lit(1)).as("k"))
        .agg(coalesce(sum(expr("(k * (k - 1)) div 2")), lit(0L)).as("dup_pairs"),
          coalesce(sum(col("k")), lit(0L)).as("n_docs")).head()
      (fp, r.getLong(0) <= math.max(64L, r.getLong(1) / 100))
    }._2
  }

  /** Pin [[docLevelPath]] for (session, dir) until the documents file
    * changes — the seam RepCollapseGateSpec A/Bs the two paths through. */
  private[graft] def pinDocLevel(s: SparkSession, dir: String, docLevel: Boolean): Unit =
    Sessions.memo(s, s"doclevel|$dir")((_: (String, Boolean)) => false)(
      (Tables.sourceFp(s"$dir/documents.parquet"), docLevel)): Unit

  /** Staging-key suffix for artifacts whose CONTENT depends on the gate
    * (rep-level vs doc-level pair tables): a pinned/auto A/B within one
    * session must never read the other path's staged parquet. */
  private def pathTag(s: SparkSession, dir: String): String =
    if (docLevelPath(s, dir)) "doc" else "rep"

  /** (doc_id, rep): rep = min doc_id among EXACT-text duplicates (md5
    * of the raw text — byte equality, so shingle sets are identical by
    * construction). The collapse key for cluster-resolution queries:
    * on a re-crawl-shaped corpus most duplication is exact, and the
    * shingle self-join over k exact copies does k² of the work one
    * representative does. */
  private def exactRepMap(s: SparkSession, dir: String): DataFrame =
    Staged(s, s"$dir|exactreps") {
      val fp = Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("fpx"))
      fp.join(fp.groupBy("fpx").agg(min("doc_id").as("rep")), "fpx")
        .select("doc_id", "rep")
    }

  /** The J >= 0.5 edge graph over exact-dup REPRESENTATIVES only — the
    * candidate self-join runs on one doc per distinct text, so a k-way
    * exact-duplicate clique contributes one node instead of k²/2 join
    * rows. Reuses the staged full-corpus shingle index (filtered, not
    * re-tokenized). */
  private def neardupRepEdges(s: SparkSession, dir: String): DataFrame =
    Staged(s, s"$dir|repedges") {
      val reps = exactRepMap(s, dir)
        .filter(col("doc_id") === col("rep")).select("doc_id")
      sharedCounts(stagedShingles(s, dir).join(reps, "doc_id"))
        .filter(col("shared").cast("double") /
          (col("ca") + col("cb") - col("shared")).cast("double") >= 0.5)
        .select("doc_a", "doc_b")
    }

  // --- The exact-dup collapse kit -------------------------------------
  // Every near-dup query that collapses runs its expensive step on one
  // representative (the min id) per identical key — text md5, fingerprint
  // or embedding — then maps the result back to the members: clusters
  // through collapsedClusters (+ keepCanonical), pairs through
  // expandQualified. The helpers take frames and plain parameters and
  // never branch on their caller (Dedup, Multimodal, Similarity).

  /** Cluster resolution with EXACT-DUP COLLAPSE: run `cc` on the
    * representative graph `repEdges` (doc_a, doc_b[, ..]), then every doc
    * of `members` (doc_id, rep) inherits its representative's label. A
    * doc whose rep has no edge is labeled with the rep when its group has
    * ≥ 2 members (identical keys are pairwise edges in the full graph)
    * and is left out otherwise. A caller whose identical docs are NOT
    * pairwise edges (texts without shingles) leaves those groups out of
    * `members`.
    *
    * Same labels as CC over the full, uncollapsed pair graph: a
    * cluster's minimum equals the minimum over its groups' own minima,
    * which is the representative-graph minimum. The unchanged
    * recursive-reachability oracles replay the full graph. CC then sees
    * edges between distinct keys, not the dup² clique edges a re-crawl
    * plants (a 10-way clique is 45 edges and one node). */
  private[graft] def collapsedClusters(members: DataFrame, repEdges: DataFrame,
      cc: DataFrame => DataFrame): DataFrame = {
    val repClusters = cc(repEdges).select(col("doc_id").as("rep"), col("cluster_id"))
    // group size as a window over the join's own rep partitioning: the
    // member map is read once, with no second aggregate and join
    val byRep = org.apache.spark.sql.expressions.Window.partitionBy("rep")
    members.join(repClusters, Seq("rep"), "left")
      .withColumn("grp_n", count(lit(1)).over(byRep))
      .filter(col("cluster_id").isNotNull || col("grp_n") > 1)
      .select(col("doc_id"), coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
  }

  /** One row per doc of `docs` with its cluster and a keep verdict: docs
    * outside every cluster of `clusters` (doc_id, cluster_id) are their
    * own cluster, and a doc is kept iff it is its cluster's label. */
  private[graft] def keepCanonical(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val label = coalesce(col("cluster_id"), col("doc_id"))
    docs.select("doc_id").join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), label.as("cluster_id"), (label === col("doc_id")).as("keep"))
  }

  /** Expand qualifying representative pairs `repPairs` (doc_a, doc_b,
    * <score>) to doc pairs through `members` (rep, doc_id). Cross-group
    * pairs inherit the rep pair's score: identical keys have identical
    * shingle sets or arrays, hence identical measures. The pair is
    * ordered per OUTPUT pair (least/greatest), because members of two
    * groups interleave in id order. Within-group pairs exist for the
    * groups listed in `within` (rep, <score>) and carry that score — the
    * measure of two identical sets or arrays. Only qualifying pairs are
    * expanded, so the dup²-sized rows made here are the demanded
    * output. */
  private[graft] def expandQualified(repPairs: DataFrame, members: DataFrame,
      within: DataFrame): DataFrame = {
    val score = repPairs.columns.last
    val cross = repPairs
      .join(members.select(col("rep").as("doc_a"), col("doc_id").as("ma")), "doc_a")
      .join(members.select(col("rep").as("doc_b"), col("doc_id").as("mb")), "doc_b")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col(score))
    val inGroup = members.join(within, "rep")
      .select(col("rep"), col("doc_id").as("ma"), col(score))
      .join(members.select(col("rep"), col("doc_id").as("mb")), "rep")
      .filter(col("ma") < col("mb"))
      .select(col("ma").as("doc_a"), col("mb").as("doc_b"), col(score))
    cross.unionByName(inGroup)
  }

  /** Band `b` of a fingerprint cut into `bandBits`-bit bands. */
  private def band(fp: Column, b: Int, bandBits: Int): Column =
    shiftright(fp, bandBits * b).bitwiseAND((1 << bandBits) - 1)

  /** (doc_id, fp, b, sig): the four bands of each fingerprint. */
  private def fpBands(fp: DataFrame, bandBits: Int): DataFrame =
    fp.select(col("doc_id"), col("fp"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("b"), band(col("fp"), b, bandBits).as("sig"))): _*)).as("e"))
      .select(col("doc_id"), col("fp"), col("e.b").as("b"), col("e.sig").as("sig"))

  /** Banded hamming pairs (doc_a < doc_b, hamming) of a (doc_id, fp)
    * frame: the fingerprints are cut into 4 bands of `bandBits` bits, an
    * equi-join on (band, band value) finds the candidates without an
    * all-pairs scan, and `bit_count(xor) <= maxHamming` verifies them.
    * With 4 × 8 bits and maxHamming 3 the candidates are exhaustive by
    * pigeonhole: 3 differing bits leave one band whole.
    *
    * CANONICAL-BAND emission: the full fingerprint rides along on both
    * join sides and a pair is kept only at its FIRST agreeing band, so
    * each pair surfaces exactly once. That deletes the distinct over the
    * raw candidate stream and both fingerprint join-backs (at the 10×
    * soak the distinct shuffled ~39 M candidate rows to confirm 8.5 M
    * pairs); the verify is a row-local filter on the band join's output,
    * and nothing shuffles but the bands themselves. */
  private[graft] def bandedHammingPairs(fp: DataFrame, bandBits: Int,
      maxHamming: Int): DataFrame = {
    val bands = fpBands(fp, bandBits)
    val firstAgreeingBand = (0 until 4).map { bb =>
      (col("b") === bb) && (0 until bb)
        .map(p => band(col("fa"), p, bandBits) =!= band(col("fb"), p, bandBits))
        .foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    bands.select(col("doc_id").as("doc_a"), col("fp").as("fa"), col("b"), col("sig"))
      .join(bands.select(col("doc_id").as("doc_b"), col("fp").as("fb"),
        col("b"), col("sig")), Seq("b", "sig"))
      .filter(col("doc_a") < col("doc_b") && firstAgreeingBand)
      .withColumn("hamming", expr("bit_count(fa ^ fb)").cast("bigint"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Near-dup clusters (doc_id, cluster_id) of a (doc_id, fp) frame under
    * [[bandedHammingPairs]], with FINGERPRINT COLLAPSE before CC: docs
    * sharing a fingerprint are one hamming-0 clique, so the pairs and
    * the components run over one representative per distinct
    * fingerprint (min doc_id — what a re-crawl collapses N× on) and
    * every doc inherits its representative's label
    * ([[collapsedClusters]]). */
  private[graft] def hammingClusters(fp: DataFrame, bandBits: Int,
      maxHamming: Int): DataFrame = {
    val reps = fp.groupBy("fp").agg(min("doc_id").as("rep"))
    collapsedClusters(fp.join(reps, "fp").select("doc_id", "rep"),
      bandedHammingPairs(reps.select(col("rep").as("doc_id"), col("fp")), bandBits, maxHamming),
      components(_))
  }

  /** The J >= 0.5 text clusters through [[collapsedClusters]] over the
    * representative graph. Identical texts are pairwise J = 1 edges only
    * when they have >= 1 shingle, so the member map keeps just the
    * groups whose representative has one. */
  private def textClusters(s: SparkSession, dir: String,
      cc: DataFrame => DataFrame): DataFrame = {
    val shingled = stagedShingles(s, dir).select(col("doc_id").as("rep")).distinct()
    collapsedClusters(exactRepMap(s, dir).join(shingled, Seq("rep"), "left_semi"),
      neardupRepEdges(s, dir), cc)
  }

  /** Connected components over an undirected edge list (doc_a, doc_b):
    * every node of an edge is labeled with the smallest id in its
    * component, as (doc_id, cluster_id). This is the cluster-resolution
    * step a dedup pipeline needs between near-dup PAIR detection and
    * choosing one canonical doc per duplicate group.
    *
    * The edge list is canonicalized (a < b), its lineage cut through
    * the [[CheckpointStrategy]] (Local for single-node runs;
    * Reliable(dir) on a real cluster, where localCheckpoint's
    * non-replicated blocks die with a lost executor) and its edges
    * counted — one job, and the only one construction runs below the
    * gate. The exact count gates the algorithm; the optimizer's estimate
    * would not do, because these edge frames come out of band
    * self-joins whose estimate (without CBO) is the product of the
    * children, which would send every graph to the distributed path.
    *
    *  - At most [[GateEdges]] edges: union-find in ONE task over the cut
    *    (see [[unionFind]]). Any number of rounds of a distributed loop
    *    costs a few stages of scheduling latency per round; a graph this
    *    size fits in one task, so the result is a lazy plan with no
    *    rounds at all.
    *  - Above it: the large-star/small-star rounds of [[star]], bounded
    *    at O(log² n) on every graph shape. */
  def components(edges: DataFrame,
      ckpt: CheckpointStrategy = CheckpointStrategy.Local): DataFrame =
    components(edges, ckpt, GateEdges)

  /** [[components]] with the gate as a parameter — the test seam that
    * forces the star path (and its shuffle joins) with `limit = 0`. */
  private[graft] def components(edges: DataFrame, ckpt: CheckpointStrategy,
      limit: Long): DataFrame = {
    val (e, n) = cutCanonical(edges, ckpt)
    if (n <= limit) unionFind(e) else starRounds(e, n, ckpt, limit)._1
  }

  /** The size gate, in canonical edges: below it the graph is solved in
    * one task, and [[star]] broadcasts its per-round min tables (one row
    * per node or star root, ~24 bytes each, so ~25 MB — inside guide
    * §3.1's "a few hundred MB is fine" band with margin for the
    * per-executor copies). At 100 TB corpus scale the edge count exceeds
    * it and the rounds keep their shuffle joins. */
  private val GateEdges = 1000000L

  /** Canonical (a < b, no self-loop) edges, cut and counted in ONE job:
    * the projection is narrow and the cut lazy, so the RDD count both
    * materializes the cut and counts it. A distinct here, or
    * `Dataset.count`'s aggregate, would each add an exchange, and under
    * AQE every exchange runs as a job of its own. Duplicate edges cost
    * union-find nothing, and star's rounds emit distinct edge sets. */
  private def cutCanonical(edges: DataFrame, ckpt: CheckpointStrategy): (DataFrame, Long) = {
    val e = ckpt.cutLazy(edges
      .select(least(col("doc_a"), col("doc_b")).as("a"), greatest(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")))
    (e, e.rdd.count())
  }

  /** Union-find with the minimum id as root, in one task over the cut
    * canonical edges: ids are sorted into a primitive array, so an index
    * order is the id order and linking the larger root under the smaller
    * keeps every root its component's minimum. The plan is lazy and the
    * cut stays alive — the returned frame reads it, the same lifetime
    * rule as [[star]]'s final edge set. */
  private def unionFind(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val labels = e.rdd.coalesce(1)
      .mapPartitions { rows =>
        val a = scala.collection.mutable.ArrayBuilder.make[Long]
        val b = scala.collection.mutable.ArrayBuilder.make[Long]
        rows.foreach { r => a += r.getLong(0); b += r.getLong(1) }
        val (as, bs) = (a.result(), b.result())
        val ids = (as ++ bs).sorted.distinct
        val parent = Array.tabulate(ids.length)(identity)
        def find(i0: Int): Int = {
          var i = i0
          while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
          i
        }
        var k = 0
        while (k < as.length) {
          val ra = find(java.util.Arrays.binarySearch(ids, as(k)))
          val rb = find(java.util.Arrays.binarySearch(ids, bs(k)))
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
          k += 1
        }
        ids.indices.iterator.map(i => Row(ids(i), ids(find(i))))
      }
    e.sparkSession.createDataFrame(labels, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("cluster_id", LongType, nullable = false))))
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR edge
    * rewriting (the MapReduce CC algorithm of Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond" — also what
    * GraphFrames ships): converges in O(log² n) rounds on ANY graph —
    * a 512-node path closes in ≤ 12 rounds where label propagation
    * would need 511. [[components]] runs it above its size gate;
    * `dedup_clusters_star` runs it at every size, so the oracle pins
    * the distributed algorithm even where the gate never opens.
    * Returns the labels and the round count.
    *
    * Each round rewrites the edge set toward a star per component:
    *  - large-star at u links every LARGER neighbor to
    *    m = min(Γ(u) ∪ u);
    *  - small-star at u links its smaller neighbors (and u itself) to
    *    their minimum.
    * Both are one groupBy + one join over canonical (a < b) edges —
    * per-round cost linear in |E|, no node-indexed state — and the
    * fixpoint is the star graph rooted at each component's minimum id.
    * Lineage is cut per round via the same [[CheckpointStrategy]]. */
  private[graft] def star(edges: DataFrame,
      ckpt: CheckpointStrategy = CheckpointStrategy.Local,
      limit: Long = GateEdges): (DataFrame, Int) = {
    val (e, n) = cutCanonical(edges, ckpt)
    starRounds(e, n, ckpt, limit)
  }

  private def starRounds(e0: DataFrame, n0: Long, ckpt: CheckpointStrategy,
      limit: Long): (DataFrame, Int) = {
    var e = e0
    var eCount = n0
    // size-gated broadcast (guide §3.1): the per-round min tables (mn:
    // one row per node; byHi: one row per star root) are broadcastable
    // whenever the edge set is small, and the checkpointed frames' stats
    // are invisible to AQE so the hint is the only way the rounds get a
    // broadcast join
    val bcastGate = eCount <= limit
    def maybeB(df: DataFrame): DataFrame = if (bcastGate) broadcast(df) else df
    var rounds = 0
    var done = eCount == 0
    while (!done) {
      // large-star: m(u) = min(neighbors(u) ∪ u); larger neighbors re-hang on m
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mn = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      // no distinct here: duplicate (m, v) rows (several u with the same
      // min re-hanging the same larger neighbor) are collapsed by byHi's
      // aggregate and by next's final distinct anyway — the intermediate
      // dedup was one full (a,b) exchange per round for rows the next
      // two operators dedup for free (guide §2.4)
      val large = sym.join(maybeB(mn), "u").filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
      // small-star over canonical (a < b): each node b re-hangs its
      // smaller neighbors (and itself) on their minimum
      val byHi = large.groupBy("b").agg(min("a").as("m"))
      // lazy cut: the RDD count below materializes and counts it in one
      // job (Dataset.count's aggregate exchange would be a job of its own)
      val next = ckpt.cutLazy(
        large.join(maybeB(byHi), "b").filter(col("a") =!= col("m"))
          .select(col("m").as("a"), col("a").as("b"))
          .union(byHi.select(col("m").as("a"), col("b")))
          .distinct())
      rounds += 1
      val nextCount = next.rdd.count()
      done = nextCount == eCount &&
        next.join(e, Seq("a", "b"), "left_anti").isEmpty
      ckpt.release(e) // released only after the fixpoint check read it
      e = next
      eCount = nextCount
    }
    // the final edge set stays cut: the returned (lazy) labels read it
    val labels = e.select(col("b").as("doc_id"), col("a").as("cluster_id"))
      .union(e.select(col("a").as("doc_id"), col("a").as("cluster_id")))
      .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
    (labels, rounds)
  }

  // --- SimHash ----------------------------------------------------------

  /** 32-bit simhash: for hex digit k (1..8) of md5(token) and bit b
    * (0..3), the bit of the fingerprint is set iff
    * sum over tokens of (digit_k(token) >> b & 1 ? +1 : -1) > 0.
    *
    * Computed ROW-LOCAL by the codegen [[graft.functions.SimHash32]]
    * kernel: the previous explode → md5 → 32-conditional-sum →
    * groupBy(doc_id) pipeline shuffled one row PER TOKEN (~100× the doc
    * count at corpus scale) to rebuild per-doc state that was never
    * cross-row in the first place. The kernel keeps simhash a narrow
    * projection at scan parallelism; the isNotNull filter mirrors the
    * aggregate formulation's explode semantics (a doc with an empty
    * token array emitted no rows, so it had no fingerprint). The oracle
    * still replays the aggregate formulation in SQL, and
    * [[simhash32Agg]] keeps it runnable for the spec equivalence gate. */
  def simhash32(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.SimHash32(TextAnalysis.tokens(col("text"))).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** The declarative twin of [[simhash32]] (explode + 32 conditional
    * sums) — spec-only: LlmOpsSpec gates the codegen kernel against it
    * so the two renditions cannot drift. */
  private[graft] def simhash32Agg(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("w"))
      .withColumn("h", md5(col("w")))
    val sums = toks.groupBy("doc_id").agg(
      bitSum(1, 0).as("b_0"),
      (for { k <- 1 to 8; b <- 0 to 3; if !(k == 1 && b == 0) }
        yield bitSum(k, b).as(s"b_${(k - 1) * 4 + b}")): _*)
    val value = (0 until 32).map { i =>
      when(col(s"b_$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col("doc_id"), value.as("simhash"))
  }

  private def bitSum(k: Int, b: Int): Column = {
    val digit = conv(substring(col("h"), k, 1), 16, 10).cast("int")
    sum(when(shiftright(digit, b).bitwiseAND(1) === 1, 1).otherwise(-1))
  }

  // ---------------------------------------------------------------------

  /** The documents scan fanned out to full parallelism for the ROW-LOCAL
    * staged derivations (shingles / simhash / winnow / grams): those
    * builds are narrow by design, so they inherit the SCAN's split
    * count — and a small corpus compresses to a single parquet split,
    * which would serialize the per-doc kernels onto one task (observed:
    * the 10× soak's 50 k-doc corpus is ONE 1 MB snappy file; the shingle
    * stage build ran 1-way and dedup_clusters paid 415 s). One narrow
    * row per DOC crosses this exchange — orders of magnitude cheaper
    * than the per-token/per-position shuffles the row-local rewrites
    * removed; on a cluster-scale corpus the scan already has thousands
    * of splits and this repartition is just the stage write's layout. */
  private def docsParallel(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
  /** Materialize the shingle index once per (session, sf dir) and read it
    * back from parquet: the dedup plans reference the index up to 5 times
    * (bands ×2, inverted-index join ×2, counts), and lazy re-evaluation
    * of the tokenize+window pipeline dominated their cost. This is the
    * local analogue of checkpointing the inverted index before LSH at
    * cluster scale. */
  def stagedShingles(s: SparkSession, dir: String): DataFrame =
    Staged(s, dir)(shingles(docsParallel(s, dir)))
  /** Simhash fingerprints staged too: the banded-pair query references
    * the fingerprint table THREE times (band explode + two verify
    * joins), and each reference re-ran the 32-conditional-sum aggregate
    * over every token. */
  def stagedSimhash(s: SparkSession, dir: String): DataFrame =
    Staged(s, s"$dir|simhash")(simhash32(docsParallel(s, dir)))

  /** Banded simhash near-dup pairs (hamming ≤ 3, 4 byte bands — exact
    * by pigeonhole; see [[bandedHammingPairs]]). */
  private def simhashPairs(s: SparkSession, dir: String): DataFrame =
    bandedHammingPairs(simhashFp(s, dir), 8, 3)

  /** The staged simhash as the (doc_id, fp) frame the banded join takes. */
  private def simhashFp(s: SparkSession, dir: String): DataFrame =
    stagedSimhash(s, dir).select(col("doc_id"), col("simhash").as("fp"))
  /** Minhash signatures staged: the LSH band self-join references the
    * signature table on both sides — unstaged, that is 2x16 md5 hashes
    * per shingle instead of 1x16. */
  def stagedMinhashSigs(s: SparkSession, dir: String): DataFrame =
    Staged(s, s"$dir|minhash")(minhashSignature(stagedShingles(s, dir)))
  /** df-capped shared counts staged at REP level: FIVE registered
    * queries (jaccard, capped, containment, containment_topk,
    * cross_source) consume the identical (ra, rb, shared, ca, cb)
    * artifact over one representative per distinct text. Round-10b
    * staged the EXPANDED doc-level table — at 100× (100-way exact
    * replication) that artifact is itself Θ(dup²) ≈ the 1.4 × 10¹⁰-slot
    * uncollapsed bound, i.e. a ~100 GB staged parquet of mostly
    * sub-threshold pairs. Because every derived measure is invariant
    * across exact-dup members, consumers now filter/rank HERE and expand
    * through [[exactRepMap]] afterwards — the only dup²-sized rows that
    * ever exist are the qualifying output pairs themselves. */
  def stagedCappedSharedReps(s: SparkSession, dir: String): DataFrame =
    Staged(s, s"$dir|cappedrepshared|prop|${pathTag(s, dir)}") {
      val sh = stagedShingles(s, dir)
      val dfTab = stagedShingleDf(s, dir)
      val shR = stagedShinglesReps(s, dir)
      withBudget(StageBudget, cappedRepPairs(shR, sh, dfTab),
        cappedVolumeBound(sh, dfTab, shR), "stagedCappedSharedReps")
    }
  /** Per-representative group stats staged beside the rep pairs:
    * n_mem (exact-dup group size) and has_rare (the text owns ≥ 1
    * full-corpus-rare shingle — the uncollapsed candidacy rule for a
    * group's INTERNAL pairs). One row per distinct text. */
  def stagedRepStats(s: SparkSession, dir: String): DataFrame =
    Staged(s, s"$dir|repstats|prop") {
      val nMem = exactRepMap(s, dir)
        .groupBy("rep").agg(count(lit(1)).as("n_mem"))
      val rare = stagedShinglesReps(s, dir)
        .join(stagedShingleDf(s, dir)
            .crossJoin(broadcast(propCap(stagedShingles(s, dir))))
            .filter(col("df") <= col("cap")).select("shingle"),
          Seq("shingle"))
        .select(col("doc_id").as("rep")).distinct()
        .withColumn("has_rare", lit(true))
      nMem.join(rare, Seq("rep"), "left")
        .select(col("rep"), col("n_mem"),
          coalesce(col("has_rare"), lit(false)).as("has_rare"))
    }
  /** The shingle index restricted to one representative per distinct
    * text — the collapse substrate shared by the capped staging and the
    * prefix pipeline (both reference it several times per build, and
    * re-running the semi-join against the full index would re-shuffle
    * the posting stream each time). */
  def stagedShinglesReps(s: SparkSession, dir: String): DataFrame =
    // identity rep map ⇒ the restriction is the whole index: skip the
    // semi-join AND the second staged copy of the full shingle table
    if (docLevelPath(s, dir)) stagedShingles(s, dir)
    else Staged(s, s"$dir|shinglesR")(
      stagedShingles(s, dir).join(
        exactRepMap(s, dir).filter(col("doc_id") === col("rep"))
          .select("doc_id"),
        Seq("doc_id"), "left_semi"))
  /** Shingle document-frequency table staged once: the capped staging
    * reads it twice (rare filter + stop filter) and the staging-volume
    * budget aggregates it a third time — unstaged, each reference
    * re-shuffles the full posting stream. */
  def stagedShingleDf(s: SparkSession, dir: String): DataFrame =
    Staged(s, s"$dir|shingledf")(
      stagedShingles(s, dir).groupBy("shingle").agg(count(lit(1)).as("df")))
  /** Exact slot volume of the COLLAPSED staging build's rare self-join
    * WITHOUT running it: Σ over full-corpus-rare (df <= cap) shingles of
    * df_r·(df_r-1)/2, where df_r is the shingle's document frequency over
    * exact-dup REPRESENTATIVES — the quadratic work the collapsed build
    * actually performs. The old full-df form of this bound tripped the
    * budget at 100x (1.39e10) even though the collapsed build's work was
    * ~1.4e6 slots: on a replicated corpus the full-df slot count grows
    * ~dup² while the rep-level work it is supposed to guard stays
    * constant. The full-df quantity is still an upper bound on the
    * EXPANDED artifact's row count, but that expansion is a streamed
    * shuffle-to-parquet write (disk-scale, linear per row), not the heap-
    * or work-cliff this budget exists to catch. Rarity stays full-corpus
    * (df <= cap over the FULL df table) so the guard budgets exactly the
    * shingles the build self-joins. Two staged-table aggregates, no pair
    * is ever generated. */
  private def cappedVolumeBound(sh: DataFrame, dfTab: DataFrame,
                                shR: DataFrame): DataFrame = {
    val cap = propCap(sh)
    val dfR = shR.groupBy("shingle").agg(count(lit(1)).as("df_r"))
    dfTab.join(dfR, Seq("shingle"))
      .crossJoin(broadcast(cap))
      .agg(coalesce(sum(when(col("df") <= col("cap"),
        expr("(df_r * (df_r - 1)) div 2")).otherwise(0L)), lit(0L)).as("pair_est"))
  }
  /** One budget: its conf key, default, what the 1-row estimate
    * measures, and where to go instead when it is exceeded. */
  private final case class Budget(key: String, default: Long, volume: String, advice: String)

  /** WORK budget for the capped staging build — the intermediate twin of
    * [[PairBudget]] (which bounds OUTPUT cardinality, not join
    * memory/work — the round-9 30x OOM hit the intermediate, which an
    * output budget cannot see). The rare self-join's slot volume is
    * known exactly from the df table before any pair is generated; past
    * `graft.stage.budget` (default 10^10 — a time bound, not a heap
    * bound, now that the slot stream is map-side-combined and
    * spillable) the staging build raise_errors and points at the
    * lossless prefix path, whose candidate volume does not carry the
    * df² factor. */
  private val StageBudget = Budget("graft.stage.budget", 10000000000L,
    "staging self-join work volume",
    "use the lossless prefix path (dedup_ngram_jaccard_prefix) or raise the budget")

  /** Output-cardinality guard for the PAIR-EMITTING diagnostics
    * (`dedup_simhash_pairs`, `dedup_containment`). Their output is
    * Θ(dup²) on k-way duplicate cliques — fine as small-corpus
    * diagnostics, an output bottleneck on a re-crawl-shaped 100 TB
    * corpus — and each has an O(docs) supersession
    * (`dedup_simhash_clusters`, `dedup_containment_topk`). The guard
    * makes the pair forms impossible to run BLIND at scale: a cheap
    * pre-aggregate estimates the pair cardinality, and the query
    * raise_errors when the estimate exceeds `graft.pairs.budget`
    * (default 10⁹). Deliberately an explicit escape hatch: an operator
    * who has sized the run raises the budget in one conf. Within budget
    * the guarded DataFrame passes through untouched, so shipped-SF
    * oracles are unchanged.
    *
    * SCOPE: this bounds the OUTPUT cardinality only — it cannot see the
    * memory/work of the joins that PRODUCE the pairs (the round-9 30x
    * OOM was an intermediate, hit before any output row existed).
    * Intermediate volume is guarded separately at its source:
    * [[StageBudget]] on the capped staging build. */
  private val PairBudget = Budget("graft.pairs.budget", 1000000000L,
    "estimated pair output",
    "use the O(docs) twin (dedup_simhash_clusters / dedup_containment_topk) or raise the budget")

  /** Refuse `out` when the 1-row `est` (column `pair_est`) exceeds the
    * budget `b`; otherwise return `out` untouched. */
  private def withBudget(b: Budget, out: DataFrame, est: DataFrame, what: String): DataFrame = {
    val budget = out.sparkSession.conf.get(b.key, b.default.toString).toLong
    // The guard is evaluated EAGERLY on the 1-row estimate (a bounded
    // driver-side head(), the allowed pattern) BEFORE the guarded plan
    // is ever scheduled. The earlier in-plan form — raise_error wired
    // into the output projection — only fired once the guarded plan
    // produced its first output row, i.e. AFTER the map stage had
    // already performed the work the budget exists to refuse (it looked
    // preemptive in the 100x soak only because the collapsed rep-level
    // join there was tiny). raise_error on the estimate row keeps the
    // exception class and message identical to the in-plan form.
    est.select(
      when(col("pair_est") <= budget, col("pair_est"))
        .otherwise(raise_error(concat(
          lit(s"$what: ${b.volume} "), col("pair_est").cast("string"),
          lit(s" exceeds ${b.key}=$budget - ${b.advice}")))
          .cast("long"))).head(): Unit
    out
  }
  /** LSH candidate pairs staged per band shape: the tuning sweep consumes
    * each config's candidate set twice (candidate count + exact verify) and
    * the shipped 4×4 set is ALSO consumed by dedup_minhash_lsh and
    * dedup_minhash_est — unstaged, every reference re-ran the band
    * self-join + distinct. At cluster scale this is the "write the
    * candidate list before verification" step every LSH pipeline has. */
  def stagedLshCandidates(s: SparkSession, dir: String, b: Int, r: Int): DataFrame =
    Staged(s, s"$dir|lshcand|${b}x$r")(
      bandPairs(lshBandsCfg(stagedMinhashSigs(s, dir), b, r)))
  /** REP-LEVEL LSH candidate pairs for the tuning sweep: the band
    * self-join runs over one signature per distinct text (identical
    * texts hash to identical signatures, so the doc-level candidate set
    * is exactly this set expanded through the member map — the tuning
    * query does that expansion analytically on group sizes). Staged:
    * each config's rep pairs feed both the candidate count and the
    * exact verify. Rep-level minhash sigs are staged beneath it, shared
    * across the three configs. Columns (doc_a, doc_b) hold rep ids. */
  def stagedLshCandidatesReps(s: SparkSession, dir: String, b: Int, r: Int): DataFrame =
    Staged(s, s"$dir|lshcandR|${b}x$r") {
      val sigsR = Staged(s, s"$dir|minhashR")(
        minhashSignature(stagedShinglesReps(s, dir)))
      bandPairs(lshBandsCfg(sigsR, b, r))
    }

  /** The LSH band self-join: distinct (doc_a, doc_b), doc_a < doc_b, of
    * the ids in `bands` (doc_id, band, sig) that agree on any whole
    * band. */
  private def bandPairs(bands: DataFrame): DataFrame =
    bands.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()

  /** Distinct (doc_id, winnow fingerprint) pairs — K=8 char grams, W=16
    * window minima (the doc_winnow_fingerprints derivation). Staged:
    * the per-doc profile reads it once, the cross-doc pair join twice. */
  def stagedWinnowFps(s: SparkSession, dir: String): DataFrame =
    Staged(s, s"$dir|winnowfps")(winnowFpsRowLocal(docsParallel(s, dir)))

  /** ROW-LOCAL winnowing (codegen kernel): the window rendition (kept
    * in LlmOpsSpec as the equivalence reference) shuffled up to 8,192
    * rows per doc through a (doc_id, pos) window sort for a per-doc pure
    * function. One narrow projection now. */
  private[graft] def winnowFpsRowLocal(docs: DataFrame): DataFrame = {
    val K = 8; val W = 16
    docs
      .filter(length(col("text")) >= K + W - 1)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints(col("text"), K, W)).as("fp"))
  }

  /** Substring-window fingerprints staged: dedup_substring_spans
    * references the grams table twice (corpus-wide occ groupBy + the
    * probe side of the join back), and the up-to-8192-windows-per-doc
    * explode + hash60 pipeline is the query's dominant cost — unstaged
    * it ran twice. */
  def stagedGrams(s: SparkSession, dir: String): DataFrame =
    Staged(s, s"$dir|grams|$SubstrLen") {
      val L = SubstrLen
      // 8192-position fan-out cap — NOT silent: corpus_cap_report counts
      // the docs and positions it truncates, and every consumer's oracle
      // replays the same cap. The per-position hashes come from the
      // row-local GramHashes kernel (byte ranges of one byte array per
      // doc, each through the one md5-60 routine that hash60 also uses)
      // instead of explode(sequence) + a per-row hash60(substring(..)),
      // which paid a generated row and a substring allocation per
      // position — same values, same row multiset, the explode fans out
      // ready-made longs (LlmOpsSpec pins kernel ≡ expression rendition).
      docsParallel(s, dir)
        .filter(length(col("text")) >= L)
        .select(col("doc_id"),
          explode(graft.functions.GramHashes(col("text"), L, 8192)).as("hg"))
    }

  /** Upper bound on the banded simhash pair count WITHOUT running the
    * pair join: Σ over (band, value) buckets of n·(n-1)/2 — the
    * candidate pairs the band equi-join would enumerate (true output is
    * the hamming≤3 subset). One narrow aggregate over the staged
    * fingerprints. */
  private def simhashPairBound(s: SparkSession, dir: String): DataFrame =
    fpBands(simhashFp(s, dir), 8)
      .groupBy("b", "sig").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("(n * (n - 1)) div 2")), lit(0L)).as("pair_est"))

  /** J ≥ 0.5 pairs from the rep-level staged artifact: score + threshold
    * at rep level, expansion after — shared by dedup_ngram_jaccard and
    * its _capped alias. */
  private def cappedJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val qual = stagedCappedSharedReps(s, dir)
      .select(col("ra").as("doc_a"), col("rb").as("doc_b"),
        round(col("shared").cast("double") /
          (col("ca") + col("cb") - col("shared")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    // doc-level path: the staged artifact is already doc-granular (the
    // self-join ran over the FULL index, so within-dup-group pairs
    // emerged from the join itself) — no expansion, no rep-stats staging
    if (docLevelPath(s, dir)) qual.orderBy("doc_a", "doc_b")
    else expandQualified(qual, exactRepMap(s, dir),
        // within-group pairs are candidates iff the text has >= 1 rare
        // shingle, the uncollapsed candidacy rule
        stagedRepStats(s, dir).filter(col("has_rare") && col("n_mem") >= 2)
          .select(col("rep"), lit(1.0).as("jaccard")))
      .orderBy("doc_a", "doc_b")
  }

  /** Directed rep-level containment pairs past the 0.8 threshold —
    * shared by dedup_containment and _topk. The quotient stays the raw
    * IEEE division (bit-identical cross-engine). */
  private def containmentQualified(s: SparkSession, dir: String): DataFrame = {
    val reps = stagedCappedSharedReps(s, dir)
    val fwd = reps.select(col("ra").as("sra"), col("rb").as("srb"),
      (col("shared").cast("double") / col("ca").cast("double")).as("containment"))
    val rev = reps.select(col("rb").as("sra"), col("ra").as("srb"),
      (col("shared").cast("double") / col("cb").cast("double")).as("containment"))
    fwd.union(rev).filter(col("containment") >= 0.8)
  }

  /** CONSTRUCTION-TIME SIDE EFFECT: the budget-guarded queries here
    * (capped staging consumers, the pair-emitting diagnostics) evaluate
    * their 1-row cost estimate and read `graft.stage.budget` /
    * `graft.pairs.budget` EAGERLY when the DataFrame is BUILT — a caller
    * that only constructs the plan (explain, schema check) pays the
    * estimate job, and a budget conf change after construction is not
    * seen at execution. Deliberate: the guard must refuse BEFORE the
    * guarded join is ever scheduled (an in-plan raise_error cannot fire
    * until the work it exists to refuse has produced a row). Set budget
    * confs before calling into this map. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup via content fingerprint: representative (min doc_id)
    // + copy count per distinct content.
    "dedup_exact" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
        .orderBy("fingerprint")),

    // EDIT-DISTANCE ENTITY RESOLUTION — the fuzzy-match family the
    // token-set methods (jaccard/minhash/simhash) don't cover: on SHORT
    // strings (names, titles, SKUs) a one-character typo wrecks the
    // shingle set, and Levenshtein is the standard metric. The decisive
    // move is DICTIONARY COMPRESSION before any pairing: entity columns
    // are heavy-tailed (20k parts here share 64 names; a 100 TB product
    // catalog repeats titles millions of times), so the quadratic stage
    // runs on DISTINCT (block, name) groups — 43k candidate name pairs
    // instead of 6.9M row pairs at sf0.1 — and the exact row-pair census
    // reconstructs from group counts and key sums: a cross-name group
    // pair (cA,sA)×(cB,sB) yields cA·cB pairs summing cB·sA + cA·sB,
    // and a c-row same-name group yields c(c−1)/2 zero-distance pairs
    // summing (c−1)·s. Brand stays the blocking key (candidates ∝
    // Σ block², never N²), the cheap |len(a)−len(b)| ≤ thr necessary
    // condition prunes before the kernel, and the kernel is the
    // THRESHOLDED Levenshtein — the banded O(thr·len) DP, not the full
    // O(len²) matrix. Output ≤ |brands|·(thr+1) rows at any scale.
    "dedup_fuzzy_names" -> ((s, dir) => {
      val thr = 2
      val g = Tables.part(s, dir)
        .groupBy(col("p_brand"), col("p_name"))
        .agg(count(lit(1)).as("c"), sum(col("p_partkey")).as("sk"))
      val a = g.select(col("p_brand"), col("p_name").as("name_a"),
        col("c").as("ca"), col("sk").as("sa"))
      val b = g.select(col("p_brand"), col("p_name").as("name_b"),
        col("c").as("cb"), col("sk").as("sb"))
      val cross = a.join(b, Seq("p_brand"))
        .filter(col("name_a") < col("name_b") &&
          abs(length(col("name_a")) - length(col("name_b"))) <= thr)
        .withColumn("dist", levenshtein(col("name_a"), col("name_b"), thr))
        .filter(col("dist") >= 0) // −1 = banded DP proved dist > thr
        .select(col("p_brand"), col("dist"),
          (col("ca") * col("cb")).as("n_pairs"),
          (col("cb") * col("sa") + col("ca") * col("sb")).as("key_sum"))
      val same = g.filter(col("c") > 1)
        .select(col("p_brand"), lit(0).as("dist"),
          expr("c * (c - 1) DIV 2").as("n_pairs"),
          ((col("c") - 1) * col("sk")).as("key_sum"))
      cross.unionByName(same)
        .groupBy("p_brand", "dist")
        .agg(sum(col("n_pairs")).as("n_pairs"), sum(col("key_sum")).as("key_sum"))
        .orderBy("p_brand", "dist")
    }),

    // Bloom-gated EXACT ingest dedup (graft.functions.Bloom): the
    // corpus's fingerprint set folds into a persisted fixed-size filter;
    // an ingest batch probes it AT THE SCAN — definitely-new docs pass
    // through with no join at all (the common case: most of a fresh
    // crawl is new), and only possible members (true dups + fpp false
    // positives) take the exact anti-join against the corpus. No false
    // negatives → the union of both paths is exactly the batch-minus-
    // corpus set, so the oracle is the plain NOT EXISTS. At 100 TB the
    // corpus is touched only to build/refresh the ~MB filter artifact;
    // steady-state ingest cost is proportional to the BATCH.
    "dedup_bloom_ingest" -> ((s, dir) => {
      val batchSrcs = Seq("src16", "src17", "src18", "src19")
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(!col("source").isin(batchSrcs: _*))
        .select(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      val batch = docs.filter(col("source").isin(batchSrcs: _*))
        .select(col("doc_id"), col("source"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      val bloom = graft.functions.Bloom.memoBytes(
        s, s"$dir|corpusfp", corpus, col("fingerprint"), 1L << 17)
      val definitelyNew = batch.filter(!graft.functions.Bloom.mightContain(bloom, col("fingerprint")))
      val confirmedNew = batch.filter(graft.functions.Bloom.mightContain(bloom, col("fingerprint")))
        .join(corpus, Seq("fingerprint"), "left_anti")
      definitelyNew.unionByName(confirmedNew)
        .select("doc_id", "source").orderBy("doc_id")
    }),

    // Inverted-index n-gram Jaccard near-dup pairs (threshold 0.5),
    // SHIPPED via the df-capped candidate path: stop-shingles (document
    // frequency > the corpus-proportional cap, greatest(64, ⌈n/200⌉) —
    // see propCap) are dropped before the self-join — a df-f bucket
    // emits O(f²) pairs, so one boilerplate sentence shared by most of
    // a 100 TB corpus would otherwise make a df≈N bucket → N² pairs in
    // one task — then survivors are scored on their FULL shingle sets.
    // A true near-dup pair (J ≥ 0.5) shares many shingles and is
    // recovered as long as any one of them is rare; LlmOpsSpec asserts
    // pair-for-pair equality with the uncapped formulation
    // (sharedCounts), and the DuckDB oracle replays the SAME df-capped
    // candidate generation so the gate checks the shipped semantics.
    "dedup_ngram_jaccard" -> ((s, dir) => cappedJaccardPairs(s, dir)),

    // Duplicate-cluster resolution: connected components over the exact
    // near-dup pair graph (J >= 0.5), labeling every involved doc with
    // the smallest doc_id in its cluster — the canonical representative
    // a dedup pipeline keeps. Runs with EXACT-DUP COLLAPSE (see
    // collapsedClusters): CC over one representative per distinct text,
    // labels fanned back through the exact-dup map — the round-8 10×
    // soak measured the uncollapsed edge staging at 47.8 s, dominated
    // by k² self-join work inside planted k-way exact cliques. Oracle:
    // DuckDB recursive CTE reachability over the FULL pair graph —
    // unchanged, which is the proof the collapse preserves labels.
    "dedup_clusters" -> ((s, dir) =>
      textClusters(s, dir, components(_)).orderBy("doc_id")),

    // Same clusters via the O(log²n)-round large-star/small-star
    // rewriting at every size (see star) — the deep-graph scale path,
    // gate-checked against the identical recursive-CTE oracle so the
    // distributed algorithm cannot drift while the size gate keeps the
    // other CC queries in one task.
    "dedup_clusters_star" -> ((s, dir) =>
      textClusters(s, dir, star(_)._1).orderBy("doc_id")),

    // The decision a dedup pipeline actually ships: one row per corpus
    // document with its cluster and a keep/drop verdict (keep = the
    // cluster's min doc_id; singletons keep themselves). Candidates →
    // verify → cluster → keep-list, end to end.
    "dedup_keep_canonical" -> ((s, dir) =>
      keepCanonical(Tables.documents(s, dir), textClusters(s, dir, components(_)))
        .orderBy("doc_id")),

    // Same result as dedup_ngram_jaccard, via the 100 TB candidate path:
    // drop stop-shingles (df > greatest(64, ⌈n/200⌉)) from the inverted
    // index BEFORE the self-join — a df-f bucket emits O(df²) pairs, so
    // unbounded df is the operator's scale cliff — then verify the
    // surviving candidates with exact Jaccard over the FULL shingle
    // sets. A true near-dup pair (J ≥ 0.5) shares many shingles; it is
    // recovered as long as any one of them is rare, so the cap changes
    // candidates only, not reported pairs (spec + oracle assert
    // equality with the uncapped query).
    "dedup_ngram_jaccard_capped" -> ((s, dir) => cappedJaccardPairs(s, dir)),

    // Same reported pairs again via lossless prefix filtering — no df
    // cap needed; candidates are MANY at t=0.5 (the prefix holds half of
    // each doc's shingles), so verification is the two-tier hashed
    // screen + exact confirm rather than straight string-set intersects.
    // Runs with EXACT-DUP COLLAPSE (round-10): the whole prefix
    // pipeline — ranks, prefixes, candidate self-join, tiered verify —
    // operates on ONE representative per distinct text, and scored rep
    // pairs expand back through the (doc_id, rep) map (cross-group
    // pairs inherit the rep score — identical texts have identical
    // shingle sets; within-group pairs are J = 1 exactly, provided the
    // text has >= 1 shingle). On the 30x soak corpus the uncollapsed
    // verify shipped per-doc hashed sets for ~9x the 10x candidate
    // volume and timed out at 600 s; collapsed, the verify work is the
    // distinct-text problem and only the Θ(dup²) OUTPUT expansion
    // scales with duplication — which the oracle (unchanged) proves
    // pair-for-pair.
    "dedup_ngram_jaccard_prefix" -> ((s, dir) => {
      val t = 0.5
      val shR = stagedShinglesReps(s, dir)
      val candR = Staged(s, s"$dir|prefixcandR|$t|${pathTag(s, dir)}")(
        pairsSharing(prefixes(shR, t), t).distinct())
      val repPairs = jaccardBySetsTiered(candR, shR, t)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .filter(col("jaccard") >= t)
      // doc-level path: the prefix pipeline ran over the FULL index, so
      // repPairs ARE the doc pairs (dup pairs verified at J = 1 by the
      // tiered verify itself) — no expansion
      if (docLevelPath(s, dir)) repPairs.orderBy("doc_a", "doc_b")
      // within-group pairs: reps with >= 1 shingle (shingle-less texts
      // have no pairs in the uncollapsed formulation either)
      else expandQualified(repPairs, exactRepMap(s, dir),
          shR.select("doc_id").distinct().select(col("doc_id").as("rep"), lit(1.0).as("jaccard")))
        .orderBy("doc_a", "doc_b")
    }),

    // MinHash + LSH candidates, verified with exact Jaccard ≥ 0.5.
    "dedup_minhash_lsh" -> ((s, dir) => {
      val sh = stagedShingles(s, dir)
      val cand = stagedLshCandidates(s, dir, Bands, Rows)
      jaccardBySets(cand, sh)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // LSH TUNING CURVE — the sweep an operator runs before committing a
    // band shape: the same 16 min-hashes tiled as 2×8 / 4×4 / 8×2,
    // reporting each configuration's candidate volume (its cost) and
    // verified J ≥ 0.5 pairs (its recall). More, narrower bands = more
    // candidates + higher recall; the curve makes the trade-off a
    // measurement instead of folklore.
    //
    // EXACT-DUP COLLAPSE, counts pushed through the expansion: identical
    // texts have identical minhash signatures, so (a) every pair inside
    // an exact-dup group with ≥ 1 shingle co-occurs in EVERY band bucket
    // (always a candidate, J = 1 always verified), and (b) a cross-group
    // doc pair is a candidate iff its two REPRESENTATIVES share a bucket,
    // with J equal to the rep pair's. Both counts therefore expand
    // analytically — Σ C(n_mem, 2) within, Σ na·nb over qualifying rep
    // pairs across — and the band self-joins + exact verifies run on one
    // representative per distinct text. On a 10-way-replicated 10×
    // corpus the doc-level sweep verified ~870 k array-carrying pairs of
    // which ~90% were within-group J = 1 trivia; rep level verifies only
    // the distinct-text pairs. Output is row-identical to the doc-level
    // sweep (the DuckDB oracle still replays doc level).
    "dedup_lsh_tuning" -> ((s, dir) =>
      if (docLevelPath(s, dir)) {
        // doc-level path: count candidates and verified pairs directly —
        // the analytic expansion (Σ C(n_mem,2) + Σ na·nb) exists only to
        // avoid enumerating dup-group pairs, and with the gate's pair
        // mass ≤ max(64, n/100) enumerating them is cheaper than the
        // rep-stats staging it would replace. NOTE the rep-level branch
        // below must NOT run with a doc-level shR: its candidate pairs
        // would carry non-rep doc ids and the stats join on ra/rb would
        // silently drop them.
        val sh = stagedShingles(s, dir)
        Seq((2, 8), (4, 4), (8, 2)).map { case (b, r) =>
          val cand = stagedLshCandidates(s, dir, b, r)
          val candN = cand.agg(count(lit(1)).as("c"))
          val verN = jaccardBySets(cand, sh)
            .filter(col("jaccard") >= 0.5).agg(count(lit(1)).as("v"))
          candN.crossJoin(verN)
            .select(lit(s"${b}x$r").as("config"),
              col("c").as("n_candidates"), col("v").as("n_verified"))
        }.reduce(_ unionByName _).orderBy("config")
      } else {
      val shR = stagedShinglesReps(s, dir)
      val stats = stagedRepStats(s, dir)
      // groups that own ≥ 1 shingle: only they have signatures at all
      val withSh = shR.select(col("doc_id").as("rep")).distinct()
      val within = stats.join(withSh, "rep")
        .agg(coalesce(sum(expr("(n_mem * (n_mem - 1)) div 2")), lit(0L)).as("w"))
      Seq((2, 8), (4, 4), (8, 2)).map { case (b, r) =>
        val candR = stagedLshCandidatesReps(s, dir, b, r)
        val na = stats.select(col("rep").as("ra"), col("n_mem").as("na"))
        val nb = stats.select(col("rep").as("rb"), col("n_mem").as("nb"))
        // doc pairs behind rep pairs (doc_a, doc_b): Σ na·nb
        def docPairs(repPairs: DataFrame, alias: String): DataFrame = repPairs
          .select(col("doc_a").as("ra"), col("doc_b").as("rb"))
          .join(na, "ra").join(nb, "rb")
          .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as(alias))
        val candN = docPairs(candR, "c")
        val verN = docPairs(
          jaccardBySets(candR, shR).filter(col("jaccard") >= 0.5), "v")
        within.crossJoin(candN).crossJoin(verN)
          .select(lit(s"${b}x$r").as("config"),
            (col("w") + col("c")).as("n_candidates"),
            (col("w") + col("v")).as("n_verified"))
      }.reduce(_ unionByName _).orderBy("config")
      }),

    // Estimator calibration — MinHash agreement (the estimate an LSH
    // pipeline ranks by) side by side with exact Jaccard for every LSH
    // candidate pair that shares a shingle: E[agreement/16] = J, and
    // seeing both columns is how an operator picks signature width and
    // band shape for a target corpus. All inputs staged; the only new
    // work is one 16-column comparison per candidate.
    "dedup_minhash_est" -> ((s, dir) => {
      val sh = stagedShingles(s, dir)
      val sigs = stagedMinhashSigs(s, dir)
      val cand = stagedLshCandidates(s, dir, Bands, Rows)
      val sa = sigs.select(col("doc_id").as("doc_a") +:
        (0 until NumHashes).map(i => col(s"h$i").as(s"a$i")): _*)
      val sb = sigs.select(col("doc_id").as("doc_b") +:
        (0 until NumHashes).map(i => col(s"h$i").as(s"b$i")): _*)
      val agree = (0 until NumHashes)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      val est = cand.join(sa, "doc_a").join(sb, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          round(agree.cast("double") / NumHashes, 6).as("est_jaccard"))
      est.join(jaccardBySets(cand, sh)
          .filter(col("jaccard") > 0)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard")),
        Seq("doc_a", "doc_b"))
        .orderBy("doc_a", "doc_b")
    }),

    // Asymmetric CONTAINMENT dedup: C(a ⊆ b) = |A∩B| / |A| — catches a
    // doc whose shingles are mostly inside a LARGER doc (quote blocks,
    // boilerplate wrappers, truncated re-crawls), which symmetric
    // Jaccard misses because the big doc's size dilutes the union. One
    // inverted-index self-join produces the shared counts for both
    // directions at once; each unordered pair then emits up to two
    // ordered (src contained-in dst) rows.
    // Shipped via the same df-capped candidate generation as
    // dedup_ngram_jaccard (the uncapped inverted-index self-join has
    // the identical O(Σ df²) cliff); scores still come from FULL
    // shingle sets. A containment ≥ 0.8 pair shares ≥ 80% of the
    // smaller doc's shingles, so it survives the cap whenever any one
    // of those is rare — LlmOpsSpec asserts equality with the uncapped
    // formulation, and the oracle replays the same capped candidates.
    "dedup_containment" -> ((s, dir) => {
      val qual = containmentQualified(s, dir)
      if (docLevelPath(s, dir)) {
        // doc-level path: the directed pairs are already doc-granular;
        // the budget estimate degenerates to the qualifying-pair count
        // (one aggregate over the staged artifact — still evaluated
        // before the output is scheduled)
        val pairs = qual.select(col("sra").as("src_doc"),
            col("srb").as("dst_doc"), col("containment"))
          .orderBy("src_doc", "dst_doc")
        withBudget(PairBudget, pairs,
          qual.agg(count(lit(1)).as("pair_est")), "dedup_containment")
      } else {
        val mem = exactRepMap(s, dir)
        val stats = stagedRepStats(s, dir)
        // threshold applied at REP level (the quotient is set-determined,
        // so it commutes with exact-dup expansion); only qualifying
        // directed pairs fan out through the member map
        val cross = qual
          .join(mem.select(col("rep").as("sra"), col("doc_id").as("src_doc")), "sra")
          .join(mem.select(col("rep").as("srb"), col("doc_id").as("dst_doc")), "srb")
          .select(col("src_doc"), col("dst_doc"), col("containment"))
        val within = mem
          .join(stats.filter(col("has_rare")).select("rep"), Seq("rep"), "left_semi")
          .select(col("rep"), col("doc_id").as("src_doc"))
          .join(mem.select(col("rep"), col("doc_id").as("dst_doc")), "rep")
          .filter(col("src_doc") =!= col("dst_doc"))
          .select(col("src_doc"), col("dst_doc"), lit(1.0).as("containment"))
        val pairs = cross.unionByName(within).orderBy("src_doc", "dst_doc")
        // budget guard computed ENTIRELY at rep granularity: Σ qualifying
        // directed rep pairs × |A|·|B| plus the within-group n·(n−1) —
        // never runs the expansion it is guarding
        val crossEst = qual
          .join(stats.select(col("rep").as("sra"), col("n_mem").as("na")), "sra")
          .join(stats.select(col("rep").as("srb"), col("n_mem").as("nb")), "srb")
          .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("ce"))
        val withinEst = stats.filter(col("has_rare"))
          .agg(coalesce(sum(col("n_mem") * (col("n_mem") - 1)), lit(0L)).as("we"))
        withBudget(PairBudget, pairs,
          crossEst.crossJoin(withinEst).select((col("ce") + col("we")).as("pair_est")),
          "dedup_containment")
      }
    }),

    // Containment with BOUNDED emission — the re-crawl-shaped-corpus
    // form (the O(docs) counterpart dedup_simhash_clusters provides for
    // the symmetric family): a doc sitting inside a k-way duplicate
    // clique is contained in all k-1 others, so the raw pair stream is
    // Θ(dup²); keeping each src_doc's top-K containing partners caps
    // output at K rows per doc no matter how dense the duplication.
    // The rank window partitions on src_doc, so Spark's map-side
    // WindowGroupLimit keeps a running top-K per task BEFORE the
    // shuffle — the exchange carries O(K·partitions) rows. Ties break
    // on dst_doc; containment is the same raw IEEE quotient as above
    // (bit-identical cross-engine, so the ordering replays too).
    "dedup_containment_topk" -> ((s, dir) => {
      val K = 3
      if (docLevelPath(s, dir)) {
        // doc-level path: rank directly over the (already doc-granular)
        // directed pairs — the level-cut machinery exists only to decide
        // the cut without expanding groups, and nothing needs expanding
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("src_doc").orderBy(desc("containment"), col("dst_doc"))
        containmentQualified(s, dir)
          .select(col("sra").as("src_doc"), col("srb").as("dst_doc"),
            col("containment"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= K)
          .select(col("src_doc"), col("rk"), col("dst_doc"), col("containment"))
          .orderBy("src_doc", "rk")
      } else {
      val mem = exactRepMap(s, dir)
      val stats = stagedRepStats(s, dir)
      // every member of a group sees the SAME candidate score multiset
      // (within-group partners: n_mem − 1 docs at containment 1.0;
      // cross-group: every member of B at the rep pair's quotient), so
      // the top-K cut can be decided at rep granularity and only the
      // surviving levels expanded
      val qual = containmentQualified(s, dir)
        .join(stats.select(col("rep").as("srb"), col("n_mem").as("nb")), "srb")
        .select(col("sra"), col("srb"), col("containment"), col("nb"))
        .unionByName(stats.filter(col("has_rare") && col("n_mem") >= 2)
          .select(col("rep").as("sra"), col("rep").as("srb"),
            lit(1.0).as("containment"), (col("n_mem") - 1).as("nb")))
      // keep a containment level iff fewer than K candidates sit at
      // STRICTLY higher levels — anything below can never enter a
      // member's top-K (ties at the cut break on dst_doc post-expansion)
      val lvl = qual.groupBy("sra", "containment").agg(sum("nb").as("lvl_n"))
      val wLvl = org.apache.spark.sql.expressions.Window
        .partitionBy("sra").orderBy(desc("containment"))
      val keep = lvl.withColumn("cum", sum("lvl_n").over(wLvl))
        .filter(col("cum") - col("lvl_n") < K)
        .select("sra", "containment")
      val expanded = qual.join(keep, Seq("sra", "containment"), "left_semi")
        .join(mem.select(col("rep").as("sra"), col("doc_id").as("src_doc")), "sra")
        .join(mem.select(col("rep").as("srb"), col("doc_id").as("dst_doc")), "srb")
        .filter(col("src_doc") =!= col("dst_doc"))
        .select(col("src_doc"), col("dst_doc"), col("containment"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src_doc").orderBy(desc("containment"), col("dst_doc"))
      expanded
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("src_doc"), col("rk"), col("dst_doc"), col("containment"))
        .orderBy("src_doc", "rk")
      }
    }),

    // Cross-source duplication matrix: near-dup pairs (J >= 0.5, df-capped
    // candidates) rolled up by unordered source pair — the contamination
    // audit a multi-source corpus runs to find which feeds overlap (and
    // how much a "new" source merely re-crawls an existing one). Reads
    // the staged shared-count artifact, so the marginal cost is one
    // 5-column join against the (tiny, broadcast) doc→source map.
    "dedup_cross_source" -> ((s, dir) => {
      // aggregation pushed THROUGH the dup expansion: a qualifying rep
      // pair (A, B) contributes cnt_A(s)·cnt_B(s') doc pairs to source
      // pair (s, s'), and a group's internal pairs contribute the
      // source-histogram combinations — so the rollup never materializes
      // a doc-level pair at all; work is rep pairs × source fan-out
      val reps = stagedCappedSharedReps(s, dir)
      val qual = reps
        .filter(col("shared").cast("double") /
          (col("ca") + col("cb") - col("shared")).cast("double") >= 0.5)
        .select(col("ra"), col("rb"))
      val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      if (docLevelPath(s, dir)) {
        // doc-level path: qualifying pairs are doc pairs — roll them up
        // against the doc→source map directly
        qual
          .join(src.select(col("doc_id").as("ra"), col("source").as("sa")), "ra")
          .join(src.select(col("doc_id").as("rb"), col("source").as("sb")), "rb")
          .select(least(col("sa"), col("sb")).as("src_lo"),
            greatest(col("sa"), col("sb")).as("src_hi"))
          .groupBy("src_lo", "src_hi").agg(count(lit(1)).as("dup_pairs"))
          .orderBy("src_lo", "src_hi")
      } else {
      val grpSrc = exactRepMap(s, dir).join(src, "doc_id")
        .groupBy(col("rep"), col("source")).agg(count(lit(1)).as("cnt"))
      val cross = qual
        .join(grpSrc.select(col("rep").as("ra"), col("source").as("sa"),
          col("cnt").as("na")), "ra")
        .join(grpSrc.select(col("rep").as("rb"), col("source").as("sb"),
          col("cnt").as("nb")), "rb")
        .select(least(col("sa"), col("sb")).as("src_lo"),
          greatest(col("sa"), col("sb")).as("src_hi"),
          (col("na") * col("nb")).as("pairs"))
      val withinBase = grpSrc.join(
        stagedRepStats(s, dir).filter(col("has_rare") && col("n_mem") >= 2)
          .select("rep"), Seq("rep"), "left_semi")
      val within = withinBase
        .select(col("rep"), col("source").as("sa"), col("cnt").as("na"))
        .join(withinBase.select(col("rep"), col("source").as("sb"),
          col("cnt").as("nb")), "rep")
        .filter(col("sa") <= col("sb"))
        .select(col("sa").as("src_lo"), col("sb").as("src_hi"),
          when(col("sa") === col("sb"),
            (col("na") * (col("na") - 1) / 2).cast("long"))
            .otherwise(col("na") * col("nb")).as("pairs"))
        // a group's lone copy in a source pairs with no other copy there
        .filter(col("pairs") > 0)
      cross.unionByName(within)
        .groupBy("src_lo", "src_hi").agg(sum("pairs").as("dup_pairs"))
        .orderBy("src_lo", "src_hi")
      }
    }),

    // Shingle document-frequency histogram (log2 buckets) — the corpus
    // profile that JUSTIFIES the df-cap: bucket b holds shingles with
    // df in [2^(b-1), 2^b), and n_postings shows how much of the
    // inverted index (and hence O(Σ df²) candidate blowup) each bucket
    // carries. Buckets come from binary-string length — exact integer
    // log2 in both engines. Reads the staged shingle index; output is
    // bounded at ~60 rows regardless of corpus size.
    "doc_shingle_profile" -> ((s, dir) =>
      stagedShingles(s, dir)
        .groupBy("shingle").agg(count(lit(1)).as("df"))
        .groupBy(length(bin(col("df"))).cast("long").as("df_bucket"))
        .agg(count(lit(1)).as("n_shingles"), sum("df").as("n_postings"))
        .orderBy("df_bucket")),

    // Per-doc 32-bit simhash fingerprint.
    "dedup_simhash" -> ((s, dir) =>
      stagedSimhash(s, dir).orderBy("doc_id")),

    // Banded simhash near-dup pairs (see [[simhashPairs]] for the
    // pigeonhole band join + canonical-band emission). Exact integer
    // arithmetic end-to-end (bit_count of xor) — byte-identical across
    // engines. NOTE: pair output is Θ(dup²) on k-way duplicate cliques;
    // dedup_simhash_clusters below is the O(docs) form for
    // re-crawl-shaped corpora.
    "dedup_simhash_pairs" -> ((s, dir) =>
      withBudget(PairBudget, simhashPairs(s, dir).orderBy("doc_a", "doc_b"),
        simhashPairBound(s, dir), "dedup_simhash_pairs")),

    // The O(docs) resolution of the simhash graph — the shape that
    // SUPERSEDES the pair query on duplicate-heavy corpora: the pair
    // stream is Θ(dup²) on k-way cliques (a 10-way re-crawl clique
    // emits 45 pairs; the round-7 10× soak measured 8.53 M pairs from
    // planted cliques — a real re-crawl at 100 TB makes that the
    // operator's output bottleneck), while doc→cluster emits exactly
    // one row per involved doc no matter how dense the duplication.
    // Collapsed on identical fingerprints (see hammingClusters); same
    // recursive-reachability oracle as dedup_clusters.
    "dedup_simhash_clusters" -> ((s, dir) =>
      hammingClusters(simhashFp(s, dir), 8, 3).orderBy("doc_id")),

    // KMV (k-minimum-values) bottom-k sketch per document via the typed
    // BottomK Aggregator (UDAF surface of O14): one-pass set signature
    // whose overlap estimates Jaccard; partials merge in O(k).
    "doc_kmv_sketch" -> ((s, dir) => {
      val bottomk = udaf(graft.functions.BottomK(8))
      stagedShingles(s, dir)
        .select(col("doc_id"), hash60(col("shingle")).as("h"))
        .groupBy("doc_id")
        .agg(concat_ws(",", bottomk(col("h")).cast("array<string>")).as("sketch"))
        .orderBy("doc_id")
    }),

    // Duplicated-substring spans — the exact-substring dedup statistic
    // (how much of each document's raw text also appears elsewhere):
    // every 20-char window of every document is fingerprinted with
    // hash60, and a document's dup_spans counts windows whose
    // fingerprint occurs more than once corpus-wide (within-doc repeats
    // included — a repeated span is duplicated text wherever it lives).
    // Shape at scale: the window fan-out is bounded at 8192 positions
    // per doc, fingerprints (8-byte ints, never the 20-char strings)
    // take ONE groupBy for corpus-wide occurrence counts and one join
    // back — both on the 60-bit hash, which partitions uniformly. The
    // suffix-array formulation finds arbitrary-length spans; fixed-L
    // windowing is its standard distributed relaxation (any duplicated
    // run >= L chars is caught by its windows).
    "dedup_substring_spans" -> ((s, dir) => {
      val grams = stagedGrams(s, dir)
      // corpus occurrence count as a WINDOW over hg instead of the former
      // groupBy(hg)+join-back: the two were keyed identically, so the
      // aggregate-then-rejoin shape paid the hg exchange twice plus a
      // join for rows the window annotates in one pass (guide §2.4 —
      // operations keyed the same way share one exchange; plan: 3
      // Exchanges + SortMergeJoin → 2 Exchanges, no join)
      grams
        .withColumn("occ", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("hg")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("total_spans"),
          sum(when(col("occ") > 1, 1L).otherwise(0L)).as("dup_spans"))
        .select(col("doc_id"), col("total_spans"), col("dup_spans"),
          round(col("dup_spans").cast("double") / col("total_spans").cast("double"),
            6).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // Incremental (new-batch-vs-corpus) near-dup — the ingest-time shape
    // of MinHash dedup: the arriving batch (here the deterministic 20%
    // slice doc_id % 5 = 4) is checked against the existing corpus
    // WITHOUT re-pairing the corpus against itself. Band buckets join
    // old×new only, so steady-state ingest cost is proportional to the
    // batch, not the corpus; candidates verify on full shingle sets.
    "dedup_incremental_minhash" -> ((s, dir) => {
      val sh = stagedShingles(s, dir)
      val bands = lshBands(stagedMinhashSigs(s, dir))
      val old = bands.filter(col("doc_id") % 5 =!= 4)
        .select(col("doc_id").as("doc_a"), col("band"), col("sig"))
      val fresh = bands.filter(col("doc_id") % 5 === 4)
        .select(col("doc_id").as("doc_b"), col("band"), col("sig"))
      val cand = old.join(fresh, Seq("band", "sig"))
        .select("doc_a", "doc_b").distinct()
      jaccardBySets(cand, sh)
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a").as("old_doc"), col("doc_b").as("new_doc"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("old_doc", "new_doc")
    }),

    // Winnowing fingerprints (rolling-hash document fingerprinting):
    // hash every 8-char gram, keep the min of each 16-gram window,
    // dedupe — the classic local fingerprint set whose overlap detects
    // partial/contained duplication (robust where whole-doc hashing
    // fails). One narrow pass + a window over (doc, pos); linear at scale.
    "doc_winnow_fingerprints" -> ((s, dir) =>
      stagedWinnowFps(s, dir)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"), min("fp").as("min_fp"))
        .orderBy("doc_id")),

    // CROSS-DOCUMENT WINNOWING — the plagiarism / content-reuse detector
    // the per-doc fingerprint profile exists to feed (Schleimer et al.'s
    // MOSS shape): doc pairs sharing ≥ 10 winnow fingerprints have
    // verbatim 8-char fragments surviving the window minimum at ten
    // separate positions — fragment-level reuse the token-set dedups
    // (whole-doc similarity) and substring_spans (corpus-frequency,
    // not pairing) don't report. Same df-cap discipline as the shingle
    // index — boilerplate fingerprints are dropped before the
    // self-join, bounding every bucket's pair fan-out at scale — but
    // the cap is CORPUS-PROPORTIONAL, not absolute:
    // greatest(64, ceil(0.5% of docs)). The round-7 10x soak proved an
    // absolute 64 collapses recall to ZERO rows once the corpus's
    // duplication rate lifts every fingerprint's df past it (10-way
    // exact copies x base df >= 7); a fraction-of-corpus cap is what
    // MOSS-style winnowing actually means by "too common" and keeps
    // df<=cap buckets a vanishing share of N as N grows. The cap is a
    // 1-row aggregate broadcast in-plan (no driver fetch) and equals 64
    // at every shipped SF, so oracles are unchanged; the soak config
    // (50k docs -> cap 250) is where it engages.
    "dedup_winnow_pairs" -> ((s, dir) => {
      val fps = stagedWinnowFps(s, dir)
      val cap = propCap(fps)
      // Document frequency via groupBy + join-back, NOT a window over fp
      // (r13, reverting the r12 §2.4 rewrite): `count(*) over (partition
      // by fp)` buffers each fp's ENTIRE row group in one task before the
      // df<=cap filter can drop it, and boilerplate fingerprints have
      // df ~ O(corpus) — the 100x soak OOM'd exactly there
      // (UNABLE_TO_ACQUIRE_MEMORY in the window stage; see
      // OPTIMIZATION_r13.md §7), where the aggregate's map-side partial
      // combine keeps per-task state at one row per distinct fp. AQE
      // skew handling covers joins, never windows (guide §2.5), so the
      // aggregate shape is the only one that bounds the hot-key cost.
      // The join probe reuses the groupBy's fp hash partitioning, and
      // rare-fp groups are <= cap rows by construction, so the pair
      // self-join below stays skew-free. Local cost of the extra
      // exchange at sf0.1: ~0.1 s on a ~1.1 s row.
      val rareFps = fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(cap))
        .filter(col("df") <= col("cap"))
        .select("fp")
      val rare = fps.join(rareFps, "fp")
        .select("fp", "doc_id")
      rare.select(col("fp"), col("doc_id").as("doc_a"))
        .join(rare.select(col("fp"), col("doc_id").as("doc_b")), "fp")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_fp"))
        .filter(col("shared_fp") >= 10)
        .orderBy("doc_a", "doc_b")
    })
  )

  // --- oracle SQL (generated to stay in lockstep with the Scala) -------

  private[graft] val shingleCte =
    """sh AS (
      |  SELECT DISTINCT doc_id,
      |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |       (SELECT unnest(generate_series(1, 4096)) AS i)
      |  WHERE i + 2 <= len(ws))""".stripMargin

  /** DuckDB twin of hash60 (see [[graft.functions.PortableHash.sql]]). */
  private def hash60Sql(arg: String): String = graft.functions.PortableHash.sql(arg)

  /** Winnow fingerprint derivation shared by the per-doc profile and the
    * cross-doc pair oracle (twin of [[stagedWinnowFps]]). */
  private lazy val winnowCte =
    s"""grams AS (
       |  SELECT doc_id, i AS pos, length(text) - 7 AS ngrams,
       |         ${hash60Sql("substr(text, i, 8)")} AS h
       |  FROM documents, (SELECT unnest(generate_series(1, 8192)) AS i)
       |  WHERE length(text) >= 23 AND i <= length(text) - 7),
       |wins AS (
       |  SELECT doc_id, pos, ngrams,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
       |  FROM grams),
       |fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= ngrams - 15)""".stripMargin

  private val minhashCols = (0 until NumHashes)
    .map(i => s"min(${hash60Sql(s"'$i|' || shingle")}) AS h$i").mkString(", ")

  private val bandSigs = (0 until Bands)
    .map(b => s"md5(${(b * Rows until (b + 1) * Rows).map(i => s"CAST(h$i AS VARCHAR)").mkString(" || '|' || ")}) AS sig$b")
    .mkString(", ")

  private val simhashBitSums = (for { k <- 1 to 8; b <- 0 to 3 } yield {
    val idx = (k - 1) * 4 + b
    s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), $k, 1)) - 1) >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b_$idx"
  }).mkString(",\n         ")

  private val simhashValue = (0 until 32)
    .map(i => s"CASE WHEN b_$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
    .mkString(" + ")

  /** Uncapped exact-Jaccard oracle — the reference formulation. Used for
    * the LOSSLESS prefix path only; the df-capped queries replay the cap
    * in their own oracle (below) so the gate checks what actually ships:
    * a pair whose every shared shingle has df past the cap would be
    * dropped by Spark yet present in an uncapped oracle. */
  private val uncappedJaccardOracle: String =
    s"""WITH $shingleCte,
       |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       round(CAST(shared AS DOUBLE) / (ca.c + cb.c - shared), 6) AS jaccard
       |FROM shared JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE CAST(shared AS DOUBLE) / (ca.c + cb.c - shared) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB twin of [[cappedRepPairs]]' candidacy rule: candidate pairs
    * must share at least one shingle with document frequency <= the
    * corpus-proportional cap greatest(64, ceil(n_docs/200)) — integer
    * ceiling division, so both engines agree at any corpus size; scores
    * still come from FULL shingle sets (the cap prunes generation, not
    * the score). */
  private val cappedCandSql: String =
    """cap AS (SELECT greatest(64, (count(DISTINCT doc_id) + 199) // 200) AS cap FROM sh),
      |rare AS (SELECT shingle FROM sh GROUP BY 1
      |         HAVING count(*) <= (SELECT cap FROM cap)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN rare r ON a.shingle = r.shingle
      |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id)""".stripMargin

  // generalized band-signature SQL for one (bands × rows) tiling,
  // mirroring lshBandsCfg
  private def bandSigsCfg(bands: Int, rows: Int): String = (0 until bands)
    .map(b => s"md5(${(b * rows until (b + 1) * rows)
      .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || '|' || ")}) AS sig$b")
    .mkString(", ")

  // per-config CTE chain: candidates + count of verified J >= 0.5 pairs
  private def tuningCtes(name: String, bands: Int, rows: Int): String =
    s"""bands_$name AS (
       |  SELECT doc_id, b.band,
       |         CASE b.band ${(0 until bands).map(b => s"WHEN $b THEN sig$b").mkString(" ")} END AS sig
       |  FROM (SELECT doc_id, ${bandSigsCfg(bands, rows)} FROM sigs),
       |       (SELECT unnest(generate_series(0, ${bands - 1})) AS band) b),
       |cand_$name AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bands_$name l JOIN bands_$name r
       |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
       |ver_$name AS (
       |  SELECT count(*) AS n FROM (
       |    SELECT sc.doc_a, sc.doc_b, sc.shared, ca.c AS ca, cb.c AS cb FROM (
       |      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |      JOIN cand_$name c ON a.doc_id = c.doc_a AND b.doc_id = c.doc_b
       |      GROUP BY 1, 2) sc
       |    JOIN cnt ca ON sc.doc_a = ca.doc_id JOIN cnt cb ON sc.doc_b = cb.doc_id) t
       |  WHERE CAST(shared AS DOUBLE) / (ca + cb - shared) >= 0.5)""".stripMargin

  def oracles: Map[String, String] =
    baseOracles +
      ("dedup_ngram_jaccard_capped" -> baseOracles("dedup_ngram_jaccard")) +
      ("dedup_clusters_star" -> baseOracles("dedup_clusters")) +
      ("dedup_ngram_jaccard_prefix" -> uncappedJaccardOracle) +
      ("dedup_lsh_tuning" ->
        s"""WITH $shingleCte,
           |sigs AS (SELECT doc_id, $minhashCols FROM sh GROUP BY doc_id),
           |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
           |${tuningCtes("2x8", 2, 8)},
           |${tuningCtes("4x4", 4, 4)},
           |${tuningCtes("8x2", 8, 2)}
           |SELECT '2x8' AS config, (SELECT count(*) FROM cand_2x8) AS n_candidates,
           |       (SELECT n FROM ver_2x8) AS n_verified
           |UNION ALL
           |SELECT '4x4', (SELECT count(*) FROM cand_4x4), (SELECT n FROM ver_4x4)
           |UNION ALL
           |SELECT '8x2', (SELECT count(*) FROM cand_8x2), (SELECT n FROM ver_8x2)
           |ORDER BY config""".stripMargin)

  private val baseOracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
        |       min(doc_id) AS keep_id, count(*) AS copies
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,

    "dedup_fuzzy_names" ->
      """WITH p AS (SELECT p_partkey, p_name, p_brand FROM part),
        |pairs AS (
        |  SELECT x.p_brand, levenshtein(x.p_name, y.p_name) AS dist,
        |         x.p_partkey + y.p_partkey AS ks
        |  FROM p x JOIN p y
        |    ON x.p_brand = y.p_brand AND x.p_partkey < y.p_partkey
        |  WHERE abs(length(x.p_name) - length(y.p_name)) <= 2
        |    AND levenshtein(x.p_name, y.p_name) <= 2)
        |SELECT p_brand, CAST(dist AS INT) AS dist, count(*) AS n_pairs,
        |       CAST(sum(ks) AS BIGINT) AS key_sum
        |FROM pairs GROUP BY 1, 2 ORDER BY p_brand, dist""".stripMargin,

    "dedup_bloom_ingest" ->
      """SELECT b.doc_id, b.source
        |FROM documents b
        |WHERE b.source IN ('src16','src17','src18','src19')
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents c
        |    WHERE c.source NOT IN ('src16','src17','src18','src19')
        |      AND md5(trim(regexp_replace(c.text, '\s+', ' ', 'g')))
        |        = md5(trim(regexp_replace(b.text, '\s+', ' ', 'g'))))
        |ORDER BY b.doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |$cappedCandSql,
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  JOIN cand ON a.doc_id = cand.doc_a AND b.doc_id = cand.doc_b
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |       round(CAST(shared AS DOUBLE) / (ca.c + cb.c - shared), 6) AS jaccard
         |FROM shared JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |WHERE CAST(shared AS DOUBLE) / (ca.c + cb.c - shared) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "doc_shingle_profile" ->
      s"""WITH $shingleCte,
         |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
         |SELECT CAST(length(bin(df)) AS BIGINT) AS df_bucket,
         |       count(*) AS n_shingles,
         |       CAST(sum(df) AS BIGINT) AS n_postings
         |FROM dfs GROUP BY 1 ORDER BY df_bucket""".stripMargin,

    "dedup_cross_source" ->
      s"""WITH $shingleCte,
         |$cappedCandSql,
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  JOIN cand ON a.doc_id = cand.doc_a AND b.doc_id = cand.doc_b
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM shared JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE CAST(shared AS DOUBLE) / (ca.c + cb.c - shared) >= 0.5)
         |SELECT least(da.source, db.source) AS src_lo,
         |       greatest(da.source, db.source) AS src_hi,
         |       count(*) AS dup_pairs
         |FROM pairs JOIN documents da ON doc_a = da.doc_id
         |           JOIN documents db ON doc_b = db.doc_id
         |GROUP BY 1, 2 ORDER BY src_lo, src_hi""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM shared JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE CAST(shared AS DOUBLE) / (ca.c + cb.c - shared) >= 0.5),
         |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(doc, root) AS (
         |  SELECT src, src FROM sym
         |  UNION
         |  SELECT s.dst, r.root FROM reach r JOIN sym s ON s.src = r.doc)
         |SELECT doc AS doc_id, min(root) AS cluster_id
         |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin,

    "dedup_keep_canonical" ->
      s"""WITH RECURSIVE $shingleCte,
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM shared JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE CAST(shared AS DOUBLE) / (ca.c + cb.c - shared) >= 0.5),
         |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs),
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

    "dedup_minhash_est" ->
      s"""WITH $shingleCte,
         |sigs AS (SELECT doc_id, $minhashCols FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, b.band, CASE b.band ${(0 until Bands).map(b => s"WHEN $b THEN sig$b").mkString(" ")} END AS sig
         |  FROM (SELECT doc_id, $bandSigs FROM sigs),
         |       (SELECT unnest(generate_series(0, ${Bands - 1})) AS band) b),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.sig = r.sig
         |            AND l.doc_id < r.doc_id),
         |est AS (
         |  SELECT cand.doc_a, cand.doc_b,
         |         round(CAST(${(0 until NumHashes).map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")} AS DOUBLE) / $NumHashes, 6) AS est_jaccard
         |  FROM cand JOIN sigs a ON cand.doc_a = a.doc_id
         |            JOIN sigs b ON cand.doc_b = b.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  JOIN cand ON a.doc_id = cand.doc_a AND b.doc_id = cand.doc_b
         |  GROUP BY 1, 2)
         |SELECT est.doc_a, est.doc_b, est.est_jaccard,
         |       round(CAST(shared AS DOUBLE) / (ca.c + cb.c - shared), 6) AS jaccard
         |FROM est JOIN shared ON est.doc_a = shared.doc_a AND est.doc_b = shared.doc_b
         |         JOIN cnt ca ON est.doc_a = ca.doc_id
         |         JOIN cnt cb ON est.doc_b = cb.doc_id
         |ORDER BY est.doc_a, est.doc_b""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH $shingleCte,
         |sigs AS (SELECT doc_id, $minhashCols FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, b.band, CASE b.band ${(0 until Bands).map(b => s"WHEN $b THEN sig$b").mkString(" ")} END AS sig
         |  FROM (SELECT doc_id, $bandSigs FROM sigs),
         |       (SELECT unnest(generate_series(0, ${Bands - 1})) AS band) b),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.sig = r.sig
         |            AND l.doc_id < r.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  JOIN cand ON a.doc_id = cand.doc_a AND b.doc_id = cand.doc_b
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |       round(CAST(shared AS DOUBLE) / (ca.c + cb.c - shared), 6) AS jaccard
         |FROM shared JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |WHERE CAST(shared AS DOUBLE) / (ca.c + cb.c - shared) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_substring_spans" ->
      s"""WITH g AS (
         |  SELECT doc_id, ${hash60Sql(s"substr(text, i, $SubstrLen)")} AS hg
         |  FROM documents, (SELECT unnest(generate_series(1, 8192)) AS i)
         |  WHERE length(text) >= $SubstrLen
         |    AND i <= least(length(text) - ${SubstrLen - 1}, 8192)),
         |occ AS (SELECT hg, count(*) AS occ FROM g GROUP BY 1)
         |SELECT doc_id, count(*) AS total_spans,
         |       CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
         |       round(CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / count(*), 6) AS dup_frac
         |FROM g JOIN occ USING (hg)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_incremental_minhash" ->
      s"""WITH $shingleCte,
         |sigs AS (SELECT doc_id, $minhashCols FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, b.band, CASE b.band ${(0 until Bands).map(b => s"WHEN $b THEN sig$b").mkString(" ")} END AS sig
         |  FROM (SELECT doc_id, $bandSigs FROM sigs),
         |       (SELECT unnest(generate_series(0, ${Bands - 1})) AS band) b),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.sig = r.sig
         |  WHERE l.doc_id % 5 <> 4 AND r.doc_id % 5 = 4),
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT cand.doc_a, cand.doc_b, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |  JOIN cand ON a.doc_id = cand.doc_a AND b.doc_id = cand.doc_b
         |  GROUP BY 1, 2)
         |SELECT doc_a AS old_doc, doc_b AS new_doc,
         |       round(CAST(shared AS DOUBLE) / (ca.c + cb.c - shared), 6) AS jaccard
         |FROM shared JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |WHERE CAST(shared AS DOUBLE) / (ca.c + cb.c - shared) >= 0.5
         |ORDER BY old_doc, new_doc""".stripMargin,

    "dedup_containment" ->
      s"""WITH $shingleCte,
         |$cappedCandSql,
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  JOIN cand ON a.doc_id = cand.doc_a AND b.doc_id = cand.doc_b
         |  GROUP BY 1, 2),
         |joined AS (
         |  SELECT doc_a, doc_b, shared, ca.c AS ca, cb.c AS cb
         |  FROM shared JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id),
         |dirs AS (
         |  SELECT doc_a AS src_doc, doc_b AS dst_doc,
         |         CAST(shared AS DOUBLE) / ca AS containment FROM joined
         |  UNION ALL
         |  SELECT doc_b, doc_a, CAST(shared AS DOUBLE) / cb FROM joined)
         |SELECT src_doc, dst_doc, containment
         |FROM dirs WHERE containment >= 0.8
         |ORDER BY src_doc, dst_doc""".stripMargin,

    "dedup_containment_topk" ->
      s"""WITH $shingleCte,
         |$cappedCandSql,
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  JOIN cand ON a.doc_id = cand.doc_a AND b.doc_id = cand.doc_b
         |  GROUP BY 1, 2),
         |joined AS (
         |  SELECT doc_a, doc_b, shared, ca.c AS ca, cb.c AS cb
         |  FROM shared JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id),
         |dirs AS (
         |  SELECT doc_a AS src_doc, doc_b AS dst_doc,
         |         CAST(shared AS DOUBLE) / ca AS containment FROM joined
         |  UNION ALL
         |  SELECT doc_b, doc_a, CAST(shared AS DOUBLE) / cb FROM joined),
         |ranked AS (
         |  SELECT src_doc, dst_doc, containment,
         |         CAST(row_number() OVER (
         |           PARTITION BY src_doc
         |           ORDER BY containment DESC, dst_doc) AS INT) AS rk
         |  FROM dirs WHERE containment >= 0.8)
         |SELECT src_doc, rk, dst_doc, containment
         |FROM ranked WHERE rk <= 3 ORDER BY src_doc, rk""".stripMargin,

    "doc_kmv_sketch" ->
      s"""WITH $shingleCte
         |SELECT doc_id,
         |       array_to_string(list_sort(list(DISTINCT ${hash60Sql("shingle")}))[1:8], ',') AS sketch
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "doc_winnow_fingerprints" ->
      s"""WITH $winnowCte
         |SELECT doc_id, count(*) AS n_fp, min(fp) AS min_fp
         |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_winnow_pairs" ->
      s"""WITH $winnowCte,
         |cap AS (SELECT greatest(64, (count(DISTINCT doc_id) + 199) // 200) AS cap
         |        FROM fps),
         |dfc AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fps GROUP BY 1), cap
         |        WHERE df <= cap),
         |rare AS (SELECT doc_id, fp FROM fps JOIN dfc USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fp
         |FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 10
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |sums AS (
         |  SELECT doc_id,
         |         $simhashBitSums
         |  FROM toks GROUP BY doc_id)
         |SELECT doc_id, $simhashValue AS simhash
         |FROM sums ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |sums AS (
         |  SELECT doc_id,
         |         $simhashBitSums
         |  FROM toks GROUP BY doc_id),
         |fp AS (SELECT doc_id, $simhashValue AS simhash FROM sums),
         |bands AS (
         |  SELECT doc_id, simhash, (simhash >> (8 * CAST(t.b AS INTEGER))) & 255 AS sig, t.b
         |  FROM fp, range(4) t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
         |  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.sig = b2.sig
         |   AND a.doc_id < b2.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |       CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hamming
         |FROM cand c
         |JOIN fp fa ON c.doc_a = fa.doc_id
         |JOIN fp fb ON c.doc_b = fb.doc_id
         |WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    // same pair CTE chain, resolved to components by recursive
    // reachability (the dedup_clusters oracle pattern)
    "dedup_simhash_clusters" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |sums AS (
         |  SELECT doc_id,
         |         $simhashBitSums
         |  FROM toks GROUP BY doc_id),
         |fp AS (SELECT doc_id, $simhashValue AS simhash FROM sums),
         |bands AS (
         |  SELECT doc_id, simhash, (simhash >> (8 * CAST(t.b AS INTEGER))) & 255 AS sig, t.b
         |  FROM fp, range(4) t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
         |  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.sig = b2.sig
         |   AND a.doc_id < b2.doc_id),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b FROM cand c
         |  JOIN fp fa ON c.doc_a = fa.doc_id
         |  JOIN fp fb ON c.doc_b = fb.doc_id
         |  WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3),
         |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(doc, root) AS (
         |  SELECT src, src FROM sym
         |  UNION
         |  SELECT s.dst, r.root FROM reach r JOIN sym s ON s.src = r.doc)
         |SELECT doc AS doc_id, min(root) AS cluster_id
         |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin
  )
}
