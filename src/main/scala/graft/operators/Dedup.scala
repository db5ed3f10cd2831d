package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextAnalysis

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

  /** (doc_id, shingle) — distinct 3-gram word shingles per document.
    *
    * Built as posexplode + window lead over (doc_id, pos) rather than
    * array-building transform(sequence(...)): the array route re-inlines
    * the split() into every element_at under projection collapse
    * (O(tokens²) work per doc) and falls off codegen. One shuffle on
    * doc_id; scales linearly in corpus size.
    */
  def shingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(toks) - 3)," +
          " i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))")))
        .as("shingle"))

  /** The window rendition of [[shingles]] (posexplode → lead ×2 →
    * distinct) — spec-only equivalence gate. The shipped version above
    * is ROW-LOCAL: a doc's distinct 3-gram set is a pure function of its
    * own token array, so building it through a per-token window sort
    * plus a corpus-wide distinct paid two full shuffles of the token
    * stream for state that never crossed rows. transform +
    * array_distinct keeps the index build a narrow projection at scan
    * parallelism; the size-≥3 filter mirrors the lead-null drop, and
    * the per-doc array_distinct equals the global distinct because
    * doc_id is part of the pair. */
  private[graft] def shinglesViaWindow(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "w")))
      .withColumn("w2", lead("w", 1).over(w))
      .withColumn("w3", lead("w", 2).over(w))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("w2"), col("w3")).as("shingle"))
      .distinct()
  }

  private val NumHashes = 16
  private val Bands = 4
  private val Rows = 4 // NumHashes / Bands
  private val SubstrLen = 20 // dedup_substring_spans window width (chars)

  /** 60-bit numeric md5 hash (see [[graft.functions.PortableHash]] for
    * why numeric: HashAggregate-friendly primitive agg buffers). */
  private def hash60(s: Column): Column = graft.functions.PortableHash.hash60(s)

  /** Per-doc minhash signature h0..h15 + shingle count c, in ONE
    * hash aggregation pass over the shingle index. */
  def minhashSignature(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(
      count(lit(1)).as("c"),
      (0 until NumHashes).map(i =>
        min(hash60(concat(lit(s"$i|"), col("shingle")))).as(s"h$i")): _*)

  /** (doc_id, band, sig) for an arbitrary (bands × rows) tiling of the
    * 16 min-hashes: band signature = md5 of its `rows` concatenated
    * min-hashes. Pairs sharing any (band, sig) are candidates. */
  def lshBandsCfg(sigs: DataFrame, bands: Int, rows: Int): DataFrame = {
    require(bands * rows == NumHashes, s"$bands x $rows != $NumHashes")
    sigs.select(col("doc_id"), explode(array(
      (0 until bands).map { b =>
        struct(lit(b).as("band"),
          md5(concat_ws("|",
            (b * rows until (b + 1) * rows).map(i => col(s"h$i").cast("string")): _*)).as("sig"))
      }: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** The shipped 4 × 4 tiling. */
  def lshBands(sigs: DataFrame): DataFrame = lshBandsCfg(sigs, Bands, Rows)

  /** (doc_a, doc_b, shared, ca, cb) restricted to candidate pairs, via
    * inverted-index counting: one self-join on the shingle, semi-filtered
    * to the candidates, then a shared-count aggregate. Right when
    * candidates are MANY (e.g. the df-capped all-pairs path): shared
    * counts for every co-occurring pair come out of one shuffle, no
    * per-pair array materialization. Worst case is O(Σ df²) pair
    * generation — for the few-candidate regime use [[jaccardBySets]]
    * instead. Duplicate candidate rows are fine (left-semi), so callers
    * need not dedup. Full sets are counted — the candidate set prunes
    * which pairs are scored, never the score itself. */
  def sharedCountsFor(cand: DataFrame, sh: DataFrame): DataFrame = {
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .join(counts.select(col("doc_id").as("doc_a"), col("c").as("ca")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("c").as("cb")), "doc_b")
  }

  /** Reduce a (doc_a, doc_b, shared, ca, cb) shared-count table to the
    * symmetric Jaccard score. */
  def jaccardOfShared(shared: DataFrame): DataFrame =
    shared.select(col("doc_a"), col("doc_b"),
      (col("shared").cast("double") /
        (col("ca") + col("cb") - col("shared")).cast("double")).as("jaccard"))

  /** Exact Jaccard for candidate pairs — [[sharedCountsFor]] reduced to
    * the symmetric score. */
  def jaccardFor(cand: DataFrame, sh: DataFrame): DataFrame =
    jaccardOfShared(sharedCountsFor(cand, sh))

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
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shset").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shset").as("sb")), "doc_b")
      .withColumn("shared", size(array_intersect(col("sa"), col("sb"))))
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("shared")).cast("double")).as("jaccard"))
  }

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
    * joins use, NOT the Σ df² inverted re-join (sharedCountsFor), which
    * would reintroduce the stop-shingle cliff the prefix filter exists
    * to avoid. */
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

  /** Near-dup candidate pairs from the inverted index with stop-shingles
    * (document frequency > maxDf) removed first: each df-f shingle
    * bucket emits O(f²) pairs in the self-join, so capping df bounds the
    * candidate blowup on vocabulary-limited corpora. Candidates must be
    * re-verified on FULL shingle sets (jaccardFor) — the cap prunes
    * generation, not similarity. */
  def cappedCandidates(sh: DataFrame, maxDf: Int): DataFrame =
    cappedCandidatesBy(sh, lit(maxDf.toLong))

  /** CORPUS-PROPORTIONAL df cap — the scale-correct form of the
    * stop-shingle cut: greatest(64, ⌈n_docs/200⌉), i.e. 0.5% of the
    * corpus, computed with INTEGER ceiling division ((n+199) div 200)
    * so every engine agrees bit-for-bit at any corpus size (ceil of
    * n·0.005 in doubles rounds UP spuriously whenever n is a multiple
    * of 200 — 0.005 has no binary representation). An ABSOLUTE cap is
    * the recall cliff the round-7 10× soak exposed on the winnow path
    * (and, at 7% of true pairs, on this one: duplication multiplies
    * every shingle's df, pushing previously-rare shingles past a fixed
    * 64): "too common to be discriminative" is a fraction of the
    * corpus, not a constant. Equals 64 at every shipped SF, so oracle
    * results are unchanged; at the soak's 50 k docs it reads 250 and
    * the capped pair set matches the lossless prefix path again. The
    * cap is a 1-row aggregate broadcast in-plan — no driver fetch. */
  def cappedCandidatesProportional(sh: DataFrame): DataFrame = {
    val cap = propCap(sh)
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(cap))
      .filter(col("df") <= col("cap"))
      .select("shingle")
    val idx = sh.join(rare, Seq("shingle"))
    idx.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(idx.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
  }

  /** (doc_a, doc_b, shared, ca, cb) for every pair sharing at least one
    * RARE (df <= cap) shingle, with `shared` counting over FULL shingle
    * sets — the df-capped staging computed in ONE self-join instead of
    * two. The round-9 30x soak OOM'd the previous formulation
    * (sharedCountsFor over cappedCandidatesProportional): it ran the
    * capped self-join for candidates, then a SECOND, UNCAPPED
    * inverted-index self-join (full Σ df²/2 pair slots — 1.25e9 at the
    * 150 k-doc soak corpus) whose output was shuffled WHOLE through a
    * left-semi join against the equally-large candidate stream; the
    * semi-join's per-partition hash build is what exhausted the heap.
    * Here the capped self-join IS the shared counter:
    *
    *   shared(a,b) = sharedRare(a,b) + |stop(a) ∩ stop(b)|
    *
    *  - sharedRare comes straight off the rare-index self-join via a
    *    partial-aggregating groupBy — candidacy (sharedRare >= 1) falls
    *    out for free, no semi-join, and the quadratic slot stream is
    *    map-side-combined and spillable instead of hash-table-resident;
    *  - the stop-shingle contribution (df > cap shingles are excluded
    *    from pair GENERATION but must still be COUNTED — scores use
    *    full sets) is an array_intersect of per-doc stop-shingle sets
    *    joined onto the already-aggregated pair table. Stop sets are
    *    small by construction (at most vocabulary_postings/cap distinct
    *    stop shingles corpus-wide), and they ride a per-doc side table,
    *    never the pair stream.
    *
    * Output is value-identical to the old formulation (LlmOpsSpec pins
    * pair-for-pair equality on a corpus WITH stop shingles), so the
    * five consumer oracles replay unchanged. */
  def cappedSharedCounts(sh: DataFrame, dfTab: DataFrame): DataFrame = {
    val cap = propCap(sh)
    val withCap = dfTab.crossJoin(broadcast(cap))
    val rareIdx = sh.join(withCap.filter(col("df") <= col("cap"))
      .select("shingle"), Seq("shingle"))
    val pairsRare = rareIdx.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(rareIdx.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_rare"))
    val stopSets = sh.join(withCap.filter(col("df") > col("cap"))
        .select("shingle"), Seq("shingle"))
      .groupBy("doc_id").agg(collect_set(col("shingle")).as("stopset"))
    // one per-doc side table (set size + stop set) joined twice, not four
    // separate count/set joins shuffling the pair table each time
    val docSide = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
      .join(stopSets, Seq("doc_id"), "left")
    pairsRare
      .join(docSide.select(col("doc_id").as("doc_a"),
        col("c").as("ca"), col("stopset").as("sa")), "doc_a")
      .join(docSide.select(col("doc_id").as("doc_b"),
        col("c").as("cb"), col("stopset").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("shared_rare") + when(col("sa").isNull || col("sb").isNull, lit(0))
          .otherwise(size(array_intersect(col("sa"), col("sb")))).cast("bigint"))
          .as("shared"),
        col("ca"), col("cb"))
  }

  /** [[cappedSharedCounts]] with EXACT-DUP COLLAPSE — the staged
    * artifact's rows are unchanged, but the quadratic work runs on one
    * representative per distinct text. Validity: `shared`, `ca`, `cb`
    * and candidacy (≥ 1 shared rare shingle) are pure functions of the
    * two documents' shingle SETS, and exact-text duplicates have
    * identical sets by construction — so every pair (a, b) inherits its
    * value from the rep pair (rep(a), rep(b)), and a group's internal
    * pairs share ALL c shingles (candidates iff the text has ≥ 1 rare
    * shingle). df and the proportional cap stay FULL-CORPUS (rarity is
    * a property of the corpus, not of the distinct-text set), so the
    * rare/stop split is bit-identical to the uncollapsed form. On a
    * re-crawl-shaped corpus (the 30× soak: ~30-way replication) the
    * rare self-join's slot volume drops ~dup² (1.25e9 → ~1.4e6 slots);
    * only the Θ(dup²) OUTPUT expansion — two joins through the member
    * map — scales with duplication, and that is the artifact's
    * inherent row count. LlmOpsSpec pins pair-for-pair equality against
    * the uncollapsed formulation on a corpus with duplicate groups AND
    * stop shingles. */
  /** The full-corpus proportional df cap as a 1-row broadcast frame:
    * max(64, ⌈n_docs/200⌉). THE single definition of the cap policy —
    * every capped path (candidates, staging, volume bound, winnow)
    * derives from here, so a policy change is one edit. */
  private def propCap(fullSh: DataFrame): DataFrame =
    fullSh.agg(countDistinct("doc_id").as("n_docs"))
      .select(greatest(lit(64L),
        expr("(n_docs + 199) div 200")).as("cap"))

  /** The REP-LEVEL shared-count table (ra < rb, shared, ca, cb) over one
    * representative per distinct text — the entire quadratic work of the
    * capped near-dup family. Rarity (df <= cap) stays FULL-corpus; only
    * the self-join runs on the distinct-text index. This is the staged
    * production artifact: since `shared`/`ca`/`cb` are pure functions of
    * the two shingle SETS, every derived measure (Jaccard, containment,
    * rank) is INVARIANT across exact-dup group members, so consumers
    * filter/rank here and expand through the member map afterwards —
    * nothing dup²-sized is ever staged. */
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

  def cappedSharedCountsCollapsed(shR: DataFrame, fullSh: DataFrame,
                                  dfTab: DataFrame, repMap: DataFrame): DataFrame = {
    val withCap = dfTab.crossJoin(broadcast(propCap(fullSh)))
    val rareIdxR = shR.join(withCap.filter(col("df") <= col("cap"))
      .select("shingle"), Seq("shingle"))
    val docSideR = shR.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val repPairs = cappedRepPairs(shR, fullSh, dfTab)
    val members = repMap.select(col("rep"), col("doc_id").as("m"))
    // cross-group expansion: group members interleave across groups, so
    // the output pair is (least, greatest) and ca/cb FOLLOW the
    // orientation (ca is doc_a's set size, not rep_a's)
    val cross = repPairs
      .join(members.select(col("rep").as("ra"), col("m").as("ma")), "ra")
      .join(members.select(col("rep").as("rb"), col("m").as("mb")), "rb")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"),
        col("shared"),
        when(col("ma") < col("mb"), col("ca")).otherwise(col("cb")).as("ca"),
        when(col("ma") < col("mb"), col("cb")).otherwise(col("ca")).as("cb"))
    // within-group pairs: identical texts share all c shingles; they are
    // candidates iff the text has ≥ 1 RARE shingle (a stop-only text's
    // copies never meet in the rare self-join — same as uncollapsed)
    val rareReps = rareIdxR.select("doc_id").distinct()
    val within = members
      .join(docSideR.join(rareReps, Seq("doc_id"), "left_semi")
        .select(col("doc_id").as("rep"), col("c")), "rep")
      .select(col("rep"), col("m").as("ma"), col("c"))
      .join(members.select(col("rep"), col("m").as("mb")), "rep")
      .filter(col("ma") < col("mb"))
      .select(col("ma").as("doc_a"), col("mb").as("doc_b"),
        col("c").as("shared"), col("c").as("ca"), col("c").as("cb"))
    cross.unionByName(within)
  }

  private def cappedCandidatesBy(sh: DataFrame, maxDf: org.apache.spark.sql.Column): DataFrame = {
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("shingle")
    val idx = sh.join(rare, Seq("shingle"))
    // no distinct: downstream verification is a left-semi probe, which
    // tolerates duplicate pairs — a pair-level dedup here would be a
    // full extra shuffle of the candidate stream
    idx.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(idx.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
  }

  /** Prefix-filtered near-dup candidates (the PPJoin family's prefix
    * principle): order all shingles canonically by ascending document
    * frequency (rarest first, ties by value), keep only each document's
    * first c - ceil(t*c) + 1 shingles in that order, and self-join just
    * those. Two docs with Jaccard >= t MUST share a prefix shingle — if
    * they only shared suffix (frequent) shingles, fewer than t*c of
    * their shingles could overlap. Candidates shrink from "any shared
    * shingle" to typically a few per doc, and because prefixes hold the
    * RAREST shingles, the df² bucket blowup concentrates where df is
    * smallest. Lossless for threshold t, unlike a df cap. */
  /** Each document's prefix shingles under the rarest-first canonical
    * order: the first c - ceil(t*c) + 1 of its shingles by (df, value).
    */
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

  def prefixCandidates(sh: DataFrame, t: Double): DataFrame =
    pairsSharing(prefixes(sh, t), t)

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

  /** (doc_id, rep): rep = min doc_id among EXACT-text duplicates (md5
    * of the raw text — byte equality, so shingle sets are identical by
    * construction). The collapse key for cluster-resolution queries:
    * on a re-crawl-shaped corpus most duplication is exact, and the
    * shingle self-join over k exact copies does k² of the work one
    * representative does. */
  /** Corpus duplication gate for the capped/prefix near-dup family —
    * true ⇒ run the ORIGINAL DOC-LEVEL formulation (self-join over the
    * full shingle index; within-dup-group pairs emerge from the join
    * itself), false ⇒ the round-10 rep-collapsed pipeline (self-join
    * over one representative per distinct text, qualifying pairs
    * expanded through the member map).
    *
    * Both paths are CORRECT on any corpus — LlmOpsSpec pins pair-for-
    * pair equality on a fixture with 40-way duplicate groups, and
    * RepCollapseGateSpec A/Bs the shipped queries across the gate — the
    * choice is purely a cost model: the rep indirection saves ~dup² of
    * self-join work on a re-crawl-shaped corpus (OOM → 41 s at 30×) but
    * COSTS an extra staged artifact plus 2-3 expansion joins per
    * consumer, which on a nearly-dup-free corpus is pure overhead
    * (round-10 accepted sf0.1 regressions: prefix 2.55 → 3.3-3.8 s,
    * capped 0.26 → ~1.3 s). The decision statistic is the exact
    * within-group pair mass Σ C(k_g, 2) over exact-dup text groups —
    * the quadratic slot inflation the doc-level self-join would pay per
    * shared rare shingle — from ONE narrow aggregate over md5(text)
    * (bounded driver-side head, the budget-guard pattern), memoized per
    * (session, corpus). Doc level iff that mass ≤ max(64, n_docs/100):
    * sf0.1's 8 duplicate pairs in 5 000 docs stay doc-level; a SoakGen
    * N-way replica (every text an N-way group) or any real re-crawl
    * trips to rep level. A pure function of the corpus, so the (path-
    * independent) DuckDB oracles replay unchanged.
    * `graft.dedup.repcollapse=force` pins the rep path and `=off` the
    * doc-level path regardless of corpus (RepCollapseGateSpec's A/B
    * knobs; `off` doubles as the operational escape hatch). */
  // The memo lives in the SESSION RUNTIME CONF (not a process-global
  // map): it dies with the session instead of accreting for the JVM
  // lifetime, and the stored value carries the corpus fingerprint
  // (Tables.sourceFp — same stat-level stamp the catalog cache
  // revalidates with) so a documents.parquet rewritten mid-session
  // recomputes the gate instead of silently replaying a stale decision.
  private[graft] def docLevelPath(s: SparkSession, dir: String): Boolean =
    s.conf.get("graft.dedup.repcollapse", "auto") match {
      case "force" => false // pin rep path (spec A/B)
      case "off"   => true  // pin doc-level path (spec A/B + escape hatch)
      case _ =>
        val key = "graft.dedup.doclevel.memo." + dir
        val fp = Tables.sourceFp(s"$dir/documents.parquet")
        s.conf.getOption(key).collect {
          case v if v.startsWith(fp + "=") => v.stripPrefix(fp + "=").toBoolean
        }.getOrElse {
          val r = Tables.documents(s, dir)
            .filter(col("text").isNotNull)
            .groupBy(md5(col("text"))).agg(count(lit(1)).as("k"))
            .agg(coalesce(sum(expr("(k * (k - 1)) div 2")), lit(0L)).as("dup_pairs"),
              coalesce(sum(col("k")), lit(0L)).as("n_docs")).head()
          val docLevel = r.getLong(0) <= math.max(64L, r.getLong(1) / 100)
          s.conf.set(key, s"$fp=$docLevel")
          docLevel
        }
    }
  /** Staging-key suffix for artifacts whose CONTENT depends on the gate
    * (rep-level vs doc-level pair tables): a force/auto A/B within one
    * session must never read the other path's staged parquet. */
  private def pathTag(s: SparkSession, dir: String): String =
    if (docLevelPath(s, dir)) "doc" else "rep"

  private def exactRepMap(s: SparkSession, dir: String): DataFrame =
    staged(s, s"$dir|exactreps") {
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
    staged(s, s"$dir|repedges") {
      val reps = exactRepMap(s, dir)
        .filter(col("doc_id") === col("rep")).select("doc_id")
      sharedCounts(stagedShingles(s, dir).join(reps, "doc_id"))
        .filter(col("shared").cast("double") /
          (col("ca") + col("cb") - col("shared")).cast("double") >= 0.5)
        .select("doc_a", "doc_b")
    }

  /** Cluster resolution with EXACT-DUP COLLAPSE (same labels as CC over
    * the full pair graph, proven by the unchanged recursive-reachability
    * oracles): run the given CC on the representative graph, then every
    * doc inherits its representative's label through the (doc_id, rep)
    * map. Identical-text docs are pairwise J = 1 edges in the full
    * graph whenever they have >= 1 shingle, so a multi-doc exact group
    * is internally connected exactly when its representative has
    * shingles — groups of shingle-less docs have no edges in either
    * formulation and are excluded. A cluster's label is unchanged: the
    * component minimum equals the minimum over its exact-groups' own
    * minima, which is the representative-graph minimum. */
  private def clustersCollapsed(s: SparkSession, dir: String,
      cc: DataFrame => DataFrame): DataFrame = {
    val repMap = exactRepMap(s, dir)
    val repClusters = cc(neardupRepEdges(s, dir))
      .select(col("doc_id").as("rep"), col("cluster_id"))
    val grpN = repMap.groupBy("rep").agg(count(lit(1)).as("grp_n"))
    val repSh = stagedShingles(s, dir).groupBy("doc_id")
      .agg(count(lit(1)).as("nsh"))
      .select(col("doc_id").as("rep"), col("nsh"))
    repMap.join(repClusters, Seq("rep"), "left")
      .join(grpN, "rep")
      .join(repSh, Seq("rep"), "left")
      .filter(col("cluster_id").isNotNull ||
        (col("grp_n") > 1 && coalesce(col("nsh"), lit(0L)) > 0))
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
  }

  /** Connected components over an undirected edge list (doc_a, doc_b) by
    * iterative min-label propagation: every node starts labeled with its
    * own id; each round every node takes the min of its label and its
    * neighbors' labels; fixpoint = each node labeled with the smallest
    * id in its component. Rounds needed ≤ graph diameter — duplicate
    * clusters are shallow, so this converges in a handful of rounds.
    * Each round cuts its lineage via the [[CheckpointStrategy]] (the
    * classic iterative-algorithm trap: an uncut plan doubles per
    * iteration) — Local for single-node runs; Reliable(dir) on a real
    * cluster, where localCheckpoint's non-replicated blocks would die
    * with a lost executor mid-loop and kill the job. This is the
    * cluster-resolution step a dedup pipeline needs between near-dup
    * PAIR detection and choosing one canonical doc per duplicate group.
    */
  def connectedComponents(edges: DataFrame,
      ckpt: CheckpointStrategy = CheckpointStrategy.Local,
      jump: Boolean = false): DataFrame =
    connectedComponentsCapped(edges, ckpt, Int.MaxValue, jump).labels

  /** Min-label propagation bounded at `maxRounds`: returns the (possibly
    * partial) labels plus whether the loop actually converged. A partial
    * label is still a CONNECTIVITY WITNESS — node u's label is the min id
    * within distance `rounds` of u, a node u is connected to through the
    * propagation path — which is what lets [[connectedComponentsAuto]]
    * contract by partial labels and hand the remainder to the star
    * rounds without changing the final partition. */
  /** Result of the capped loop: labels (partial or converged), whether
    * the loop converged, and the node count (so callers — Auto's
    * contraction — reuse the already-paid count for their own broadcast
    * gating instead of re-counting). */
  private[graft] case class CcRun(labels: DataFrame, converged: Boolean, nNodes: Long)

  /** Edge-frame partition count for the round loops: the symmetrized
    * edge list is built by a NARROW union (no exchange), so it inherits
    * 2x the source's split count — at sf0.1 that was 64 partitions of a
    * few KB each, and every round's map-side stage paid 64 tasks of
    * scheduling latency for microseconds of work (guide §2.2: fewer,
    * larger partitions). Derive the count from the optimizer's size
    * estimate for the edge plan (accurate for parquet-backed staged
    * inputs; Long.MaxValue for un-stat'd LogicalRDD leaves, which
    * safely degrades to the parallelism cap): one partition per
    * ~4 MB, clamped to [1, defaultParallelism]. Scale-honest by
    * construction — a corpus big enough to need parallelism gets it back
    * from the bytes term. */
  private def edgeParts(edges: DataFrame): Int = {
    val s = edges.sparkSession
    val est = edges.queryExecution.optimizedPlan.stats.sizeInBytes
    val byBytes = (est * 2 / (4L << 20)).min(BigInt(Int.MaxValue)).toLong + 1
    math.max(1L, math.min(s.sparkContext.defaultParallelism.toLong, byBytes)).toInt
  }

  private[graft] def connectedComponentsCapped(edges: DataFrame,
      ckpt: CheckpointStrategy, maxRounds: Int,
      jump: Boolean = false): CcRun = {
    // LAZY cuts throughout the loop: every cut frame's very next step is
    // an action that materializes it (the per-round changed-count; sym
    // and the seed labels ride round 1's job), so the eager form's
    // dedicated persist job per round was pure scheduling overhead —
    // measured ~half the rounds' wall on the sf0.1 CC-bound queries,
    // whose stages are 1-2 tiny tasks each.
    //
    // jump=true adds POINTER JUMPING (label(label(u)) as a third min
    // term — the classic hash-to-min acceleration): label coverage
    // roughly doubles per round, so convergence needs O(log d) rounds
    // instead of O(d). One extra self-join per round buys it, so the
    // plain form stays the default for graphs known to be shallow
    // (near-dup cliques converge in 2-3 rounds either way; the r12
    // simhash rep graph at sf0.1 has d≈13 and went 13 → 5 rounds).
    // Invariants the adaptive contraction relies on are preserved: a
    // node's label is always the id of a CONNECTED node (neighbor's
    // label and label's label are both in the component), labels only
    // decrease, and the component minimum keeps labeling itself.
    val sym = ckpt.cutLazy(
      edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .coalesce(edgeParts(edges)))
    // Seed labels at min(self, min(neighbors)) instead of self: the same
    // groupBy exchange the old distinct() paid now also performs what
    // round 1 of the plain loop would compute, so every graph converges
    // exactly one round earlier. Invariants unchanged: the seed label is
    // the id of a node in the closed neighborhood (connected, <= self),
    // and the fixpoint — component min everywhere — is the same.
    var cut = ckpt.cut(
      sym.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src").as("doc"), least(col("mn"), col("src")).as("label")))
    // SIZE-GATED BROADCAST ROUNDS (guide §3.1, pick the join strategy
    // deliberately): the label table is exactly one row per node and the
    // round joins key on it twice; below the gate, broadcasting it (and
    // the per-round neighbor-min, ≤ nodes rows) leaves only the
    // neighbor-min groupBy as a per-round exchange — the checkpointed
    // frames are LogicalRDD leaves whose stats Catalyst/AQE cannot see,
    // so without the explicit hint every round pays full shuffle joins
    // regardless of actual size. The node count rides the seed cut's
    // (now eager) materialization job. Above the gate nothing changes:
    // labels at real scale are not broadcastable.
    val nNodes = cut.count()
    val bcastGate = nNodes <= broadcastNodes(edges)
    def maybeB(df: DataFrame): DataFrame = if (bcastGate) broadcast(df) else df
    var labels = cut
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = sym
        .join(maybeB(labels.select(col("doc").as("dst"), col("label").as("dst_label"))), "dst")
        .groupBy(col("src").as("doc"))
        .agg(min(col("dst_label")).as("nbr_min"))
      val stepped =
        if (!jump) labels.join(maybeB(nbrMin), Seq("doc"), "left")
          .select(col("doc"), col("label").as("old_label"),
            least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
        else labels
          .join(maybeB(nbrMin), Seq("doc"), "left")
          // label(label(u)): every label value is a node id present in
          // `labels` (it starts as self and only ever takes other nodes'
          // labels), so the jump join is inner-complete; left-join keeps
          // the plan robust to a release/rebuild race anyway
          .join(maybeB(labels.select(col("doc").as("jdoc"), col("label").as("jump_label"))),
            col("label") === col("jdoc"), "left")
          .select(col("doc"), col("label").as("old_label"),
            least(
              least(col("label"), coalesce(col("nbr_min"), col("label"))),
              coalesce(col("jump_label"), col("label"))).as("label"))
      // carry old + new label in ONE cut frame: the change count reads
      // the checkpointed result directly instead of a second join back
      // against the previous labels (one exchange per round saved)
      val next = ckpt.cutLazy(stepped)
      changed = next.filter(col("label") =!= col("old_label")).count()
      ckpt.release(cut) // round k-1's blocks are dead once round k is cut
      cut = next
      labels = next.select(col("doc"), col("label"))
      rounds += 1
    }
    ckpt.release(sym) // the final labels frame is checkpointed on its own
    ccLog(edges, s"minlabel jump=$jump bcast=$bcastGate rounds=$rounds converged=${changed == 0}")
    CcRun(labels.select(col("doc").as("doc_id"), col("label").as("cluster_id")),
      changed == 0, nNodes)
  }

  /** Stderr round-count trace for CC A/B probes (`graft.cc.log=true`):
    * the round count is the cost driver of every CC variant and is
    * invisible in stage listings once AQE folds the tiny stages. */
  private def ccLog(df: DataFrame, msg: String): Unit =
    if (df.sparkSession.conf.get("graft.cc.log", "false") == "true")
      System.err.println(s"CC: $msg")

  /** Broadcast gate for CC round joins: one row per node ≈ 24 bytes of
    * broadcast relation, so the 1M default stays ~25 MB — comfortably
    * inside guide §3.1's "a few hundred MB is fine" band with margin for
    * the per-executor copies. Conf-able for cluster-specific tuning
    * (`graft.cc.broadcastNodes`); at 100 TB corpus scale the node count
    * exceeds any sane setting and the loops keep their shuffle joins. */
  private def broadcastNodes(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.cc.broadcastNodes", "1000000").toLong

  /** ADAPTIVE connected components — min-label rounds up to a small cap,
    * then (only if not yet converged) large-star/small-star on the
    * label-CONTRACTED graph. Self-gating by construction instead of a
    * predictive shape statistic: a shallow graph (the dedup norm —
    * near-dup clusters are transitively tight) converges inside the cap
    * and pays exactly the min-label cost (1 shuffle + 1 count per round;
    * the star loop's ~4 jobs/round scheduling latency never starts),
    * while a deep graph (web link chains, reference paths) pays `cap`
    * cheap rounds and hands star a graph whose distance-≤cap
    * neighborhoods are already merged — asymptotically the same
    * O(log² n) rounds as pure star.
    *
    * Correctness of the contraction: nodes sharing a partial min-label
    * are connected (both reach the label node through the propagation
    * path), so collapsing label classes to single nodes preserves the
    * component partition; and because every partial label is the MIN id
    * of its class, the star fixpoint's min over class labels is the
    * component's global min doc id — identical output to either pure
    * variant (CcStarSpec pins all three on random graphs and on a
    * 512-node path). */
  def connectedComponentsAuto(edges: DataFrame,
      ckpt: CheckpointStrategy = CheckpointStrategy.Local,
      minLabelCap: Int = 0): DataFrame = {
    // cap 0 = the default of 6, measured at sf0.1: the simhash rep graph
    // converges inside it (see OPTIMIZATION_r12.md), and a deep graph
    // pays 6 one-action rounds before the star fallback
    val cap = if (minLabelCap > 0) minLabelCap else 6
    // jump=true: the capped phase covers distance ~2^cap instead of
    // ~cap, so real corpora converge inside the cap and the star
    // fallback is reserved for genuinely path-like graphs
    val run = connectedComponentsCapped(edges, ckpt, cap, jump = true)
    if (run.converged) run.labels
    else {
      // The capped loop's final labels frame is ALREADY backed by a live
      // checkpoint (the loop's last cut frame, never released) — re-cutting
      // it here was a redundant full materialization job (measured ~0.25 s
      // of 32 tiny tasks at sf0.1) for a frame that is a pure projection
      // of checkpointed blocks.
      val partial = run.labels
      // Same size-gated broadcast as the round joins (guide §3.1): partial
      // is a LogicalRDD projection whose stats Catalyst cannot see, so
      // without the hint BOTH contraction joins ran as full shuffle joins
      // — the single most expensive step of the post-cap path at sf0.1.
      // The gate reuses the node count the loop already paid for.
      val bcastGate = run.nNodes <= broadcastNodes(edges)
      def maybeB(df: DataFrame): DataFrame = if (bcastGate) broadcast(df) else df
      val contracted = ckpt.cutLazy(edges
        .join(maybeB(partial.select(col("doc_id").as("doc_a"), col("cluster_id").as("la"))), "doc_a")
        .join(maybeB(partial.select(col("doc_id").as("doc_b"), col("cluster_id").as("lb"))), "doc_b")
        .select(col("la").as("doc_a"), col("lb").as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b")))
      // The cap very often lands EXACTLY at the partition fixpoint with
      // only the convergence-confirming round outstanding: every edge is
      // then label-internal, the contracted graph is EMPTY, and each
      // label class is an edge-closed connected set = one whole
      // component labeled by its min (the min always labels itself).
      // Short-circuiting here skips star's init/fixpoint/final-labels
      // stages AND the label re-attach join — the isEmpty probe
      // materializes the cut contraction that star would have paid for
      // anyway.
      if (contracted.isEmpty) {
        ckpt.release(contracted)
        partial
      } else {
        val superLabels = connectedComponentsStar(contracted, ckpt)
          .select(col("cluster_id").as("super_id"), col("doc_id").as("partial_label"))
        // star has materialized its own cut of the contracted edges by
        // the time it returns (its fixpoint loop is eager), so the
        // contraction's blocks are dead here
        ckpt.release(contracted)
        // partial stays checkpointed: the returned (lazy) plan reads it, so
        // its blocks must outlive this call — same lifetime rule as the
        // final labels frame of the plain loop
        partial
          .join(maybeB(superLabels),
            partial("cluster_id") === superLabels("partial_label"), "left")
          .select(col("doc_id"),
            coalesce(col("super_id"), col("cluster_id")).as("cluster_id"))
      }
    }
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR edge
    * rewriting (the MapReduce CC algorithm of Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond" — also what
    * GraphFrames ships): converges in O(log² n) rounds on ANY graph,
    * vs [[connectedComponents]]'s O(diameter) min-label rounds.
    *
    * Duplicate clusters are shallow, so the min-label loop is the right
    * default for dedup; this is the 100 TB path for DEEP graphs — web
    * link graphs, long reference chains — where diameter-many
    * synchronized rounds (each a full shuffle) is the scale killer.
    * CcStarSpec proves both invariants: identical labels to the
    * min-label loop on the near-dup graph, and convergence in ≤ 8
    * rounds on a 512-node path whose diameter would force the
    * min-label loop through 511.
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
  def connectedComponentsStar(edges: DataFrame,
      ckpt: CheckpointStrategy = CheckpointStrategy.Local): DataFrame =
    connectedComponentsStarWithRounds(edges, ckpt)._1

  private[graft] def connectedComponentsStarWithRounds(edges: DataFrame,
      ckpt: CheckpointStrategy): (DataFrame, Int) = {
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // lazy cuts: the count on the next line materializes the checkpoint
    // in the same job (see connectedComponentsCapped)
    var e = ckpt.cutLazy(canon(
      edges.select(col("doc_a").as("a"), col("doc_b").as("b"))))
    var eCount = e.count()
    // same size-gated broadcast as the min-label loop (guide §3.1): the
    // per-round min tables (mn: one row per node; byHi: one row per
    // star root) are broadcastable whenever the edge set is small, and
    // the checkpointed frames' stats are invisible to AQE so the hint
    // is the only way the rounds get a broadcast join
    val bcastGate = eCount <= broadcastNodes(edges)
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
      val next = ckpt.cutLazy(
        large.join(maybeB(byHi), "b").filter(col("a") =!= col("m"))
          .select(col("m").as("a"), col("a").as("b"))
          .union(byHi.select(col("m").as("a"), col("b")))
          .distinct())
      rounds += 1
      val nextCount = next.count()
      done = nextCount == eCount &&
        next.join(e, Seq("a", "b"), "left_anti").isEmpty
      ckpt.release(e) // released only after the fixpoint check read it
      e = next
      eCount = nextCount
    }
    val labels = e.select(col("b").as("doc_id"), col("a").as("cluster_id"))
      .union(e.select(col("a").as("doc_id"), col("a").as("cluster_id")))
      .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
    ccLog(edges, s"star rounds=$rounds")
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

  /** Materialize the shingle index once per (session, sf dir) and read it
    * back from parquet: the dedup plans reference the index up to 5 times
    * (bands ×2, inverted-index join ×2, counts), and lazy re-evaluation
    * of the tokenize+window pipeline dominated their cost. This is the
    * local analogue of checkpointing the inverted index before LSH at
    * cluster scale. */
  private def staged(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    graft.core.Staged(s, key)(build)
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
  def stagedShingles(s: SparkSession, dir: String): DataFrame =
    staged(s, dir)(shingles(docsParallel(s, dir)))
  /** Simhash fingerprints staged too: the banded-pair query references
    * the fingerprint table THREE times (band explode + two verify
    * joins), and each reference re-ran the 32-conditional-sum aggregate
    * over every token. */
  def stagedSimhash(s: SparkSession, dir: String): DataFrame =
    staged(s, s"$dir|simhash")(simhash32(docsParallel(s, dir)))

  /** Banded simhash near-dup pairs (hamming ≤ 3): split the 32-bit
    * fingerprint into 4 byte-blocks; by pigeonhole any pair within
    * hamming 3 agrees on at least one whole block, so an equi-join on
    * (block index, block value) finds all such pairs without an
    * all-pairs scan. CANONICAL-BAND emission: the full fingerprint
    * rides along on both join sides and a pair is kept only at its
    * SMALLEST agreeing band — each (a,b) surfaces exactly once, which
    * deletes the distinct over the raw candidate stream AND both
    * fingerprint join-backs (at the 10× soak that distinct shuffled
    * ~39 M candidate rows to confirm 8.5 M pairs; the verify is a
    * row-local filter on the band join's output, nothing shuffles but
    * the bands themselves). Shared by the pair query and the O(docs)
    * cluster resolution. */
  private def simhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashPairsOf(stagedSimhash(s, dir))

  /** Same banded pair generation over an arbitrary (doc_id, simhash)
    * frame — the cluster query runs it on one representative per
    * distinct fingerprint instead of the full corpus. */
  private def simhashPairsOf(fp: DataFrame): DataFrame = {
    val bands = fp.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b => struct(lit(b).as("b"),
          shiftright(col("simhash"), 8 * b).bitwiseAND(255).as("sig"))): _*)).as("e"))
      .select(col("doc_id"), col("simhash"), col("e.b").as("b"), col("e.sig").as("sig"))
    def byte(c: Column, b: Int): Column =
      shiftright(c, 8 * b).bitwiseAND(255)
    val firstAgreeingBand = (0 until 4).map { bb =>
      (col("b") === bb) && (0 until bb)
        .map(p => byte(col("sha"), p) =!= byte(col("shb"), p))
        .foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    bands.select(col("doc_id").as("doc_a"), col("simhash").as("sha"),
        col("b"), col("sig"))
      .join(bands.select(col("doc_id").as("doc_b"), col("simhash").as("shb"),
        col("b"), col("sig")), Seq("b", "sig"))
      .filter(col("doc_a") < col("doc_b") && firstAgreeingBand)
      .withColumn("hamming", expr("bit_count(sha ^ shb)").cast("bigint"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
  }
  /** Minhash signatures staged: the LSH band self-join references the
    * signature table on both sides — unstaged, that is 2x16 md5 hashes
    * per shingle instead of 1x16. */
  def stagedMinhashSigs(s: SparkSession, dir: String): DataFrame =
    staged(s, s"$dir|minhash")(minhashSignature(stagedShingles(s, dir)))
  /** Substring-window fingerprints staged: dedup_substring_spans
    * references the grams table twice (corpus-wide occ groupBy + the
    * probe side of the join back), and the up-to-8192-windows-per-doc
    * explode + hash60 pipeline is the query's dominant cost — unstaged
    * it ran twice. */
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
    staged(s, s"$dir|cappedrepshared|prop|${pathTag(s, dir)}") {
      val sh = stagedShingles(s, dir)
      val dfTab = stagedShingleDf(s, dir)
      val shR = stagedShinglesReps(s, dir)
      withStageBudget(
        cappedRepPairs(shR, sh, dfTab),
        cappedVolumeBound(sh, dfTab, shR), "stagedCappedSharedReps")
    }
  /** Per-representative group stats staged beside the rep pairs:
    * n_mem (exact-dup group size) and has_rare (the text owns ≥ 1
    * full-corpus-rare shingle — the uncollapsed candidacy rule for a
    * group's INTERNAL pairs). One row per distinct text. */
  def stagedRepStats(s: SparkSession, dir: String): DataFrame =
    staged(s, s"$dir|repstats|prop") {
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
    else staged(s, s"$dir|shinglesR")(
      stagedShingles(s, dir).join(
        exactRepMap(s, dir).filter(col("doc_id") === col("rep"))
          .select("doc_id"),
        Seq("doc_id"), "left_semi"))
  /** Shingle document-frequency table staged once: the capped staging
    * reads it twice (rare filter + stop filter) and the staging-volume
    * budget aggregates it a third time — unstaged, each reference
    * re-shuffles the full posting stream. */
  def stagedShingleDf(s: SparkSession, dir: String): DataFrame =
    staged(s, s"$dir|shingledf")(
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
  /** In-plan WORK budget for the capped staging build — the intermediate
    * twin of [[withPairBudget]] (which bounds OUTPUT cardinality, not
    * join memory/work — the round-9 30x OOM hit the intermediate, which
    * an output budget cannot see). The rare self-join's slot volume is
    * known exactly from the df table before any pair is generated; past
    * `graft.stage.budget` (default 10^10 — a time bound, not a heap
    * bound, now that the slot stream is map-side-combined and
    * spillable) the staging build raise_errors and points at the
    * lossless prefix path, whose candidate volume does not carry the
    * df² factor. */
  private def withStageBudget(out: DataFrame, est: DataFrame,
                              what: String): DataFrame = {
    val budget = out.sparkSession.conf.get("graft.stage.budget", "10000000000").toLong
    // The guard is evaluated EAGERLY on the 1-row estimate (a bounded
    // driver-side head(), the allowed pattern) BEFORE the guarded plan
    // is ever scheduled. The earlier in-plan form — raise_error wired
    // into the output projection — only fired once the self-join
    // produced its first output row, i.e. AFTER the map stage had
    // already performed the work the budget exists to refuse (it looked
    // preemptive in the 100x soak only because the collapsed rep-level
    // join there was tiny). raise_error on the estimate row keeps the
    // exception class and message identical to the in-plan form.
    est.select(
      when(col("pair_est") <= budget, col("pair_est"))
        .otherwise(raise_error(concat(
          lit(s"$what: staging self-join work volume "), col("pair_est").cast("string"),
          lit(s" exceeds graft.stage.budget=$budget - use the lossless prefix " +
            "path (dedup_ngram_jaccard_prefix) or raise the budget")))
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
    staged(s, s"$dir|lshcand|${b}x$r") {
      val bands = lshBandsCfg(stagedMinhashSigs(s, dir), b, r)
      bands.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
        .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("sig")),
          Seq("band", "sig"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
    }
  /** REP-LEVEL LSH candidate pairs for the tuning sweep: the band
    * self-join runs over one signature per distinct text (identical
    * texts hash to identical signatures, so the doc-level candidate set
    * is exactly this set expanded through the member map — the tuning
    * query does that expansion analytically on group sizes). Staged:
    * each config's rep pairs feed both the candidate count and the
    * exact verify. Rep-level minhash sigs are staged beneath it, shared
    * across the three configs. */
  def stagedLshCandidatesReps(s: SparkSession, dir: String, b: Int, r: Int): DataFrame =
    staged(s, s"$dir|lshcandR|${b}x$r") {
      val sigsR = staged(s, s"$dir|minhashR")(
        minhashSignature(stagedShinglesReps(s, dir)))
      val bands = lshBandsCfg(sigsR, b, r)
      bands.select(col("doc_id").as("ra"), col("band"), col("sig"))
        .join(bands.select(col("doc_id").as("rb"), col("band"), col("sig")),
          Seq("band", "sig"))
        .filter(col("ra") < col("rb"))
        .select("ra", "rb").distinct()
    }
  /** Distinct (doc_id, winnow fingerprint) pairs — K=8 char grams, W=16
    * window minima (the doc_winnow_fingerprints derivation). Staged:
    * the per-doc profile reads it once, the cross-doc pair join twice. */
  def stagedWinnowFps(s: SparkSession, dir: String): DataFrame =
    staged(s, s"$dir|winnowfps")(winnowFpsRowLocal(docsParallel(s, dir)))

  /** ROW-LOCAL winnowing (codegen kernel): the window rendition below
    * shuffled up to 8,192 rows per doc through a (doc_id, pos) window
    * sort for a per-doc pure function. One narrow projection now. */
  private[graft] def winnowFpsRowLocal(docs: DataFrame): DataFrame = {
    val K = 8; val W = 16
    docs
      .filter(length(col("text")) >= K + W - 1)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints(col("text"), K, W)).as("fp"))
  }

  /** The exploded/window rendition of the winnow fingerprint derivation
    * — spec-only: LlmOpsSpec gates the codegen kernel against it. */
  private[graft] def winnowFpsViaWindow(docs: DataFrame): DataFrame = {
    val K = 8; val W = 16
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, W - 1)
    docs
      .filter(length(col("text")) >= K + W - 1)
      .select(col("doc_id"), col("text"),
        (length(col("text")) - (K - 1)).as("ngrams"),
        explode(sequence(lit(1), length(col("text")) - (K - 1))).as("pos"))
      .select(col("doc_id"), col("pos"), col("ngrams"),
        hash60(expr(s"substring(text, pos, $K)")).as("h"))
      .withColumn("fp", min(col("h")).over(w))
      .filter(col("pos") <= col("ngrams") - (W - 1))
      .select(col("doc_id"), col("fp")).distinct()
  }

  def stagedGrams(s: SparkSession, dir: String): DataFrame =
    staged(s, s"$dir|grams|$SubstrLen") {
      val L = SubstrLen
      // 8192-position fan-out cap — NOT silent: corpus_cap_report counts
      // the docs and positions it truncates, and every consumer's oracle
      // replays the same cap. r13: the per-position hashes come from the
      // row-local GramHashes kernel (one reused digest over one byte
      // array per doc) instead of explode(sequence) + a per-row
      // hash60(substring(..)) expression chain, which paid a substring
      // allocation + MessageDigest construction + hex string + conv()
      // parse per position — same values, same row multiset, the explode
      // now fans out ready-made longs (LlmOpsSpec pins kernel ≡
      // expression rendition).
      docsParallel(s, dir)
        .filter(length(col("text")) >= L)
        .select(col("doc_id"),
          explode(graft.functions.GramHashes(col("text"), L, 8192)).as("hg"))
    }

  /** In-plan output-cardinality guard for the PAIR-EMITTING diagnostics
    * (`dedup_simhash_pairs`, `dedup_containment`). Their output is
    * Θ(dup²) on k-way duplicate cliques — fine as small-corpus
    * diagnostics, an output bottleneck on a re-crawl-shaped 100 TB
    * corpus — and each has an O(docs) supersession
    * (`dedup_simhash_clusters`, `dedup_containment_topk`). The guard
    * makes the pair forms impossible to run BLIND at scale: a cheap
    * pre-aggregate estimates the pair cardinality, and the output
    * raise_errors when the estimate exceeds `graft.pairs.budget`
    * (default 10⁹) — the same in-plan-guard pattern as ann_ivf_upsert's
    * seed-coverage check. Deliberately an explicit escape hatch: an
    * operator who has sized the run raises the budget in one conf.
    * When the estimate is within budget the wrapped column passes
    * through untouched, so shipped-SF oracles are unchanged.
    *
    * SCOPE: this bounds the OUTPUT cardinality only — it cannot see the
    * memory/work of the joins that PRODUCE the pairs (the round-9 30x
    * OOM was an intermediate, hit before any output row existed).
    * Intermediate volume is guarded separately at its source:
    * [[withStageBudget]] on the capped staging build. */
  private def withPairBudget(out: DataFrame, est: DataFrame,
                             query: String): DataFrame = {
    val budget = out.sparkSession.conf.get("graft.pairs.budget", "1000000000").toLong
    // Eager 1-row guard, same rationale as [[withStageBudget]]: the
    // budget must refuse BEFORE the expansion/join is scheduled, and an
    // output-projection raise_error cannot fire until the guarded plan
    // has already produced a row.
    est.select(
      when(col("pair_est") <= budget, col("pair_est"))
        .otherwise(raise_error(concat(
          lit(s"$query: estimated pair output "), col("pair_est").cast("string"),
          lit(s" exceeds graft.pairs.budget=$budget - use the O(docs) twin " +
            "(dedup_simhash_clusters / dedup_containment_topk) or raise the budget")))
          .cast("long"))).head(): Unit
    out
  }

  /** Upper bound on the banded simhash pair count WITHOUT running the
    * pair join: Σ over (band, value) buckets of n·(n-1)/2 — the
    * candidate pairs the band equi-join would enumerate (true output is
    * the hamming≤3 subset). One narrow aggregate over the staged
    * fingerprints. */
  private def simhashPairBound(s: SparkSession, dir: String): DataFrame =
    stagedSimhash(s, dir)
      .select(explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"),
          shiftright(col("simhash"), 8 * b).bitwiseAND(255).as("sig"))): _*)).as("e"))
      .groupBy("e").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("(n * (n - 1)) div 2")), lit(0L)).as("pair_est"))

  /** Expand qualifying rep-level pairs (ra, rb, score) to doc pairs
    * through the exact-dup member map: cross-group pairs inherit the rep
    * score (identical shingle sets ⇒ identical measure); within-group
    * pairs — candidates iff the text has ≥ 1 rare shingle (has_rare,
    * the uncollapsed candidacy rule) — carry `selfScore` (the measure of
    * two identical sets). Only QUALIFYING pairs are ever expanded, so
    * the dup²-sized rows produced here are exactly the demanded output. */
  private def expandQualified(qual: DataFrame, score: String, selfScore: Double,
                              mem: DataFrame, stats: DataFrame): DataFrame = {
    val cross = qual
      .join(mem.select(col("rep").as("ra"), col("doc_id").as("ma")), "ra")
      .join(mem.select(col("rep").as("rb"), col("doc_id").as("mb")), "rb")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col(score))
    val within = mem
      .join(stats.filter(col("has_rare") && col("n_mem") >= 2).select("rep"),
        Seq("rep"), "left_semi")
      .select(col("rep"), col("doc_id").as("ma"))
      .join(mem.select(col("rep"), col("doc_id").as("mb")), "rep")
      .filter(col("ma") < col("mb"))
      .select(col("ma").as("doc_a"), col("mb").as("doc_b"),
        lit(selfScore).as(score))
    cross.unionByName(within)
  }

  /** J ≥ 0.5 pairs from the rep-level staged artifact: score + threshold
    * at rep level, expansion after — shared by dedup_ngram_jaccard and
    * its _capped alias. */
  private def cappedJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val qual = stagedCappedSharedReps(s, dir)
      .select(col("ra"), col("rb"),
        round(col("shared").cast("double") /
          (col("ca") + col("cb") - col("shared")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    // doc-level path: the staged artifact is already doc-granular (the
    // self-join ran over the FULL index, so within-dup-group pairs
    // emerged from the join itself) — no expansion, no rep-stats staging
    if (docLevelPath(s, dir))
      qual.select(col("ra").as("doc_a"), col("rb").as("doc_b"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    else expandQualified(qual, "jaccard", 1.0,
      exactRepMap(s, dir), stagedRepStats(s, dir))
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
      val bloom = graft.functions.Bloom.stagedBytes(
        s, s"$dir|bloom|corpusfp", corpus, col("fingerprint"), 1L << 17)
      val definitelyNew = batch.filter(!graft.functions.Bloom.mightContain(bloom, col("fingerprint")))
      val confirmedNew = batch.filter(graft.functions.Bloom.mightContain(bloom, col("fingerprint")))
        .join(corpus, Seq("fingerprint"), "left_anti")
      definitelyNew.unionByName(confirmedNew)
        .select("doc_id", "source").orderBy("doc_id")
    }),

    // Inverted-index n-gram Jaccard near-dup pairs (threshold 0.5),
    // SHIPPED via the df-capped candidate path: stop-shingles (document
    // frequency > the corpus-proportional cap, greatest(64, ⌈n/200⌉) —
    // see cappedCandidatesProportional) are dropped before the
    // self-join — a df-f bucket
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
    // clustersCollapsed): CC over one representative per distinct text,
    // labels fanned back through the exact-dup map — the round-8 10×
    // soak measured the uncollapsed edge staging at 47.8 s, dominated
    // by k² self-join work inside planted k-way exact cliques. Oracle:
    // DuckDB recursive CTE reachability over the FULL pair graph —
    // unchanged, which is the proof the collapse preserves labels.
    "dedup_clusters" -> ((s, dir) =>
      clustersCollapsed(s, dir, connectedComponents(_)).orderBy("doc_id")),

    // Same clusters via the O(log²n)-round large-star/small-star
    // rewriting (see connectedComponentsStar) — the deep-graph scale
    // path, gate-checked against the identical recursive-CTE oracle so
    // the two CC implementations can never drift.
    "dedup_clusters_star" -> ((s, dir) =>
      clustersCollapsed(s, dir, connectedComponentsStar(_)).orderBy("doc_id")),

    // The decision a dedup pipeline actually ships: one row per corpus
    // document with its cluster and a keep/drop verdict (keep = the
    // cluster's min doc_id; singletons keep themselves). Candidates →
    // verify → cluster → keep-list, end to end.
    "dedup_keep_canonical" -> ((s, dir) => {
      val clusters = clustersCollapsed(s, dir, connectedComponents(_))
      Tables.documents(s, dir).select("doc_id")
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id")).as("keep"))
        .orderBy("doc_id")
    }),

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
      val candR = staged(s, s"$dir|prefixcandR|$t|${pathTag(s, dir)}")(
        pairsSharing(prefixes(shR, t), t).distinct())
      val repPairs = jaccardBySetsTiered(candR, shR, t)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .filter(col("jaccard") >= t)
      // doc-level path: the prefix pipeline ran over the FULL index, so
      // repPairs ARE the doc pairs (dup pairs verified at J = 1 by the
      // tiered verify itself) — no expansion
      if (docLevelPath(s, dir)) repPairs.orderBy("doc_a", "doc_b")
      else {
        val members = exactRepMap(s, dir).select(col("rep"), col("doc_id").as("m"))
        // expansion is ordered per OUTPUT pair: group members interleave
        // across rep groups, so least/greatest, not (rep_a, rep_b) order
        val cross = repPairs
          .join(members.select(col("rep").as("doc_a"), col("m").as("ma")), "doc_a")
          .join(members.select(col("rep").as("doc_b"), col("m").as("mb")), "doc_b")
          .select(least(col("ma"), col("mb")).as("doc_a"),
            greatest(col("ma"), col("mb")).as("doc_b"), col("jaccard"))
        // reps with >= 1 shingle (shingle-less texts have no pairs in the
        // uncollapsed formulation either)
        val shingled = shR.select("doc_id").distinct().select(col("doc_id").as("rep"))
        val within = members.join(shingled, "rep")
          .select(col("rep"), col("m").as("ma"))
          .join(members.select(col("rep"), col("m").as("mb")), "rep")
          .filter(col("ma") < col("mb"))
          .select(col("ma").as("doc_a"), col("mb").as("doc_b"),
            lit(1.0).as("jaccard"))
        cross.unionByName(within).orderBy("doc_a", "doc_b")
      }
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
        val candN = candR.join(na, "ra").join(nb, "rb")
          .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("c"))
        val verN = jaccardBySets(
            candR.select(col("ra").as("doc_a"), col("rb").as("doc_b")), shR)
          .filter(col("jaccard") >= 0.5)
          .select(col("doc_a").as("ra"), col("doc_b").as("rb"))
          .join(na, "ra").join(nb, "rb")
          .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("v"))
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
        withPairBudget(pairs,
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
        withPairBudget(pairs,
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
      withPairBudget(simhashPairs(s, dir).orderBy("doc_a", "doc_b"),
        simhashPairBound(s, dir), "dedup_simhash_pairs")),

    // The O(docs) resolution of the simhash graph — the shape that
    // SUPERSEDES the pair query on duplicate-heavy corpora: the pair
    // stream is Θ(dup²) on k-way cliques (a 10-way re-crawl clique
    // emits 45 pairs; the round-7 10× soak measured 8.53 M pairs from
    // planted cliques — a real re-crawl at 100 TB makes that the
    // operator's output bottleneck), while doc→cluster emits exactly
    // one row per involved doc no matter how dense the duplication.
    //
    // FINGERPRINT COLLAPSE before CC: docs sharing an identical simhash
    // are by definition one hamming-0 clique, so the component graph is
    // computed over one REPRESENTATIVE per distinct fingerprint (min
    // doc_id — exactly what a re-crawl collapses N× on) and each doc
    // inherits its representative's label via one equi-join on the
    // fingerprint. Labels are unchanged: a cluster's min doc_id is the
    // min over its fingerprint groups' own minima. The CC rounds then
    // shuffle edges between distinct fingerprints, not dup² clique
    // edges; the ADAPTIVE variant (min-label capped, star fallback)
    // finishes shallow simhash graphs in their 2-3 natural rounds
    // instead of paying 16+ star rounds' scheduling latency, while deep
    // graphs still get the O(log² n) star path after contraction.
    // Same recursive-reachability oracle as dedup_clusters.
    "dedup_simhash_clusters" -> ((s, dir) => {
      val fp = stagedSimhash(s, dir)
      val reps = fp.groupBy("simhash").agg(min("doc_id").as("rep"))
      val fpRep = fp.join(reps, "simhash")
      val repEdges = simhashPairsOf(reps.select(col("rep").as("doc_id"), col("simhash")))
        .select("doc_a", "doc_b")
      val repClusters = connectedComponentsAuto(repEdges)
        .select(col("doc_id").as("rep"), col("cluster_id"))
      // docs whose representative joined a cross-fingerprint cluster
      // take that label; docs in a multi-doc hamming-0 clique with no
      // external edge cluster at their representative
      val dupOnly = fpRep.groupBy("rep").agg(count(lit(1)).as("grp_n"))
      fpRep.join(repClusters, Seq("rep"), "left")
        .join(dupOnly, "rep")
        .filter(col("cluster_id").isNotNull || col("grp_n") > 1)
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
        .orderBy("doc_id")
    }),

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

  /** DuckDB twin of [[cappedCandidatesProportional]]: candidate pairs
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
