package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Text-analysis operators for a training-data pipeline over the
  * documents table: token/char statistics, quality scoring, n-gram
  * stopword language ID, and content fingerprinting.
  *
  * Everything is built from codegen'd built-ins (split / transform /
  * aggregate / regexp_replace / md5) — no UDFs — so the whole pipeline
  * stays inside WholeStageCodegen and scales as a single projection pass
  * over the corpus (no shuffle at all until an aggregation is requested).
  */
object TextAnalysis {

  /** Chunker geometry: 128-char windows every 96 chars (32 overlap). */
  private val ChunkSize = 128
  private val ChunkStep = 96

  /** Overlapping fixed-size chunks, one row per (doc, window): starts
    * from sequence() + posexplode — a narrow per-row fan-out, no shuffle.
    * Chunk i covers [i*step, i*step + size); empty docs emit one empty
    * chunk, null text emits nothing.
    */
  def chunksOf(docs: DataFrame, size: Int, step: Int): DataFrame = {
    require(size >= 1 && step >= 1 && step <= size,
      s"bad chunk geometry: size=$size step=$step")
    docs
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(0),
          greatest(length(col("text")) - 1, lit(0)), lit(step))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        col("col").cast("long").as("chunk_start"),
        expr(s"substring(text, col + 1, $size)").as("chunk"))
  }

  private def chunks(s: SparkSession, dir: String): DataFrame =
    chunksOf(Tables.documents(s, dir), ChunkSize, ChunkStep)

  /** Whitespace tokens (keeps parity with DuckDB string_split). */
  def tokens(text: Column): Column = split(text, " ", -1)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Sum of token lengths via a higher-order aggregate — no explode. */
  def sumTokenLen(text: Column): Column =
    aggregate(tokens(text), lit(0), (acc, w) => acc + length(w))

  /** Characters outside [a-z0-9 ] as a fraction of all characters. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^a-z0-9 ]", ""))).cast("double") /
      nullif(length(text), lit(0)).cast("double")

  /** Fraction of tokens found in `words`. */
  def hitRatio(text: Column, words: Seq[String]): Column =
    hitCount(text, words).cast("double") / nullif(tokenCount(text), lit(0)).cast("double")

  def hitCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), w => w.isInCollection(words)))

  /** Canonical-form fingerprint: md5 of whitespace-normalized text. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(text, "\\s+", " ")))

  /** Composite quality score in [0,1]: stopword share + length credit
    * (capped at 100 tokens) + cleanliness — the text_quality column and
    * the pipeline_clean_corpus keep-gate. */
  def qualityScore(text: Column): Column =
    lit(0.4) * hitRatio(text, StopEn) +
      lit(0.3) * least(lit(1.0), tokenCount(text).cast("double") / lit(100.0)) +
      lit(0.3) * (lit(1.0) - punctRatio(text))

  val StopEn = Seq("the", "and", "of", "to", "a", "in", "is", "it")
  val StopEs = Seq("el", "la", "de", "que", "y", "en", "un")
  val StopDe = Seq("der", "die", "und", "das", "ist", "ein")
  val StopFr = Seq("le", "les", "et", "des", "une", "du")

  // ---------------------------------------------------------------------

  /** N-round BPE training loop — the general form of the oracle-checked
    * two-round `text_bpe_train` query. Each round: count adjacent char
    * pairs corpus-wide, pick the argmax (count desc, pair asc), merge it
    * everywhere (replace() = the left-to-right non-overlapping BPE merge
    * rule), and continue on the merged corpus. Merged symbols come from
    * the Unicode private-use area (U+E000+i), so any round count works on
    * any lowercase corpus. Per round: one narrow scan, one bounded
    * aggregation, ONE single-row driver fetch (the argmax — same bounded
    * driver action as an iterative fixpoint's convergence count). The
    * rounds run on the round loop the graph operators share,
    * [[graft.operators.CheckpointStrategy.rounds]]: it cuts each round's
    * merged corpus, so round N's plan doesn't replay rounds 1..N-1's
    * replaces from scratch, and frees the corpus it replaced. A round
    * that finds no pair left ends the loop.
    *
    * Checkpoint posture, same contract as the Graph/Dedup loops: `Local`
    * (the default) pins round state in executor-local blocks — fine
    * single-node, but one executor loss kills a long training run. A
    * cluster run should pass
    * `Reliable(dir)` so round state lands on fault-tolerant storage.
    * Production posture at 100 TB: train the merge table on a
    * deterministic hash-sample of the corpus (pair statistics converge
    * long before full-corpus counts; `Sampling.hashSplit` gives the
    * sample), then apply the learned merges corpus-wide — the apply side
    * (`text_bpe_encode`) is a linear narrow pass and already scales.
    *
    * Returns (round, merged_pair, pair_count) for rounds 1..n.
    */
  def bpeTrain(docs: DataFrame, rounds: Int,
      ckpt: graft.operators.CheckpointStrategy =
        graft.operators.CheckpointStrategy.Local): Seq[(Int, String, Long)] = {
    require(rounds >= 1 && rounds <= 4096, s"rounds out of range: $rounds")
    val merges = Seq.newBuilder[(Int, String, Long)]
    val corpus = ckpt.rounds(docs.select(col("text")), rounds) { round =>
      val top = topPair(pairCounts(round.state, "text")).collect()
      if (top.isEmpty) round.state // no pair left to merge: a fixpoint
      else {
        val pair = top(0).getAs[String]("pair")
        merges += ((round.index, pair, top(0).getAs[Long]("cnt")))
        val marker = (0xE000 + (round.index - 1)).toChar.toString
        round.state.select(regexp_replace(col("text"),
          java.util.regex.Pattern.quote(pair), marker).as("text"))
      }
    }
    ckpt.release(corpus)
    merges.result()
  }

  /** Adjacent character pairs of column `c` counted over `df`, as
    * (pair, cnt): one narrow explode of every 2-char substring plus one
    * hash aggregate. The fan-out is bounded to the first 8 KiB of each
    * text, matching the oracles' generate_series cap. */
  private def pairCounts(df: DataFrame, c: String): DataFrame = df
    .filter(length(col(c)) >= 2)
    .select(explode(sequence(lit(1),
      least(length(col(c)) - 1, lit(8192)))).as("i"), col(c))
    .select(expr(s"substring($c, i, 2)").as("pair"))
    .groupBy("pair").agg(count(lit(1)).as("cnt"))

  /** The argmax row of [[pairCounts]]: count desc, ties to the smaller
    * pair — the merge every BPE round picks. */
  private def topPair(counts: DataFrame): DataFrame =
    counts.orderBy(desc("cnt"), col("pair")).limit(1)

  /** Corpus-wide adjacent char-pair counts staged once per session: the
    * pair-statistic query and BPE training's first round aggregate the
    * identical table (≤ |alphabet|² rows out of a full corpus scan). */
  def stagedPairCounts(s: SparkSession, dir: String): DataFrame =
    graft.core.Staged(s, s"$dir|bpePairs")(pairCounts(Tables.documents(s, dir), "text"))

  /** Per-doc stopword hit counts staged once per session: the langid
    * query and its confusion-matrix eval both start from this table (a
    * 6-column projection out of a full text scan with 4 token-filter
    * passes). */
  def stagedLangHits(s: SparkSession, dir: String): DataFrame =
    graft.core.Staged(s, s"$dir|langHits") {
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        hitCount(col("text"), StopEn).as("hits_en"),
        hitCount(col("text"), StopEs).as("hits_es"),
        hitCount(col("text"), StopDe).as("hits_de"),
        hitCount(col("text"), StopFr).as("hits_fr"))
    }

  /** first-wins argmax over the staged hit columns (en > es > de > fr). */
  private def langGuess: Column = {
    val m = greatest(col("hits_en"), col("hits_es"), col("hits_de"), col("hits_fr"))
    when(col("hits_en") === m, "en").when(col("hits_es") === m, "es")
      .when(col("hits_de") === m, "de").otherwise("fr")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NO-SILENT-CAPS REPORT: the char-position explodes (the bigram
    // scans here and Dedup's 20-char substring grams) bound their
    // fan-out at 8192 positions per doc, so statistics over docs longer
    // than cap+L-1 chars are computed on a prefix. The cap is replayed
    // verbatim by every consumer's oracle (nothing drifts) — this query
    // makes it OBSERVABLE: per cap site, how many docs participate, how
    // many are prefix-truncated, and how many scan positions the cap
    // dropped. An operator reads n_docs_truncated > 0 as "raise the cap
    // or pre-chunk long docs (text_chunk_* is the chunked path)".
    "corpus_cap_report" -> ((s, dir) => {
      val lens = Tables.documents(s, dir).select(length(col("text")).as("len"))
      def site(name: String, l: Int) =
        lens.filter(col("len") >= l)
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("len") - (l - 1) > 8192, 1)).as("n_docs_truncated"),
            coalesce(sum(greatest(lit(0L),
              (col("len") - (l - 1)).cast("long") - 8192L)), lit(0L))
              .as("positions_lost"))
          .select(lit(name).as("site"), lit(8192L).as("cap"),
            col("n_docs"), col("n_docs_truncated"), col("positions_lost"))
      site("char_bigram_scan", 2)
        .unionByName(site("substring_grams_l20", 20))
        .orderBy("site")
    }),

    "text_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          length(col("text")).as("n_chars"),
          tokenCount(col("text")).as("n_tokens"),
          round(sumTokenLen(col("text")).cast("double") /
            nullif(tokenCount(col("text")), lit(0)).cast("double"), 6).as("avg_token_len"),
          round(punctRatio(col("text")), 6).as("punct_ratio"),
          round(hitRatio(col("text"), StopEn), 6).as("stopword_ratio"),
          fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // Token counting three ways: whitespace tokens, a BPE-ish regex
    // lexer (letter runs / digit runs / single punctuation), and the
    // ~4-chars-per-token estimate used for quick corpus sizing.
    "text_token_count" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          tokenCount(col("text")).as("ws_tokens"),
          expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))").as("re_tokens"),
          ceil(length(col("text")).cast("double") / 4.0).cast("long").as("est_bpe_tokens"))
        .orderBy("doc_id")),

    // Stopword-hit language ID with deterministic greatest/first-wins
    // tie-break (en > es > de > fr).
    "text_langid" -> ((s, dir) =>
      stagedLangHits(s, dir)
        .select(col("doc_id"), col("hits_en"), col("hits_es"),
          col("hits_de"), col("hits_fr"), langGuess.as("lang_guess"))
        .orderBy("doc_id")),

    // Unigram-surprisal quality score — the LM-perplexity-filter shape
    // (CCNet-style) with EXACT integer arithmetic: each token's
    // surprisal bucket is bitlen(N) - bitlen(count(w)) ≈ log2(N/count),
    // computed as binary-string lengths (identical in both engines, no
    // floating log whose last ulp could diverge). High avg bucket =
    // rare-token-heavy (gibberish or OOD), low = stopword soup; the
    // cheap proxy a pipeline runs when a real LM is too expensive.
    // One token shuffle for the unigram table, one join back on the
    // (uniform) token key, one per-doc aggregate.
    "text_surprisal" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      val cnts = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
      val tot = toks.agg(count(lit(1)).as("n_total"))
      toks.join(cnts, "w").crossJoin(broadcast(tot))
        .select(col("doc_id"),
          (length(bin(col("n_total"))) - length(bin(col("cnt")))).cast("long").as("s"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("s").as("surprisal_sum"))
        .select(col("doc_id"), col("n_tokens"), col("surprisal_sum"),
          floor(col("surprisal_sum").cast("double") / col("n_tokens")).cast("long")
            .as("avg_bucket"))
        .orderBy("doc_id")
    }),

    // BIGRAM-LM SURPRISAL — the CCNet-style language-model quality gate
    // one order up from text_surprisal's unigram model: each bigram's
    // conditional surprisal −log₂ P(w₂|w₁) lands in exact integer bits
    // as bitlen(c(w₁·)) − bitlen(c(w₁w₂)) (the same bit-length trick,
    // so both engines agree exactly where a float log₂ would drift).
    // The "LM" is trained and applied in ONE plan: two bounded count
    // aggregations (bigram heads, bigram pairs) joined back to the
    // token stream. Repetitive/templated docs score low bits-per-
    // bigram, incoherent ones high — the two tails a corpus filter
    // trims. Docs with fewer than two tokens have no bigrams and drop.
    "text_bigram_surprisal" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val pairs = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w1")))
        .withColumn("w2", lead("w1", 1).over(w))
        .filter(col("w2").isNotNull)
      val heads = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
      val grams = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      pairs.join(grams, Seq("w1", "w2")).join(heads, "w1")
        .select(col("doc_id"),
          (length(bin(col("c1"))) - length(bin(col("c2")))).cast("long").as("s"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("s").as("surprisal_sum"))
        .select(col("doc_id"), col("n_bigrams"), col("surprisal_sum"),
          floor(col("surprisal_sum").cast("double") / col("n_bigrams")).cast("long")
            .as("avg_bucket"))
        .orderBy("doc_id")
    }),

    // Classifier evaluation — the confusion matrix of the heuristic
    // langid against the corpus's gold `lang` labels: the measurement
    // loop every pipeline filter needs before it gates data (a filter
    // whose precision you haven't measured is a silent corpus bias).
    // One narrow projection + one bounded aggregation (|langs|² cells).
    "text_langid_eval" -> ((s, dir) =>
      stagedLangHits(s, dir)
        .select(col("lang"), langGuess.as("lang_guess"))
        .groupBy("lang", "lang_guess").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_guess")),

    // Code-point Shannon entropy per doc (bits/char) — the cheap
    // gibberish/boilerplate band filter the stopword-based quality
    // score is blind to (base64 blobs score "clean"; key-mash and
    // single-char repetition sit far from language's 3.5-4.5 bits).
    // Row-local codegen kernel (functions/CharEntropy.scala): one
    // narrow projection at scan parallelism; the oracle replays the
    // explode-per-character aggregate formulation cross-engine.
    "text_char_entropy" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          round(graft.functions.CharEntropy(col("text")), 6).as("char_entropy"))
        .withColumn("low_entropy", col("char_entropy") < 2.0)
        .orderBy("doc_id")),

    // Composite quality score in [0,1]: stopword share + length credit
    // (capped at 100 tokens) + cleanliness. Typical pre-training filter.
    "text_quality" -> ((s, dir) => {
      val score = qualityScore(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), round(score, 6).as("quality"),
          (score > 0.5).as("keep"))
        .orderBy("doc_id")
    }),

    // QUANTILE-GATED corpus filtering — drop each language's bottom
    // quality quintile (absolute thresholds misfire across languages;
    // per-language quantiles adapt to each slice's own distribution —
    // the standard corpus-pruning pass). The quality score is recast in
    // integer ppm (same components as qualityScore, staged integer
    // divisions) so the ranking input replays bit-for-bit. Scale shape:
    // NO per-doc rank window (a full per-language sort of the corpus) —
    // the cutoff is a 20-row per-language aggregate broadcast back, so
    // the corpus takes one narrow pass + one bounded-key agg. The exact
    // percentile cutoff buffers per-group values (fine to ~10⁸ docs per
    // lang); the 100 TB cutoff is approx_percentile, which runs HERE
    // IN-PLAN and is asserted inside the exact [15th, 25th]-percentile
    // band (GK rank error 1e-4 ≪ the band; raise_error on violation) —
    // the same ε-contract pattern as agg_approx_percentile, so swapping
    // the gate to the sketch cutoff at scale is a verified one-liner.
    "text_quality_quantile" -> ((s, dir) => {
      val q = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), expr(qualityPpmExpr).as("q_ppm"))
      val cut = q.groupBy("lang").agg(
        expr("percentile(q_ppm, 0.2)").as("cutoff"),
        expr("cast(approx_percentile(q_ppm, 0.2, 10000) as double)").as("acut"),
        expr("percentile(q_ppm, 0.15)").as("lo"),
        expr("percentile(q_ppm, 0.25)").as("hi"))
        .select(col("lang"), col("cutoff"),
          when(col("acut").between(col("lo"), col("hi")), lit(true))
            .otherwise(raise_error(concat(
              lit("approx 20th-pct cutoff outside exact [15,25] band: "),
              col("acut").cast("string"))).cast("boolean"))
            .as("cutoff_band_ok"))
      q.join(broadcast(cut), "lang")
        .select(col("doc_id"), col("lang"), col("q_ppm"),
          (col("q_ppm").cast("double") > col("cutoff")).as("kept"),
          col("cutoff_band_ok"))
        .orderBy("doc_id")
    }),

    // The first BPE merge-training round: corpus-wide adjacent character
    // pair counts (the statistic each merge step of byte-pair-encoding
    // tokenizer training maximizes). One narrow explode pass + one hash
    // aggregate; top-50 by count with a deterministic tiebreak.
    // Pair fan-out bounded to the first 8 KiB per doc, matching the
    // oracle's generate_series cap; counts read from the staged table.
    "text_bpe_pairs" -> ((s, dir) =>
      stagedPairCounts(s, dir)
        .orderBy(desc("cnt"), col("pair"))
        .limit(50)),

    // BPE TRAINING, two merge rounds unrolled (the oracle replays both;
    // the N-round library loop is [[bpeTrain]]) — the loop a byte-level
    // tokenizer trainer actually runs (text_bpe_pairs is one round's
    // statistic; this EXECUTES the merges): count adjacent char pairs
    // corpus-wide, merge the argmax pair everywhere (ties break on pair
    // value; replace() is left-to-right non-overlapping in both
    // engines, the BPE merge rule), recount over the merged corpus,
    // merge again. Merged symbols are single marker chars ('A', 'B' —
    // the corpus alphabet is lowercase + space, so no collision),
    // keeping round-2 pair counting the same cheap 2-char substring
    // scan as round 1. Per round: one narrow scan + one bounded
    // aggregation (pair domain ≤ |alphabet|²) + one broadcast of the
    // single argmax row — the distributed BPE step at any corpus size.
    "text_bpe_train" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("text"))
      // round 1's counts come from the staged pair table (shared with
      // text_bpe_pairs); round 2 must rescan — its corpus is merged
      val top1 = topPair(stagedPairCounts(s, dir))
        .select(col("pair").as("p1"), col("cnt").as("c1"))
      val merged = docs.crossJoin(broadcast(top1))
        .select(expr("replace(text, p1, 'A')").as("text"))
      val top2 = topPair(pairCounts(merged, "text"))
        .select(col("pair").as("p2"), col("cnt").as("c2"))
      top1.select(lit(1L).as("round"), col("p1").as("merged_pair"),
          col("c1").as("pair_count"))
        .unionByName(top2.select(lit(2L).as("round"), col("p2").as("merged_pair"),
          col("c2").as("pair_count")))
        .orderBy("round")
    }),

    // SAMPLE-TRAINED BPE — the 100 TB posture [[bpeTrain]]'s scaladoc
    // prescribes, now executable instead of described: both merges are
    // trained on a deterministic 50% hash slice of the corpus (the same
    // md5 bucket rule as sample_hash_split — reproducible across
    // engines, retries, and repartitions, never rand()), then applied
    // corpus-wide. Pair statistics converge long before full-corpus
    // counts, so training cost scales with the SAMPLE while the apply
    // side stays the linear narrow per-row rewrite that already scales
    // with the scan. Output shape matches text_bpe_encode so sampled
    // and full-corpus training are directly comparable.
    "text_bpe_train_sampled" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val sample = docs
        .filter(pmod(graft.functions.PortableHash.hash60(col("doc_id").cast("string")),
          lit(100L)) < 50)
        .select(col("text"))
      val top1 = topPair(pairCounts(sample, "text")).select(col("pair").as("p1"))
      val sampleMerged = sample.crossJoin(broadcast(top1))
        .select(expr("replace(text, p1, 'A')").as("t1"))
      val top2 = topPair(pairCounts(sampleMerged, "t1")).select(col("pair").as("p2"))
      docs.crossJoin(broadcast(top1)).crossJoin(broadcast(top2))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("len0"),
          length(expr("replace(text, p1, 'A')")).cast("long").as("len1"),
          length(expr("replace(replace(text, p1, 'A'), p2, 'B')")).cast("long").as("len2"))
        .orderBy("doc_id")
    }),

    // BPE ENCODE — the apply side of text_bpe_train: the two trained
    // merges (derived in-plan from the same pair statistics, so trainer
    // and encoder can never drift) are applied to every document and the
    // per-doc symbol counts reported after each round. The merge table
    // rides as a broadcast scalar; encoding itself is a narrow per-row
    // rewrite, so the pass scales with the scan like any tokenizer
    // preprocessor. 'A'/'B' stand in for the PUA merge symbols (the
    // corpus is lowercase — asserted at train time).
    "text_bpe_encode" -> ((s, dir) => {
      val top1 = topPair(stagedPairCounts(s, dir))
        .select(col("pair").as("p1"))
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val m1 = docs.crossJoin(broadcast(top1))
        .select(col("doc_id"), col("text"), expr("replace(text, p1, 'A')").as("t1"))
      val top2 = topPair(pairCounts(m1, "t1"))
        .select(col("pair").as("p2"))
      m1.crossJoin(broadcast(top2))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("len0"),
          length(col("t1")).cast("long").as("len1"),
          length(expr("replace(t1, p2, 'B')")).cast("long").as("len2"))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: training docs sharing 3-gram shingles
    // with a deterministic "eval" subset (doc_id % 97 == 0) — the
    // n-gram-overlap contamination check every pretraining pipeline
    // runs against its eval suites. Inverted-index semi-join, never
    // doc × eval cross product; ≥ 5 shared shingles flags the doc.
    "dedup_decontaminate" -> ((s, dir) => {
      val sh = graft.operators.Dedup.stagedShingles(s, dir)
      val evalSh = sh.filter(col("doc_id") % 97 === 0)
        .select(col("shingle")).distinct()
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(evalSh, Seq("shingle"), "left_semi")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .withColumn("flagged", col("n_shared") >= 5)
        .orderBy("doc_id")
    }),

    // PII pre-scan: pattern hit counts per doc (emails, long digit runs)
    // — the cheap first pass before a redaction rewrite. Conservative
    // regex subset that Java and RE2 interpret identically.
    "text_pii_scan" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("size(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+', 0))").as("n_emails"),
          expr("size(regexp_extract_all(text, '[0-9]{6,}', 0))").as("n_digit_runs"))
        .withColumn("has_pii", col("n_emails") + col("n_digit_runs") > 0)
        .orderBy("doc_id")),

    // PII redaction — the rewrite the scan gates: emails then long digit
    // runs replaced by typed placeholders, applied in that order on both
    // engines (emails may contain digits; placeholders contain neither,
    // so the passes cannot interact). Narrow per-row transform: no
    // shuffle, scales linearly, and the scan/redact pair is the
    // detect-then-rewrite shape a real scrub pipeline ships.
    "text_pii_redact" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("text"), "[a-z0-9._%+-]+@[a-z0-9.-]+", "<EMAIL>"),
            "[0-9]{6,}", "<NUM>").as("clean_text"))
        // placeholders actually emitted (a digit run swallowed by an email
        // match counts once, as <EMAIL>) — counted on clean_text so the
        // number always reconciles with the text shipped downstream
        .withColumn("n_redacted",
          expr("size(regexp_extract_all(clean_text, '<EMAIL>|<NUM>', 0))"))
        .orderBy("doc_id")),

    // Fixed-size overlapping chunking — the RAG / context-window prep
    // step: 128-char windows every 96 chars (32-char overlap), chunk i
    // covering [i*96, i*96+128). Chunk starts come from sequence() +
    // posexplode — a narrow per-row fan-out (no shuffle, no window, no
    // driver loop), so the op is embarrassingly parallel at any corpus
    // size; output carries md5 + length per chunk, not the chunk text,
    // keeping the result ~40 bytes/chunk however large the windows get.
    // Empty docs emit one empty chunk (every doc stays represented);
    // null text drops (explode and DuckDB's lateral both skip it).
    "text_chunk_overlap" -> ((s, dir) =>
      chunks(s, dir)
        .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
          length(col("chunk")).cast("long").as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // Chunk-level exact dedup — the boilerplate detector: a 128-char
    // window recurring across documents (headers, footers, license
    // blurbs, templated intros) surfaces as one md5 key with n_docs ≥ 2.
    // One uniform-key shuffle with map-side partial counts; the chunk
    // text itself never leaves the map side (only its md5 travels).
    "text_chunk_dups" -> ((s, dir) =>
      chunks(s, dir)
        .groupBy(md5(col("chunk")).as("chunk_md5"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
        .filter(col("n_docs") >= 2)
        .orderBy("chunk_md5")),

    // Per-source distribution divergence — the data-mixing diagnostic:
    // how far each source's unigram distribution sits from the corpus
    // mixture, as bucketed cross-entropy minus self-entropy (≈ KL), in
    // the same EXACT integer bitlen(N)-bitlen(cnt) surprisal buckets as
    // text_surprisal (no floating log to diverge across engines; the
    // only doubles are two IEEE-exact BIGINT divisions, rounded). Two
    // uniform token-key shuffles (corpus table, per-source table), one
    // broadcast scalar total, final key bounded by the source taxonomy.
    "text_source_divergence" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
      val corpus = toks.groupBy("w").agg(count(lit(1)).as("cnt_c"))
      val tot = toks.agg(count(lit(1)).as("n_c"))
      val srcCnt = toks.groupBy("source", "w").agg(count(lit(1)).as("cnt_s"))
      val srcTot = srcCnt.groupBy("source").agg(sum("cnt_s").as("n_s"))
      srcCnt.join(corpus, "w").join(srcTot, "source").crossJoin(broadcast(tot))
        .select(col("source"), col("cnt_s"),
          (length(bin(col("n_c"))) - length(bin(col("cnt_c")))).cast("long").as("bits_c"),
          (length(bin(col("n_s"))) - length(bin(col("cnt_s")))).cast("long").as("bits_s"))
        .groupBy("source")
        .agg(sum(col("cnt_s")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("cnt_s") * col("bits_c")).as("cross_bits"),
          sum(col("cnt_s") * col("bits_s")).as("self_bits"))
        .select(col("source"), col("n_tokens"), col("n_distinct"),
          round(col("cross_bits").cast("double") / col("n_tokens"), 6).as("avg_cross_bits"),
          round(col("self_bits").cast("double") / col("n_tokens"), 6).as("avg_self_bits"),
          (col("cross_bits") - col("self_bits")).as("kl_bits_sum"))
        .orderBy("source")
    }),

    // Unicode NFC canonicalization (custom codegen'd Expression; DuckDB
    // twin: nfc_normalize) — run before any fingerprint/dedup so that
    // byte-different, visually-identical encodings collapse. The corpus
    // here is ASCII (is_nfc all true — asserted in spec, where the
    // non-ASCII semantics are exercised on combining-sequence literals);
    // the oracle still pins the full cross-engine plumbing.
    "text_nfc_normalize" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          NfcNormalize(col("text")).as("nfc_text"))
        .select(col("doc_id"),
          (col("text") === col("nfc_text")).as("is_nfc"),
          length(col("nfc_text")).cast("long").as("nfc_len"),
          md5(col("nfc_text")).as("nfc_md5"))
        .orderBy("doc_id")),

    // Repetition stats (Gopher-style quality rule): sentence count,
    // distinct sentences, and the most-repeated sentence's multiplicity.
    "text_repetition" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "\\. ", -1)).as("sent"))
        .groupBy("doc_id", "sent")
        .agg(count(lit(1)).as("k"))
        .groupBy("doc_id")
        .agg(sum(col("k")).as("n_sentences"),
          count(lit(1)).as("n_distinct"),
          max(col("k")).as("max_repeat"))
        .orderBy("doc_id")),

    // Top-3 characteristic terms per doc by a TF-IDF-style weight. The
    // weight is the exact rational tf * N / df (not tf*log(N/df)):
    // integer inputs through IEEE ops give bit-identical doubles in
    // both engines, where log would differ in the last ulp. Same
    // ranking monotonicity in df for fixed tf. Corpus size N joins in
    // as a broadcast 1-row aggregate — no driver-side count.
    "text_tfidf_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val terms = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = terms.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), col("term"))
      tf.join(df, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rn"))
        .orderBy("doc_id", "rn")
    }),

    // Positional PHRASE (bigram) inverted index — the retrieval-side
    // artifact of a corpus pipeline (decontamination lookups, phrase
    // search, span attribution all probe one): term → delta-encoded
    // positional postings "doc:p0,Δ,Δ|doc:…". Built the way segment
    // writers build it, with both scale guards in-plan: (1) a
    // corpus-proportional DF CAP ((N+9) div 10, integer-exact, joined as
    // a broadcast 1-row aggregate) drops stopword-class terms whose
    // posting rows would otherwise grow with the corpus, and (2) BLOCK
    // SHARDING — postings split into 32-doc blocks by a row_number over
    // (term ORDER BY doc_id), so no output row exceeds 32 postings no
    // matter how large a surviving term's df gets; readers range over
    // (term, block). Positions are delta-encoded per doc (first
    // absolute, then gaps) by an indexed transform over the sorted
    // position array — row-local, integer-exact. Shuffles: one agg on
    // (term, doc), one df agg + join on term, one bounded window, one
    // agg on (term, block) — all on keys that partition evenly.
    "text_inverted_index" -> ((s, dir) =>
      invertedIndex(s, dir).orderBy("term", "block")),

    // CO-OCCURRENCE (PMI-shaped) pair mining — which token pairs appear
    // in the same documents far more than chance: the association score
    // every corpus-linguistics / tokenizer-diagnostics pass wants.
    // Score = c_ab·N / (c_a·c_b) in ppm, computed in STAGED integer
    // divisions ((c_ab·10⁶ div c_a)·N div c_b) so the largest
    // intermediate is 10⁶·N — overflow-safe to trillion-doc corpora
    // where the naive single product c_ab·N·10⁶ wraps at ~10⁵ docs.
    // log-free on purpose: log drifts in the last ulp across engines,
    // a staged rational replays exactly and ranks monotonically. Pair
    // generation is ROW-LOCAL: each doc's distinct-token array (capped
    // at 64 — the bound that keeps the k² fan-out fixed no matter how
    // long documents get) expands to ordered pairs via nested
    // transform, so nothing shuffles until the pair/unigram counts —
    // two bounded-key aggregations and one vocabulary-sized join.
    "text_cooccur_pmi" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toksArr = docs.select(col("doc_id"), expr(
        "slice(array_sort(array_distinct(filter(split(text, ' ', -1), x -> x <> ''))), 1, 64)")
        .as("ts"))
      val pairs = toksArr.select(explode(expr(
          "filter(flatten(transform(ts, x -> transform(ts, y -> named_struct('a', x, 'b', y)))), s -> s.a < s.b)"))
          .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      val cab = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      val ca = toksArr.select(explode(col("ts")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      cab.join(ca.select(col("t").as("a"), col("c").as("c_a")), "a")
        .join(ca.select(col("t").as("b"), col("c").as("c_b")), "b")
        .crossJoin(broadcast(n))
        .withColumn("pmi_ppm",
          expr("((c_ab * 1000000) div c_a) * n_docs div c_b"))
        .orderBy(desc("pmi_ppm"), col("a"), col("b"))
        .limit(20)
        .select("a", "b", "c_ab", "c_a", "c_b", "pmi_ppm")
    }),

    // WINDOWED PMI co-occurrence (±4 tokens) — the form real PMI mining
    // uses: association is local (collocations live within a few
    // tokens), and the fan-out is n·K per doc — LINEAR in document
    // length, so unlike the whole-doc variant above no vocabulary slice
    // is needed and long documents contribute their full statistics
    // (the whole-doc query's 64-token cap is its documented k²-bound
    // trade; this query is the uncapped path). Pair generation is
    // row-local (indexed transform over the token array, offsets 1..K,
    // canonical (min,max) orientation, self-pairs dropped); counts are
    // token INSTANCES, and the score is the same staged integer ppm
    // rational — ((c_ab·10⁶ div c_a)·T div c_b, bounded by 10⁶·K·T —
    // so both engines replay it exactly, log-free.
    "text_cooccur_pmi_window" -> ((s, dir) => {
      val K = 4
      val ws = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("filter(split(text, ' ', -1), x -> x <> '')").as("ws"))
        .filter(size(col("ws")) >= 2)
      val pairs = ws.select(explode(expr(
          s"""filter(flatten(transform(sequence(0, size(ws) - 2), i ->
             |  transform(sequence(1, $K), o ->
             |    IF(i + o <= size(ws) - 1 AND ws[i] <> ws[i + o],
             |       named_struct(
             |         'a', IF(ws[i] <= ws[i + o], ws[i], ws[i + o]),
             |         'b', IF(ws[i] <= ws[i + o], ws[i + o], ws[i])),
             |       null)))), s -> s IS NOT NULL)""".stripMargin)).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      val toks = ws.select(explode(col("ws")).as("t"))
      val cu = toks.groupBy("t").agg(count(lit(1)).as("c"))
      val tt = toks.agg(count(lit(1)).as("t_total"))
      pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
        .join(cu.select(col("t").as("a"), col("c").as("c_a")), "a")
        .join(cu.select(col("t").as("b"), col("c").as("c_b")), "b")
        .crossJoin(broadcast(tt))
        .withColumn("pmi_ppm",
          expr("((c_ab * 1000000) div c_a) * t_total div c_b"))
        .orderBy(desc("pmi_ppm"), col("a"), col("b"))
        .limit(20)
        .select("a", "b", "c_ab", "c_a", "c_b", "pmi_ppm")
    }),

    // Decontamination-style PHRASE PROBE against the staged index — the
    // read path that justifies building the artifact: a deterministic
    // "benchmark" phrase set (the opening bigram of every 25th doc)
    // joins the index on term and reports each phrase's df / total tf /
    // block count (0s = phrase absent from the index: either unseen or
    // df-capped away — both "clean" for decontamination purposes).
    // Because the index is a Staged artifact shared with
    // text_inverted_index, the probe never re-tokenizes the corpus:
    // probe cost ∝ |benchmark| + matched postings, the same
    // artifact-reuse posture as the dedup candidate tables.
    "text_phrase_search" -> ((s, dir) => {
      val probes = Tables.documents(s, dir)
        .filter(col("doc_id") % 25 === 0)
        .select(split(col("text"), " ", -1).as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(concat(col("ws")(0), lit(" "), col("ws")(1)).as("term"))
        .distinct()
      probes.join(invertedIndex(s, dir), Seq("term"), "left")
        .groupBy("term")
        .agg(coalesce(max("df"), lit(0L)).as("df"),
          coalesce(sum("tf"), lit(0L)).as("tf"),
          count(col("block")).as("n_blocks"))
        .orderBy("term")
    })
  )

  /** The positional bigram index as a staged artifact (see the
    * text_inverted_index scaladoc for the build's scale guards) —
    * shared by the build query and the phrase-probe read path. */
  private def invertedIndex(s: SparkSession, dir: String): DataFrame =
    graft.core.Staged(s, s"$dir|text_inverted_index") {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val pos = docs
        .select(col("doc_id"), split(col("text"), " ", -1).as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(ws) - 2), i ->
            |  named_struct('p', cast(i as bigint),
            |               'w', concat(ws[i], ' ', ws[i + 1])))""".stripMargin)).as("e"))
        .select(col("doc_id"), col("e.p").as("p"), col("e.w").as("w"))
      val perdoc = pos.groupBy("w", "doc_id")
        .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("p"))).as("ps"))
      val dfTab = perdoc.groupBy("w").agg(count(lit(1)).as("df"))
      val cap = docs.agg(expr("cast((count(1) + 9) div 10 as bigint)").as("cap"))
      val wb = Window.partitionBy("w").orderBy("doc_id")
      perdoc.join(dfTab, "w")
        .crossJoin(broadcast(cap))
        .filter(col("df") <= col("cap"))
        .withColumn("rn", row_number().over(wb))
        .withColumn("block", expr("cast((rn - 1) div 32 as bigint)"))
        .withColumn("post", concat(col("doc_id").cast("string"), lit(":"),
          expr("concat_ws(',', transform(ps, (x, i) -> cast(IF(i = 0, x, x - ps[i - 1]) as string)))")))
        .groupBy("w", "block")
        .agg(max(col("df")).as("df"), count(lit(1)).as("n_docs"),
          sum(col("tf")).as("tf"),
          expr("concat_ws('|', transform(array_sort(collect_list(named_struct('d', doc_id, 'post', post))), s -> s.post))")
            .as("postings"))
        .select(col("w").as("term"), col("block"), col("df"),
          col("n_docs"), col("tf"), col("postings"))
    }

  private def sqlHits(set: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), w -> w IN (${set.map("'" + _ + "'").mkString(",")})))"

  /** Integer-ppm quality score (Spark SQL form): the same three
    * components as [[qualityScore]] — stopword share (0.4), length
    * credit capped at 100 tokens (0.3), cleanliness (0.3) — as STAGED
    * INTEGER divisions in parts-per-million, so the value replays
    * bit-for-bit cross-engine (float sums drift in the last ulp, which
    * would flip quantile ranks near ties). */
  private val qualityPpmExpr: String = {
    val inList = StopEn.map("'" + _ + "'").mkString(", ")
    s"""cast(400000 as bigint)
       |  * size(filter(split(text, ' ', -1), w -> w in ($inList)))
       |  div size(split(text, ' ', -1))
       |+ cast(3000 as bigint) * least(size(split(text, ' ', -1)), 100)
       |+ cast(300000 as bigint)
       |- coalesce(cast(300000 as bigint)
       |    * (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '')))
       |    div nullif(length(text), 0), 0)""".stripMargin
  }

  /** DuckDB twin of [[qualityPpmExpr]]. */
  private val qualityPpmSql: String =
    s"""CAST(400000 AS BIGINT)
       |    * ${sqlHits(StopEn)}
       |    // len(string_split(text, ' '))
       |  + CAST(3000 AS BIGINT) * least(len(string_split(text, ' ')), 100)
       |  + CAST(300000 AS BIGINT)
       |  - coalesce(CAST(300000 AS BIGINT)
       |      * (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
       |      // nullif(length(text), 0), 0)""".stripMargin

  /** DuckDB twin of [[qualityScore]] (shared by the text_quality oracle
    * and the pipeline_clean_corpus oracle). */
  def qualitySql: String =
    s"""(CAST(0.4 AS DOUBLE) * (CAST(${sqlHits(StopEn)} AS DOUBLE) / nullif(len(string_split(text, ' ')), 0))
       |      + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), CAST(len(string_split(text, ' ')) AS DOUBLE) / 100)
       |      + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / nullif(length(text), 0)))""".stripMargin

  def oracles: Map[String, String] = Map(
    "corpus_cap_report" ->
      """WITH lens AS (SELECT length(text) AS len FROM documents),
        |s1 AS (
        |  SELECT 'char_bigram_scan' AS site, CAST(8192 AS BIGINT) AS cap,
        |         count(*) AS n_docs,
        |         count(*) FILTER (WHERE len - 1 > 8192) AS n_docs_truncated,
        |         CAST(coalesce(sum(greatest(0, CAST(len - 1 AS BIGINT) - 8192)), 0) AS BIGINT) AS positions_lost
        |  FROM lens WHERE len >= 2),
        |s2 AS (
        |  SELECT 'substring_grams_l20' AS site, CAST(8192 AS BIGINT) AS cap,
        |         count(*) AS n_docs,
        |         count(*) FILTER (WHERE len - 19 > 8192) AS n_docs_truncated,
        |         CAST(coalesce(sum(greatest(0, CAST(len - 19 AS BIGINT) - 8192)), 0) AS BIGINT) AS positions_lost
        |  FROM lens WHERE len >= 20)
        |SELECT * FROM s1 UNION ALL SELECT * FROM s2 ORDER BY site""".stripMargin,

    "text_stats" ->
      s"""SELECT doc_id, length(text) AS n_chars,
         |       len(string_split(text, ' ')) AS n_tokens,
         |       round(CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS DOUBLE)
         |             / nullif(len(string_split(text, ' ')), 0), 6) AS avg_token_len,
         |       round(CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         |             / nullif(length(text), 0), 6) AS punct_ratio,
         |       round(CAST(${sqlHits(StopEn)} AS DOUBLE)
         |             / nullif(len(string_split(text, ' ')), 0), 6) AS stopword_ratio,
         |       md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
        |       CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS est_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      s"""WITH h AS (SELECT doc_id,
         |       ${sqlHits(StopEn)} AS hits_en, ${sqlHits(StopEs)} AS hits_es,
         |       ${sqlHits(StopDe)} AS hits_de, ${sqlHits(StopFr)} AS hits_fr
         |  FROM documents)
         |SELECT doc_id, hits_en, hits_es, hits_de, hits_fr,
         |       CASE WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
         |            WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
         |            WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
         |            ELSE 'fr' END AS lang_guess
         |FROM h ORDER BY doc_id""".stripMargin,

    "text_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |cnts AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM toks)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(length(bin(tot.n_total)) - length(bin(cnts.cnt))) AS BIGINT)
        |         AS surprisal_sum,
        |       CAST(floor(CAST(sum(length(bin(tot.n_total)) - length(bin(cnts.cnt))) AS DOUBLE)
        |         / count(*)) AS BIGINT) AS avg_bucket
        |FROM toks JOIN cnts USING (w), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_bigram_surprisal" ->
      """WITH pr AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |       (SELECT unnest(generate_series(1, 4096)) AS i)
        |  WHERE i + 1 <= len(ws)),
        |heads AS (SELECT w1, count(*) AS c1 FROM pr GROUP BY 1),
        |grams AS (SELECT w1, w2, count(*) AS c2 FROM pr GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       CAST(sum(length(bin(heads.c1)) - length(bin(grams.c2))) AS BIGINT)
        |         AS surprisal_sum,
        |       CAST(floor(CAST(sum(length(bin(heads.c1)) - length(bin(grams.c2))) AS DOUBLE)
        |         / count(*)) AS BIGINT) AS avg_bucket
        |FROM pr JOIN grams USING (w1, w2) JOIN heads USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_langid_eval" ->
      s"""WITH h AS (SELECT lang,
         |       ${sqlHits(StopEn)} AS hits_en, ${sqlHits(StopEs)} AS hits_es,
         |       ${sqlHits(StopDe)} AS hits_de, ${sqlHits(StopFr)} AS hits_fr
         |  FROM documents)
         |SELECT lang,
         |       CASE WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
         |            WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
         |            WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
         |            ELSE 'fr' END AS lang_guess,
         |       count(*) AS n
         |FROM h GROUP BY 1, 2 ORDER BY lang, lang_guess""".stripMargin,

    // positive-term Σ p·log₂(1/p) form, matching the kernel: the
    // algebraically equal -Σ p·log₂p negates an exact 0.0 sum into
    // -0.0 for one-symbol docs, which hashes apart cross-engine
    "text_char_entropy" ->
      """WITH freq AS (
        |  SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS cnt
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
        |  GROUP BY doc_id, c),
        |ent AS (
        |  SELECT doc_id, round(sum((cnt / n) * log2(n / cnt)), 6) AS char_entropy
        |  FROM (SELECT doc_id, cnt, sum(cnt) OVER (PARTITION BY doc_id) AS n FROM freq)
        |  GROUP BY doc_id)
        |-- LEFT JOIN from documents, not FROM ent: a NULL text unnests to
        |-- zero freq rows and would DROP the doc here, while the Spark
        |-- kernel emits its row with NULL entropy (NULL in -> NULL out);
        |-- the join realigns the row sets (NULL < 2.0 is NULL both sides)
        |SELECT d.doc_id, e.char_entropy, e.char_entropy < 2.0 AS low_entropy
        |FROM documents d LEFT JOIN ent e ON d.doc_id = e.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_quality" ->
      s"""SELECT doc_id,
         |  round($qualitySql, 6) AS quality,
         |  $qualitySql > 0.5 AS keep
         |FROM documents ORDER BY doc_id""".stripMargin,

    // cutoff_band_ok is TRUE by construction: the Spark side
    // raise_errors when the approx cutoff leaves the exact band
    "text_quality_quantile" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang, CAST($qualityPpmSql AS BIGINT) AS q_ppm
         |  FROM documents),
         |cut AS (
         |  SELECT lang, quantile_cont(q_ppm, 0.2) AS cutoff
         |  FROM q GROUP BY lang)
         |SELECT q.doc_id, q.lang, q.q_ppm,
         |       CAST(q.q_ppm AS DOUBLE) > cut.cutoff AS kept,
         |       TRUE AS cutoff_band_ok
         |FROM q JOIN cut USING (lang) ORDER BY doc_id""".stripMargin,

    "text_bpe_pairs" ->
      """SELECT substr(text, i, 2) AS pair, count(*) AS cnt
        |FROM documents, (SELECT unnest(generate_series(1, 8192)) AS i)
        |WHERE length(text) >= 2 AND i <= least(length(text) - 1, 8192)
        |GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,

    "text_bpe_train" ->
      """WITH p1t AS (
        |  SELECT substr(text, i, 2) AS pair, count(*) AS cnt
        |  FROM documents, (SELECT unnest(generate_series(1, 8192)) AS i)
        |  WHERE length(text) >= 2 AND i <= least(length(text) - 1, 8192)
        |  GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1),
        |d2 AS (SELECT replace(text, (SELECT pair FROM p1t), 'A') AS text
        |       FROM documents),
        |p2t AS (
        |  SELECT substr(text, i, 2) AS pair, count(*) AS cnt
        |  FROM d2, (SELECT unnest(generate_series(1, 8192)) AS i)
        |  WHERE length(text) >= 2 AND i <= least(length(text) - 1, 8192)
        |  GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS round, pair AS merged_pair, cnt AS pair_count FROM p1t
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), pair, cnt FROM p2t
        |ORDER BY round""".stripMargin,

    "text_bpe_train_sampled" ->
      s"""WITH samp AS (
         |  SELECT text FROM documents
         |  WHERE ${PortableHash.sql("CAST(doc_id AS VARCHAR)")} % 100 < 50),
         |p1t AS (
         |  SELECT substr(text, i, 2) AS pair, count(*) AS cnt
         |  FROM samp, (SELECT unnest(generate_series(1, 8192)) AS i)
         |  WHERE length(text) >= 2 AND i <= least(length(text) - 1, 8192)
         |  GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1),
         |sm AS (SELECT replace(text, (SELECT pair FROM p1t), 'A') AS t1 FROM samp),
         |p2t AS (
         |  SELECT substr(t1, i, 2) AS pair, count(*) AS cnt
         |  FROM sm, (SELECT unnest(generate_series(1, 8192)) AS i)
         |  WHERE length(t1) >= 2 AND i <= least(length(t1) - 1, 8192)
         |  GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1)
         |SELECT doc_id, length(text) AS len0,
         |       length(replace(text, (SELECT pair FROM p1t), 'A')) AS len1,
         |       length(replace(replace(text, (SELECT pair FROM p1t), 'A'),
         |                      (SELECT pair FROM p2t), 'B')) AS len2
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_bpe_encode" ->
      """WITH p1t AS (
        |  SELECT substr(text, i, 2) AS pair, count(*) AS cnt
        |  FROM documents, (SELECT unnest(generate_series(1, 8192)) AS i)
        |  WHERE length(text) >= 2 AND i <= least(length(text) - 1, 8192)
        |  GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1),
        |m AS (SELECT doc_id, text,
        |             replace(text, (SELECT pair FROM p1t), 'A') AS t1
        |      FROM documents),
        |p2t AS (
        |  SELECT substr(t1, i, 2) AS pair, count(*) AS cnt
        |  FROM m, (SELECT unnest(generate_series(1, 8192)) AS i)
        |  WHERE length(t1) >= 2 AND i <= least(length(t1) - 1, 8192)
        |  GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1)
        |SELECT doc_id, length(text) AS len0, length(t1) AS len1,
        |       length(replace(t1, (SELECT pair FROM p2t), 'B')) AS len2
        |FROM m ORDER BY doc_id""".stripMargin,

    "dedup_decontaminate" ->
      s"""WITH ${graft.operators.Dedup.shingleCte},
         |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
         |SELECT sh.doc_id, count(*) AS n_shared, count(*) >= 5 AS flagged
         |FROM sh JOIN ev ON sh.shingle = ev.shingle
         |WHERE sh.doc_id % 97 <> 0
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "text_pii_scan" ->
      """SELECT doc_id,
        |       len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+')) AS n_emails,
        |       len(regexp_extract_all(text, '[0-9]{6,}')) AS n_digit_runs,
        |       len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+'))
        |         + len(regexp_extract_all(text, '[0-9]{6,}')) > 0 AS has_pii
        |FROM documents ORDER BY doc_id""".stripMargin,

    // DuckDB regexp_replace is first-match-only by default — 'g' matches
    // Spark's replace-all semantics
    "text_pii_redact" ->
      """WITH redacted AS (
        |  SELECT doc_id,
        |         regexp_replace(
        |           regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
        |           '[0-9]{6,}', '<NUM>', 'g') AS clean_text
        |  FROM documents)
        |SELECT doc_id, clean_text,
        |       len(regexp_extract_all(clean_text, '<EMAIL>|<NUM>')) AS n_redacted
        |FROM redacted ORDER BY doc_id""".stripMargin,

    // generate_series is inclusive on both ends, like Spark sequence()
    // (the scalar list form — the table function rejects lateral column
    // args); `//` keeps the chunk ordinal in integer arithmetic
    "text_chunk_overlap" ->
      s"""WITH starts AS (
         |  SELECT doc_id, text,
         |         unnest(generate_series(0, greatest(len(text) - 1, 0),
         |                                $ChunkStep)) AS gs
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(gs // $ChunkStep AS BIGINT) AS chunk_id,
         |       CAST(gs AS BIGINT) AS chunk_start,
         |       len(substring(text, CAST(gs AS INT) + 1, $ChunkSize)) AS chunk_len,
         |       md5(substring(text, CAST(gs AS INT) + 1, $ChunkSize)) AS chunk_md5
         |FROM starts ORDER BY doc_id, chunk_id""".stripMargin,

    "text_chunk_dups" ->
      s"""WITH starts AS (
         |  SELECT doc_id, text,
         |         unnest(generate_series(0, greatest(len(text) - 1, 0),
         |                                $ChunkStep)) AS gs
         |  FROM documents)
         |SELECT md5(substring(text, CAST(gs AS INT) + 1, $ChunkSize)) AS chunk_md5,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       count(*) AS n_occ
         |FROM starts
         |GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY chunk_md5""".stripMargin,

    "text_source_divergence" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |corpus AS (SELECT w, count(*) AS cnt_c FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS n_c FROM toks),
        |src AS (SELECT source, w, count(*) AS cnt_s FROM toks GROUP BY 1, 2),
        |srctot AS (SELECT source, CAST(sum(cnt_s) AS BIGINT) AS n_s
        |           FROM src GROUP BY 1),
        |j AS (
        |  SELECT src.source, cnt_s,
        |         length(bin(tot.n_c)) - length(bin(corpus.cnt_c)) AS bits_c,
        |         length(bin(srctot.n_s)) - length(bin(cnt_s)) AS bits_s
        |  FROM src JOIN corpus USING (w) JOIN srctot USING (source), tot)
        |SELECT source,
        |       CAST(sum(cnt_s) AS BIGINT) AS n_tokens,
        |       count(*) AS n_distinct,
        |       round(CAST(sum(cnt_s * bits_c) AS DOUBLE) / sum(cnt_s), 6) AS avg_cross_bits,
        |       round(CAST(sum(cnt_s * bits_s) AS DOUBLE) / sum(cnt_s), 6) AS avg_self_bits,
        |       CAST(sum(cnt_s * bits_c) - sum(cnt_s * bits_s) AS BIGINT) AS kl_bits_sum
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "text_nfc_normalize" ->
      """SELECT doc_id,
        |       text = nfc_normalize(text) AS is_nfc,
        |       len(nfc_normalize(text)) AS nfc_len,
        |       md5(nfc_normalize(text)) AS nfc_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH sents AS (
        |  SELECT doc_id, unnest(string_split(text, '. ')) AS sent FROM documents),
        |per AS (SELECT doc_id, sent, count(*) AS k FROM sents GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_sentences,
        |       count(*) AS n_distinct, max(k) AS max_repeat
        |FROM per GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "text_tfidf_topk" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tnz AS (SELECT doc_id, term FROM terms WHERE term <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tnz GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tnz GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term, tf, df, score, rn FROM ranked
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    // bigram postings replayed in list algebra; DuckDB's indexed
    // lambdas are 1-based where Spark's are 0-based — both encode
    // "first absolute, then gaps"
    "text_inverted_index" ->
      s"""WITH $invIndexCtes
         |SELECT * FROM idx ORDER BY term, block""".stripMargin,

    "text_cooccur_pmi" ->
      """WITH ta AS (
        |  SELECT doc_id,
        |         list_sort(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))[1:64] AS ts
        |  FROM documents),
        |pairs AS (
        |  SELECT a.t AS a, b.t AS b, count(*) AS c_ab
        |  FROM (SELECT doc_id, unnest(ts) AS t FROM ta) a
        |  JOIN (SELECT doc_id, unnest(ts) AS t FROM ta) b
        |    ON a.doc_id = b.doc_id AND a.t < b.t
        |  GROUP BY 1, 2),
        |ca AS (SELECT t, count(*) AS c
        |       FROM (SELECT unnest(ts) AS t FROM ta) GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT p.a, p.b, p.c_ab, xa.c AS c_a, xb.c AS c_b,
        |       CAST(((p.c_ab * 1000000) // xa.c) * n.n_docs // xb.c AS BIGINT) AS pmi_ppm
        |FROM pairs p JOIN ca xa ON p.a = xa.t JOIN ca xb ON p.b = xb.t, n
        |ORDER BY pmi_ppm DESC, p.a, p.b LIMIT 20""".stripMargin,

    "text_cooccur_pmi_window" ->
      """WITH wsx AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, generate_subscripts(ws, 1) AS p, unnest(ws) AS w
        |  FROM wsx WHERE len(ws) >= 2),
        |pairs AS (
        |  SELECT CASE WHEN a.w <= b.w THEN a.w ELSE b.w END AS a,
        |         CASE WHEN a.w <= b.w THEN b.w ELSE a.w END AS b
        |  FROM toks a JOIN toks b
        |    ON a.doc_id = b.doc_id AND b.p > a.p AND b.p <= a.p + 4
        |   AND a.w <> b.w),
        |cab AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY 1, 2),
        |cu AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
        |tt AS (SELECT count(*) AS t_total FROM toks)
        |SELECT cab.a, cab.b, cab.c_ab, xa.c AS c_a, xb.c AS c_b,
        |       CAST(((cab.c_ab * 1000000) // xa.c) * tt.t_total // xb.c AS BIGINT) AS pmi_ppm
        |FROM cab JOIN cu xa ON cab.a = xa.w JOIN cu xb ON cab.b = xb.w, tt
        |ORDER BY pmi_ppm DESC, cab.a, cab.b LIMIT 20""".stripMargin,

    "text_phrase_search" ->
      s"""WITH $invIndexCtes,
         |probes AS (
         |  SELECT DISTINCT ws[1] || ' ' || ws[2] AS term
         |  FROM (SELECT string_split(text, ' ') AS ws FROM documents
         |        WHERE doc_id % 25 = 0)
         |  WHERE len(ws) >= 2)
         |SELECT p.term, COALESCE(CAST(max(i.df) AS BIGINT), 0) AS df,
         |       COALESCE(CAST(sum(i.tf) AS BIGINT), 0) AS tf,
         |       count(i.block) AS n_blocks
         |FROM probes p LEFT JOIN idx i ON p.term = i.term
         |GROUP BY p.term ORDER BY p.term""".stripMargin
  )

  /** Shared CTE chain for the bigram index oracles; final CTE is
    * idx(term, block, df, n_docs, tf, postings). */
  private val invIndexCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |pos0 AS (
      |  SELECT doc_id, CAST(generate_subscripts(ws, 1) - 1 AS BIGINT) AS p,
      |         unnest(list_transform(ws, (x, i) ->
      |           CASE WHEN i < len(ws) THEN x || ' ' || ws[i + 1] END)) AS w
      |  FROM toks),
      |pos AS (SELECT doc_id, p, w FROM pos0 WHERE w IS NOT NULL),
      |perdoc AS (
      |  SELECT w, doc_id, count(*) AS tf, list(p ORDER BY p) AS ps
      |  FROM pos GROUP BY w, doc_id),
      |df AS (SELECT w, count(*) AS df FROM perdoc GROUP BY w),
      |capped AS (
      |  SELECT p.*, df.df FROM perdoc p JOIN df USING (w)
      |  WHERE df.df <= (SELECT (count(*) + 9) // 10 FROM documents)),
      |blocked AS (
      |  SELECT *, (row_number() OVER (PARTITION BY w ORDER BY doc_id) - 1) // 32 AS block
      |  FROM capped),
      |enc AS (
      |  SELECT w, block, doc_id, tf, df,
      |         doc_id || ':' || list_aggregate(list_transform(ps, (x, i) ->
      |           CAST(CASE WHEN i = 1 THEN x ELSE x - ps[i - 1] END AS VARCHAR)),
      |           'string_agg', ',') AS post
      |  FROM blocked),
      |idx AS (
      |  SELECT w AS term, CAST(block AS BIGINT) AS block,
      |         CAST(max(df) AS BIGINT) AS df, count(*) AS n_docs,
      |         CAST(sum(tf) AS BIGINT) AS tf,
      |         string_agg(post, '|' ORDER BY doc_id) AS postings
      |  FROM enc GROUP BY w, block)""".stripMargin
}
