package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** A/B gate for the near-dup family's two physical paths (Dedup.docLevelPath):
  * the ORIGINAL doc-level formulation (self-join over the full shingle
  * index) vs the round-10 rep-collapsed pipeline (self-join over one
  * representative per distinct text + member-map expansion). Both are
  * correct on any corpus; the gate is a cost decision from the corpus's
  * exact within-group pair mass Σ C(k, 2). This spec pins
  *   (a) the decision on both corpus shapes, and
  *   (b) row-for-row output equality of the two paths on BOTH shapes —
  * so a future edit to either path (or to the gate) that drifts the
  * answer fails here before it reaches the oracle. */
class RepCollapseGateSpec extends SparkSpec {

  private val gatedQueries = Seq(
    "dedup_ngram_jaccard", "dedup_ngram_jaccard_capped",
    "dedup_ngram_jaccard_prefix", "dedup_containment",
    "dedup_containment_topk", "dedup_cross_source", "dedup_lsh_tuning")

  private def collectAll(dir: String): Map[String, Seq[String]] =
    gatedQueries.map(n =>
      n -> SparkEntry.queries(n)(spark, dir).collect().map(_.toString).sorted.toSeq).toMap

  /** Run `body` with the gate pinned to one path on `dir`, then restore
    * the corpus's own decision. */
  private def pinned[T](dir: String, docLevel: Boolean)(body: => T): T = {
    val auto = Dedup.docLevelPath(spark, dir)
    Dedup.pinDocLevel(spark, dir, docLevel)
    try body finally Dedup.pinDocLevel(spark, dir, auto)
  }

  /** 12 distinct base texts, 5 of them with a one-token-longer near-dup
    * variant, plus a stop-only text; every text duplicated 10-fold across
    * two sources → within-group pair mass 18 · C(10,2) = 810 >
    * max(64, 180/100) ⇒ the gate must pick the REP path.
    *
    * Every text opens with the 3-gram `x y z`, so that shingle has
    * df = 180 > the cap of 64: a stop shingle, left out of capped pair
    * generation but counted in every score (base/variant J = 7/8). The
    * stop-only text is that 3-gram alone, with no rare shingle, so its
    * copies (doc ids [[StopOnly]]) are never capped candidates. */
  private lazy val dupDir: String = writeCorpus(tenfold)

  private def tenfold: Seq[(Long, String, String)] = {
    val bases = (0 until 12).map(i => s"x y z a$i b$i c$i d$i e$i f$i")
    val variants = (0 until 5).map(i => s"x y z a$i b$i c$i d$i e$i f$i g$i")
    val texts = bases ++ variants :+ "x y z"
    for { t <- texts.indices; k <- 0 until 10 }
      yield ((t * 10 + k).toLong, texts(t), if (k % 2 == 0) "s1" else "s2")
  }

  /** A temp corpus dir holding `docs` (doc_id, text, source). */
  private def writeCorpus(docs: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gatespec").toString
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("gate decision: dup-free shipped corpus → doc level; 10-way-replicated fixture → rep level") {
    assert(Dedup.docLevelPath(spark, sf0001),
      "sf0.001 (500 distinct texts) must take the doc-level path")
    assert(!Dedup.docLevelPath(spark, dupDir),
      "a corpus of 10-way exact-dup groups must take the rep path")
  }

  test("dup-free corpus: auto (doc-level) output equals the forced rep path, all gated queries") {
    val auto = collectAll(sf0001) // gate → doc level
    val forced = pinned(sf0001, docLevel = false)(collectAll(sf0001))
    for (n <- gatedQueries)
      assert(auto(n) === forced(n), s"$n drifted between doc-level and rep paths on sf0.001")
    // non-vacuous: the capped family must actually report pairs here
    assert(auto("dedup_lsh_tuning").nonEmpty)
  }

  test("duplicate-heavy corpus: auto (rep) output equals the pinned doc-level path, all gated queries") {
    val auto = collectAll(dupDir) // gate → rep level
    val doc = pinned(dupDir, docLevel = true)(collectAll(dupDir))
    for (n <- gatedQueries)
      assert(auto(n) === doc(n), s"$n drifted between rep and doc-level paths on the dup fixture")
    // non-vacuous: within-group (J = 1) AND cross-group (J = 7/8) pairs both present
    val jac = auto("dedup_ngram_jaccard")
    assert(jac.length === 17 * (10 * 9 / 2) + 5 * 10 * 10,
      s"expected 765 within + 500 cross pairs, got ${jac.length}")
    assert(auto("dedup_cross_source").nonEmpty)
  }

  /** Doc ids of the stop-only text's 10 copies in [[dupDir]]. */
  private val StopOnly = 170L until 180L

  test("stop shingle: capped queries never pair stop-only docs, scores count it") {
    def pairs(q: String, a: String, b: String): Seq[(Long, Long)] =
      SparkEntry.queries(q)(spark, dupDir).select(a, b).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    for ((q, a, b) <- Seq(
        ("dedup_ngram_jaccard", "doc_a", "doc_b"),
        ("dedup_ngram_jaccard_capped", "doc_a", "doc_b"),
        ("dedup_containment", "src_doc", "dst_doc"),
        ("dedup_containment_topk", "src_doc", "dst_doc"))) {
      val got = pairs(q, a, b)
      assert(got.nonEmpty, s"$q reported no pairs")
      assert(!got.exists { case (x, y) => StopOnly.contains(x) || StopOnly.contains(y) },
        s"$q paired a stop-only document")
    }
    // the source rollup counts exactly the J >= 0.5 pairs, none stop-only
    val rolled = SparkEntry.queries("dedup_cross_source")(spark, dupDir)
      .collect().map(_.getAs[Long]("dup_pairs")).sum
    assert(rolled === 17 * (10 * 9 / 2) + 5 * 10 * 10)
    // the stop shingle is still counted: base/variant J = 7/8, not 6/7
    val scores = SparkEntry.queries("dedup_ngram_jaccard")(spark, dupDir)
      .collect().map(_.getAs[Double]("jaccard")).toSet
    assert(scores === Set(1.0, 0.875))
    // the lossless prefix path is not df-capped: the stop-only copies are
    // J = 1 duplicates of each other there
    assert(pairs("dedup_ngram_jaccard_prefix", "doc_a", "doc_b")
      .contains((StopOnly.head, StopOnly.head + 1)))
  }

  /** Min-root union-find labels of every node on an edge of `edges`. */
  private def minRootLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("collapse kit on a duplicate-heavy corpus: clusters equal union-find over the uncollapsed pairs") {
    // the 10-way fixture plus a 3-copy group of a two-token text, which
    // has no shingle and so no J pair, but one fingerprint
    val lone = (180L until 183L).map(id => (id, "lone pair", "s1"))
    val docs = tenfold ++ lone
    val dir = writeCorpus(docs)
    val ids = docs.map(_._1)
    def pairs(keep: (Long, Long) => Boolean): Seq[(Long, Long)] =
      for { a <- ids; b <- ids if a < b && keep(a, b) } yield (a, b)
    def clusters(q: String): Map[Long, Long] =
      SparkEntry.queries(q)(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    def keep(q: String): Map[Long, (Long, Boolean)] =
      SparkEntry.queries(q)(spark, dir).collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
    def keepOf(all: Seq[Long], labels: Map[Long, Long]): Map[Long, (Long, Boolean)] =
      all.map { d => val c = labels.getOrElse(d, d); d -> (c, c == d) }.toMap

    // J >= 0.5 over the split(" ", -1) 3-gram sets
    val sets: Map[Long, Set[String]] = docs.map { case (id, t, _) =>
      id -> t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    val jacLabels = minRootLabels(pairs { (a, b) =>
      val shared = (sets(a) intersect sets(b)).size
      shared > 0 && shared.toDouble / (sets(a).size + sets(b).size - shared) >= 0.5
    })
    assert(clusters("dedup_clusters") === jacLabels)
    assert(keep("dedup_keep_canonical") === keepOf(ids, jacLabels))
    assert(lone.forall { case (d, _, _) => !jacLabels.contains(d) })
    // non-vacuous: base/variant pairs (J = 7/8) join two 10-way groups
    assert(jacLabels.values.toSeq.distinct.length === 18 - 5)

    import spark.implicits._
    val corpus = docs.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text")
    val simhash = Dedup.simhash32(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(clusters("dedup_simhash_clusters") === minRootLabels(pairs((a, b) =>
      java.lang.Long.bitCount(simhash(a) ^ simhash(b)) <= 3)))

    val ahash = graft.operators.Multimodal.ahashOf(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fp")).toMap
    def bandOf(fp: Long, b: Int): Long = (fp >>> (15 * b)) & 32767L
    val phashLabels = minRootLabels(pairs { (a, b) =>
      (0 until 4).exists(i => bandOf(ahash(a), i) == bandOf(ahash(b), i)) &&
        java.lang.Long.bitCount(ahash(a) ^ ahash(b)) <= 12
    })
    assert(keep("multimodal_phash_clusters") === keepOf(ids, phashLabels))
  }

  test("dedup_cross_source: a two-copy group split across sources adds no zero-pair rows") {
    // each text has one copy in s1 and one in s2, so no source holds two
    // copies of a group: the within-source term must emit no (s, s) row
    val texts = (0 until 12).map(i => s"x y z a$i b$i c$i d$i e$i f$i")
    val docs = for { t <- texts.indices; k <- 0 until 2 }
      yield ((t * 2 + k).toLong, texts(t), if (k == 0) "s1" else "s2")
    val dir = writeCorpus(docs)
    def rows(docLevel: Boolean): Seq[(String, String, Long)] =
      pinned(dir, docLevel)(SparkEntry.queries("dedup_cross_source")(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("dup_pairs"))).toSeq)
    val doc = rows(docLevel = true)
    val rep = rows(docLevel = false)
    assert(rep === doc, "rep and doc-level paths disagree on a two-copy split")
    assert(doc === Seq(("s1", "s2", 12L)))
    assert(!rep.exists(_._3 == 0L), s"zero-pair rows: $rep")
  }
}
