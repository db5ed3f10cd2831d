package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, Multimodal, Similarity}

/** Semantics checks for the LLM-pipeline operators at sf0.001 (the
  * cross-engine oracle covers value equality at sf0.01).
  */
class LlmOpsSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("dedup_exact: copies sum to corpus size, keepers unique") {
    val rows = run("dedup_exact").collect()
    val total = rows.map(_.getAs[Long]("copies")).sum
    assert(total === Tables.documents(spark, sf0001).count())
    val keepers = rows.map(_.getAs[Long]("keep_id"))
    assert(keepers.distinct.length === keepers.length)
  }

  test("dedup_ngram_jaccard: pairs are ordered, scores in (0,1]") {
    val rows = run("dedup_ngram_jaccard").collect()
    assert(rows.nonEmpty, "corpus has planted near-dups; none found")
    assert(rows.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
    assert(rows.forall { r =>
      val j = r.getAs[Double]("jaccard"); j >= 0.5 && j <= 1.0
    })
  }

  // The registered queries ship the df-capped candidate path (the
  // uncapped inverted-index self-join is the 100 TB scale cliff), so
  // the uncapped formulations live only here, as the reference the
  // shipped queries must reproduce pair-for-pair.
  private def uncappedJaccard = {
    val sh = Dedup.stagedShingles(spark, sf0001)
    Dedup.sharedCounts(sh)
      .select(col("doc_a"), col("doc_b"),
        round(col("shared").cast("double") /
          (col("ca") + col("cb") - col("shared")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  test("df-capped candidate generation reports the same pairs as uncapped") {
    val uncapped = uncappedJaccard.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (q <- Seq("dedup_ngram_jaccard", "dedup_ngram_jaccard_capped")) {
      val capped = run(q).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(capped === uncapped, s"$q diverges from the uncapped reference")
    }
  }

  test("df-capped containment reports the same pairs as uncapped") {
    val shared = Dedup.sharedCounts(Dedup.stagedShingles(spark, sf0001))
    val fwd = shared.select(col("doc_a").as("src_doc"), col("doc_b").as("dst_doc"),
      (col("shared").cast("double") / col("ca").cast("double")).as("containment"))
    val rev = shared.select(col("doc_b").as("src_doc"), col("doc_a").as("dst_doc"),
      (col("shared").cast("double") / col("cb").cast("double")).as("containment"))
    val uncapped = fwd.union(rev).filter(col("containment") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = run("dedup_containment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped === uncapped)
  }

  test("connected components label chains and separate clusters correctly") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs multiple propagation rounds),
    // pair 5-6, triangle-free chain 7-8-9
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (7L, 8L), (8L, 9L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.components(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("prefix-filtered candidates (lossless) report the same pairs as uncapped") {
    val uncapped = uncappedJaccard.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = run("dedup_ngram_jaccard_prefix").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefix === uncapped)
  }

  test("prefix candidate stream is smaller than share-any-shingle candidates") {
    val sh = Dedup.stagedShingles(spark, sf0001)
    val all = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b")).count()
    val pref = Dedup.pairsSharing(Dedup.prefixes(sh, 0.5), 0.5).count()
    assert(pref < all, s"prefix filtering did not reduce candidates: $pref vs $all")
  }

  test("one-join capped staging counts stop shingles in shared but never pairs on them") {
    import spark.implicits._
    // 100 docs, cap = max(64, ceil(100/200)) = 64. Shingle "STOP" is in
    // every doc (df=100 > 64): excluded from pair GENERATION, but pairs
    // that qualify via rare shingles must still COUNT it in `shared`.
    // Docs 1-10 share rare shingles r1/r2 (df=10 each); docs 11-100
    // carry only STOP + a unique shingle — never candidates.
    val rows =
      (1L to 100L).map(i => (i, "STOP")) ++
        (1L to 10L).flatMap(i => Seq((i, "r1"), (i, "r2"))) ++
        (11L to 100L).map(i => (i, s"u_$i"))
    val sh = rows.toDF("doc_id", "shingle")
    val dfTab = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // reference in plain Scala from the same rows: every pair sharing a
    // shingle of df <= 64, with |A ∩ B|, |A| and |B| over full sets
    val sets = rows.groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).toSet }
    val rare = rows.groupBy(_._2).collect { case (g, rs) if rs.size <= 64 => g }.toSet
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets
      if a < b && (sa & sb & rare).nonEmpty
    } yield (a, b, (sa & sb).size.toLong, sa.size.toLong, sb.size.toLong)).toSet
    val got = Dedup.cappedRepPairs(sh, sh, dfTab)
      .select("ra", "rb", "shared", "ca", "cb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === expected, "capped staging must equal the set-level reference pair-for-pair")
    // the stop shingle IS counted: docs 1-2 share r1, r2 AND STOP
    assert(got.contains((1L, 2L, 3L, 3L, 3L)))
    // stop-only co-occurrence (e.g. 11,12) is not a candidate
    assert(!got.exists(t => t._1 == 11L && t._2 == 12L))
  }

  test("staging work budget is rep-level: heavy exact-duplication cannot trip it") {
    import spark.implicits._
    // 100 distinct 5-token texts x 40 exact copies: every shingle is
    // unique to its text, full-corpus df = 40 <= cap 64 (rare), but
    // rep-level df = 1 -> ZERO collapsed slots. Two extra singleton docs
    // share one shingle ("s1 s2 s3"), df 2, rep-level df 2 -> exactly 1
    // collapsed slot. Uncollapsed slot volume = 100*3*C(40,2) + 1 =
    // 234001; the collapsed build's work volume = 1. The budget must
    // measure the LATTER: at budget=1000 the old full-df bound raised
    // (234001 > 1000) even though the build does 1 slot of work.
    val dir = java.nio.file.Files.createTempDirectory("graft-budgetfix").toString
    val texts = (0 until 100).map(i => s"w${i}a w${i}b w${i}c w${i}d w${i}e")
    val docs =
      (for { i <- 0 until 100; k <- 0 until 40 } yield
        ((i * 40 + k).toLong, texts(i))) ++
        Seq((4000L, "s1 s2 s3"), (4001L, "s1 s2 s3 zz"))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def run() = SparkEntry.queries("dedup_ngram_jaccard")(spark, dir).collect()
    def messages(t: Throwable): String = {
      val sb = new StringBuilder
      var c: Throwable = t
      while (c != null) { sb.append(Option(c.getMessage).getOrElse("")); c = c.getCause }
      sb.toString
    }
    // below the rep-level volume: the build must refuse in-plan (and the
    // failed build must register nothing, so the next run rebuilds)
    spark.conf.set("graft.stage.budget", "0")
    try {
      val e = intercept[Throwable](run())
      assert(messages(e).contains("graft.stage.budget"), messages(e).take(500))
    } finally spark.conf.unset("graft.stage.budget")
    // far below the uncollapsed slot volume, above the rep-level one:
    // must build and emit the 40-way dup groups' J=1 pairs
    spark.conf.set("graft.stage.budget", "1000")
    try {
      val rows = run()
      assert(rows.length === 100 * (40 * 39 / 2) + 1,
        s"expected all within-group pairs + the shared-shingle pair, got ${rows.length}")
    } finally spark.conf.unset("graft.stage.budget")
  }

  test("proportional df cap recovers pairs an absolute cap drops at high duplication") {
    import spark.implicits._
    // 20,000 docs → cap = greatest(64, ⌈20000/200⌉) = 100.
    // "s_pair" has df 80: past an absolute 64, inside the proportional
    // cap. "s_stop" has df 148: past both — still pruned as boilerplate.
    val rows =
      Seq((1L, "s_pair"), (2L, "s_pair"), (3L, "s_stop"), (4L, "s_stop")) ++
        (5L to 82L).map(i => (i, "s_pair")) ++
        (83L to 228L).map(i => (i, "s_stop")) ++
        (229L to 20000L).map(i => (i, s"u_$i"))
    val sh = rows.toDF("doc_id", "shingle")
    val dfTab = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val prop = Dedup.cappedRepPairs(sh, sh, dfTab).select("ra", "rb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prop.contains((1L, 2L)), "df-80 pair must survive the proportional cap")
    assert(!prop.contains((3L, 4L)), "df-148 boilerplate must stay pruned")
    // candidate volume stays bounded: only the df<=100 bucket fans out
    assert(prop.size === 80 * 79 / 2)
  }

  test("banded near-dup LSH: subset of exact all-pairs, identical scores") {
    val exact = Similarity.allPairsNeardup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val banded = run("emb_neardup_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(banded.nonEmpty, "banded LSH found no near-dup pairs")
    // candidates are verified on the full vectors, so every reported
    // pair must appear in the exact result WITH the exact score
    banded.foreach { case (pair, score) =>
      assert(exact.get(pair).contains(score), s"$pair score mismatch vs exact")
    }
    // this corpus's pairs sit barely above the 0.4 threshold (tail of a
    // random-similarity distribution, worst case for any LSH family);
    // with multi-probe (hamming <= 1 per band) per-band match prob is
    // p^8 + 8p^7(1-p) ≈ 0.14 at p ≈ 0.63 ⇒ expected recall over 8
    // bands ≈ 1-(1-0.14)^8 ≈ 0.7 — the documented recall contract of
    // emb_neardup_lsh; the 0.5 floor absorbs corpus-draw variance while
    // still catching a banding/probe bug (which collapses recall)
    val recall = banded.size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall collapsed (${banded.size}/${exact.size})")
  }

  test("emb_dbscan matches a plain-Scala density-clustering replay of the pair graph") {
    val pairs = SparkEntry.queries("emb_neardup_lsh")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (pairs ++ pairs.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val core = nbrs.filter(_._2.length >= 2).keySet
    // connected components of the core-core subgraph, labeled by min id
    var label = core.map(v => v -> v).toMap
    var changed = true
    while (changed) {
      changed = false
      for (v <- core; nb <- nbrs(v) if core(nb) && label(nb) < label(v)) {
        label += v -> label(nb); changed = true
      }
    }
    val expected =
      core.map(v => v -> ("core", label(v))).toMap ++
        nbrs.keySet.filterNot(core).flatMap { v =>
          val cs = nbrs(v).filter(core).map(label)
          if (cs.isEmpty) None else Some(v -> ("border", cs.min))
        }.toMap
    val got = SparkEntry.queries("emb_dbscan")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getAs[Long]("cluster_id"))).toMap
    assert(got === expected, "density roles/clusters diverge from plain-Scala replay")
    assert(got.values.exists(_._1 == "core") && got.values.exists(_._1 == "border"),
      "degenerate: need both cores and borders at sf0.001")
  }

  test("dedup_semantic: within-cell pairs ⊆ exact all-pairs, keep counts reconcile") {
    val exact = Similarity.allPairsNeardup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sem = run("dedup_semantic").collect()
    assert(sem.nonEmpty, "semantic dedup found no pairs")
    // cluster restriction only prunes candidates — every reported pair
    // is verified on the full vectors, so scores match the exact scan
    sem.foreach { r =>
      val pair = (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))
      assert(exact.get(pair).contains(r.getAs[Double]("score")),
        s"$pair not in exact all-pairs with same score")
    }
    // the drop decision: population partitions into cells, survivors =
    // population minus distinct vec_b's of the pair list (per cell)
    val keep = run("dedup_semantic_keep").collect()
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(keep.map(_.getAs[Long]("n")).sum === corpus)
    val droppedTotal = sem.map(_.getAs[Long]("vec_b")).distinct.length
    assert(keep.map(r => r.getAs[Long]("n") - r.getAs[Long]("n_keep")).sum === droppedTotal)
    keep.foreach(r => assert(r.getAs[Long]("n_keep") <= r.getAs[Long]("n")))
  }

  test("ann_multiprobe_topk dominates single-bucket search, scores stay exact") {
    val exact = run("ann_cosine_topk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("score")).toMap
    // exact scoring: every multiprobe hit carries the brute-force cosine
    val mp = run("ann_multiprobe_topk").collect()
    mp.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      exact.get(key).foreach(s => assert(s === r.getAs[Double]("score"), s"$key"))
    }
    // candidate superset ⇒ rank-for-rank scores at least as good as the
    // single-bucket search
    def ranked(name: String) = run(name).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) -> r.getAs[Double]("score")).toMap
    val single = ranked("ann_lsh_bucketed")
    val multi = ranked("ann_multiprobe_topk")
    single.foreach { case (k, s) =>
      assert(multi.getOrElse(k, Double.MinValue) >= s,
        s"multiprobe rank $k worse than single-bucket")
    }
  }

  test("dedup_cross_source: matrix totals match the pair list") {
    val pairs = run("dedup_ngram_jaccard").collect()
    val matrix = run("dedup_cross_source").collect()
    assert(matrix.map(_.getAs[Long]("dup_pairs")).sum === pairs.length.toLong,
      "every near-dup pair lands in exactly one source cell")
    matrix.foreach(r =>
      assert(r.getAs[String]("src_lo") <= r.getAs[String]("src_hi"), "unordered pair key"))
  }

  test("sample_temperature_sources: rarest source keeps all, rates flatten") {
    val rows = run("sample_temperature_sources").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("threshold") <= 1000000L)
    }
    val minRow = rows.minBy(_.getAs[Long]("n_docs"))
    assert(minRow.getAs[Long]("threshold") === 1000000L, "rarest source threshold = 1")
    assert(minRow.getAs[Long]("n_kept") === minRow.getAs[Long]("n_docs"),
      "rarest source keeps every doc")
    // thresholds are monotone non-increasing in source size
    val bySize = rows.sortBy(_.getAs[Long]("n_docs")).map(_.getAs[Long]("threshold"))
    assert(bySize.zip(bySize.tail).forall { case (a, b) => a >= b })
  }

  test("dedup_winnow_pairs: shared-fingerprint counts match a driver-side replay") {
    import graft.operators.Dedup
    val fps = Dedup.stagedWinnowFps(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byFp = fps.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val expected = byFp.valuesIterator
      .filter(docs => docs.length >= 2 && docs.length <= 64) // df cap
      .flatMap(docs => for { i <- docs.indices; j <- (i + 1) until docs.length }
        yield (docs(i), docs(j)))
      .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 10)
    val got = SparkEntry.queries("dedup_winnow_pairs")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("shared_fp")).toMap
    assert(got === expected, "cross-doc fingerprint pair census diverges from replay")
    assert(got.nonEmpty, "no reuse pairs found — threshold dead on this corpus")
    assert(got.keys.forall { case (a, b) => a < b })
  }

  test("dedup_fuzzy_names: census matches a plain-Scala Levenshtein replay") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val parts = Tables.part(spark, sf0001)
      .select("p_partkey", "p_name", "p_brand").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expect = parts.groupBy(_._3).toSeq.flatMap { case (brand, ps) =>
      (for {
        x <- ps; y <- ps if x._1 < y._1
        d = lev(x._2, y._2) if d <= 2
      } yield (brand, d, x._1 + y._1))
        .groupBy(p => (p._1, p._2))
        .map { case ((b, d), es) => (b, d, es.size.toLong, es.map(_._3).sum) }
    }.toSet
    val got = run("dedup_fuzzy_names").collect()
      .map(r => (r.getAs[String]("p_brand"), r.getAs[Int]("dist"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("key_sum"))).toSet
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("sample_weighted_priority: JVM replay agrees; selection is weight-monotone") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16)
    }
    val docs = graft.core.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_chars")))
    def prio(id: Long, w: Long): Long = {
      val u = h60(id.toString) % 4294967296L + 1L
      w * 4294967296L / u
    }
    val expect = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      ds.sortBy { case (id, _, w) => (-prio(id, w), id) }.take(10).zipWithIndex
        .map { case ((id, _, w), i) => (src, i + 1, id, w, prio(id, w)) }
    }.toSet
    val got = run("sample_weighted_priority").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("rk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("weight"),
        r.getAs[Long]("priority"))).toSet
    assert(got === expect)
    assert(got.nonEmpty)
    // the defining priority-sampling property: raising a doc's weight
    // can only raise its priority (selection is monotone in weight), and
    // the integer rendition stays within 1 ulp-free floor step of w/u
    for ((id, _, w) <- docs.take(50)) {
      assert(prio(id, 2 * w) >= prio(id, w))
      val u = h60(id.toString) % 4294967296L + 1L
      val exact = w.toDouble * 4294967296L / u
      assert(math.abs(prio(id, w) - exact) <= 1.0 + 1e-9 * exact)
    }
  }

  test("sample_weighted_estimate: exact when the source fits the sample, calibrated past it") {
    // sf0.001 sources hold ≤ 10 docs → τ = 0 and the HT estimate must
    // equal the exact total to the cent
    val small = run("sample_weighted_estimate").collect()
    assert(small.nonEmpty)
    small.filter(_.getAs[Long]("n_docs") <= 10).foreach { r =>
      assert(math.abs(r.getAs[Double]("ht_estimate") -
        r.getAs[Long]("total_weight").toDouble) < 0.01,
        s"source ${r.getString(0)}: τ=0 estimate must be exact")
    }
    // sf0.01 sources hold 25 docs → τ > 0; per-source estimates carry
    // k=10 sampling variance but the signed error must stay bounded and
    // roughly centered (deterministic given the fixed md5 draws)
    val big = SparkEntry.queries("sample_weighted_estimate")(spark, sf001).collect()
    val errs = big.map { r =>
      assert(r.getAs[Long]("tau") > 0, s"source ${r.getString(0)} expected τ>0")
      (r.getAs[Double]("ht_estimate") - r.getAs[Long]("total_weight")) /
        r.getAs[Long]("total_weight").toDouble
    }
    assert(errs.forall(e => math.abs(e) < 0.5), errs.mkString(","))
    assert(math.abs(errs.sum / errs.length) < 0.2,
      s"estimator looks biased: mean err ${errs.sum / errs.length}")
  }

  test("sample_cluster_diverse: per-cell quota, independent JVM-md5 replay agrees") {
    val rows = run("sample_cluster_diverse").collect()
    assert(rows.nonEmpty)
    // quota semantics: n_keep = min(n, 8) in every cell
    rows.foreach { r =>
      assert(r.getAs[Long]("n_keep") === math.min(r.getAs[Long]("n"), 8L),
        s"cell ${r.getAs[Long]("cell")} quota violated")
    }
    // cells and populations are exactly kmeans_lloyd's final assignment
    val km = run("kmeans_lloyd").collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n")).toMap
    assert(rows.map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n")).toMap === km)
    // independent replay of the selection: rank each cell's vec_ids by
    // java.security md5 (not Spark's md5 expression) and re-derive the
    // kept-id checksum
    val cells = graft.operators.Clustering.trainedCells(spark, sf0001)
      .collect().map(r => (r.getAs[Int]("cell"), r.getAs[Long]("vec_id")))
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16)
    }
    val expect = cells.groupBy(_._1).map { case (cell, vs) =>
      val kept = vs.map(_._2).sortBy(v => (h60(v.toString) % 1000000L, v)).take(8)
      cell.toLong -> kept.sum
    }
    val got = rows.map(r => r.getAs[Long]("cell") -> r.getAs[Long]("keep_id_sum")).toMap
    assert(got === expect)
  }

  test("layout_zorder: buckets tile the corpus into bounded rectangles") {
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), floor(col("value") * 100).cast("long").as("cents"))
      .agg(count(lit(1)).as("n"),
        (max("user_id") - min("user_id")).as("uspan"),
        (max("cents") - min("cents")).as("cspan"))
      .collect()(0)
    val rows = run("layout_zorder").collect()
    assert(rows.map(_.getAs[Long]("n")).sum === ev.getAs[Long]("n"),
      "every event lands in exactly one z-bucket")
    assert(rows.forall { r =>
      val b = r.getAs[Long]("zbucket"); b >= 0 && b < 32
    })
    // top-5-bit buckets pin y's bits 15..13 and x's bits 15..14, so each
    // bucket's rectangle spans at most ~1/8 of the cents range and ~1/4
    // of the user range (plus normalization rounding slack)
    val uspan = ev.getAs[Long]("uspan").toDouble
    val cspan = ev.getAs[Long]("cspan").toDouble
    rows.foreach { r =>
      assert(r.getAs[Long]("max_user") - r.getAs[Long]("min_user") <= uspan / 4 * 1.1 + 2,
        s"bucket ${r.getAs[Long]("zbucket")} user span unbounded")
      assert(r.getAs[Long]("max_cents") - r.getAs[Long]("min_cents") <= cspan / 8 * 1.1 + 2,
        s"bucket ${r.getAs[Long]("zbucket")} cents span unbounded")
    }
  }

  test("doc_shingle_profile: log2 buckets partition the inverted index") {
    val rows = run("doc_shingle_profile").collect()
    assert(rows.nonEmpty)
    val postings = rows.map(_.getAs[Long]("n_postings")).sum
    assert(postings === Dedup.stagedShingles(spark, sf0001).count(),
      "bucket postings must sum to the full inverted index")
    assert(rows.forall(_.getAs[Long]("df_bucket") >= 1))
    // n_shingles per bucket never exceeds its postings (df >= 1)
    rows.foreach(r =>
      assert(r.getAs[Long]("n_shingles") <= r.getAs[Long]("n_postings")))
  }

  test("text_bigram_surprisal matches a driver-side bigram LM replay") {
    import graft.core.Tables
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val pairs = docs.flatMap { case (id, ts) => ts.zip(ts.drop(1)).map(p => (id, p)) }
    val heads = pairs.groupBy(_._2._1).view.mapValues(_.size).toMap
    val grams = pairs.groupBy(_._2).view.mapValues(_.size).toMap
    def bitlen(x: Int) = 32 - Integer.numberOfLeadingZeros(x)
    val expected = pairs.groupBy(_._1).map { case (id, ps) =>
      val ss = ps.map { case (_, p) => (bitlen(heads(p._1)) - bitlen(grams(p))).toLong }
      id -> (ps.size.toLong, ss.sum, math.floor(ss.sum.toDouble / ps.size).toLong)
    }
    val got = SparkEntry.queries("text_bigram_surprisal")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === expected, "bigram LM surprisal diverges from driver-side replay")
    // conditional surprisal is nonnegative: c(w1w2) <= c(w1.)
    assert(got.values.forall(_._2 >= 0))
  }

  test("text_surprisal: buckets bounded by corpus bit-length, one row per doc") {
    val docs = Tables.documents(spark, sf0001)
    val rows = run("text_surprisal").collect()
    assert(rows.length === docs.count())
    val nTotal = rows.map(_.getAs[Long]("n_tokens")).sum
    val maxBucket = 64 - java.lang.Long.numberOfLeadingZeros(nTotal)
    rows.foreach { r =>
      val avg = r.getAs[Long]("avg_bucket")
      assert(avg >= 0 && avg <= maxBucket, s"bucket $avg outside [0, $maxBucket]")
      assert(r.getAs[Long]("surprisal_sum") >= 0)
    }
  }

  test("pipeline_pack_sequences conserves tokens and starts every group at seq 0") {
    val rows = run("pipeline_pack_sequences").collect()
    assert(rows.nonEmpty)
    val packed = rows.map(_.getAs[Long]("sum_tokens")).sum
    val corpus = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.sum(
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long")))
      .collect()(0).getLong(0)
    assert(packed === corpus, "packing must conserve every token")
    assert(rows.forall(_.getAs[Long]("seq_id") >= 0))
    // the first doc of every pack group starts at offset 0 → sequence 0
    rows.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("bucket")))
      .foreach { case (g, rs) =>
        assert(rs.map(_.getAs[Long]("seq_id")).min === 0L, s"group $g misses seq 0")
      }
  }

  test("dedup_lsh_tuning: narrower bands buy candidates and recall monotonically") {
    val byCfg = run("dedup_lsh_tuning").collect()
      .map(r => r.getAs[String]("config") ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_verified"))).toMap
    assert(byCfg.keySet === Set("2x8", "4x4", "8x2"))
    // a pair colliding under an r-row band also collides under any
    // tiling that splits those rows — candidate sets are nested
    assert(byCfg("8x2")._1 >= byCfg("4x4")._1 && byCfg("4x4")._1 >= byCfg("2x8")._1,
      s"candidate volume not monotone: $byCfg")
    assert(byCfg("8x2")._2 >= byCfg("4x4")._2 && byCfg("4x4")._2 >= byCfg("2x8")._2,
      s"verified recall not monotone: $byCfg")
  }

  test("dedup_minhash_est: signature agreement tracks exact jaccard") {
    val rows = run("dedup_minhash_est").collect()
    assert(rows.nonEmpty, "LSH produced no candidate pairs to calibrate on")
    val errs = rows.map(r =>
      math.abs(r.getAs[Double]("est_jaccard") - r.getAs[Double]("jaccard")))
    // 16 hashes ⇒ per-pair std ≤ sqrt(J(1-J)/16) ≤ 0.125; the mean
    // absolute error across pairs must sit well inside that
    assert(errs.sum / errs.length <= 0.2,
      s"mean |est - exact| = ${errs.sum / errs.length} — estimator broken")
    assert(rows.forall { r =>
      val e = r.getAs[Double]("est_jaccard"); e >= 0.0 && e <= 1.0
    })
  }

  test("minhash LSH finds the high-jaccard pairs the exact scan finds") {
    val exact = run("dedup_ngram_jaccard").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    val lsh = run("dedup_minhash_lsh").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    // LSH candidates are a subset of all >=0.5 pairs; recall must be high
    assert(lsh.keySet.subsetOf(exact.keySet))
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low (${lsh.size}/${exact.size})")
    // and scores agree exactly where both found the pair
    assert(lsh.forall { case (k, v) => exact(k) === v })
  }

  /** The window rendition of [[Dedup.shingles]] (posexplode → lead ×2 →
    * distinct), the reference the row-local kernel must reproduce. */
  private def shinglesViaWindow(docs: org.apache.spark.sql.DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"),
        posexplode(graft.functions.TextAnalysis.tokens(col("text"))).as(Seq("pos", "w")))
      .withColumn("w2", lead("w", 1).over(w))
      .withColumn("w3", lead("w", 2).over(w))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("w2"), col("w3")).as("shingle"))
      .distinct()
  }

  /** The exploded/window rendition of the winnow fingerprint derivation
    * (K=8 char grams, W=16 window minima), the reference the codegen
    * kernel ([[Dedup.winnowFpsRowLocal]]) must reproduce. */
  private def winnowFpsViaWindow(docs: org.apache.spark.sql.DataFrame) = {
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
        graft.functions.PortableHash.hash60(expr(s"substring(text, pos, $K)")).as("h"))
      .withColumn("fp", min(col("h")).over(w))
      .filter(col("pos") <= col("ngrams") - (W - 1))
      .select(col("doc_id"), col("fp")).distinct()
  }

  test("row-local shingles equal the window formulation on corpus + edge docs") {
    import spark.implicits._
    val adversarial = Seq(
      (9001L, ""), (9002L, "a b"), (9003L, "a b c"), (9004L, "a b c d"),
      (9005L, "x x x x x"), (9006L, "p  q r"), (9007L, "a b c a b c a b c"),
      (9008L, " lead a b"), (9009L, "trail a b "), (9010L, "two  spaces  here  too"),
      (9011L, "tab\tsep a b\nnew line c"), (9012L, "héllo wörld 日本語 😀 𝄞 héllo wörld")
    ).toDF("doc_id", "text")
    val docs = graft.core.Tables.documents(spark, sf0001)
      .select("doc_id", "text").unionByName(adversarial)
    val narrow = graft.operators.Dedup.shingles(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val window = shinglesViaWindow(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(narrow === window)
    assert(narrow.exists(_._1 == 9003L)) // exactly-3-token doc keeps its shingle
    assert(!narrow.exists(_._1 == 9002L)) // sub-3-token doc emits nothing
    assert(narrow.count(_._1 == 9005L) == 1) // repeats dedup within doc
    // empty tokens at the ends and between double spaces stay tokens
    assert(narrow.contains((9008L, " lead a")) && narrow.contains((9009L, "a b ")))
    assert(narrow.contains((9010L, "two  spaces")))
    // and the index build plans with NO exchange of any kind
    val p = graft.operators.Dedup.shingles(docs).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"shingles must be a narrow projection:\n$p")
  }

  test("winnow codegen kernel equals the window formulation on corpus + edge docs") {
    import spark.implicits._
    // K=8, W=16: minimum qualifying length is 23 chars. Edges: exactly
    // 23 (one window), 22 (none), all-same-char (every gram hashes
    // equal — distinct collapses to one fp), repeated blocks
    val adversarial = Seq(
      (9001L, "abcdefghijklmnopqrstuvw"), // 23 chars: exactly one window
      (9002L, "abcdefghijklmnopqrstuv"), // 22: below threshold
      (9003L, "a" * 64), (9004L, ("xyz" * 30)),
      (9005L, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text")
    val docs = graft.core.Tables.documents(spark, sf0001)
      .select("doc_id", "text").unionByName(adversarial)
    val kernel = graft.operators.Dedup.winnowFpsRowLocal(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val window = winnowFpsViaWindow(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kernel === window)
    assert(kernel.exists(_._1 == 9001L))
    assert(!kernel.exists(_._1 == 9002L))
    assert(kernel.count(_._1 == 9003L) == 1) // uniform text -> single fp
  }

  test("gram-hash kernel equals the explode+substring+hash60 rendition incl. unicode and cap") {
    import spark.implicits._
    val L = 20
    // edges: exactly L chars (one gram), L-1 (none), multi-byte chars
    // (byte offsets != char offsets — exercises the non-ASCII offset
    // walk), a doc long enough to hit the 8192-position cap, repeats
    val adversarial = Seq(
      (9001L, "abcdefghijklmnopqrst"), // exactly L: one gram
      (9002L, "abcdefghijklmnopqrs"), // L-1: none
      (9003L, "héllo wörld héllo wörld naïve café über äöü"),
      (9004L, "日本語のテキストを二十文字以上ここに並べる必要がある"),
      (9005L, "ab" * 5000) // 10000 chars: caps at 8192 positions
    ).toDF("doc_id", "text")
    val docs = graft.core.Tables.documents(spark, sf0001)
      .select("doc_id", "text").unionByName(adversarial)
      .filter(length(col("text")) >= L)
    def counted(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("doc_id", "hg").count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val kernel = counted(docs.select(col("doc_id"),
      explode(graft.functions.GramHashes(col("text"), L, 8192)).as("hg")))
    val decl = counted(docs.select(col("doc_id"),
      explode(sequence(lit(1), least(length(col("text")) - (L - 1), lit(8192)))).as("pos"),
      col("text"))
      .select(col("doc_id"),
        graft.functions.PortableHash.hash60(expr(s"substring(text, pos, $L)")).as("hg")))
    assert(kernel === decl)
    assert(kernel.exists(_._1 == 9001L) && !kernel.exists(_._1 == 9002L))
    assert(kernel.toSeq.filter(_._1 == 9005L).map(_._3).sum == 8192L)
  }

  test("simhash codegen kernel is bit-identical to the aggregate formulation") {
    import spark.implicits._
    // the real corpus plus adversarial shapes: empty text (one empty
    // token), repeated tokens, multi-space runs (empty tokens between),
    // unicode, a single char
    val adversarial = Seq(
      (9001L, ""), (9002L, "a a a a"), (9003L, "x  y   z"),
      (9004L, "héllo wörld héllo"), (9005L, "q")
    ).toDF("doc_id", "text")
    val docs = graft.core.Tables.documents(spark, sf0001)
      .select("doc_id", "text").unionByName(adversarial)
    val kernel = graft.operators.Dedup.simhash32(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val agg = graft.operators.Dedup.simhash32Agg(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(kernel === agg)
    // split(" ", -1) never yields an empty array, so every doc (corpus +
    // adversarial) carries a fingerprint in both renditions
    assert(kernel.size.toLong === docs.count())
    // and the kernel runs inside codegen, not as a fallback projection
    val plan = graft.operators.Dedup.simhash32(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("simhash32"), plan)
  }

  test("simhash: near-identical docs have small hamming distance") {
    val sims = run("dedup_simhash").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val dups = run("dedup_ngram_jaccard").collect()
      .filter(_.getAs[Double]("jaccard") >= 0.8)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(sims.size === Tables.documents(spark, sf0001).count())
    val hams = dups.map { case (a, b) =>
      java.lang.Long.bitCount(sims(a) ^ sims(b))
    }
    if (hams.nonEmpty)
      assert(hams.forall(_ <= 10), s"high-jaccard pairs with large hamming: $hams")
  }

  test("ann_cosine_topk: 10 ranked neighbors per query, descending, no self") {
    val rows = run("ann_cosine_topk").collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size === 5)
    for ((q, rs) <- byQ) {
      assert(rs.length === 10)
      assert(rs.forall(_.getAs[Long]("vec_id") !== q))
      val scores = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("score"))
      assert(scores.sliding(2).forall(p => p(0) >= p(1)), s"query $q not descending")
    }
  }

  test("ann_lsh_bucketed results ⊆ brute-force ranking universe, same scoring") {
    val brute = run("ann_cosine_topk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("score")).toMap
    val lsh = run("ann_lsh_bucketed").collect()
    // every LSH hit that brute-force also ranked must carry the same score
    for (r <- lsh) {
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      brute.get(k).foreach(s => assert(math.abs(s - r.getAs[Double]("score")) < 1e-9))
    }
    assert(lsh.nonEmpty)
  }

  test("bucket histogram covers the corpus") {
    val n = run("ann_bucket_histogram").agg(sum("n")).collect()(0).getLong(0)
    assert(n === Tables.embeddings(spark, sf0001).count())
  }

  test("multimodal: declarative and mapPartitions decoders agree") {
    val a = run("multimodal_meta").collect().map(_.toSeq).toSeq
    val b = run("multimodal_meta_mp").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("aHash fingerprint: insertion-tolerant, avalanche-free, empty doc is 0") {
    // the property that makes the multimodal near-dup hash a NEAR-dup
    // hash: a few inserted bytes shift slice contents but flip few
    // mean-threshold bits, while unrelated payloads land near
    // hamming 30 of 60
    import spark.implicits._
    val base = ('a' to 'z').mkString * 12 // 312 bytes, varied byte values
    val edited = base.substring(0, 100) + "XYZ" + base.substring(100)
    val unrelated = "9081726354".reverse * 31 + "qqqq"
    val fps = Multimodal.ahashOf(
        Seq((1L, base), (2L, edited), (3L, unrelated), (4L, ""))
          .toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fp")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(fps(a) ^ fps(b))
    assert(ham(1, 2) <= 12, s"insertion flipped ${ham(1, 2)} of 60 bits")
    assert(ham(1, 3) > 12, s"unrelated docs landed at hamming ${ham(1, 3)}")
    assert(fps(4L) === 0L)
  }

  test("multimodal_phash_neardup: ordered pairs, single emission, verified hamming") {
    val rows = run("multimodal_phash_neardup").collect()
    assert(rows.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
    assert(rows.forall(_.getAs[Long]("hamming") <= 12))
    // canonical-band emission: a pair matching in several bands must
    // still appear exactly once
    val pairs = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.distinct.length === pairs.length)
  }

  test("text_inverted_index: blocks bounded, delta-decoded positions locate the phrase") {
    val rows = run("text_inverted_index").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      assert(n >= 1 && n <= 32, s"block size $n")
      assert(r.getAs[String]("postings").split('|').length.toLong === n)
    }
    // decode every posting of a handful of terms and check the bigram
    // really starts at each decoded position
    val texts = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    rows.take(5).foreach { r =>
      val term = r.getAs[String]("term")
      r.getAs[String]("postings").split('|').foreach { post =>
        val Array(docS, deltas) = post.split(':')
        val toks = texts(docS.toLong).split(" ", -1)
        var p = 0L
        deltas.split(',').zipWithIndex.foreach { case (d, i) =>
          p = if (i == 0) d.toLong else p + d.toLong
          val bigram = s"${toks(p.toInt)} ${toks(p.toInt + 1)}"
          assert(bigram === term, s"doc $docS pos $p: '$bigram' != '$term'")
        }
      }
    }
  }

  test("text stats/langid/quality return a row per doc") {
    val n = Tables.documents(spark, sf0001).count()
    for (name <- Seq("text_stats", "text_langid", "text_quality"))
      assert(run(name).count() === n, s"$name row count")
  }

  test("text_pii_redact: clean text carries no residual PII, counts reconcile with the scan") {
    val redacted = run("text_pii_redact").collect()
    assert(redacted.length.toLong === Tables.documents(spark, sf0001).count())
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+".r
    val digits = "[0-9]{6,}".r
    redacted.foreach { r =>
      val clean = r.getAs[String]("clean_text")
      assert(email.findFirstIn(clean).isEmpty, s"residual email in doc ${r.get(0)}")
      assert(digits.findFirstIn(clean).isEmpty, s"residual digit run in doc ${r.get(0)}")
      val placeholders = "<EMAIL>|<NUM>".r.findAllIn(clean).length
      assert(r.getAs[Int]("n_redacted") === placeholders)
    }
    // detect→redact agreement: a doc is flagged by the scan iff the
    // redactor rewrote something in it (digit runs inside an email are
    // counted by the scan but swallowed into its <EMAIL>, so only the
    // boolean — not the count — is comparable across the pair)
    val flagged = run("text_pii_scan").select("doc_id", "has_pii").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    redacted.foreach { r =>
      assert(flagged(r.getAs[Long]("doc_id")) === (r.getAs[Int]("n_redacted") > 0))
    }
  }

  test("text_chunk_overlap: chunks tile every doc and match a local recompute") {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = run("text_chunk_overlap").collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(chunks.keySet === docs.filter(_._2 != null).keySet)
    val md = java.security.MessageDigest.getInstance("MD5")
    chunks.foreach { case (id, rows) =>
      val text = docs(id)
      // chunk count: one start every 96 chars over [0, len-1], min 1
      assert(rows.length === math.max(text.length - 1, 0) / 96 + 1, s"doc $id")
      rows.sortBy(_.getAs[Long]("chunk_id")).zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Long]("chunk_id") === i.toLong)
        assert(r.getAs[Long]("chunk_start") === i * 96L)
        val expect = text.slice(i * 96, i * 96 + 128)
        assert(r.getAs[Long]("chunk_len") === expect.length.toLong)
        val hex = md.digest(expect.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        assert(r.getAs[String]("chunk_md5") === hex, s"doc $id chunk $i")
      }
    }
    // consecutive chunks overlap by 32 chars: union covers the doc exactly
    val covered = chunks.map { case (id, rows) =>
      id -> rows.map(r =>
        r.getAs[Long]("chunk_start") + r.getAs[Long]("chunk_len")).max
    }
    covered.foreach { case (id, end) =>
      assert(end === docs(id).length.toLong, s"doc $id tail coverage")
    }
  }

  test("text_chunk_dups: matches a local recompute of repeated chunks") {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val md = java.security.MessageDigest.getInstance("MD5")
    val local = docs.filter(_._2 != null).flatMap { case (id, text) =>
      (0 to math.max(text.length - 1, 0) by 96)
        .map(st => (md.digest(text.slice(st, st + 128).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString, id))
    }
    val expect = local.groupBy(_._1)
      .map { case (h, occ) => (h, occ.map(_._2).distinct.length, occ.length) }
      .filter(_._2 >= 2).toSet
    val got = run("text_chunk_dups").collect()
      .map(r => (r.getAs[String]("chunk_md5"), r.getAs[Long]("n_docs").toInt,
        r.getAs[Long]("n_occ").toInt)).toSet
    assert(got === expect)
    assert(got.nonEmpty, "corpus has exact-dup docs; their chunks must collide")
  }

  test("text_bpe_encode: monotone shrink, consistent with the trained merges") {
    val rows = run("text_bpe_encode").collect()
    assert(rows.length.toLong === Tables.documents(spark, sf0001).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("len0") >= r.getAs[Long]("len1"), s"doc ${r.get(0)}")
      assert(r.getAs[Long]("len1") >= r.getAs[Long]("len2"), s"doc ${r.get(0)}")
    }
    // each applied merge shrinks a doc by one char per NON-OVERLAPPING
    // occurrence, so corpus savings are positive and bounded by the
    // (overlap-counting) trained pair count of that round
    val train = run("text_bpe_train").collect()
      .sortBy(_.getAs[Long]("round")).map(_.getAs[Long]("pair_count"))
    val saved1 = rows.map(r => r.getAs[Long]("len0") - r.getAs[Long]("len1")).sum
    val saved2 = rows.map(r => r.getAs[Long]("len1") - r.getAs[Long]("len2")).sum
    assert(saved1 > 0 && saved1 <= train(0))
    assert(saved2 > 0 && saved2 <= train(1))
  }

  test("sample_epoch_mix: repetition budget bounded, mass = n_docs * epochs") {
    val rows = run("sample_epoch_mix").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getAs[Long]("epochs")
      assert(e >= 1L && e <= 4L)
      assert(r.getAs[Long]("n_epoch_rows") === r.getAs[Long]("n_docs") * e)
      assert(r.getAs[Long]("n_unique") === r.getAs[Long]("n_docs"))
    }
    // the dominant language never repeats; the imbalanced corpus must
    // actually exercise the upsampling branch somewhere
    assert(rows.maxBy(_.getAs[Long]("n_docs")).getAs[Long]("epochs") === 1L)
    assert(rows.exists(_.getAs[Long]("epochs") >= 2L), "no minority lang upsampled")
  }

  test("pipeline_expectations: every constraint green on the synthetic corpus") {
    val rows = run("pipeline_expectations").collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_checked") > 0L, r.toString)
      assert(r.getAs[Long]("n_violations") === 0L, r.toString)
    }
    // and the suite actually detects violations: a poisoned frame fails
    import spark.implicits._
    val bad = Seq((1L, "x"), (1L, null)).toDF("doc_id", "text")
    val dups = bad.agg((count(lit(1)) - countDistinct(col("doc_id"))).as("d"))
      .collect()(0).getLong(0)
    assert(dups === 1L)
  }

  test("pipeline_merge_upsert: tombstones delete, merge agrees with global replay") {
    val rows = run("pipeline_merge_upsert").collect()
    val byUser = rows.map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(byUser.size === rows.length, "one state row per key")
    assert(rows.forall(_.getAs[String]("last_type") != "error"),
      "no tombstone may surface as live state")
    // the snapshot+delta merge must equal the from-scratch latest-wins
    // replay over the WHOLE changelog — the invariant that makes
    // incremental folding safe to run batch after batch
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
    val replay = ev.groupBy(_.getAs[Long]("user_id")).flatMap { case (u, es) =>
      val last = es.maxBy(r =>
        (r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Long]("event_id")))
      if (last.getAs[String]("event_type") == "error") None
      else Some(u -> last.getAs[String]("event_type"))
    }.toMap
    assert(byUser.keySet === replay.keySet)
    byUser.foreach { case (u, r) =>
      assert(r.getAs[String]("last_type") === replay(u), s"user $u") }
  }

  test("pipeline_card_mergeable: shard-merge publishes the exact direct card") {
    val direct = run("pipeline_dataset_card").collect().map(_.toSeq).toSeq
    val merged = run("pipeline_card_mergeable").collect().map(_.toSeq).toSeq
    assert(merged === direct)
  }

  test("text_source_divergence: one row per source, token mass conserved") {
    val rows = run("text_source_divergence").collect()
    val srcs = Tables.documents(spark, sf0001).select("source").distinct().count()
    assert(rows.length.toLong === srcs)
    val totalTokens = Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ", -1))).count()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum === totalTokens)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_tokens"))
      // true KL is >= 0; integer surprisal buckets err by at most one
      // bit on each side, so the bucketed sum can undershoot by at most
      // 2 bits per token, never more
      assert(r.getAs[Long]("kl_bits_sum") >= -2 * r.getAs[Long]("n_tokens"))
    }
  }

  test("text_nfc_normalize: composes combining sequences; corpus is already NFC") {
    import spark.implicits._
    import graft.functions.NfcNormalize
    // e+COMBINING ACUTE → é; ANGSTROM SIGN → Å; ASCII unchanged; null → null
    val in = Seq("é", "é", "Å", "plain ascii", null)
    val out = in.toDF("s").select(NfcNormalize(col("s")).as("n"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(out === Seq(Some("é"), Some("é"), Some("Å"),
      Some("plain ascii"), None))
    // idempotent: a second pass is the identity
    val twice = in.toDF("s")
      .select(NfcNormalize(NfcNormalize(col("s"))).as("n2"), NfcNormalize(col("s")).as("n1"))
      .collect()
    twice.foreach(r => assert(r.get(0) === r.get(1)))
    // the synthetic corpus is ASCII: normalization must be the identity,
    // so the query's md5 equals the raw-text md5 row for row
    val q = run("text_nfc_normalize")
    assert(q.filter(!col("is_nfc")).count() === 0)
    val raw = Tables.documents(spark, sf0001)
      .select(col("doc_id"), md5(col("text")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    q.collect().foreach(r =>
      assert(r.getAs[String]("nfc_md5") === raw(r.getAs[Long]("doc_id"))))
  }

  test("dedup_substring_spans: one row per long-enough doc, sane fractions") {
    val rows = run("dedup_substring_spans").collect()
    val eligible = Tables.documents(spark, sf0001)
      .filter(length(col("text")) >= 20).count()
    assert(rows.length.toLong === eligible)
    rows.foreach { r =>
      val total = r.getAs[Long]("total_spans")
      val dup = r.getAs[Long]("dup_spans")
      val frac = r.getAs[Double]("dup_frac")
      assert(dup >= 0 && dup <= total)
      assert(frac >= 0.0 && frac <= 1.0)
    }
    // the corpus has planted near-dups, so duplicated spans must exist
    assert(rows.map(_.getAs[Long]("dup_spans")).sum > 0)
  }

  test("dedup_incremental_minhash: cross-split subset of the full minhash pairs") {
    val full = run("dedup_minhash_lsh").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val inc = run("dedup_incremental_minhash").collect()
    inc.foreach { r =>
      val o = r.getAs[Long]("old_doc"); val n = r.getAs[Long]("new_doc")
      assert(o % 5 !== 4, "old side comes from the existing corpus")
      assert(n % 5 === 4, "new side comes from the arriving batch")
      assert(r.getAs[Double]("jaccard") >= 0.5)
      assert(full.contains((math.min(o, n), math.max(o, n))),
        "incremental pairs are exactly the full run's pairs that cross the split")
    }
    val crossFull = full.filter { case (a, b) => (a % 5 == 4) != (b % 5 == 4) }
    assert(inc.length === crossFull.size)
  }

  test("pipeline_clean_corpus: audit counts reconcile with the stage-by-stage run") {
    val docs = Tables.documents(spark, sf0001)
    val kept = docs
      .filter(graft.functions.TextAnalysis.qualityScore(col("text")) > 0.5)
      .withColumn("fp", graft.functions.TextAnalysis.fingerprint(col("text")))
    val canonCount = kept.groupBy("fp").count().count()
    val rows = run("pipeline_clean_corpus").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === canonCount)
    assert(rows.map(_.getAs[String]("split")).toSet.subsetOf(Set("train", "val")))
  }
}
