package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, Sampling}

/** Unit-level checks for the round-2 operators: iterated integer matvec,
  * hash splitting, containment dedup, SQ8 quantization. The DuckDB
  * oracle covers end-to-end equality; these pin the exact small-case
  * semantics a refactor could silently change.
  */
class GraphSamplingSpec extends SparkSpec {

  test("powerIterate computes exact integer matvec rounds on a known graph") {
    import spark.implicits._
    // a -(2)-> b -(3)-> c, a -(1)-> c
    val edges = Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 3L))
      .toDF("src", "dst", "w")
    // r0 = 1 everywhere; r1(b) = 2, r1(c) = 1 + 3 = 4
    val r1 = Graph.powerIterate(edges, 1).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 === Map("b" -> 2L, "c" -> 4L)) // a has no in-edges -> drops
    // r2 uses r1 (missing nodes contribute nothing): r2(c) = w(b,c)*r1(b) = 6; b gets nothing (a absent)
    val r2 = Graph.powerIterate(edges, 2).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r2 === Map("c" -> 6L))
  }

  test("bootstrap CI: deterministic draw brackets the exact mean, interval nonzero") {
    val r = SparkEntry.queries("sample_bootstrap_ci")(spark, sf0001).collect()(0)
    val m = r.getAs[Double]("mean_price")
    val lo = r.getAs[Double]("ci_lo")
    val hi = r.getAs[Double]("ci_hi")
    assert(lo < hi, s"degenerate interval [$lo, $hi]")
    assert(lo <= m && m <= hi, s"mean $m outside [$lo, $hi]")
    assert(r.getAs[Long]("n_replicas") === 32L)
  }

  test("seededRank: truncated Katz on a chain — frontier grows one hop per round") {
    import spark.implicits._
    val chain = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L), ("d", "e", 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("node")
    // r0={a:1}; each round pushes one hop and re-injects the seed:
    // after 3 rounds mass has reached d, NOT e — the frontier property
    // that makes seeded relevance cheaper than global PR
    val r3 = Graph.seededRank(chain, 3, seeds).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r3 === Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 1L))
  }

  test("powerIterate renormalization survives weights that wrap the raw kernel") {
    import spark.implicits._
    // 3-cycle with w = 2^21: the raw kernel's round-3 rank is (2^21)^3 =
    // 2^63 — exactly one past Long.MaxValue
    val w = 1L << 21
    val edges = Seq(("a", "b", w), ("b", "c", w), ("c", "a", w)).toDF("src", "dst", "w")
    // prove the test isn't vacuous: the unguarded kernel wraps (or, under
    // ANSI arithmetic, raises) on this input
    val rawBroken =
      try Graph.powerIterate(edges, 3, renormalize = false)
        .collect().exists(_.getLong(1) <= 0L)
      catch { case _: Throwable => true }
    assert(rawBroken, "expected the unguarded kernel to overflow on 2^63")
    // renormalized schedule, replayed by hand: bud = 62 − bitlen(3·2^21)
    // = 39; r1 = 2^21 (shift 0), r2 = 2^42 >> 4 = 2^38, r3 = 2^59 >> 21
    // = 2^38 — positive and exact, same for all three cycle nodes
    val got = Graph.powerIterate(edges, 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> (1L << 38), "b" -> (1L << 38), "c" -> (1L << 38)))
  }

  test("powerIterate fails loudly when total weight leaves no rank headroom") {
    import spark.implicits._
    // bitlen(Σw) = 63 ≥ 62: bud0 ≤ 0, where the old kernel silently
    // shifted every rank to 0 — now the budget aggregate raises in-plan
    val edges = Seq(("a", "b", 1L << 62)).toDF("src", "dst", "w")
    val ex = intercept[Exception] {
      Graph.powerIterate(edges, 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("no rank headroom")),
      s"expected the headroom raise_error, got: $ex")
  }

  test("powerIterate renormalization shifts by zero on small weights (raw ≡ renorm)") {
    import spark.implicits._
    val edges = Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 3L))
      .toDF("src", "dst", "w")
    val renorm = Graph.powerIterate(edges, 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val raw = Graph.powerIterate(edges, 2, renormalize = false).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(renorm === raw)
  }

  test("graph_triangles matches a brute-force enumeration of the trade graph") {
    import org.apache.spark.sql.functions.{col, greatest, least}
    val und = graft.operators.Graph.tradeEdges(spark, sf0001)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // brute-force: 25 nations, trivially enumerable driver-side IN A TEST
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val expected = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for {
      ai <- nodes.indices; bi <- (ai + 1) until nodes.length
      ci <- (bi + 1) until nodes.length
      a = nodes(ai); b = nodes(bi); c = nodes(ci)
      if und((a, b)) && und((b, c)) && und((a, c))
    } { expected(a) += 1; expected(b) += 1; expected(c) += 1 }
    val got = SparkEntry.queries("graph_triangles")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("triangles")).toMap
    assert(got === expected.toMap, "per-node triangle counts diverge from brute force")
  }

  test("graph_jaccard_neighbors matches brute-force neighbor sets on the sparse graph") {
    // rebuild the top-3 sparse undirected graph driver-side (25 nations)
    // and recompute every pair's Jaccard from raw neighbor sets
    val edges = Graph.stagedTradeEdges(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val topk = edges.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (-e._3, e._2)).take(3).map(e => (e._1, e._2))
    }
    val nbrs = (topk ++ topk.map(_.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = (for {
      a <- nbrs.keys; b <- nbrs.keys if a < b
      common = (nbrs(a) & nbrs(b)).size if common > 0
      union = (nbrs(a) | nbrs(b)).size
    } yield (a, b) -> (common.toLong, union.toLong, common.toLong * 1000000L / union)).toMap
    val got = SparkEntry.queries("graph_jaccard_neighbors")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("common_n"), r.getAs[Long]("union_n"), r.getAs[Long]("jpm"))).toMap
    assert(got === expected, "pairwise Jaccard diverges from brute-force neighbor sets")
    assert(got.values.forall { case (c, u, j) => c >= 1 && c <= u && j >= 0 && j <= 1000000L })
  }

  test("graph_kcore matches a plain-Scala two-round peel on the top-5 subgraph") {
    val edges = Graph.stagedTradeEdges(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val topk = edges.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (-e._3, e._2)).take(5).map(e => (e._1, e._2))
    }
    val und = (topk ++ topk.map(_.swap)).distinct
    var nodes = und.map(_._1).toSet
    val initial = nodes.size
    var degs = Map.empty[String, Int]
    for (_ <- 1 to 2) {
      degs = und.filter(e => nodes(e._1) && nodes(e._2))
        .groupBy(_._1).view.mapValues(_.size).toMap.filter(_._2 >= 6)
      nodes = degs.keySet
    }
    val got = SparkEntry.queries("graph_kcore")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("deg").toInt).toMap
    assert(got === degs, "2-round 6-core peel diverges from plain-Scala replay")
    assert(got.values.forall(_ >= 6))
    // the peel must genuinely remove nodes and keep a nonempty core
    assert(got.nonEmpty && got.size < initial, s"no cascade: ${got.size}/$initial")
  }

  test("graph_bfs_depth matches a plain-Scala BFS on the top-3 subgraph") {
    val edges = Graph.stagedTradeEdges(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val out = edges.groupBy(_._1).map { case (src, es) =>
      src -> es.sortBy(e => (-e._3, e._2)).take(3).map(_._2).toSet
    }
    var depth = Map(out.keys.min -> 0)
    var frontier = depth.keySet
    for (d <- 1 to 3) {
      frontier = frontier.flatMap(out.getOrElse(_, Set.empty[String])) -- depth.keySet
      depth ++= frontier.map(_ -> d)
    }
    val got = SparkEntry.queries("graph_bfs_depth")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getAs[Int]("depth")).toMap
    assert(got === depth, "BFS depths diverge from a plain-Scala BFS")
    // non-vacuous: the sparse graph has depth structure past one hop
    assert(got.values.max >= 2, s"every node within one hop: $got")
  }

  test("graph_label_prop matches a plain-Scala two-round replay on the sparse graph") {
    // rebuild the sparse symmetrized graph from the staged edges and run
    // the same two synchronous majority rounds in local Scala — an
    // implementation-independent replay of the distributed loop
    val edges = Graph.stagedTradeEdges(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val topk = edges.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (-e._3, e._2)).take(3)
    }
    val und = (topk ++ topk.map(e => (e._2, e._1, e._3)))
      .groupBy(e => (e._1, e._2)).map { case ((s0, d0), es) => (s0, d0, es.map(_._3).sum) }
      .toSeq
    var lbl: Map[String, String] = und.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to 2) {
      lbl = und.groupBy(_._1).map { case (node, es) =>
        val byLbl = es.groupBy(e => lbl(e._2)).view.mapValues(_.map(_._3).sum)
        node -> byLbl.toSeq.minBy { case (l, w) => (-w, l) }._1
      }
    }
    val got = SparkEntry.queries("graph_label_prop")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === lbl)
    // every label is itself a node, and propagation coarsened the
    // partition: no more communities than nodes
    assert(got.values.toSet.subsetOf(got.keySet))
    assert(got.values.toSet.size <= got.size)
  }

  test("trade graph power rank is stable across runs and nonempty") {
    val a = Graph.queries("graph_power_rank")(spark, sf0001).collect()
    val b = Graph.queries("graph_power_rank")(spark, sf0001).collect()
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("reliable checkpointing: iterative ops agree with localCheckpoint runs") {
    // cluster-grade variant: round state written to a fault-tolerant dir
    // (survives executor loss, unlike localCheckpoint's non-replicated
    // blocks) must not change any result
    import graft.operators.CheckpointStrategy
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val reliable = CheckpointStrategy.Reliable(dir)

    val edges = Graph.tradeEdges(spark, sf0001)
    val local = Graph.powerIterate(edges, 3).orderBy("node").collect()
    val ckpt = Graph.powerIterate(edges, 3, reliable).orderBy("node").collect()
    assert(local.toSeq === ckpt.toSeq)

    import spark.implicits._
    val pairEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val ccLocal = Dedup.components(pairEdges).orderBy("doc_id").collect()
    val ccCkpt = Dedup.components(pairEdges, reliable).orderBy("doc_id").collect()
    assert(ccLocal.toSeq === ccCkpt.toSeq)
    // the reliable run actually materialized round state on disk
    assert(new java.io.File(dir).listFiles != null &&
      new java.io.File(dir).listFiles.nonEmpty, s"no checkpoint data under $dir")
  }

  test("hash split is deterministic, complete, and roughly 80/10/10") {
    val splits = Sampling.queries("sample_hash_split")(spark, sf001)
      .groupBy("split").agg(sum("n").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = splits.values.sum
    assert(splits.keySet === Set("train", "val", "test"))
    assert(total === graft.core.Tables.events(spark, sf001).count())
    val trainFrac = splits("train").toDouble / total
    assert(trainFrac > 0.75 && trainFrac < 0.85, s"train fraction $trainFrac")
  }

  test("containment finds subset docs that symmetric jaccard misses") {
    import spark.implicits._
    // doc 2 is a strict subset of doc 1's shingles (first 5 tokens of 12)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs)
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 3-gram shingles: doc1 has 10, doc2 has 3, all of doc2's inside doc1
    assert(counts === Map(1L -> 10L, 2L -> 3L))
    val jaccard = 3.0 / (10 + 3 - 3) // 0.3 — below any dedup threshold
    assert(jaccard < 0.5)
    val cont = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") === 2 && col("doc_b") === 1)
      .count()
    assert(cont === 3L) // containment(2 in 1) = 3/3 = 1.0
  }

  test("sq8 codes stay in [0, 255] and extremes hit the rails") {
    import spark.implicits._
    val ex = Seq((0L, 0.0), (1L, 1.0), (2L, 0.5), (3L, 0.999))
      .toDF("vec_id", "x").withColumn("dim", lit(0))
    val stats = ex.groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
    val codes = ex.join(stats, "dim")
      .select(col("vec_id"),
        least(floor((col("x") - col("mn")) / (col("mx") - col("mn")) * 256.0), lit(255.0))
          .cast("long").as("code"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes(0L) === 0L)   // min -> 0
    assert(codes(1L) === 255L) // max clamps to 255
    assert(codes(2L) === 128L)
    assert(codes.values.forall(c => c >= 0 && c <= 255))
  }

  test("interval outer join keeps purchase-less clicks with null aggregates") {
    val out = graft.operators.EventTime.queries("join_interval_outer")(spark, sf0001)
    val rows = out.collect()
    val clicks = graft.core.Tables.events(spark, sf0001)
      .filter(col("event_type") === "click").count()
    assert(rows.length.toLong === clicks) // left outer: one row per click
    val unmatched = rows.filter(_.getLong(3) == 0L)
    assert(unmatched.nonEmpty)
    assert(unmatched.forall(r => r.isNullAt(4) && r.isNullAt(5)))
  }
}
