package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Iterative graph analytics — the multi-round generalization of the
  * reference's single contribution round (reference
  * `app/page_rank_topology.py:22-38` computes exactly one sparse
  * matrix-vector step; real PageRank iterates it).
  *
  * The kernel here is the iterated sparse matvec r_{k+1} = Wᵀ·r_k over an
  * edge list — the exact data-flow shape of distributed PageRank,
  * label propagation, and Katz centrality. Each round is one join
  * (edges ⋈ ranks on src, a hash shuffle co-partitioned across rounds)
  * plus one aggregation on dst. Weights and ranks stay INTEGER so every
  * engine computes bit-identical results (double matvec sums are
  * partition-order dependent; integer sums are exact and
  * order-independent — the same trick real systems use when they
  * quantize PageRank to fixed-point for determinism).
  *
  * Every loop here runs on the one round loop,
  * [[CheckpointStrategy.rounds]], which cuts each round's lineage — the
  * classic iterative-job trap is a plan that doubles per iteration until
  * the driver chokes on analysis, long before data size matters. Local
  * (localCheckpoint) is the single-node default; Reliable(dir) writes
  * round state to fault-tolerant storage so an executor loss mid-loop
  * doesn't kill a 100 TB job.
  */
object Graph {

  /** Nation-level trade graph: edge src → dst weighted by the number of
    * lineitems a supplier in `src` shipped to a customer in `dst`.
    * Nation lookups broadcast (25 rows, bounded); supplier/customer
    * GROW with scale factor, so their joins carry no forced hint — the
    * threshold/AQE broadcast them while they fit and fall back to a
    * key shuffle when they don't. The only unavoidable fact shuffle is
    * lineitem ⋈ orders on the order key. Self-loops dropped. */
  def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("src"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("dst"))
    Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("w"))
  }

  /** `iters` rounds of r_{k+1}(j) = Σ_{i→j} w(i,j)·r_k(i), starting from
    * r_0 ≡ 1. Nodes with no in-edges drop out after round 1 (nothing
    * flows into them), mirroring the unrolled SQL.
    *
    * Overflow safety: with `renormalize` (the default) each round's ranks
    * are rescaled by a deterministic power of two so the NEXT round's
    * Long sums provably fit. The sum into any node is bounded by
    * max_r · Σw, so keeping bitlen(max_r) ≤ 62 − bitlen(Σw) keeps every
    * product and partial sum under 2^62 whenever bitlen(Σw) ≤ 61 — the
    * raw kernel wraps near sf1 at 3 iterations (max rank ≈ (Σw)³). Past
    * that envelope (Σw ≥ 2^61, i.e. exabyte-count edge weight) no shift
    * schedule leaves rank headroom and the plan raises in the budget
    * aggregate instead of silently zeroing ranks. The shift
    * comes from integer-exact bit lengths (`length(bin(x))`, identical in
    * Spark and DuckDB), never a float log, so the oracle replays the same
    * schedule and results stay bit-exact cross-engine; relative ranking
    * is preserved (a shared right-shift is monotone). Small inputs shift
    * by 0 and reproduce the raw kernel exactly. Both the shift scalar and
    * the budget are 1-row aggregates broadcast in-plan — no driver fetch. */
  def powerIterate(edges: DataFrame, iters: Int,
      ckpt: CheckpointStrategy = CheckpointStrategy.Local,
      renormalize: Boolean = true): DataFrame =
    rank(edges, iters, None, ckpt, renormalize)

  /** 1-row headroom budget: ranks may hold 62 − bitlen(Σw) bits. The
    * scheme needs at least 1 bit of rank headroom, i.e. bitlen(Σw) ≤ 61
    * (Σw itself a positive Long — a negative/overflowed total bins to 64
    * chars and fails the same guard). Outside that envelope no shift
    * schedule can keep the products exact, so fail loudly in-plan via
    * raise_error rather than silently collapsing every rank to 0.
    * Shared by [[powerIterate]] and [[seededRank]]. */
  private def rankBudget(e: DataFrame, ckpt: CheckpointStrategy): DataFrame =
    ckpt.cut(
      e.agg((lit(62) - coalesce(length(bin(sum(col("w")))), lit(0))).as("bud0"))
        .select(when(col("bud0") >= 1, col("bud0"))
          .otherwise(raise_error(lit(
            "powerIterate: renormalization needs bitlen(sum(w)) <= 61; " +
              "total edge weight leaves no rank headroom")))
          .as("bud")))

  /** PERSONALIZED (seeded) relevance — the truncated Katz series
    * Σ_{t≤iters} (Aᵀ)ᵗ·seed: mass starts on the seed set only, flows
    * along weighted edges each round, and the seed re-injects one unit
    * per round (the integer-exact analogue of PPR's restart term —
    * a rational damping factor would break the bit-exact cross-engine
    * contract, so the restart is additive, which preserves the
    * "relevance to the seeds" ordering). Rounds renormalize exactly as
    * [[powerIterate]] does (same budget, same power-of-two schedule
    * from integer bit lengths, seed re-injection AFTER the shift so it
    * enters at the fresh scale); the oracle replays the identical
    * schedule. Per round: one shuffle matvec + two 1-row broadcast
    * aggregates + a full-outer join against the (small) seed set —
    * nothing proportional to the graph on one node. Nodes never
    * reached by seed mass simply don't appear, so the frontier grows
    * like BFS instead of materializing every node from round 0 —
    * exactly what makes seeded relevance cheaper than global PR on a
    * 100 TB graph. */
  def seededRank(edges: DataFrame, iters: Int, seeds: DataFrame,
      ckpt: CheckpointStrategy = CheckpointStrategy.Local): DataFrame =
    rank(edges, iters, Some(seeds.select(col("node"))), ckpt, renormalize = true)

  /** The one rank kernel under [[powerIterate]] and [[seededRank]], on
    * the round loop of [[CheckpointStrategy.rounds]]. Ranks start at 1
    * on `seeds`, or on every node of an edge without seeds. Each round
    * is one matvec, then (with `renormalize`) one power-of-two shift
    * against [[rankBudget]], then (with seeds) one unit re-injected on
    * every seed by a full-outer join. The edge cut and the budget row
    * are loop-invariant and released after the loop. */
  private def rank(edges: DataFrame, iters: Int, seeds: Option[DataFrame],
      ckpt: CheckpointStrategy, renormalize: Boolean): DataFrame = {
    val e = ckpt.cut(edges)
    lazy val budget = rankBudget(e, ckpt)
    val start = seeds.getOrElse(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct())
    val ranks = ckpt.rounds(start.withColumn("r", lit(1L)), iters) { round =>
      val raw = e
        .join(round.state.select(col("node").as("src"), col("r").as("r_src")), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("w") * col("r_src")).as("r"))
      val scaled =
        if (!renormalize) raw
        else {
          // lazy: the loop's eager cut of this round's ranks computes the
          // shift's broadcast, which reads cutRaw and materializes it in
          // the same job; the loop frees it once the ranks are cut
          val cutRaw = round.cutLazy(raw)
          val sh = cutRaw.crossJoin(budget)
            .agg(greatest(lit(0), max(length(bin(col("r")))) - max(col("bud"))).as("sh"))
          cutRaw.crossJoin(broadcast(sh))
            .select(col("node"), expr("shiftright(r, sh)").as("r"))
        }
      seeds.fold(scaled)(sd =>
        scaled.join(sd.withColumn("s", lit(1L)), Seq("node"), "full_outer")
          .select(col("node"),
            (coalesce(col("r"), lit(0L)) + coalesce(col("s"), lit(0L))).as("r")))
    }
    ckpt.release(e)
    if (renormalize && iters > 0) ckpt.release(budget)
    ranks
  }

  /** Trade edges staged once per session: both registered graph queries
    * (power rank, triangles) start from this artifact, whose INPUT is
    * the four-way fact join but whose output is at most |nations|²
    * rows — the textbook case for materializing a shared edge list
    * before fanning out analytics over it. */
  def stagedTradeEdges(s: SparkSession, dir: String): DataFrame =
    graft.core.Staged(s, s"$dir|tradeEdges")(tradeEdges(s, dir))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Three exact integer matvec rounds over the nation trade graph.
    "graph_power_rank" -> ((s, dir) =>
      powerIterate(stagedTradeEdges(s, dir), 3)
        .select(col("node"), col("r"))
        .orderBy("node")),

    // Seeded relevance from the 3 lexicographically-first nations.
    "graph_seeded_rank" -> ((s, dir) =>
      seededRank(stagedTradeEdges(s, dir), 3,
        Tables.nation(s, dir).select(col("n_name").as("node"))
          .orderBy("node").limit(3))
        .select(col("node"), col("r"))
        .orderBy("node")),

    // Per-node triangle counts via ORIENTED edge enumeration — the
    // clustering-coefficient / community-density primitive. Edges are
    // canonicalized low < high, wedges built by one self-join on the
    // middle vertex (a<b ⋈ b<c gives a<b<c, so each triangle is
    // enumerated exactly once), closed by a left-semi probe on (a, c).
    // At scale the standard refinement is ranking vertices by DEGREE
    // before orienting, which bounds every node's wedge fan-out by its
    // out-degree in the oriented graph (≤ O(√m) for the heavy nodes);
    // the shape — one self-join + one semi-join, all equi-keyed — is
    // identical, and lexicographic orientation suffices for this graph.
    "graph_triangles" -> ((s, dir) => {
      val und = stagedTradeEdges(s, dir)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val wedges = und.join(und.select(col("a").as("b"), col("b").as("c")), "b")
      val tris = wedges.join(und.select(col("a"), col("b").as("c")),
        Seq("a", "c"), "left_semi")
      tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("triangles"))
        .orderBy("node")
    }),

    // BFS HOP DISTANCE — driver-coordinated frontier expansion, the
    // iterative primitive under reachability / shortest-path /
    // influence-radius queries. Runs on the top-3-heaviest-out-edges
    // subgraph (the full trade graph is near-complete at 25 nations, so
    // everything would be depth 1; the k-NN restriction gives the depth
    // structure a real sparse graph has) from the alphabetically-first
    // node. The round state is the visited set (node, depth); round d's
    // frontier is its depth d-1 rows. Each round: frontier ⋈ edges →
    // not-yet-visited targets at depth d, appended to the visited set —
    // first discovery IS min depth, the reason BFS never needs a
    // min-aggregate — with one lineage cut per round (the round loop
    // powerIterate runs on). Rounds bounded; every join equi-keyed;
    // frontier ≤ |nodes|. The oracle is a DuckDB
    // recursive CTE with the same depth bound and min(depth) per node.
    "graph_bfs_depth" -> ((s, dir) => {
      val sparse = topOutEdges(s, dir, 3).select("src", "dst")
      CheckpointStrategy.Local.rounds(
          sparse.agg(min(col("src")).as("node")).select(col("node"), lit(0).as("depth")),
          MaxBfsDepth) { round =>
        val visited = round.state
        visited.unionByName(visited.filter(col("depth") === round.index - 1)
          .join(sparse, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .select(col("node"), lit(round.index).as("depth")))
      }.orderBy("depth", "node")
    }),

    // K-CORE PEEL — the fifth iterative primitive (centrality, density,
    // reachability, partition, and now COHESION): nodes outside the
    // 6-core peel off over TWO synchronous rounds on the top-5-out-edges
    // trade subgraph (top-5/k=6 is the combination that peels a real
    // cascade at every sf without emptying). Each round restricts the
    // edge list to surviving endpoints (two semi-joins on the node key),
    // recounts degrees (one aggregation), and keeps deg ≥ 6 — with the
    // usual per-round lineage cut. A fixed round count, like
    // label_prop's two rounds, keeps the semantics engine-independent
    // (true peeling runs to fixpoint; the oracle unrolls the SAME two
    // rounds). Output is each survivor with the degree that qualified
    // it in the last round.
    "graph_kcore" -> ((s, dir) => {
      val topk = topOutEdges(s, dir, 5).select("src", "dst")
      val ckpt = CheckpointStrategy.Local
      val und = ckpt.cut(topk
        .unionByName(topk.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
      val core = ckpt.rounds(und.select(col("src").as("node")).distinct(), 2) { round =>
        val nodes = round.state.select("node")
        und
          .join(nodes.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(nodes.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 6)
      }
      ckpt.release(und)
      core.orderBy("node")
    }),

    // NEIGHBOR JACCARD — link-prediction / node-similarity scoring:
    // for every node pair sharing ≥1 neighbor, |N(u)∩N(v)| / |N(u)∪N(v)|
    // over the same top-3-out-edges subgraph as BFS/LPA (the full trade
    // graph is near-complete, so every Jaccard would be ~1). Integer
    // exact end to end: the score ships as parts-per-million via DIV,
    // never a float ratio. Shape: one co-neighbor self-join on the
    // shared-neighbor key (the wedge join triangles already uses) + one
    // (a, b) count + two bounded degree joins. At scale the self-join's
    // fan-out is Σ_n deg(n)² — bounded here by the k-NN restriction
    // (deg ≤ 3+in), and in general by the same df-cap discipline the
    // shingle dedup applies to hot inverted-index buckets
    // (Dedup.scala stop-shingle cap).
    "graph_jaccard_neighbors" -> ((s, dir) => {
      val topk = topOutEdges(s, dir, 3).select("src", "dst")
      val und = topk
        .unionByName(topk.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val deg = und.groupBy("src").agg(count(lit(1)).as("d"))
      val common = und.select(col("src").as("a"), col("dst").as("nb"))
        .join(und.select(col("src").as("b"), col("dst").as("nb")), "nb")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("common_n"))
      common
        .join(deg.select(col("src").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("src").as("b"), col("d").as("db")), "b")
        .withColumn("union_n", col("da") + col("db") - col("common_n"))
        .select(col("a"), col("b"), col("common_n"), col("union_n"),
          expr("common_n * CAST(1000000 AS BIGINT) DIV union_n").as("jpm"))
        .orderBy("a", "b")
    }),

    // MAJORITY LABEL PROPAGATION — community detection, the fourth
    // iterative primitive (power rank = centrality, triangles =
    // density, BFS = reachability, LPA = partition). Runs on the same
    // top-3-out-edges subgraph as BFS (the full trade graph is
    // near-complete, one giant community — the k-NN restriction gives
    // it structure), symmetrized with parallel edges merged so each
    // unordered pair carries one weight. Two SYNCHRONOUS rounds: every
    // node simultaneously adopts the label with the largest incident
    // weight among its neighbors, ties to the lexicographically
    // smallest label — fully deterministic, no float, no rand. Each
    // round is one equi-join on the neighbor key + one (node, lbl)
    // aggregation + a per-node argmax window (bounded by degree),
    // with the same per-round lineage cut as the other loops. The
    // oracle unrolls both rounds over the identical edge CTE.
    "graph_label_prop" -> ((s, dir) => {
      val topk = topOutEdges(s, dir, 3)
      val ckpt = CheckpointStrategy.Local
      val und = ckpt.cut(topk
        .unionByName(topk.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        .groupBy("src", "dst").agg(sum("w").as("w")))
      val argmax = org.apache.spark.sql.expressions.Window
        .partitionBy("node").orderBy(desc("wsum"), col("lbl"))
      val labels = ckpt.rounds(
          und.select(col("src").as("node")).distinct().withColumn("lbl", col("node")), 2) { round =>
        und
          .join(round.state.select(col("node").as("dst"), col("lbl")), "dst")
          .groupBy(col("src").as("node"), col("lbl"))
          .agg(sum(col("w")).as("wsum"))
          .withColumn("rk", row_number().over(argmax))
          .filter(col("rk") === 1)
          .select("node", "lbl")
      }
      ckpt.release(und)
      labels.orderBy("node")
    })
  )

  private val MaxBfsDepth = 3

  /** (src, dst, w): each node's `k` heaviest trade out-edges, ties to the
    * smaller dst — the sparse k-NN subgraph the BFS, k-core, neighbor
    * Jaccard and label-propagation queries run on (the full trade graph
    * is near-complete at 25 nations). */
  private def topOutEdges(s: SparkSession, dir: String, k: Int): DataFrame = {
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(desc("w"), col("dst"))
    stagedTradeEdges(s, dir)
      .withColumn("rk", row_number().over(wnd)).filter(col("rk") <= k)
      .select("src", "dst", "w")
  }

  private val edgeCte =
    """e AS (
      |  SELECT n1.n_name AS src, n2.n_name AS dst, count(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      |  WHERE n1.n_name <> n2.n_name
      |  GROUP BY 1, 2)""".stripMargin

  // Renormalized round CTE triplet — raw sum, power-of-two shift from
  // integer bit lengths, rescaled ranks: the exact schedule powerIterate
  // applies (shift 0 on small data, so small-sf results are unchanged).
  // Each sum is cast back to BIGINT: DuckDB sum(BIGINT) widens to
  // HUGEINT, which the compare renders as float.
  private def roundCte(k: Int): String =
    s"""r${k}_raw AS (
       |  SELECT e.dst AS node, CAST(sum(e.w * r${k - 1}.r) AS BIGINT) AS r
       |  FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
       |  GROUP BY 1),
       |r${k}_sh AS (
       |  SELECT greatest(0, max(length(bin(r))) - (SELECT bud FROM bud)) AS sh
       |  FROM r${k}_raw),
       |r$k AS (
       |  SELECT node, CAST(r >> (SELECT sh FROM r${k}_sh) AS BIGINT) AS r
       |  FROM r${k}_raw)""".stripMargin

  // Seeded round CTE quartet: raw matvec, shift, rescale, seed
  // re-injection via full-outer join — powerIterate's schedule plus the
  // additive restart, replayed exactly.
  private def seededRoundCte(k: Int): String =
    s"""s${k}_raw AS (
       |  SELECT e.dst AS node, CAST(sum(e.w * s${k - 1}.r) AS BIGINT) AS r
       |  FROM e JOIN s${k - 1} ON e.src = s${k - 1}.node
       |  GROUP BY 1),
       |s${k}_sh AS (
       |  SELECT greatest(0, max(length(bin(r))) - (SELECT bud FROM bud)) AS sh
       |  FROM s${k}_raw),
       |s${k}_resc AS (
       |  SELECT node, CAST(r >> (SELECT sh FROM s${k}_sh) AS BIGINT) AS r
       |  FROM s${k}_raw),
       |s$k AS (
       |  SELECT COALESCE(x.node, sd.node) AS node,
       |         CAST(COALESCE(x.r, 0)
       |              + CASE WHEN sd.node IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS r
       |  FROM s${k}_resc x FULL OUTER JOIN seeds sd ON x.node = sd.node)""".stripMargin

  def oracles: Map[String, String] = Map(
    "graph_seeded_rank" ->
      s"""WITH $edgeCte,
         |bud AS (SELECT 62 - length(bin(CAST(sum(w) AS BIGINT))) AS bud FROM e),
         |seeds AS (SELECT n_name AS node FROM nation ORDER BY n_name LIMIT 3),
         |s0 AS (SELECT node, CAST(1 AS BIGINT) AS r FROM seeds),
         |${seededRoundCte(1)},
         |${seededRoundCte(2)},
         |${seededRoundCte(3)}
         |SELECT node, r FROM s3 ORDER BY node""".stripMargin,

    "graph_power_rank" ->
      s"""WITH $edgeCte,
         |bud AS (SELECT 62 - length(bin(CAST(sum(w) AS BIGINT))) AS bud FROM e),
         |r0 AS (
         |  SELECT node, CAST(1 AS BIGINT) AS r
         |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
         |${roundCte(1)},
         |${roundCte(2)},
         |${roundCte(3)}
         |SELECT node, r FROM r3 ORDER BY node""".stripMargin,

    "graph_triangles" ->
      s"""WITH $edgeCte,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
         |tri AS (
         |  SELECT w.a, w.b, w.c
         |  FROM (SELECT e1.a, e1.b, e2.b AS c
         |        FROM und e1 JOIN und e2 ON e1.b = e2.a) w
         |  WHERE EXISTS (SELECT 1 FROM und u WHERE u.a = w.a AND u.b = w.c)),
         |nodes AS (SELECT a AS node FROM tri
         |          UNION ALL SELECT b FROM tri
         |          UNION ALL SELECT c FROM tri)
         |SELECT node, count(*) AS triangles
         |FROM nodes GROUP BY 1 ORDER BY node""".stripMargin,

    "graph_bfs_depth" ->
      s"""WITH RECURSIVE $edgeCte,
         |sparse AS (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |           row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rk
         |    FROM e) WHERE rk <= 3),
         |bfs AS (
         |  SELECT (SELECT min(src) FROM sparse) AS node, 0 AS depth
         |  UNION
         |  SELECT s.dst, b.depth + 1
         |  FROM bfs b JOIN sparse s ON b.node = s.src
         |  WHERE b.depth < $MaxBfsDepth)
         |SELECT node, CAST(min(depth) AS INT) AS depth
         |FROM bfs GROUP BY 1 ORDER BY depth, node""".stripMargin,

    "graph_kcore" ->
      s"""WITH $edgeCte,
         |topk AS (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |           row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rk
         |    FROM e) WHERE rk <= 5),
         |und AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM topk
         |    UNION ALL SELECT dst AS src, src AS dst FROM topk)),
         |n0 AS (SELECT DISTINCT src AS node FROM und),
         |n1 AS (
         |  SELECT src AS node, count(*) AS deg FROM und
         |  WHERE src IN (SELECT node FROM n0) AND dst IN (SELECT node FROM n0)
         |  GROUP BY 1 HAVING count(*) >= 6),
         |n2 AS (
         |  SELECT src AS node, count(*) AS deg FROM und
         |  WHERE src IN (SELECT node FROM n1) AND dst IN (SELECT node FROM n1)
         |  GROUP BY 1 HAVING count(*) >= 6)
         |SELECT node, deg FROM n2 ORDER BY node""".stripMargin,

    "graph_jaccard_neighbors" ->
      s"""WITH $edgeCte,
         |topk AS (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |           row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rk
         |    FROM e) WHERE rk <= 3),
         |und AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM topk
         |    UNION ALL SELECT dst AS src, src AS dst FROM topk)),
         |deg AS (SELECT src, count(*) AS d FROM und GROUP BY 1),
         |common AS (
         |  SELECT x.src AS a, y.src AS b, count(*) AS common_n
         |  FROM und x JOIN und y ON x.dst = y.dst AND x.src < y.src
         |  GROUP BY 1, 2)
         |SELECT a, b, common_n,
         |       da.d + db.d - common_n AS union_n,
         |       CAST((common_n * 1000000) // (da.d + db.d - common_n) AS BIGINT) AS jpm
         |FROM common
         |JOIN deg da ON da.src = a
         |JOIN deg db ON db.src = b
         |ORDER BY a, b""".stripMargin,

    "graph_label_prop" ->
      s"""WITH $edgeCte,
         |topk AS (
         |  SELECT src, dst, w FROM (
         |    SELECT src, dst, w,
         |           row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rk
         |    FROM e) WHERE rk <= 3),
         |und AS (
         |  SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
         |    SELECT src, dst, w FROM topk
         |    UNION ALL
         |    SELECT dst AS src, src AS dst, w FROM topk)
         |  GROUP BY 1, 2),
         |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM und),
         |s1 AS (
         |  SELECT u.src AS node, l.lbl, sum(u.w) AS wsum
         |  FROM und u JOIN l0 l ON u.dst = l.node GROUP BY 1, 2),
         |l1 AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |           row_number() OVER (PARTITION BY node ORDER BY wsum DESC, lbl) AS rk
         |    FROM s1) WHERE rk = 1),
         |s2 AS (
         |  SELECT u.src AS node, l.lbl, sum(u.w) AS wsum
         |  FROM und u JOIN l1 l ON u.dst = l.node GROUP BY 1, 2),
         |l2 AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |           row_number() OVER (PARTITION BY node ORDER BY wsum DESC, lbl) AS rk
         |    FROM s2) WHERE rk = 1)
         |SELECT node, lbl FROM l2 ORDER BY node""".stripMargin
  )
}
