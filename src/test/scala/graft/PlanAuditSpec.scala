package graft

/** Scale-posture audit: the plans Catalyst actually produces must have
  * the shapes the 100 TB design depends on — pushdown reaching parquet,
  * dimension broadcasts, partial aggregation, top-k without global sort,
  * and no accidental cartesian products.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("parquet pushdown: filter and 2-column pruning reach the scan") {
    val p = plan("scan_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("star joins broadcast their dimension sides") {
    // no forced hints on these dims (they scale with sf) — at test scale
    // the THRESHOLD must still pick a broadcast join on its own
    for (q <- Seq("join_broadcast_agg", "q3_top_orders", "q5_region_revenue"))
      assert(plan(q).contains("BroadcastHashJoin"), s"$q lacks broadcast join")
  }

  test("broadcast hints only on bounded sides (nation/region/scalar aggregates)") {
    // A forced broadcast() overrides autoBroadcastJoinThreshold
    // unconditionally: hinting an sf-scaling table (customer is 150k
    // rows PER scale factor) plans a job that dies at sf≈100000. Every
    // registered query's hints must be provably bounded: leaf tables
    // ⊆ {nation, region} or a grouping-free (scalar) aggregate. The
    // bounded-by-construction similarity sides (constant vec_id
    // predicates / fixed centroid sets over embeddings) are checked
    // structurally: a filter on the key must sit between hint and scan.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val bounded = Set("nation", "region")
    val scaling = Set("customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")
    // grouping keys with sf-independent domains: embedding geometry is
    // fixed by the model (64 dims, 8 subspaces, 16 centroids), not by
    // corpus size; `source` is the pipeline's feed list and `event_type`
    // the event taxonomy — bounded categoricals like language (their
    // domains grow with the schema, not the data volume), so a
    // per-source/per-type aggregate is one row per category, not per row
    val fixedGeometry = Set("dim", "sub", "cent_id", "source", "event_type", "lang")
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val analyzed = SparkEntry.queries(name)(spark, sf0001).queryExecution.analyzed
      analyzed.foreach {
        // only BROADCAST-strategy hints replicate a side to every
        // executor; a shuffle_hash/merge hint (e.g. the batch IVF
        // query-axis join) keeps the side partitioned and may sit on any
        // table at any scale
        case h: ResolvedHint
            if h.hints.strategy.contains(
              org.apache.spark.sql.catalyst.plans.logical.BROADCAST) =>
          val leafPaths = h.child.collectLeaves().flatMap {
            case lr: LogicalRelation => lr.relation match {
              case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
              case _ => Nil
            }
            case _ => Nil
          }
          val leafTables = leafPaths
            .map(_.split('/').last.stripSuffix(".parquet")).toSet
          // the TOPMOST Aggregate bounds the hinted side only if it is
          // scalar (no grouping — one row) or groups exclusively on
          // fixed-geometry keys; any Aggregate is NOT enough — a forced
          // broadcast of customer.groupBy(c_custkey).agg(...) grows
          // with sf and must fail this audit
          val aggOk = h.child.collectFirst { case a: Aggregate => a }.exists { a =>
            a.groupingExpressions.isEmpty ||
              a.groupingExpressions.forall {
                case ar: AttributeReference => fixedGeometry.contains(ar.name)
                case _ => false
              }
          }
          // a bounding Filter must PIN vec_id against literals (the
          // constant query/centroid id sets) — a filter on any other
          // column keeps the side proportional to sf
          val filterOk = h.child.collectFirst { case f: Filter => f }.exists { f =>
            f.condition.references.exists(_.name == "vec_id") &&
              f.condition.exists { case _: Literal => true; case _ => false }
          }
          // a top-level LIMIT k caps the hinted side at k rows at any
          // scale factor (the argmax / top-k broadcast pattern)
          val limitOk = h.child.collectFirst { case l: GlobalLimit => l }.isDefined
          // graft.core.Staged materializations are session-local parquet
          // snapshots of derivations already audited at their source
          // (e.g. the trained-IVF (vec_id, cell) assignment); a staged
          // leaf joined under the pinning vec_id filter is bounded the
          // same way the embeddings leaf is
          // ...and the persisted ANN index store is the same class of
          // artifact as a staged derivation, just with a cross-session
          // lifecycle: its assignment is one (vec_id, cell) row per
          // corpus vector, bounded here by the same pinning vec_id
          // filter as the embeddings leaf it joins
          // resolve the store base the same way AnnIndex does — another
          // suite sharing this session may have pointed the conf at its
          // own temp dir, and the audit must recognize that dir as the index
          val annBase = spark.conf.getOption("graft.ann.index.base")
          val embeddingsLike = leafPaths.forall(p =>
            p.endsWith("embeddings.parquet") || p.contains("graft-stage") ||
              p.contains("ann_index") || annBase.exists(p.contains))
          val ok = leafTables.subsetOf(bounded) || aggOk || limitOk ||
            (filterOk && embeddingsLike)
          assert(ok, s"$name forces a broadcast hint on sf-scaling " +
            s"table(s) ${leafTables.intersect(scaling)} with no bounding reduction")
        case _ => ()
      }
    }
  }

  test("sequence packing windows partition on the pack group, never globally") {
    val p = plan("pipeline_pack_sequences")
    // the cumsum window must run per (lang, bucket) hash partition; a
    // global single-partition window is the naive-packing scale trap
    assert(p.contains("hashpartitioning(lang"), p.take(2000))
    val windowSection = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!windowSection.contains("SinglePartition"),
      s"packing window runs on a single partition:\n$windowSection")
  }

  test("aggregations run partial+final hash aggregation") {
    val p = plan("q1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
    assert(p.contains("Exchange hashpartitioning"), p)
  }

  test("no cartesian product outside the intended all-pairs queries") {
    // emb_neardup_lsh is NOT exempt: the registered query is the
    // banded-LSH pair join; only the spec-only allPairsNeardup twin may
    // go cartesian
    for (name <- SparkEntry.queries.keys if name != "ann_cosine_topk") {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("banded near-dup join is equi on (band, value) — no nested loop") {
    val p = plan("emb_neardup_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("semantic dedup pair join is equi on cell — quadratic work stays in-cluster") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("dotproductfloat"), p) // exact verify on the codegen'd kernel
  }

  test("similarity pair-joins use broadcast nested loop only on the tiny query side") {
    val p = plan("ann_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"), p)
    assert(p.contains("dotproductfloat"), p) // codegen'd expression in use
  }

  test("shuffle-hash hint plans a ShuffledHashJoin (SMJ alternative)") {
    import org.apache.spark.sql.functions.col
    val o = graft.core.Tables.orders(spark, sf0001).hint("shuffle_hash")
    val l = graft.core.Tables.lineitem(spark, sf0001)
    val p = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("minhash signature aggregation stays in HashAggregate (numeric buffers)") {
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("SortAggregate"), s"minhash fell back to SortAggregate:\n$p")
  }

  test("trade-graph edges broadcast every dimension; one fact-fact shuffle join") {
    val p = graft.operators.Graph.tradeEdges(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p) // supplier/customer/nation x2
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sq8/pq score array-native: codegen kernel, no per-dim explode-join") {
    // the compressed corpus stays ONE row per vector: scoring must be
    // the codegen'd integer kernel against a broadcast scalar/query-set
    // side (tiny BNLJ is the intended shape), never a 64x posexplode
    // join + hash aggregate
    val sq8 = plan("ann_sq8_topk")
    assert(sq8.toLowerCase.contains("dotproductint"), sq8)
    assert(!sq8.contains("CartesianProduct"), sq8)
    val pq = plan("ann_pq_adc")
    assert(pq.toLowerCase.contains("codelookupsum"), pq)
    assert(!pq.contains("CartesianProduct"), pq)
  }

  test("batch IVF search shuffles the unbounded query side — never broadcasts it") {
    // the query-axis scale proof: with every corpus vector querying its
    // own cell, the cell join must be a ShuffledHashJoin (both sides
    // hash-partitioned on cell). A BroadcastHashJoin here would ship the
    // FULL query set to every executor — exactly what dies at 10⁶+
    // queries. The only broadcasts allowed in this plan are the bounded
    // training internals (16 centroids / scalar aggregates).
    val p = plan("ann_ivf_trained_batch")
    val cellJoins = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("[cell")).toSeq
    assert(cellJoins.nonEmpty, s"no cell-keyed join found:\n$p")
    assert(cellJoins.forall(_.contains("ShuffledHashJoin")),
      s"cell join must shuffle, not broadcast, the query side:\n${cellJoins.mkString("\n")}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("multi-probe batch IVF keeps the shuffled query axis (probes never broadcast)") {
    // nprobe=2 doubles the query fan-out — the plan discipline must
    // survive it: the cell join stays a ShuffledHashJoin (the probe side
    // is |corpus|×P rows and can never broadcast); bounded training
    // internals remain the only broadcasts
    val p = plan("ann_ivf_trained_batch_mp")
    val cellJoins = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("[cell")).toSeq
    assert(cellJoins.nonEmpty, s"no cell-keyed join found:\n$p")
    assert(cellJoins.forall(_.contains("ShuffledHashJoin")),
      s"cell join must shuffle, not broadcast, the probe side:\n${cellJoins.mkString("\n")}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("hard-negative mining keeps the shuffled query axis and prunes top-1 map-side") {
    // emb_hard_negatives rides the batch-IVF plan: the cell join must
    // stay a ShuffledHashJoin (query side = whole corpus, never
    // broadcast), and the rank=1 filter must compile to a
    // WindowGroupLimit so each task keeps one candidate per query
    // BEFORE the window exchange — the map-side top-k that makes the
    // mining pass linear in candidates, not in (candidates · log k)
    // through a sort spill
    val p = plan("emb_hard_negatives")
    val cellJoins = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("[cell")).toSeq
    assert(cellJoins.nonEmpty, s"no cell-keyed join found:\n$p")
    assert(cellJoins.forall(_.contains("ShuffledHashJoin")),
      s"cell join must shuffle, not broadcast, the query side:\n${cellJoins.mkString("\n")}")
    assert(p.contains("WindowGroupLimit"), s"rank=1 should prune via WindowGroupLimit:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("salted replicate join partitions on (key, salt), not the bare hot key") {
    // the whole point of static salting: the exchange feeding the join
    // must hash on BOTH the key and the salt so a hot key's rows spread
    // over S partitions; a bare-key exchange (or a broadcast) would
    // silently undo the technique
    val p = plan("join_salted_replicate")
    val joins = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")).toSeq
    assert(joins.nonEmpty, s"salted join should not broadcast:\n$p")
    assert(joins.exists(l => l.contains("salt") && l.contains("custkey")),
      s"join keys must include the salt:\n${joins.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("CDC merge compacts both sides map-side and joins on the key") {
    // both changelog halves must compact through WindowGroupLimit
    // (one row per key forwarded per task, never a key's history) and
    // the merge must be a keyed full-outer join, not any nested loop
    val p = plan("pipeline_merge_upsert")
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"both snapshot and delta should prune via WindowGroupLimit:\n$p")
    assert(p.contains("FullOuter"), s"merge should be a full-outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("interval outer join keeps the equi key (no nested loop)") {
    val p = plan("join_interval_outer")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("bloom prefilter probes before the confirm join, inside codegen") {
    // the whole point of the explicit bloom artifact: the might_contain
    // probe must sit on the fact side BEFORE the join (rows drop at the
    // scan), not be reordered after it — and as a codegen'd predicate,
    // not an interpreted one
    val p = plan("join_bloom_prefilter")
    val probeAt = p.indexOf("might_contain")
    val joinAt = p.indexOf("Join")
    assert(probeAt >= 0, p)
    assert(joinAt >= 0 && probeAt > joinAt,
      s"probe should be below (execute before) the join in the plan tree:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dataset card is one scan with partial+final aggregation") {
    val p = plan("pipeline_dataset_card")
    assert(p.contains("HashAggregate"), p)
    assert("FileScan parquet".r.findAllIn(p).length === 1,
      s"dataset card should read the corpus exactly once:\n$p")
  }

  test("cluster-diverse sampling shuffles once: window and audit agg share the cell key") {
    // rank-within-cell window hash-partitions on cell; the quota audit
    // groupBy("cell") must reuse that partitioning, not re-shuffle —
    // the only other Exchange is the output orderBy's range partitioning
    val p = plan("sample_cluster_diverse")
    assert(p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"window + groupBy on the same key must share one exchange:\n$p")
  }

  test("weighted priority sampling pushes the rank limit below the shuffle") {
    // per-source top-k must keep a PARTIAL WindowGroupLimit on the map
    // side — the exchange then carries O(k·tasks) rows, not the corpus.
    // Without the pushdown every doc row shuffles to its source's
    // window partition, the single-hot-source skew trap at 100 TB.
    val p = plan("sample_weighted_priority")
    assert(p.contains("WindowGroupLimit"), p)
    val partialAt = p.indexOf("Partial")
    val exchangeAt = p.indexOf("Exchange hashpartitioning")
    assert(partialAt >= 0 && exchangeAt >= 0 && partialAt > exchangeAt,
      s"partial group-limit should sit below (before) the source exchange:\n$p")
  }

  test("chunker is a narrow fan-out; chunk dedup shuffles only the md5 key") {
    // the per-row sequence+posexplode fan-out must plan as Generate with
    // NO hash exchange — the only Exchange allowed is the output sort's
    // range partitioning (determinism, not data movement between ops)
    val po = plan("text_chunk_overlap")
    assert(po.contains("Generate"), po)
    assert(!po.contains("Exchange hashpartitioning"),
      s"chunking must not shuffle:\n$po")
    // the boilerplate detector aggregates partially before its (uniform
    // md5-key) exchange — chunk text never crosses the wire
    val pd = plan("text_chunk_dups")
    assert(pd.contains("Generate") && pd.contains("HashAggregate"), pd)
    assert(pd.contains("partial"), s"missing map-side partial agg:\n$pd")
    assert(!pd.contains("CartesianProduct") && !pd.contains("BroadcastNestedLoop"), pd)
  }

  test("bucketed layout: fact-to-fact join + same-key agg with ZERO exchanges") {
    // the co-located join proof: both sides bucketed+sorted on the join
    // key means the join, the per-order aggregate, and the top-k all run
    // scan-local — not one Exchange of any kind in the whole plan. (AQE
    // off for the audit so the concrete plan nodes are walkable; the
    // registered query runs under whatever the session has.)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("layout_bucketed_join")(spark, sf0001)
      val p = df.queryExecution.executedPlan
      val exchanges = p.collect { case e: Exchange => e }
      assert(exchanges.isEmpty, s"bucketed join must not shuffle:\n$p")
      val scans = p.collect { case f: FileSourceScanExec => f }
      assert(scans.size == 2 && scans.forall(_.bucketedScan),
        s"both sides must be bucketed scans:\n$p")
      assert(p.toString.contains("TakeOrderedAndProject"), p.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("partitioned layout: planning-time pruning scans 1 of 5 type dirs") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("layout_partition_prune")(spark, sf0001)
      val p = df.queryExecution.executedPlan
      val scan = p.collect { case f: FileSourceScanExec => f }.head
      assert(scan.metadata("PartitionFilters").contains("event_type"),
        s"partition filter missing from scan:\n$p")
      // pruning happens before execution: the scan's selected partition
      // listing must already be down to the single purchase dir
      assert(scan.selectedPartitions.partitionCount == 1,
        s"expected 1 pruned partition, got ${scan.selectedPartitions.partitionCount}:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bootstrap CI evaluates at most 4 md5s per row (hoist survives the optimizer)") {
    // Round-7 regression guard: the 'hoisted' weight array was re-inlined
    // by CollapseProject into 64 aggregate expressions, re-deriving the 4
    // md5s + 32 conv/filter evals PER AGGREGATE PER ROW (20.8 s → 460 s
    // at sf0.1). The fix parks the md5 transform under a Generate (a
    // projection-collapse barrier); this pins that shape: the optimized
    // plan may mention md5 at most 4 times (one transform lambda ≡ one
    // textual md5; 4 is headroom for a formulation with one call per
    // hash), and the fan-out must be a Generate feeding a partial agg,
    // never 64 independent agg expressions over re-derived arrays.
    val p = plan("sample_bootstrap_ci")
    val md5Count = "md5".r.findAllIn(p).size
    assert(md5Count <= 4, s"md5 appears $md5Count times in the physical plan " +
      s"(the optimizer re-inlined the hoisted hash array):\n$p")
    assert(p.contains("Generate"), s"bootstrap fan-out must be a Generate:\n$p")
    assert(p.contains("partial"), s"missing map-side partial agg:\n$p")
  }
}
