package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{FreqItems, PortableHash}

/** Sketch-aggregate surface: engine-level approximate aggregates whose
  * state is fixed-size per group (the 100 TB path for heavy hitters /
  * distinct-ish questions — no raw-value shuffle, O(k) merge).
  * Complements the typed BottomK Aggregator (doc_kmv_sketch) with a
  * native TypedImperativeAggregate ([[graft.functions.FreqItemsSketch]]).
  */
object Sketches {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // see kmvQuery scaladoc below
    "kmv_source_overlap" -> ((s, dir) => kmvQuery(s, dir)),

    // COUNT-MIN sketch: point-frequency estimates from d=3 × w=256
    // counters — the complement of FreqItems (which finds WHICH keys
    // are heavy, but can answer nothing about an arbitrary key). Each
    // event increments one counter per depth (bucket = portable 60-bit
    // hash of "d:key" mod w — deterministic cross-engine, so the sketch
    // itself is oracle-checkable, not just its estimates); a probe
    // key's estimate is the MIN over its d counters, an overestimate by
    // construction (collisions only add). Scale posture: the sketch IS
    // a groupBy onto d·w bounded cells — mergeable by construction
    // (shard sketches union by summing cells), fixed memory at any
    // corpus size, one narrow pass + one tiny join to probe. The query
    // reports est vs exact side by side for 5 probe keys; SketchOpsSpec
    // asserts est ≥ exact corpus-wide.
    "sketch_countmin" -> ((s, dir) => {
      val W = 256L
      val probeKeys = (1 to 5).map(_.toString)
      def bucket(d: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column) =
        pmod(PortableHash.hash60(
          concat(d.cast("string"), lit(":"), key)), lit(W))
      val ev = Tables.events(s, dir)
        .select(col("user_id").cast("string").as("key"))
      val cells = ev
        .select(col("key"), explode(sequence(lit(0), lit(2))).as("d"))
        .withColumn("bucket", bucket(col("d"), col("key")))
        .groupBy("d", "bucket").agg(count(lit(1)).as("c"))
      val pb = ev.filter(col("key").isin(probeKeys: _*)).distinct()
        .select(col("key"), explode(sequence(lit(0), lit(2))).as("d"))
        .withColumn("bucket", bucket(col("d"), col("key")))
      val est = pb.join(cells, Seq("d", "bucket"))
        .groupBy("key").agg(min(col("c")).as("est"))
      val exact = ev.filter(col("key").isin(probeKeys: _*))
        .groupBy("key").agg(count(lit(1)).as("exact"))
      est.join(exact, "key").orderBy("key")
    }),

    // Misra-Gries heavy hitters over o_orderpriority (5-value domain,
    // k=16 → sketch is exact, so the DuckDB GROUP BY oracle matches).
    "freq_items_priority" -> ((s, dir) => {
      val sk = Tables.orders(s, dir)
        .agg(FreqItems.freqItemsSketch(col("o_orderpriority"), 16).as("sk"))
      sk.select(explode(col("sk")).as("e"))
        .select(col("e.item").as("item"), col("e.cnt").as("cnt"))
        .orderBy("item")
    }),

    // Mergeable HLL distinct: per-status customer sketches unioned into
    // a global estimate — the re-aggregatable rollup pattern (store the
    // sketch, answer distinct questions without rescanning). Under
    // Verify (default) the union estimate is asserted within 5% (~3σ at
    // lgK=12) of the exact distinct IN-PLAN (raise_error on violation)
    // and the emitted row carries the exact count for DuckDB to replay;
    // under Bench/Soak (graft.approx.exactGate=false) the plan is the
    // sketch chain alone — the mergeable fixed-memory rollup shape that
    // is the whole point of storing sketches at 100 TB (see
    // graft.core.ApproxGate).
    "hll_union_distinct" -> ((s, dir) => {
      val est = Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      if (!graft.core.ApproxGate.exactGate(s))
        est.select(col("est").as("distinct_customers"))
      else Tables.orders(s, dir)
        .agg(countDistinct(col("o_custkey")).as("distinct_customers"))
        .crossJoin(broadcast(est))
        .select(col("distinct_customers"),
          when(abs(col("est") - col("distinct_customers")).cast("double") <=
            col("distinct_customers").cast("double") * 0.05, lit(true))
            .otherwise(raise_error(concat(
              lit("hll union estimate outside 5% of exact: "),
              col("est").cast("string"), lit(" vs "),
              col("distinct_customers").cast("string"))).cast("boolean"))
            .as("within_eps"))
    }),

    // Explicit bloom-prefiltered semi-join (see graft.functions.Bloom):
    // the selective dim key set (negative-balance customers) folds into
    // a fixed-size filter; fact rows that definitely miss drop at the
    // scan with no shuffle, and only possible members reach the exact
    // confirm semi-join — so the result is EXACT and the oracle is the
    // plain semi-join aggregate. The automatic cousin (Catalyst's
    // runtime bloom join pruning) is asserted in SketchOpsSpec; this is
    // the user-controlled artifact a pipeline persists and reuses
    // across ingest jobs.
    "join_bloom_prefilter" -> ((s, dir) => {
      val dim = Tables.customer(s, dir)
        .filter(col("c_acctbal") < 0)
        .select(col("c_custkey"))
      val bloom = graft.functions.Bloom.memoBytes(
        s, s"$dir|negcust", dim, col("c_custkey"), 1L << 17)
      Tables.orders(s, dir)
        .filter(graft.functions.Bloom.mightContain(bloom, col("o_custkey")))
        .join(dim, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.Decimals.rsum2(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderpriority")
    }),

    // Grouped variant: per order-status priority frequencies; the sketch
    // runs as a partial/final hash aggregate keyed by o_orderstatus.
    "freq_items_by_status" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(FreqItems.freqItemsSketch(col("o_orderpriority"), 16).as("sk"))
        .select(col("o_orderstatus"), explode(col("sk")).as("e"))
        .select(col("o_orderstatus"), col("e.item").as("item"), col("e.cnt").as("cnt"))
        .orderBy("o_orderstatus", "item")
    })
  )

  /** K-MINIMUM-VALUES cross-source overlap — the mergeable distinct
    * sketch answering "how much do shards A and B overlap?" WITHOUT a
    * cross-shard distinct: each source folds its shingle-hash set into
    * its 256 smallest values (one per-source pass), and every pairwise
    * union/Jaccard/intersection estimate derives from the two sketches
    * ALONE — K-th smallest of the merged sketch estimates the union as
    * (K−1)·2⁶⁰∕h₍K₎ (hash60 is uniform on [0, 2⁶⁰)), members of the
    * merged bottom-K present in both sketches estimate the Jaccard.
    * At 100 TB the sketches are the only thing that crosses shard
    * boundaries (256 longs per source). Deterministic end to end
    * (md5-based hashes, integer DIV through DECIMAL(38)), so unlike the
    * HLL estimate this sketch IS hash-oracle-checked; accuracy vs the
    * exact overlap is asserted in SketchOpsSpec (SE ≈ 1/√K ≈ 6%). */
  private val KmvK = 256
  private val KmvSources = Seq("src0", "src1", "src2", "src3")

  private def kmvQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docSrc = Tables.documents(s, dir)
      .filter(col("source").isin(KmvSources: _*))
      .select(col("doc_id"), col("source"))
    val hashes = Dedup.stagedShingles(s, dir)
      .join(docSrc, "doc_id")
      .select(col("source"), graft.functions.PortableHash.hash60(col("shingle")).as("h"))
      .distinct()
    val wSrc = Window.partitionBy("source").orderBy("h")
    val sketch = hashes.withColumn("rk", row_number().over(wSrc))
      .filter(col("rk") <= KmvK).select("source", "h")
    val pairsDf = {
      import s.implicits._
      (for { i <- KmvSources.indices; j <- (i + 1) until KmvSources.size }
        yield (KmvSources(i), KmvSources(j))).toDF("sa", "sb")
    }
    val tagged = sketch
      .join(broadcast(pairsDf), col("source") === col("sa") || col("source") === col("sb"))
      .groupBy("sa", "sb", "h")
      .agg(max(when(col("source") === col("sa"), 1L).otherwise(0L)).as("in_a"),
        max(when(col("source") === col("sb"), 1L).otherwise(0L)).as("in_b"))
    val wPair = Window.partitionBy("sa", "sb").orderBy("h")
    tagged.withColumn("rk", row_number().over(wPair)).filter(col("rk") <= KmvK)
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("m"), max(col("h")).as("t"),
        sum(col("in_a") * col("in_b")).as("j_num"))
      // 255·2⁶⁰ overflows BIGINT — route the numerator through DECIMAL(38)
      .select(col("sa"), col("sb"),
        when(col("m") < KmvK, col("m")).otherwise(
          expr(s"CAST(${KmvK - 1} AS DECIMAL(38,0)) * 1152921504606846976 div t"))
          .as("union_est"),
        expr("j_num * 1000000 div m").as("jaccard_ppm"))
      .withColumn("inter_est", expr("jaccard_ppm * union_est div 1000000"))
      .orderBy("sa", "sb")
  }

  def oracles: Map[String, String] = Map(
    // replays the EXACT column; within_eps is TRUE by construction (the
    // Spark side raise_errors when the HLL estimate drifts out of 5%)
    "hll_union_distinct" ->
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS distinct_customers,
        |       TRUE AS within_eps
        |FROM orders""".stripMargin,

    "sketch_countmin" -> {
      def b(keyExpr: String) =
        s"(${PortableHash.sql(s"CAST(t.d AS VARCHAR) || ':' || $keyExpr")}) % 256"
      s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
         |cells AS (
         |  SELECT t.d, ${b("key")} AS bucket, count(*) AS c
         |  FROM ev, range(3) t(d) GROUP BY 1, 2),
         |pk AS (SELECT DISTINCT key FROM ev
         |       WHERE key IN ('1', '2', '3', '4', '5')),
         |pb AS (SELECT pk.key, t.d, ${b("pk.key")} AS bucket
         |       FROM pk, range(3) t(d)),
         |est AS (SELECT key, min(c) AS est
         |        FROM pb JOIN cells USING (d, bucket) GROUP BY 1),
         |ex AS (SELECT key, count(*) AS exact FROM ev
         |       WHERE key IN ('1', '2', '3', '4', '5') GROUP BY 1)
         |SELECT e.key, CAST(e.est AS BIGINT) AS est,
         |       CAST(ex.exact AS BIGINT) AS exact
         |FROM est e JOIN ex USING (key) ORDER BY key""".stripMargin
    },

    "kmv_source_overlap" -> {
      val h = graft.functions.PortableHash.sql("shingle")
      val pairsVals = (for {
        i <- KmvSources.indices; j <- (i + 1) until KmvSources.size
      } yield s"('${KmvSources(i)}', '${KmvSources(j)}')").mkString(", ")
      val est = s"CASE WHEN m < $KmvK THEN m ELSE " +
        s"(${KmvK - 1}::HUGEINT * 1152921504606846976) // t END"
      s"""WITH ${Dedup.shingleCte},
         |ds AS (SELECT doc_id, source FROM documents
         |       WHERE source IN (${KmvSources.map(x => s"'$x'").mkString(", ")})),
         |hs AS (SELECT DISTINCT source, $h AS h FROM sh JOIN ds USING (doc_id)),
         |sk AS (SELECT source, h FROM (
         |         SELECT source, h,
         |                row_number() OVER (PARTITION BY source ORDER BY h) AS rk
         |         FROM hs) WHERE rk <= $KmvK),
         |pairs AS (SELECT * FROM (VALUES $pairsVals) AS t(sa, sb)),
         |tag AS (
         |  SELECT sa, sb, h,
         |         max(CASE WHEN source = sa THEN 1 ELSE 0 END) AS in_a,
         |         max(CASE WHEN source = sb THEN 1 ELSE 0 END) AS in_b
         |  FROM sk JOIN pairs ON source = sa OR source = sb
         |  GROUP BY 1, 2, 3),
         |topm AS (SELECT * FROM (
         |  SELECT sa, sb, h, in_a, in_b,
         |         row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rk
         |  FROM tag) WHERE rk <= $KmvK),
         |agg AS (
         |  SELECT sa, sb, count(*) AS m, max(h) AS t,
         |         sum(in_a * in_b) AS j_num
         |  FROM topm GROUP BY 1, 2)
         |SELECT sa, sb,
         |       CAST($est AS BIGINT) AS union_est,
         |       CAST(j_num * 1000000 // m AS BIGINT) AS jaccard_ppm,
         |       CAST((j_num * 1000000 // m) * ($est) // 1000000 AS BIGINT) AS inter_est
         |FROM agg ORDER BY sa, sb""".stripMargin
    },
    "join_bloom_prefilter" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "freq_items_priority" ->
      """SELECT o_orderpriority AS item, count(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY item""".stripMargin,
    "freq_items_by_status" ->
      """SELECT o_orderstatus, o_orderpriority AS item, count(*) AS cnt
        |FROM orders GROUP BY 1, 2 ORDER BY o_orderstatus, item""".stripMargin
  )
}
