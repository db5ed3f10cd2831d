package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.operators.{CheckpointStrategy, Dedup}

/** Invariants of the one connected-components entry point
  * ([[Dedup.components]]): below its size gate it runs union-find in one
  * task, above it the large-star/small-star rounds ([[Dedup.star]]).
  * Both give identical labels on every graph, star closes a path in
  * O(log n) rounds, and the union-find path runs nothing but the gate's
  * count while its DataFrame is built. "min-label CC" in a test name is
  * that labeling — every node mapped to its component's minimum id — as
  * union-find computes it.
  */
class CcStarSpec extends SparkSpec {

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def fixed = {
    import spark.implicits._
    Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // chain
      (5L, 6L), // pair
      (7L, 8L), (8L, 9L), (7L, 9L), // triangle
      (20L, 10L), (20L, 30L), (30L, 40L) // out-of-order ids, star+tail
    ).toDF("doc_a", "doc_b")
  }

  private val fixedLabels = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
    5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 7L,
    10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L)

  test("star CC equals min-label CC on chains, pairs, and cliques") {
    val got = labelsOf(Dedup.components(fixed))
    assert(got === fixedLabels)
    assert(got(40L) === 10L, "component labeled with its minimum id")
    assert(labelsOf(Dedup.star(fixed)._1) === got)
  }

  test("star CC equals min-label CC on the sf0.001 near-dup graph") {
    val a = labelsOf(SparkEntry.queries("dedup_clusters")(spark, sf0001))
    val b = labelsOf(SparkEntry.queries("dedup_clusters_star")(spark, sf0001))
    assert(a.nonEmpty)
    assert(b === a)
  }

  test("star CC converges in O(log n) rounds on a 512-node path") {
    import spark.implicits._
    // a path graph is the worst case for label propagation: the label
    // crosses one hop per round, so diameter-many (511) rounds. The star
    // rewrite must close it in logarithmically few.
    val path = (0L until 511L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.star(path)
    assert(rounds <= 12, s"path-512 should close in O(log n) rounds, took $rounds")
    val out = labelsOf(labels)
    assert(out.size === 512)
    assert(out.values.forall(_ === 0L), "single component rooted at 0")
    assert(labelsOf(Dedup.components(path)) === out)
  }

  test("star CC equals min-label CC on randomized graphs") {
    import spark.implicits._
    // deterministic LCG so the spec replays: ~40 nodes, varying density
    // — covers forests, multi-component blobs, and near-cliques
    var seed = 0x5DEECE66DL
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    for (trial <- 0 until 6) {
      val n = 10 + next(30)
      val m = 1 + next(3 * n)
      val edges = (0 until m)
        .map(_ => (next(n).toLong, next(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val df = edges.toDF("doc_a", "doc_b")
        val a = labelsOf(Dedup.components(df))
        val b = labelsOf(Dedup.star(df)._1)
        assert(b === a, s"trial $trial (n=$n, m=$m) diverged")
      }
    }
  }

  test("star CC handles an empty edge set") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.components(none).isEmpty)
    assert(Dedup.star(none)._1.isEmpty)
  }

  test("CC loops produce identical labels with the broadcast gate OFF") {
    // every other test runs tiny graphs where the size gate picks
    // union-find (and star, when called directly, broadcast joins); limit
    // 0 closes the gate, forcing star's shuffle joins (the 100 TB shape),
    // and must give the same partition
    assert(labelsOf(Dedup.components(fixed, CheckpointStrategy.Local, 0L)) === fixedLabels)
    assert(labelsOf(Dedup.star(fixed, CheckpointStrategy.Local, 0L)._1) === fixedLabels)
  }

  test("Reliable checkpointing drives an iterative loop end-to-end") {
    // the 100 TB fault-tolerance path: CC defaults to Local lineage cuts
    // (non-replicated executor blocks — fine on local[*], fatal on
    // executor loss on a cluster). The cluster-grade Reliable(dir)
    // strategy must not be dead code: run both paths under it against a
    // real checkpoint directory each, assert the Local labels, and
    // assert each path wrote its state into its directory.
    def rddFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(rddFiles)
      else if (f.getName.startsWith("part-")) Seq(f) else Seq.empty
    val run: Seq[(String, CheckpointStrategy => org.apache.spark.sql.DataFrame)] = Seq(
      "union-find" -> (c => Dedup.components(fixed, c)),
      "star" -> (c => Dedup.star(fixed, c)._1))
    for ((path, cc) <- run) {
      val dir = java.nio.file.Files.createTempDirectory("graft-reliable-ckpt").toString
      assert(labelsOf(cc(CheckpointStrategy.Reliable(dir))) === fixedLabels, path)
      assert(rddFiles(new java.io.File(dir)).nonEmpty,
        s"$path under Reliable($dir) produced no checkpoint part files")
    }
  }

  test("a warm dedup_clusters build runs only the gate count, and labels sit in one task") {
    val sc = spark.sparkContext
    val group = "cc-build-probe"
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) jobs += 1
    }
    // first build warms the staged artifacts the query reads
    SparkEntry.queries("dedup_clusters")(spark, sf0001)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "dedup_clusters build")
      try SparkEntry.queries("dedup_clusters")(spark, sf0001)
      finally sc.clearJobGroup()
      org.apache.spark.sql.graft.PlanBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs <= 1, s"a warm build should run at most the gate count, ran $jobs jobs")
    assert(Dedup.components(fixed).rdd.getNumPartitions === 1)
  }
}
