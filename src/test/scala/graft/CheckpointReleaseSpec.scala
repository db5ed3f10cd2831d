package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.core.Tables
import graft.operators.{CheckpointStrategy, Graph}

/** Pins that [[CheckpointStrategy.Local.release]] genuinely frees the
  * localCheckpoint's executor storage. Dataset.unpersist alone only
  * uncaches CacheManager-registered plans — a localCheckpoint persists
  * the underlying RDD directly, so the release must unpersist THAT RDD
  * or every iterative loop round's blocks live for the whole session
  * (the round-8 leak this strategy exists to prevent). Asserted via
  * sc.getRDDStorageInfo: blocks appear on cut, vanish on release.
  */
class CheckpointReleaseSpec extends SparkSpec {

  private def storedIds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo
      .filter(i => i.numCachedPartitions > 0).map(_.id).toSet

  test("Local.release frees the checkpointed RDD's storage blocks") {
    val before = storedIds
    val cut = CheckpointStrategy.Local.cut(
      spark.range(0, 100000).toDF("id").withColumn("v", col("id") * 2))
    assert(cut.count() == 100000)
    val cutBlocks = storedIds -- before
    assert(cutBlocks.nonEmpty, "cut() should persist blocks in executor storage")
    CheckpointStrategy.Local.release(cut)
    val leaked = storedIds.intersect(cutBlocks)
    assert(leaked.isEmpty, s"release() left RDD storage behind: $leaked")
  }

  test("Local.release reaches the cut through derived frames") {
    // loops often release a frame a few narrow transforms PAST the cut;
    // the walk over the analyzed plan must still find the LogicalRDD leaf
    val before = storedIds
    val cut = CheckpointStrategy.Local.cut(spark.range(0, 50000).toDF("id"))
    val derived = cut.filter(col("id") % 2 === 0).select(col("id") + 1 as "id2")
    assert(derived.count() == 25000)
    val cutBlocks = storedIds -- before
    assert(cutBlocks.nonEmpty)
    CheckpointStrategy.Local.release(derived)
    assert(storedIds.intersect(cutBlocks).isEmpty,
      "release(derived) must free the underlying checkpoint's blocks")
  }

  test("iterative loop storage stays bounded across released rounds") {
    val before = storedIds
    var prev = CheckpointStrategy.Local.cut(spark.range(0, 20000).toDF("id"))
    for (_ <- 1 to 5) {
      val next = CheckpointStrategy.Local.cut(
        prev.withColumn("id", col("id") + 1))
      CheckpointStrategy.Local.release(prev)
      prev = next
    }
    val live = storedIds -- before
    assert(live.size <= 1, s"only the final round may stay persisted, got $live")
    CheckpointStrategy.Local.release(prev)
    assert((storedIds -- before).isEmpty)
  }

  test("round loops keep no intermediate round's blocks, only the result's cut") {
    import spark.implicits._
    val edges = Seq(("a", "b", 2L), ("b", "c", 3L), ("c", "a", 1L), ("a", "c", 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("node")
    def resultOnly(what: String)(run: => DataFrame): Unit = {
      val before = storedIds
      val out = run
      assert(out.collect().nonEmpty, s"$what returned no rows")
      val live = storedIds -- before
      assert(live.size <= 1, s"$what kept more than its result's cut: $live")
      CheckpointStrategy.Local.release(out)
      assert((storedIds -- before).isEmpty,
        s"$what kept blocks its result does not read: ${storedIds -- before}")
    }
    resultOnly("powerIterate")(Graph.powerIterate(edges, 3))
    resultOnly("powerIterate raw")(Graph.powerIterate(edges, 3, renormalize = false))
    resultOnly("seededRank")(Graph.seededRank(edges, 3, seeds))
    for (q <- Seq("graph_bfs_depth", "graph_kcore", "graph_label_prop"))
      resultOnly(q)(SparkEntry.queries(q)(spark, sf0001))
    val before = storedIds
    assert(TextAnalysis.bpeTrain(Tables.documents(spark, sf0001), 3).length === 3)
    assert((storedIds -- before).isEmpty, "bpeTrain left round state behind")
  }
}
