package graft.tools

import graft.core.{ScanLayout, Sessions}

/** Dev tool: print one query's formatted physical plan, then decompose
  * its per-execution latency into (a) DataFrame construction, (b)
  * analysis + optimization + physical planning (forcing executedPlan)
  * and (c) distributed execution (toRdd.foreach, full materialization as
  * in Bench), with per-stage task counts and wall. Runs under Bench's
  * session shape, so it probes the benched plan. Usage:
  *   runMain graft.tools.FloorProbe <sfDir> <queryName> [passes]
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val rawSfDir = args(0)
    val name = args(1)
    val passes = if (args.length > 2) args(2).toInt else 6
    val spark = Sessions.start(Sessions.Scale)
    val sfDir = ScanLayout.ensure(spark, rawSfDir)
    // Per-stage wall + task counts: pins how much of a query's latency is
    // single-task stages.
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, String)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
        // callsite (first token of the stage name) so a slow stage is
        // attributable to the operator that scheduled it
        stages.add((si.stageId, si.numTasks, wall, si.name.takeWhile(_ != '\n').take(40)))
      }
    })
    val fn = graft.SparkEntry.queries(name)
    println(fn(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    (1 to passes).foreach { i =>
      stages.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val qe = df.queryExecution
      qe.executedPlan // forces analysis + optimization + physical planning
      val t2 = System.nanoTime()
      qe.toRdd.foreach(_ => ())
      val t3 = System.nanoTime()
      Thread.sleep(200) // let stage-completed events drain
      val st = stages.toArray(Array.empty[(Int, Int, Long, String)]).sortBy(_._1)
      val stStr = st.map { case (id, n, w, nm) =>
        if (w >= 1000) s"s$id[${n}t ${w}ms $nm]" else s"s$id[${n}t ${w}ms]" }.mkString(" ")
      println(f"pass $i: build=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f total=${(t3 - t0) / 1e9}%.3f  $stStr")
    }
    spark.stop()
  }
}
