package graft.tools

import graft.core.{ScanLayout, Sessions}

/** Dev tool: dump `.explain("formatted")` for named queries to files —
  * the committed plan evidence for optimization rounds (plans/rNN/).
  * Usage:
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [query ...]
  * (no query names = every declared query). Runs under Bench's session
  * shape (Sessions.Scale) so the dumped plans are the benched plans.
  * Iterative operators (CC loops, power iteration, Lloyd rounds) drive
  * their rounds during DataFrame CONSTRUCTION; their dump shows the final assembled plan over the
  * loop's checkpointed result — round counts/job structure live in the
  * CC log (`graft.cc.log`) and FloorProbe stage listings instead. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val rawSfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val spark = Sessions.start(Sessions.Scale)
    val sfDir = ScanLayout.ensure(spark, rawSfDir)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt")
        java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
        println(s"PLAN $n -> $p")
      } catch { case e: Throwable =>
        System.err.println(s"PLAN FAIL $n: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
