package graft.tools

/** Direct exercise of Soak's failure-isolation primitive: build a
  * session, stop its context the way a fatal query does (the round-9
  * 30x OOM stopped the local-mode context and 5 later queries recorded
  * bogus "stopped SparkContext" errors), then prove `ensureLive`
  * replaces it with a session that runs real queries. A JVM-killing
  * OOM (SparkUncaughtExceptionHandler halt) is out of scope by design:
  * the line-buffered soak jsonl preserves every completed row, which
  * is the survival contract for that case.
  *
  * Usage: runMain graft.tools.IsolationProbe [sfDir]
  */
object IsolationProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val s = graft.core.Sessions.start(graft.core.Sessions.Scale)
    s.sparkContext.stop()
    require(s.sparkContext.isStopped, "probe precondition: context stopped")
    val (s2, rebuilt) = Soak.ensureLive(s)
    require(rebuilt, "ensureLive must report a rebuild for a stopped context")
    require(!s2.sparkContext.isStopped, "rebuilt session must be live")
    val n = graft.SparkEntry.queries("wordcount")(s2, dir).count()
    require(n > 0, "rebuilt session must run real queries")
    println(s"ISOLATION_PROBE rebuilt=$rebuilt wordcount_rows=$n")
    s2.stop()
  }
}
