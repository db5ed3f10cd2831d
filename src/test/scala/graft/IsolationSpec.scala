package graft

import graft.core.Sessions

/** Bench's failure isolation: a query that stops the context (an
  * executor-thread OOM stops a local-mode context) must not cost the
  * queries after it. `Sessions.ensureLive` replaces the stopped session
  * with one that runs real queries. A JVM-killing OOM is out of scope:
  * Bench's line-flushed JSONL keeps every completed row.
  *
  * This suite stops a context, which would take the shared TestSession
  * down with it, so build.sbt runs it in a forked JVM of its own. It takes
  * only the test-data paths from SparkSpec and never touches `spark`. */
class IsolationSpec extends SparkSpec {

  test("ensureLive replaces a stopped context with a session that runs queries") {
    val s = Sessions.start(Sessions.Scale)
    s.sparkContext.stop()
    assert(s.sparkContext.isStopped)
    val (s2, rebuilt) = Sessions.ensureLive(s)
    try {
      assert(rebuilt, "a stopped context must be reported as rebuilt")
      assert(!s2.sparkContext.isStopped)
      assert(SparkEntry.queries("wordcount")(s2, sf0001).count() > 0)
      assert(Sessions.ensureLive(s2) === (s2, false), "a live session is kept")
    } finally s2.stop()
  }
}
