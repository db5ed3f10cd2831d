package graft

import graft.core.Sessions

/** The per-session memo ([[Sessions.memo]]) and the rule it enforces:
  * queries keep their derived state there, never in the session's
  * runtime conf. */
class SessionMemoSpec extends SparkSpec {

  test("memo stores a value only after its build returns and rebuilds what valid rejects") {
    val s = spark.newSession()
    var builds = 0
    def build(v: Int): Int = { builds += 1; v }
    intercept[IllegalStateException] {
      Sessions.memo(s, "spec|k")((_: Int) => true)(throw new IllegalStateException("induced"))
    }
    assert(Sessions.memo(s, "spec|k")((_: Int) => true)(build(1)) === 1)
    assert(builds === 1, "a throwing build must store nothing")
    assert(Sessions.memo(s, "spec|k")((_: Int) => true)(build(2)) === 1)
    assert(builds === 1, "a valid hit must not build")
    assert(Sessions.memo(s, "spec|k")((v: Int) => v != 1)(build(2)) === 2)
    assert(builds === 2, "a rejected entry is rebuilt once")
    assert(Sessions.memo(spark.newSession(), "spec|k")((_: Int) => true)(build(3)) === 3,
      "another session has its own entries")
  }

  test("queries leave the session's graft.* runtime conf alone") {
    val s = spark.newSession()
    def graftKeys: Set[String] = s.conf.getAll.keySet.filter(_.startsWith("graft."))
    val before = graftKeys
    // a staged query, the dup gate and the stream sink rotation
    for (q <- Seq("dedup_minhash_lsh", "dedup_ngram_jaccard", "stream_wordcount"))
      SparkEntry.queries(q)(s, sf0001).collect()
    val added = graftKeys -- before
    assert(added.isEmpty, s"queries stored state in the runtime conf: ${added.mkString(", ")}")
  }
}
