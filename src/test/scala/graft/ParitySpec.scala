package graft

import org.apache.spark.sql.functions._
import graft.operators.Parity

/** Golden/differential tests of the three parity pipelines against
  * small hand-written stand-ins for the reference's CSV inputs
  * (src/test/resources/app, FIXTURES.md §A). Every expected value is
  * counted by hand from the fixture lines quoted in each test.
  */
class ParitySpec extends SparkSpec {

  test("wordcount on wordcount700b.csv: single-space split keeps empty tokens") {
    // lines: "# Crane" | "" | "~~~" | "run  the  master" | "~~~" |
    //        " the end " | "the   the"
    val lines = spark.read.text(appCsv("wordcount700b.csv"))
    val wc = Parity.wordCount(lines).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wc.size === 8) // #, Crane, "", ~~~, run, the, master, end
    assert(wc.values.sum === 18L) // 2 + 1 + 1 + 5 + 1 + 4 + 4 tokens per line
    // empty tokens ARE words: the empty line (1), the two double spaces
    // (2), the leading + trailing space (2) and the triple space (2)
    assert(wc("") === 7L)
    assert(wc("~~~") === 2L)
    assert(wc("the") === 4L)
  }

  test("pagerank contribs on pagerank_42k.csv: 1/(n+1) weights, isolated nodes drop") {
    // sources with out-degree 5, 2, 1 and 5 (10000001, 3, 5, 6) and four
    // isolated lines (10000002, 4, 7, 10); ids abbreviated to last digit:
    //   1 -> 2 3 4 5 6   3 -> 1 2   5 -> 1   6 -> 2 7 8 9 1
    val lines = spark.read.text(appCsv("pagerank_42k.csv"))
    val out = Parity.pageRankContribs(Parity.parseAdjacency(lines))
    val rows = out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.size === 9) // nodes 1-9 each receive a contribution
    // each source hands out K/(K+1): 5/6 + 2/3 + 1/2 + 5/6
    assert(math.abs(rows.values.sum - 17.0 / 6) < 1e-9)
    assert(math.abs(rows("10000003") - 1.0 / 6) < 1e-9)
    assert(math.abs(rows("10000002") - 4.0 / 6) < 1e-9) // 1/6 + 1/3 + 1/6
    assert(math.abs(rows("10000001") - 1.0) < 1e-9) // 1/3 + 1/2 + 1/6
    assert(!rows.contains("10000010")) // isolated and never a neighbor
  }

  test("twitter filter on twitter_1k.csv: zero survivors still yields ('result', 0)") {
    // followers 3, 16, 0, 50, 12, 49: none strictly above 50
    val lines = spark.read.text(appCsv("twitter_1k.csv"))
    val out = Parity.filterCount(Parity.parseTwitter(lines), "followers", 50.0).collect()
    assert(out.length === 1)
    assert(out(0).getString(0) === "result")
    assert(out(0).getLong(1) === 0L)
  }

  test("twitter filter on twitter_1m.csv: strict > 50") {
    // followers 49, 50, 51, 100, 13840, 0, 50, 52, 16, 75: the two rows
    // at exactly 50 are out, 51/52/75/100/13840 pass
    val lines = spark.read.text(appCsv("twitter_1m.csv"))
    val out = Parity.filterCount(Parity.parseTwitter(lines), "followers", 50.0).collect()
    assert(out(0).getLong(1) === 5L)
  }

  test("testdata-bound parity queries run and are non-empty") {
    for (name <- Seq("wordcount", "pagerank_contribs", "twitter_filter_count", "q1_pricing_summary")) {
      val df = SparkEntry.queries(name)(spark, sf0001)
      assert(df.count() > 0, s"query $name returned no rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
