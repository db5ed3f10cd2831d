package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Pass, Quartiles, Row}

/** The runner's pure parts: steady-pass statistics, the JSONL row, the
  * summary line and the shared name selection. No session is started. */
class BenchSpec extends AnyFunSuite {

  private val json = new ObjectMapper()
  /** A pass whose build/plan/exec seconds sum to `total`. */
  private def pass(total: Double) = Pass(total / 4, total / 4, total / 2, 1, 2, 3)
  private def row(name: String, totals: Double*) =
    Row(name, "ok", 7L, totals.map(pass), Seq.empty, "")
  private def close(a: Quartiles, b: Quartiles) =
    Seq(a.q1 - b.q1, a.median - b.median, a.q3 - b.q3).forall(d => math.abs(d) < 1e-9)

  test("median and quartiles interpolate linearly over the steady passes") {
    // pass 1 (first use, 9.0) never enters the steady statistics
    val cases = Seq(
      Seq(2.0) -> Quartiles(2.0, 2.0, 2.0),
      Seq(3.0, 1.0) -> Quartiles(1.5, 2.0, 2.5),
      Seq(4.0, 1.0, 3.0, 2.0) -> Quartiles(1.75, 2.5, 3.25),
      Seq(5.0, 1.0, 4.0, 2.0, 3.0) -> Quartiles(2.0, 3.0, 4.0))
    for ((steady, want) <- cases) {
      val got = row("q", 9.0 +: steady: _*).steady
      assert(got.exists(close(_, want)), s"$steady: $got")
      assert(row("q", 9.0 +: steady: _*).firstUseS === Some(9.0))
    }
  }

  test("a one-pass row has first use only") {
    val r = row("wordcount", 1.5)
    assert(r.steady.isEmpty)
    val node = json.readTree(r.json)
    assert(node.get("first_use_s").asDouble() === 1.5)
    assert(!node.has("median_s") && !node.has("q1_s") && !node.has("q3_s"))
    assert(node.get("passes").size() === 1)
    val p = node.get("passes").get(0)
    assert(p.get("build_s").asDouble() === 0.375 && p.get("exec_s").asDouble() === 0.75)
    assert(p.get("build_jobs").asInt() === 1 && p.get("stages").asInt() === 2 &&
      p.get("tasks").asInt() === 3)
    assert(node.get("rows").asLong() === 7L && node.get("status").asText() === "ok")
  }

  test("the summary sums steady medians and first uses of successful rows only") {
    val rows = Seq(
      row("a", 4.0, 1.0, 3.0),            // median 2.0
      row("b", 2.0, 0.5),                 // median 0.5
      Row("c", "error", 0L, Seq(pass(1.0)), Seq.empty, "boom"),
      Row("d", "timeout", 0L, Seq.empty, Seq.empty, "pass 1 exceeded 600s"))
    val s = json.readTree(Bench.summary(rows, "out.jsonl", "local[4]", "/sf", 0))
    assert(s.get("metric").asText() === "total")
    assert(s.get("value").asDouble() === 2.5)
    assert(s.get("first_use_total").asDouble() === 6.0)
    assert(s.get("n").asInt() === 4 && s.get("n_err").asInt() === 2)
    assert(s.get("errors").toString === """["c","d"]""")
    assert(s.get("slowest").toString === """{"a":2.0,"b":0.5}""")
    assert(s.get("full").asText() === "out.jsonl" && s.get("master").asText() === "local[4]")
    // one pass everywhere: no steady median exists, so no steady total
    val once = json.readTree(Bench.summary(Seq(row("a", 4.0)), "o", "local[4]", "/sf", 0))
    assert(once.get("value").isNull && once.get("first_use_total").asDouble() === 4.0)
  }

  test("an error cut at the length limit still yields a parseable row") {
    // a backslash is the last character kept; tab, CR and quote before it
    val kept = "x" * (Bench.ErrChars - 4) + "\t\r\"\\"
    assert(kept.length === Bench.ErrChars)
    val r = Row("q", "error", 0L, Seq.empty, Seq.empty, kept + "\"tail\\\n")
    val node = json.readTree(r.json)
    assert(node.get("err").asText() === kept)
    assert(node.get("first_use_s").isNull && node.get("passes").size() === 0)
  }

  test("runners select names space- or comma-separated and reject unknown ones") {
    assert(SparkEntry.select(Seq.empty) === SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.select(Seq("wordcount,dedup_clusters", " q1_pricing_summary")) ===
      Seq("dedup_clusters", "q1_pricing_summary", "wordcount"))
    val e = intercept[IllegalArgumentException](SparkEntry.select(Seq("wordcount,no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }
}
