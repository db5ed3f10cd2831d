package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tailLevel(1000).contains(0.99))
    assert(Stats.tailLevel(5000).contains(0.99)) // capped at p99
    assert(math.abs(Stats.tailLevel(100).get - 0.90) < 1e-12)
    assert(math.abs(Stats.tailLevel(40).get - 0.75) < 1e-12)
    assert(Stats.tailLevel(20).contains(0.5))
    assert(Stats.tailLevel(19).isEmpty) // cannot back even the median
    assert(Stats.tailLevel(0).isEmpty)
    // 100 samples 1..100: p90 by interpolation, and exactly ten lie above it
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(math.abs(t - 90.1) < 1e-9)
    assert(xs.count(_ > t) == 10)
    // too few samples: the maximum, not an invented tail
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == 3.0)
  }

  test("quantile interpolates between order statistics") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.quantile(Seq(10.0), 0.99) == 10.0)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.25) == 2.5)
  }

  test("backlog grows only when its trend adds more than the tolerance") {
    val flat = (0 until 10).map(i => (i * 0.5, 2.0 + (if (i % 2 == 0) 1 else 0)))
    assert(!Stats.backlogGrows(flat, tolerance = 2))
    val climbing = (0 until 10).map(i => (i * 0.5, 2.0 + i))
    assert(Stats.backlogGrows(climbing, tolerance = 2))
    // the same climb within tolerance: a rise of 9 files against 10 allowed
    assert(!Stats.backlogGrows(climbing, tolerance = 10))
    // a backlog that drains is never growth
    assert(!Stats.backlogGrows(climbing.map { case (t, b) => (t, 20 - b) }, tolerance = 0))
    // one commit in the whole rung: the system fell behind the trigger
    assert(Stats.backlogGrows(Seq((1.0, 3.0)), tolerance = 100))
    assert(Stats.backlogGrows(Seq.empty, tolerance = 100))
  }

  test("latency runs from the due time, not the write time") {
    // events due at 0, 100, 200 ms; the generator stalled and wrote them
    // all at 250 ms; the batch carrying them committed at 700 ms
    val due = Seq(0.0, 100.0, 200.0)
    val lat = Stats.latenciesMs(due, Seq.fill(3)(700.0))
    assert(lat == Seq(700.0, 600.0, 500.0))
    assert(intercept[IllegalArgumentException](Stats.latenciesMs(due, Seq(1.0))).getMessage
      .contains("one commit time per event"))
  }

  test("the ladder's maximum is the last rung below the first failure") {
    assert(Stats.maxSustained(Seq(10.0 -> true, 20.0 -> true, 40.0 -> false)).contains(20.0))
    assert(Stats.maxSustained(Seq(10.0 -> true, 20.0 -> false, 40.0 -> true)).contains(10.0))
    assert(Stats.maxSustained(Seq(10.0 -> false, 20.0 -> true)).isEmpty)
  }

  test("geometric mean weighs each input by its ratio") {
    assert(math.abs(Stats.geoMean(Seq(100.0, 400.0)) - 200.0) < 1e-9)
  }
}

class FingerprintSpec extends AnyFunSuite {
  private def fp(rows: Seq[Row], schema: StructType): Fingerprint.Value = {
    val order = Fingerprint.nameOrder(schema)
    Fingerprint.ofRows(rows.iterator.map(Fingerprint.canonRow(_, order)))
  }

  private val schema = StructType(Seq(StructField("b", DoubleType), StructField("a", StringType)))

  test("row order does not change the fingerprint; row content does") {
    val rows = Seq(Row(1.5, "x"), Row(2.5, "y"), Row(2.5, "y"))
    assert(fp(rows, schema) == fp(rows.reverse, schema))
    assert(fp(rows, schema).rows == 3)
    assert(fp(rows, schema) != fp(rows.take(2), schema)) // a duplicate row counts
    assert(fp(rows, schema) != fp(Seq(Row(1.5, "x"), Row(2.5, "y"), Row(2.5, "z")), schema))
  }

  test("columns are read in name order, as the oracle compare sorts them") {
    val swapped = StructType(Seq(StructField("a", StringType), StructField("b", DoubleType)))
    assert(fp(Seq(Row(1.5, "x")), schema) == fp(Seq(Row("x", 1.5)), swapped))
  }

  test("floating-point values are rounded before hashing") {
    assert(Fingerprint.canon(0.1 + 0.2) == Fingerprint.canon(0.3))
    // a large sum whose last bits depend on the summation order
    val a = (1 to 1000).map(_ * 1234.5678901).sum
    val b = (1 to 1000).reverse.map(_ * 1234.5678901).sum
    assert(Fingerprint.canon(a) == Fingerprint.canon(b))
    assert(Fingerprint.canon(1.0) != Fingerprint.canon(1.0001))
    assert(Fingerprint.canon(0.0) == Fingerprint.canon(-0.0))
    assert(Fingerprint.canon(1.0f) == Fingerprint.canon(1.0))
  }

  test("decimals, nulls and nested values have one canonical text") {
    assert(Fingerprint.canon(new java.math.BigDecimal("1.50")) == Fingerprint.canon(new java.math.BigDecimal("1.5")))
    assert(Fingerprint.canon(null) != Fingerprint.canon("null"))
    assert(Fingerprint.canon(Seq(1, 2)) != Fingerprint.canon(Seq(2, 1))) // arrays keep order
    assert(Fingerprint.canon(Map("k" -> 1, "j" -> 2)) == Fingerprint.canon(Map("j" -> 2, "k" -> 1)))
    assert(Fingerprint.canon(Row(1, Seq(0.1 + 0.2))) == Fingerprint.canon(Row(1, Seq(0.3))))
  }
}

class TraceSpec extends AnyFunSuite {
  test("self time subtracts the part of a span its children cover") {
    val t = new Tracer(true)
    val root = t.record(0, "query", "bench", "q", 0L, 1000000000L)
    t.record(root, "build", "operators", "q", 100000000L, 400000000L)
    t.record(root, "drain", "exec", "q", 300000000L, 900000000L) // overlaps build
    val self = t.selfSeconds
    assert(math.abs(self("bench") - 0.2) < 1e-9) // 1 s minus the union 0.1..0.9
    assert(math.abs(self("operators") - 0.3) < 1e-9)
    assert(math.abs(self("exec") - 0.6) < 1e-9)
  }

  test("nested spans on one thread get their parent; tracing off records nothing") {
    val t = new Tracer(true)
    t.span("outer", "core", "x")(t.span("inner", "exec", "x")(()))
    val byName = t.all.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    val off = new Tracer(false)
    assert(off.span("outer", "core", "x")(42) == 42)
    assert(off.all.isEmpty)
  }
}
