package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.StructType

/** Order-free output fingerprint of a query: its row count plus the
  * wrapping sum of a 64-bit hash of every row's canonical text.
  *
  * Canonical text follows the oracle compare (tools/check_oracle.py):
  * columns in name order, and floating-point values rounded so that two
  * results the compare accepts (1e-9 apart) print the same. The rounding
  * is relative (nine significant digits) so a large money sum keeps the
  * compare's precision without exposing its last-bit summation noise. */
object Fingerprint {
  final case class Value(rows: Long, hash: Long) {
    def render: String = f"$rows:$hash%016x"
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => canon(b.bigDecimal)
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString("0x", "", "")
    case other => other.toString
  }

  def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toString

  /** Canonical text of one row, columns visited in name order. */
  def canonRow(r: Row, nameOrder: Array[Int]): String =
    nameOrder.map(i => canon(r.get(i))).mkString("|")

  def hash64(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Fold canonical rows into a fingerprint; row order does not matter. */
  def ofRows(rows: Iterator[String]): Value = {
    var n = 0L
    var sum = 0L
    rows.foreach { s => n += 1; sum += hash64(s) }
    Value(n, sum)
  }

  def nameOrder(schema: StructType): Array[Int] =
    schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)

  /** Execute `df`'s plan as written (the same `queryExecution.toRdd` drain
    * graft.Bench times) and fingerprint every output row on the
    * executors, so checking the output costs no second execution. */
  def drain(df: DataFrame): Value = {
    val schema = df.schema
    val order = nameOrder(schema)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      val v = ofRows(it.map(ir => canonRow(toRow(ir).asInstanceOf[Row], order)))
      Iterator((v.rows, v.hash))
    }.collect()
    Value(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
