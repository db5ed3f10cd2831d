package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The cross-engine deterministic hash used wherever a result must
  * hash-compare against the DuckDB oracle: the first 15 hex digits of
  * md5 as a non-negative BIGINT, i.e. the top 60 bits of the digest of
  * the string's UTF-8 bytes. Numeric (not the md5 string) so
  * min/max/mod aggregate in HashAggregate with primitive buffers —
  * string agg buffers force SortAggregate.
  *
  * Spark side: the row-local [[Hash60]] expression, bit-identical to
  * `conv(substring(md5(s), 1, 15), 16, 10)` (NearDupKernelsSpec keeps
  * that chain as its reference), without the chain's per-call digest
  * lookup, 32-char hex string, substring, base-10 string and parse.
  * [[digest60]] is the engine's one md5-60 routine: [[Hash60]], the
  * k-gram kernel ([[GramHash]]) and the min-hash kernel ([[MinHash16]])
  * call it. DuckDB side: [[sql]].
  */
object PortableHash {

  /** 60-bit numeric hash of a string column (null stays null). */
  def hash60(c: Column): Column = ColumnBridge.column(Hash60(ColumnBridge.expression(c)))

  /** DuckDB twin: exact digit-shift sum over the first 15 md5 hex chars
    * (16^k via BIGINT shifts — never double pow, which drifts). */
  def sql(arg: String): String =
    (1 to 15).map { k =>
      s"(CAST(strpos('0123456789abcdef', substr(md5($arg), $k, 1)) - 1 AS BIGINT) << ${4 * (15 - k)})"
    }.mkString("(", " + ", ")")

  /** One reused digest and output buffer per thread. */
  private final class Md5 {
    val md: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
  }

  private val local = new ThreadLocal[Md5] {
    override def initialValue(): Md5 = new Md5
  }

  /** Top 60 bits of md5 over `len` bytes of `bytes` from `off`. */
  def digest60(bytes: Array[Byte], off: Int, len: Int): Long = {
    val m = local.get()
    m.md.update(bytes, off, len)
    top60(m)
  }

  /** [[digest60]] of `prefix` followed by `len` bytes of `bytes` from
    * `off`: `hash60(concat(prefix, s))` without building the
    * concatenation ([[MinHash16]]). */
  def digest60(prefix: Array[Byte], bytes: Array[Byte], off: Int, len: Int): Long = {
    val m = local.get()
    m.md.update(prefix)
    m.md.update(bytes, off, len)
    top60(m)
  }

  private def top60(m: Md5): Long = {
    m.md.digest(m.out, 0, 16) // writes and resets
    val d = m.out
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }

  /** [[digest60]] of a string's UTF-8 bytes, read in place when they sit
    * on the heap. */
  def digest60(s: UTF8String): Long = s.getBaseObject match {
    case a: Array[Byte] =>
      digest60(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes())
    case _ =>
      val b = s.getBytes
      digest60(b, 0, b.length)
  }
}

/** Row-local codegen `hash60(s)`: see [[PortableHash]]. */
case class Hash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "hash60"

  // null exactly when the input is, as md5 is: the optimizer infers the
  // same not-null filters for the input column as it did for the chain
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hash60 expects STRING, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    PortableHash.digest60(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.PortableHash.digest60($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
