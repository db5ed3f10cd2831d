package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform

/** Row-local codegen min-hash signature of one shingle set: the struct
  * (h0..h15) where `hi` is the least `hash60(concat('i|', s))` over the
  * set's non-null elements `s`, in ONE pass over the set. The reference
  * (16 `array_min(transform(set, s -> hash60(concat('i|', s))))`
  * lambdas, kept in NearDupKernelsSpec) walks the set 16 times through
  * the interpreter and builds every prefixed string; here each element's
  * UTF-8 bytes are read once and fed to the one md5-60 routine after
  * each prefix ([[PortableHash.digest60]]). NULL for a NULL set, and for
  * a set with no non-null element, where every `array_min` is NULL.
  */
case class MinHash16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = MinHash16.Type

  override def nullable: Boolean = true

  override def prettyName: String = "minhash16"

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash16 expects ARRAY<STRING>, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = MinHash16.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = graft.functions.MinHash16.compute($x);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHash16 {

  val NumHashes = 16

  val Type: StructType = StructType((0 until NumHashes).map(i => StructField(s"h$i", LongType, nullable = false)))

  private val prefixes = Array.tabulate(NumHashes)(i => s"$i|".getBytes(UTF_8))

  def apply(set: Column): Column = ColumnBridge.column(MinHash16(ColumnBridge.expression(set)))

  /** The signature of one set, or null when it has no non-null element. */
  def compute(set: ArrayData): InternalRow = {
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    var seen = false
    var j = 0
    while (j < set.numElements()) {
      if (!set.isNullAt(j)) {
        val s = set.getUTF8String(j)
        val (b, off) = s.getBaseObject match {
          case a: Array[Byte] => (a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt)
          case _ => (s.getBytes, 0)
        }
        val len = s.numBytes()
        var i = 0
        while (i < NumHashes) {
          val h = PortableHash.digest60(prefixes(i), b, off, len)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
        seen = true
      }
      j += 1
    }
    if (seen) new GenericInternalRow(mins.map(v => v: Any)) else null
  }
}
