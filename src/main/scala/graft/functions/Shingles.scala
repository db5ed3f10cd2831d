package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Row-local distinct 3-gram word shingles of one text, as
  * ARRAY<STRING> in first-occurrence order, inside WholeStageCodegen.
  *
  * Tokens are the pieces between single `' '` bytes, empty pieces kept,
  * exactly as `split(text, " ", -1)` makes them; shingle i is tokens i,
  * i+1 and i+2 joined by single spaces, which is one byte range of the
  * text. So the kernel slices every shingle straight from one copy of
  * the text's bytes, where the declarative rendition
  * (`array_distinct(transform(sequence(0, size(toks) - 3), i ->
  * concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])))` over the split
  * tokens, kept in NearDupKernelsSpec as the reference) allocates every
  * token, concatenates three per position in an interpreted lambda and
  * then de-duplicates. Same values in the same order for valid UTF-8 text
  * (0x20 never occurs inside a multi-byte sequence); NULL for a text of
  * fewer than 3 tokens, as the reference's `size(toks) >= 3` filter
  * drops it, and for a NULL text.
  */
case class ShingleSet(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "shingle_set"

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_set expects STRING, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = ShingleSet.compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = graft.functions.ShingleSet.compute($x);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleSet {

  def apply(text: Column): Column = ColumnBridge.column(ShingleSet(ColumnBridge.expression(text)))

  /** The distinct 3-gram array of one text, or null below 3 tokens. */
  def compute(text: UTF8String): GenericArrayData = {
    val n = text.numBytes()
    // a copy of its own: the shingles below are views into it and must
    // outlive a reused input buffer
    val b = new Array[Byte](n)
    text.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    var spaces = 0
    var i = 0
    while (i < n) { if (b(i) == ' ') spaces += 1; i += 1 }
    if (spaces < 2) return null
    // starts(t) = first byte of token t; starts(spaces + 1) = n + 1, so
    // token t always ends at starts(t + 1) - 1
    val starts = new Array[Int](spaces + 2)
    var t = 1
    i = 0
    while (i < n) { if (b(i) == ' ') { starts(t) = i + 1; t += 1 }; i += 1 }
    starts(spaces + 1) = n + 1
    val grams = spaces - 1
    val seen = new java.util.HashSet[UTF8String](grams * 2)
    val out = new Array[Any](grams)
    var m = 0
    var g = 0
    while (g < grams) {
      val s = UTF8String.fromAddress(b, Platform.BYTE_ARRAY_OFFSET + starts(g),
        starts(g + 3) - 1 - starts(g))
      if (seen.add(s)) { out(m) = s; m += 1 }
      g += 1
    }
    new GenericArrayData(if (m == grams) out else out.take(m))
  }
}
