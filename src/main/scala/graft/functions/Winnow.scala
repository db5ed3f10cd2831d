package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-local winnowing (MOSS fingerprinting): the distinct
  * sliding-window minima of the 60-bit k-gram hashes of one document,
  * as an ARRAY<LONG>, inside WholeStageCodegen.
  *
  * The declarative formulation (explode one row per character position →
  * md5 each k-gram → window min over (doc_id, pos) → distinct) shuffles
  * up to 8,192 rows PER DOCUMENT through a window sort to compute what
  * is a pure function of the document's own text — the same
  * never-cross-row argument as [[SimHash32]] and the row-local shingle
  * index. This kernel folds it in one pass: per-position hash, O(n)
  * monotonic-deque sliding min, distinct in first-occurrence order.
  *
  * Bit semantics are IDENTICAL to the window rendition (LlmOpsSpec
  * gates them): position p ∈ [1, len−k+1] hashes
  * `substring(text, p, k)` exactly as `PortableHash.hash60` (first 15
  * hex nibbles of md5 as a non-negative long); a fingerprint exists
  * only for FULL windows (p ≤ ngrams − w + 1, mirroring the
  * `pos <= ngrams - (W-1)` filter); duplicates within a doc collapse
  * (mirroring the per-doc distinct). Texts shorter than k+w−1 chars
  * return an empty array — callers keep the explicit length filter for
  * row-parity with the staged artifact.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints expects STRING, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    WinnowKernel.compute(a.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.WinnowKernel.compute($x, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFingerprints {
  def apply(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFingerprints(ColumnBridge.expression(text), k, w))
}

/** Row-local k-gram hash index as ARRAY<LONG>, inside WholeStageCodegen:
  * hash60 of every k-char sliding window of the document, capped at
  * `maxGrams` positions — the substring-span fingerprint derivation.
  *
  * The declarative rendition (explode one row per position →
  * `hash60(substring(text, pos, k))`) pays, per position, a generated
  * row and a UTF8String substring allocation; this kernel hashes byte
  * ranges of one byte array per document (see [[GramHash]]). Values and
  * row multiset are identical: same md5 byte ranges, position order
  * preserved by explode, duplicates kept. */
case class GramHashes(child: Expression, k: Int, maxGrams: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"gram_hashes expects STRING, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(GramHash.hashes(a.asInstanceOf[UTF8String], k, maxGrams))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.GramHash.hashes($x, $k, $maxGrams));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramHashes {
  def apply(text: Column, k: Int, maxGrams: Int): Column =
    ColumnBridge.column(GramHashes(ColumnBridge.expression(text), k, maxGrams))
}

/** Per-position k-gram hash60 kernel shared by the winnow fold and the
  * substring-span gram index ([[GramHashes]]): every sliding k-char
  * window of one document hashed as `PortableHash.hash60`, allocation-lean.
  *
  * Per position, an expression chain would allocate a UTF8String
  * substring and then hash it. This kernel keeps ONE byte array for the
  * whole document (plus a char→byte offset table when the text is not
  * pure ASCII) and feeds each window's byte range straight to
  * [[PortableHash.digest60]] (a reused thread-local digest and output
  * buffer) — zero per-gram allocation. Hash values are bit-identical:
  * md5 over the identical UTF-8 byte range (char positions = SQL
  * substring semantics, code-point counted). */
object GramHash {

  private def utf8Len(b: Byte): Int =
    if ((b & 0x80) == 0) 1
    else if ((b & 0xe0) == 0xc0) 2
    else if ((b & 0xf0) == 0xe0) 3
    else 4

  /** hash60 of every k-char gram at positions 1..min(nChars-k+1,
    * maxGrams), in position order. Empty array when no full gram fits. */
  def hashes(text: UTF8String, k: Int, maxGrams: Int): Array[Long] = {
    val nChars = text.numChars()
    val ngrams = math.min(nChars - (k - 1), maxGrams)
    if (ngrams <= 0) return Array.emptyLongArray
    val bytes = text.getBytes
    val hs = new Array[Long](ngrams)
    if (bytes.length == nChars) {
      // ASCII fast path: byte offset == char offset, gram is k bytes
      var p = 0
      while (p < ngrams) {
        hs(p) = PortableHash.digest60(bytes, p, k)
        p += 1
      }
    } else {
      // char -> byte start offsets (code-point counted, mirroring SQL
      // substring / UTF8String.substringSQL semantics)
      val off = new Array[Int](nChars + 1)
      var i = 0
      var c = 0
      while (i < bytes.length) { off(c) = i; i += utf8Len(bytes(i)); c += 1 }
      off(nChars) = bytes.length
      var p = 0
      while (p < ngrams) {
        hs(p) = PortableHash.digest60(bytes, off(p), off(p + k) - off(p))
        p += 1
      }
    }
    hs
  }
}

/** One-pass winnowing fold shared by interpreted eval and codegen. */
object WinnowKernel {

  def compute(text: UTF8String, k: Int, w: Int): GenericArrayData = {
    val nChars = text.numChars()
    val ngrams = nChars - (k - 1)
    val nWins = ngrams - (w - 1)
    if (nWins <= 0) return new GenericArrayData(Array.empty[Long])
    val hs = GramHash.hashes(text, k, Int.MaxValue)
    // monotonic deque: indices of increasing hash values in the window
    val deque = new Array[Int](ngrams)
    var head = 0
    var tail = 0 // exclusive
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = Array.newBuilder[Long]
    var i = 0
    while (i < ngrams) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) {
        val fp = hs(deque(head))
        if (seen.add(fp)) out += fp
      }
      i += 1
    }
    new GenericArrayData(out.result())
  }
}
