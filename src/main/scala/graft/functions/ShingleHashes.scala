package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/**
 * `shingle_hashes(words, k)` — xxhash64 (seed 42) of every k-word window
 * of a string array, space-joined: the rolling-fingerprint primitive
 * under [[graft.ops.TextAnalysis]]'s n-gram profiles. Arrays shorter
 * than k yield one hash of the whole join (matching the column-function
 * formulation's semantics).
 *
 * Why a custom Expression: the built-in form is
 * `transform(sequence(...), i -> xxhash64(concat_ws(' ', slice(words, i, k))))`
 * — an interpreted lambda that builds a sliced ArrayData and a joined
 * UTF8String per window. This implementation byte-joins each window once
 * into a reusable buffer and hashes it, inside whole-stage codegen.
 * Hash values equal `xxhash64(concat_ws(' ', …))` exactly, so results
 * are interchangeable with the built-in form.
 */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, "shingle size k must be >= 1")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_hashes requires array<string>, got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      ShingleHashes.hashAll(input.asInstanceOf[ArrayData], k))

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ShingleHashes.hashAll($arr, $k));
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ShingleHashes {
  private val Space = ' '.toByte

  /** Hash every k-window (join bytes with ' ', xxhash64 seed 42 — equal
    * to `xxhash64(concat_ws(' ', slice(...)))`). Null elements join as
    * empty strings, matching concat_ws's null handling when k words
    * include a null... concat_ws SKIPS nulls, so windows containing a
    * null drop it and its separator — replicated here. Shared per-call
    * buffer; one allocation per window only for the final hash input. */
  def hashAll(words: ArrayData, k: Int): Array[Long] = {
    val n = words.numElements()
    val out = new Array[Long](if (n < k) 1 else n - k + 1)
    var w = 0
    while (w < out.length) {
      val end = math.min(n, w + k)
      // byte-length of the joined window
      var len = 0
      var present = 0
      var i = w
      while (i < end) {
        if (!words.isNullAt(i)) {
          val s = words.getUTF8String(i)
          len += s.numBytes()
          present += 1
        }
        i += 1
      }
      if (present > 1) len += present - 1
      val buf = new Array[Byte](len)
      var pos = 0
      var first = true
      i = w
      while (i < end) {
        if (!words.isNullAt(i)) {
          if (!first) { buf(pos) = Space; pos += 1 }
          val s = words.getUTF8String(i)
          s.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
          pos += s.numBytes()
          first = false
        }
        i += 1
      }
      out(w) = XXH64.hashUTF8String(UTF8String.fromBytes(buf), 42L)
      w += 1
    }
    out
  }

  def apply(words: Column, k: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(ShingleHashes(
      org.apache.spark.sql.GraftSqlBridge.expression(words), k))
}
