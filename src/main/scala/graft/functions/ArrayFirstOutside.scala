package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * `array_first_outside(arr, lo, hi)` — the 0-based index of the first
 * non-null element of a numeric array outside [lo, hi], or -1 when every
 * non-null element lies in it; NULL for a NULL array. The hot shape of
 * token-range validation (`EachElement(tokens, Bounds(...))`): the
 * predicate tests the index against -1, and the violation's
 * `instance_path` renders it.
 *
 * Why a custom Expression (SURVEY.md preference (b)): Spark's
 * higher-order functions (`forall`, `transform`) evaluate their lambda
 * INTERPRETED — they are CodegenFallback — so the per-token check pays a
 * megamorphic eval() call per element, and a projection holding one
 * drops out of whole-stage codegen altogether. This expression generates
 * a tight primitive loop with early exit inside whole-stage codegen: no
 * lambda dispatch, no boxing, and the enclosing conjunction keeps
 * short-circuiting. Null elements pass (JSON Schema applicability
 * semantics — presence is `required`'s job); NaN lies outside every
 * range.
 */
case class ArrayFirstOutside(child: Expression, lo: Long, hi: Long)
    extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType | LongType | ShortType | ByteType |
          DoubleType | FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"array_first_outside requires array<numeric>, got $other")
    }

  override def dataType: DataType = IntegerType

  private def elementType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  private def elementNullable: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val et = elementType
    val integral = et match {
      case IntegerType | LongType | ShortType | ByteType => true
      case _                                             => false
    }
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        if (integral) {
          // compare in LONG, matching the codegen path: a double
          // comparison loses precision above 2^53 and the two eval
          // paths would disagree on the same plan
          val v: Long = et match {
            case IntegerType => arr.getInt(i).toLong
            case LongType    => arr.getLong(i)
            case ShortType   => arr.getShort(i).toLong
            case _           => arr.getByte(i).toLong
          }
          if (v < lo || v > hi) return i
        } else {
          val v: Double =
            if (et == DoubleType) arr.getDouble(i)
            else arr.getFloat(i).toDouble
          // NaN is not within ANY range (v<lo || v>hi is false for NaN)
          if (v.isNaN || v < lo || v > hi) return i
        }
      }
      i += 1
    }
    -1
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      // Every local via ctx.freshName: this body can be emitted more than
      // once in a single generated function (e.g. the predicate and the
      // instance path of one constraint) and fixed names make Janino
      // reject the whole stage ("Redefinition of local variable"),
      // silently dropping to interpreted execution.
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val (jt, get) = elementType match {
        case IntegerType => ("long", s"(long) $arr.getInt($i)")
        case LongType    => ("long", s"$arr.getLong($i)")
        case ShortType   => ("long", s"(long) $arr.getShort($i)")
        case ByteType    => ("long", s"(long) $arr.getByte($i)")
        case DoubleType  => ("double", s"$arr.getDouble($i)")
        case FloatType   => ("double", s"(double) $arr.getFloat($i)")
      }
      val (loLit, hiLit) =
        if (jt == "long") (s"${lo}L", s"${hi}L")
        else (s"${lo}.0d", s"${hi}.0d")
      val nullGuard =
        if (elementNullable) s"if ($arr.isNullAt($i)) continue;" else ""
      // NaN is outside (plain comparisons are false for NaN)
      val nanTest = if (jt == "double") s"Double.isNaN($v) || " else ""
      s"""
         |${ev.value} = -1;
         |int $n = $arr.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullGuard
         |  $jt $v = $get;
         |  if ($nanTest$v < $loLit || $v > $hiLit) { ${ev.value} = $i; break; }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ArrayFirstOutside {
  /** Column-facing constructor. */
  def apply(c: Column, lo: Long, hi: Long): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      ArrayFirstOutside(org.apache.spark.sql.GraftSqlBridge.expression(c),
        lo, hi))
}
