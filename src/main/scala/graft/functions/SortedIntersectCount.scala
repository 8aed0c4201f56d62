package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `|A ∩ B|` of two ASCENDING-SORTED ARRAY<BIGINT> columns via a
  * single merge pass — the verification kernel of the prefix-filter
  * join family (q435 and its streaming twin).
  *
  * `size(array_intersect(a, b))` builds an OpenHashSet per call — one
  * allocation plus hashing of every element for every candidate pair.
  * When both arrays are sorted and duplicate-free (the shingle sets
  * are `.distinct()` upstream and sorted once per doc, amortized over
  * all the doc's candidate pairs), the same count is a two-pointer
  * merge: no allocation, no hashing, whole-stage-codegen'd. On
  * duplicate-free inputs the count equals `array_intersect`'s exactly;
  * inputs MUST be sorted ascending or the count is meaningless —
  * callers own that invariant (`sort_array` at set-build time).
  * A NULL element in either array makes the result NULL; a side whose
  * type rules nulls out (`containsNull = false`, e.g. `collect_list`
  * output) skips that scan, so its generated code is the bare merge.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  private def mayHoldNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def nullable: Boolean =
    left.nullable || right.nullable || mayHoldNull(left) || mayHoldNull(right)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count needs ARRAY<BIGINT> on both sides, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    def hasNull(d: ArrayData) = (0 until d.numElements()).exists(d.isNullAt)
    if ((mayHoldNull(left) && hasNull(x)) || (mayHoldNull(right) && hasNull(y)))
      return null
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val c = ctx.freshName("c")
      val merge = s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0, $j = 0;
         |long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
      val scans = Seq(left -> a, right -> b).collect {
        case (e, arr) if mayHoldNull(e) => arr
      }
      if (scans.isEmpty) merge
      else {
        val k = ctx.freshName("k")
        val anyNull = ctx.freshName("anyNull")
        val scanCode = scans.map(arr =>
          s"for (int $k = 0; !$anyNull && $k < $arr.numElements(); $k++) " +
            s"$anyNull = $arr.isNullAt($k);").mkString("\n")
        s"""
           |boolean $anyNull = false;
           |$scanCode
           |if ($anyNull) { ${ev.isNull} = true; } else { $merge }
         """.stripMargin
      }
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SetFunctions {
  /** Intersection size of two ascending-sorted ARRAY<BIGINT> columns
    * (codegen'd merge; callers own the sorted-and-distinct invariant). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftShim.column(SortedIntersectCount(
      GraftShim.expression(a), GraftShim.expression(b)))
}
