package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateMutableProjection}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Null elements in `sorted_intersect_count`: with `containsNull = true`
  * a NULL element makes the count NULL on the interpreted and the
  * generated path alike; with `containsNull = false` the generated code
  * is the bare merge, with no per-element null scan. */
class SortedIntersectCountSpec extends SparkSpec {

  private def arr(containsNull: Boolean, xs: java.lang.Long*): Expression =
    Literal.create(xs, ArrayType(LongType, containsNull))

  private def interpreted(e: Expression): Option[Long] =
    Option(e.eval(InternalRow.empty)).map(_.asInstanceOf[Long])

  private def generated(e: Expression): Option[Long] = {
    val row = GenerateMutableProjection.generate(Seq(e))(InternalRow.empty)
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  test("a null element makes the count NULL, interpreted and generated") {
    val e = SortedIntersectCount(arr(true, 1L, null, 3L), arr(false, 1L, 3L))
    assert(e.nullable)
    assert(interpreted(e).isEmpty)
    assert(generated(e).isEmpty)
    val r = SortedIntersectCount(arr(false, 1L, 3L), arr(true, 3L, null))
    assert(interpreted(r).isEmpty && generated(r).isEmpty)
  }

  test("nullable element types without nulls still count, on both paths") {
    val e = SortedIntersectCount(arr(true, 1L, 2L, 3L), arr(true, 2L, 3L, 4L))
    assert(interpreted(e).contains(2L) && generated(e).contains(2L))
  }

  test("non-null element types keep the bare merge and stay non-nullable") {
    val e = SortedIntersectCount(arr(false, 1L, 2L, 3L), arr(false, 2L, 3L, 4L))
    assert(!e.nullable)
    assert(interpreted(e).contains(2L) && generated(e).contains(2L))
    val code = e.genCode(new CodegenContext).code.toString
    assert(!code.contains("isNullAt"), s"unexpected null scan:\n$code")
    val nullable = SortedIntersectCount(arr(true, 1L), arr(false, 1L))
    assert(nullable.genCode(new CodegenContext).code.toString.contains("isNullAt"))
  }

  test("whole-stage codegen over a nullable-element column yields NULL for a null element") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, 3L)),
      (2L, Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](1L, 3L)))
      .toDF("id", "a", "b")
    val out = df.select(col("id"),
        SetFunctions.sortedIntersectCount(col("a"), col("b")).as("n"))
      .orderBy("id").collect()
    assert(out(0).isNullAt(1))
    assert(out(1).getLong(1) == 2L)
  }
}
