package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** Strict upper-triangle ordered pairs of an array (diagonal excluded),
  * row-major: out = [struct(a = e_i, b = e_j) | i < j] — the in-basket
  * pair generator b102/b88/c51/c58 share. The composed form
  * (`flatten(transform(xs, (a,i) -> transform(slice(xs, i+2, …),
  * b -> struct(a, b))))`) runs through interpreted higher-order
  * functions — per OUTER element a lambda frame, a slice copy and a
  * fresh nested array, then a flatten copy of every pair struct; this
  * is the same enumeration as one tight loop into a single array
  * (the UpperTriangleProducts pattern, generalized to any element
  * type). Pair ORDER matches the HOF form exactly (i ascending, then
  * j), so even order-sensitive consumers are bit-identical.
  */
case class UpperTrianglePairs(child: Expression) extends UnaryExpression {

  private def elementType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  private def elementNullable: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", elementType, elementNullable),
      StructField("b", elementType, elementNullable))),
    containsNull = false)

  override def prettyName: String = "upper_triangle_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY, got ${other.catalogString}")
  }

  def compute(in: ArrayData): ArrayData = {
    val et = elementType
    val n = in.numElements()
    val els = new Array[Any](n)
    var i = 0
    while (i < n) {
      els(i) = if (in.isNullAt(i)) null else in.get(i, et)
      i += 1
    }
    val pairs = n.toLong * (n - 1) / 2
    require(pairs <= Int.MaxValue,
      s"$prettyName: $n elements make $pairs pairs, more than one array holds")
    val out = new Array[Any](pairs.toInt)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](els(i), els(j)))
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("utp", this,
        classOf[UpperTrianglePairs].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(c: Expression): UpperTrianglePairs =
    copy(child = c)
}
