package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: squared euclidean distance between two
  * `array<double>` columns — `Σ (a_i − b_i)²` accumulated in index order
  * from a 0.0 head, i.e. exactly the
  * `aggregate(zip_with(a, b, (x, c) -> (x - c) * (x - c)), 0.0D, (s, t) ->
  * s + t)` fold the PQ tier's oracle mirrors (0.0 + t0 equals t0 exactly:
  * every term is a square, so no −0.0 can flip the head, and squares of
  * −0.0 are +0.0).
  *
  * Exists because of the JVM's 64 KB method limit (r22): the PQ argmin's
  * flat polynomial form — 16 inlined `(element_at(sv, i) − cw_i)²` terms ×
  * K=16 candidates × M=4 subspaces in one Project — generated a
  * `processNext()` Janino refuses to compile ("Code grows beyond 64 KB"),
  * so the whole stage silently fell back to non-fused execution and every
  * run logged an ERROR. Expressions inside a WholeStageCodegen consume
  * cannot be split into sub-methods (the inputs live in locals), so the fix
  * is to shrink the expression itself: one compiled loop per candidate —
  * constant code size in the subspace width — instead of 16 inlined terms.
  * Same doubles, ~250 statements instead of ~10k, and the PQ stage compiles
  * as one fused span again.
  *
  * Null handling differs from [[CosineSimilarity]]
  * DELIBERATELY: a null ELEMENT nulls the whole distance (skipping a term
  * would silently rank a partially-read vector), which is also exactly what
  * the polynomial form computed — `null − cw` nulls the term and the sum.
  * The guard is only emitted when a child's ArrayType admits null elements,
  * so containsNull=false inputs keep the branch-free loop.
  */
case class SquaredDistance(left: Expression, right: Expression)
  extends BinaryExpression {

  // array<double> only — getDouble on a float-backed array silently returns
  // garbage (the inverse of CosineSimilarity's float-only contract).
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def isDoubleArray(t: DataType): Boolean = t match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"squared_distance requires two array<double> arguments (cast with CAST(x AS ARRAY<DOUBLE>)), " +
          s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "squared_distance"

  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case org.apache.spark.sql.types.ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  // A null element nulls the result (see scaladoc), so the expression is
  // nullable even over non-null array columns when elements may be null.
  override def nullable: Boolean =
    left.nullable || right.nullable || elementsNullable

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val guard = elementsNullable
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (guard && (x.isNullAt(i) || y.isNullAt(i))) return null
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      // ev.isNull is only assignable when nullable=true; the branch is only
      // emitted under the same condition (elementsNullable ⇒ nullable).
      val nullElem =
        if (elementsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullElem
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredDistance =
    copy(left = newLeft, right = newRight)
}
