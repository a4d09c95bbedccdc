package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graftcompat.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: cosine similarity between two
  * `array<float>` embedding columns, accumulated in double precision in
  * index order (bit-identical to the `zip_with`+`aggregate` composition in
  * [[graft.ops.Similarity]], but with zero per-row array allocation).
  *
  * This is the SURVEY.md §7.4 "custom Expression" extension point — the
  * moral equivalent of the reference's `PushFashion` trait as the user-
  * facing way to add an operator (`/root/reference/src/executor/mod.rs:47-81`)
  * — done the Spark-native way: a codegen'd scalar expression that stays
  * inside WholeStageCodegen, so a 100 TB similarity scan never leaves the
  * fused loop or allocates intermediate arrays.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  // Inputs must be array<float> (the embeddings storage type) — reading a
  // double-backed array via getFloat would silently return garbage, so
  // anything else (e.g. a SQL array(1.0, 0.0) literal, which is
  // array<double>) must fail analysis, not produce wrong numbers.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def isFloatArray(t: DataType): Boolean = t match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires two array<float> arguments (cast with CAST(x AS ARRAY<FLOAT>)), " +
          s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  // A null ELEMENT (legal when either input's ArrayType has
  // containsNull=true — parquet list schemas usually do) must not read
  // undefined data through getFloat (ADVICE r21): indexes where either side
  // is null are skipped entirely, in eval and codegen alike. The guard is
  // emitted only when the schema admits null elements, so a
  // containsNull=false input keeps the branch-free inner loop.
  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case org.apache.spark.sql.types.ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val guard = elementsNullable
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (!guard || (!x.isNullAt(i) && !y.isNullAt(i))) {
        val xi = x.getFloat(i).toDouble
        val yi = y.getFloat(i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi
      }
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      val skip =
        if (elementsNullable) s"if ($a.isNullAt($i) || $b.isNullAt($i)) continue;"
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $skip
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Column-level entry points for the native expressions. */
object Functions {
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def squaredDistance(a: Column, b: Column): Column =
    ColumnBridge.column(
      SquaredDistance(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def pqArgmin(emb: Column, offset: Int, codebook: Array[Array[Double]]): Column =
    ColumnBridge.column(PqArgmin(ColumnBridge.expression(emb), offset, codebook))

  def shingles(text: Column, n: Int): Column =
    ColumnBridge.column(Shingles(ColumnBridge.expression(text), n))

  def winnowKeys(shingleArr: Column, w: Int): Column =
    ColumnBridge.column(WinnowKeys(ColumnBridge.expression(shingleArr), w))

  def hashSampleMod(shingleArr: Column, mod: Int): Column =
    ColumnBridge.column(HashSampleMod(ColumnBridge.expression(shingleArr), mod))

  /** Runtime registration (works on any existing session). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
}
