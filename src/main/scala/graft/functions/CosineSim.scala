package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over two
  * Array[Float|Double] columns (SURVEY.md §7.3: "promote to custom
  * Expression (codegen) only if bench shows boxing cost").
  *
  * The HOF formulation (`aggregate(zip_with(...))`) evaluates interpreted
  * lambdas and allocates an intermediate array per row; this expression
  * whole-stage-codegens to a single fused primitive loop over the two
  * `ArrayData` buffers (measured ~5x against the HOF form on a
  * brute-force all-pairs scan of the sf0.1 embeddings). Accumulation
  * is double, left-to-right —
  * byte-identical to graft.score.Embed.cosine and the HOF form, so
  * swapping implementations cannot change query results.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects array<float|double>, got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")
  }

  private def get(a: ArrayData, dt: DataType, i: Int): Double = dt match {
    case ArrayType(FloatType, _) => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, left.dataType, i)
      val y = get(b, right.dataType, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // tail elements still count toward the norms (same as the HOF form
    // computing norms per full array)
    var j = n
    while (j < a.numElements()) {
      val x = get(a, left.dataType, j); na += x * x; j += 1
    }
    j = n
    while (j < b.numElements()) {
      val y = get(b, right.dataType, j); nb += y * y; j += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(dt: DataType, arr: String, i: String): String = dt match {
      case ArrayType(FloatType, _) => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double __x = ${getter(left.dataType, a, i)};
         |  double __y = ${getter(right.dataType, b, i)};
         |  $dot += __x * __y; $na += __x * __x; $nb += __y * __y;
         |}
         |for (int $i = $n; $i < $a.numElements(); $i++) {
         |  double __x = ${getter(left.dataType, a, i)}; $na += __x * __x;
         |}
         |for (int $i = $n; $i < $b.numElements(); $i++) {
         |  double __y = ${getter(right.dataType, b, i)}; $nb += __y * __y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column-API form. */
  def cosine_sim(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      CosineSim(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** Register `cosine_sim` for SQL in an existing session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs.head, exprs(1)), "scala_udf")
}

/** SparkSessionExtensions hook:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1))))
  }
}
