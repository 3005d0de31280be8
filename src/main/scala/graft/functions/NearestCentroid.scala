package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: argmin-by-squared-L2 cluster assignment
  * against a centroid matrix carried as a codegen REFERENCE OBJECT.
  *
  * A literal-expression assignment
  * (`array_min(array(k structs of d-literal zip_with))`) materializes
  * k*d literals into the generated Java — a few hundred centroids x a
  * few hundred dims blows past the JVM's 64KB method / constant-pool
  * limits — and its per-centroid `aggregate(zip_with(...))` distances
  * are higher-order functions that Catalyst evaluates INTERPRETED
  * (round 6: measured ~30% slower per Lloyd's iteration even at
  * k=4/d=64, so this loop expression is the only production path;
  * the literal form lives on as KMeansSpec's parity oracle). Here the
  * centroids ride as ONE `double[][]` reference in the generated class
  * (ctx.addReferenceObj — the same mechanism broadcast scalar state
  * uses), and the generated code is a fixed-size nested loop
  * independent of k and d.
  *
  * BYTE-IDENTICAL to the literal path by construction (KMeansSpec pins
  * both at k >= 128):
  *   - distance accumulation order: `s += d*d` in element order ==
  *     `aggregate(zip_with(...), 0.0, acc + x)` left fold;
  *   - rounding: `java.math.BigDecimal.valueOf(s).setScale(6, HALF_UP)`
  *     is exactly Spark's `round(col, 6)` on doubles;
  *   - tiebreak: strict `<` keeps the smallest cluster id on equal
  *     rounded distance == struct-ordering array_min with id field.
  *
  * Input contract — ENFORCED here, not just documented (the standalone
  * `nearest_centroid` Column API has no upstream checkedDim/quant):
  * array<double>, length == centroid dim, no NULL elements. A
  * violation throws (UnsafeArrayData.getDouble does not bounds-check —
  * an unguarded short array would read out-of-bounds memory and return
  * silently wrong assignments). NaN/Infinity DISTANCES follow the
  * literal path exactly: Spark's round(double, 6) passes non-finite
  * values through unchanged (BigDecimal.valueOf would throw on NaN),
  * and the argmin uses Spark's NaN-greatest total order (the struct
  * array_min ordering), so behavior is pinned to the parity oracle on
  * non-finite inputs too.
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {

  require(centroids.nonEmpty, "nearest_centroid: empty centroid set")
  require(centroids.forall(_.length == centroids(0).length),
    "nearest_centroid: ragged centroid matrix")

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"nearest_centroid expects array<double>, got ${other.sql}")
    }

  override def nullSafeEval(input: Any): Any =
    NearestCentroid.argmin(input.asInstanceOf[ArrayData], centroids)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val dim = centroids(0).length
    nullSafeCodeGen(ctx, ev, a => {
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val c = ctx.freshName("c")
      val r = ctx.freshName("r")
      val best = ctx.freshName("best")
      val bestJ = ctx.freshName("bestJ")
      // contract guard: one bounded pre-pass (bit-tests), negligible
      // next to the k*d distance loop
      s"""
         |if ($a.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "nearest_centroid: input length " + $a.numElements() +
         |    ", expected $dim");
         |}
         |for (int $v = 0; $v < $dim; $v++) {
         |  if ($a.isNullAt($v)) {
         |    throw new IllegalArgumentException(
         |      "nearest_centroid: input contains a NULL element at " + $v);
         |  }
         |}
         |double $best = Double.NaN; int $bestJ = 0;
         |for (int $j = 0; $j < $cs.length; $j++) {
         |  double[] $c = $cs[$j];
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $c.length; $i++) {
         |    double $d = $a.getDouble($i) - $c[$i];
         |    $s += $d * $d;
         |  }
         |  double $r = (Double.isNaN($s) || Double.isInfinite($s))
         |    ? $s
         |    : java.math.BigDecimal.valueOf($s)
         |        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue();
         |  boolean ${s}_less = Double.isNaN($best)
         |    ? !Double.isNaN($r)
         |    : (!Double.isNaN($r) && $r < $best);
         |  if (${s}_less) { $best = $r; $bestJ = $j; }
         |}
         |${ev.value} = $bestJ;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroid = copy(child = newChild)
}

object NearestCentroid {

  /** Interpreted twin of the generated loop (same guards, op order,
    * non-finite rounding pass-through, NaN-greatest tiebreak).
    */
  def argmin(a: ArrayData, cs: Array[Array[Double]]): Int = {
    val dim = cs(0).length
    if (a.numElements() != dim)
      throw new IllegalArgumentException(
        s"nearest_centroid: input length ${a.numElements()}, expected $dim")
    var v = 0
    while (v < dim) {
      if (a.isNullAt(v))
        throw new IllegalArgumentException(
          s"nearest_centroid: input contains a NULL element at $v")
      v += 1
    }
    var best = Double.NaN
    var bestJ = 0
    var j = 0
    while (j < cs.length) {
      val c = cs(j)
      var s = 0.0
      var i = 0
      while (i < c.length) {
        val d = a.getDouble(i) - c(i)
        s += d * d
        i += 1
      }
      val r =
        if (java.lang.Double.isNaN(s) || java.lang.Double.isInfinite(s)) s
        else java.math.BigDecimal.valueOf(s)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val less =
        if (java.lang.Double.isNaN(best)) !java.lang.Double.isNaN(r)
        else !java.lang.Double.isNaN(r) && r < best
      if (less) { best = r; bestJ = j }
      j += 1
    }
    bestJ
  }

  /** Column-API form; `vec` must be array<double>, non-null elements,
    * length == centroid dim — violations throw per row (enforced in
    * both codegen and interpreted evaluation, not just documented).
    */
  def nearest_centroid(vec: Column, centroids: Array[Array[Double]]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      NearestCentroid(
        org.apache.spark.sql.graft.ColumnBridge.expression(vec), centroids))
}
