package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression, a bounded merge scan over two SORTED,
  * DISTINCT array<string> columns: the EXACT |A ∩ B| when it is
  * >= `need`, else -1 — with an early exit as soon as
  * `count-so-far + min(remaining A, remaining B) < need` proves the
  * bound unreachable. At `need` = 0 it is the plain intersection size.
  *
  * `array_intersect` builds a hash set per row — measured as the
  * dominant cost of jaccard verification over ~10M candidate pairs
  * (q_dedup_jaccard at t=0.1). A merge scan over pre-sorted arrays
  * (one `sort_array` per DOCUMENT, amortized over all its pairs)
  * whole-stage-codegens to a branchy primitive loop with zero
  * allocation. This is the verify-side twin of the candidate filters:
  * over the 9M+ candidate pairs a low-threshold corpus produces, almost
  * all fail the overlap requirement by a wide margin, so the scan
  * usually stops after a small prefix instead of walking both arrays
  * to the end. EXACT for the jaccard operator: a qualifying pair has
  * common >= ceil(t*(na+nb)/(1+t)) >= the (loosened) `need`, so it can
  * never be early-exited, and its returned count is the full merge-scan
  * value. CONTRACT: both inputs sorted ascending in UTF8 binary order
  * (sort_array default) with distinct elements — DedupSpec pins the
  * result against size(array_intersect(...)).
  */
case class SortedIntersectAtLeast(
    first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def arr(dt: DataType) = dt match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (arr(first.dataType) && arr(second.dataType) &&
        third.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_at_least expects (array<string>, " +
          s"array<string>, int), got ${first.dataType.sql}, " +
          s"${second.dataType.sql}, ${third.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any, n: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val need = n.asInstanceOf[Int]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val minRem = math.min(na - i, nb - j)
      if (c + minRem < need) return -1
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    if (c >= need) c else -1
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, need) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val cmp = ctx.freshName("cmp")
      val rem = ctx.freshName("rem")
      val viable = ctx.freshName("viable")
      s"""
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0; boolean $viable = true;
         |while ($i < $na && $j < $nb) {
         |  int $rem = ($na - $i < $nb - $j) ? $na - $i : $nb - $j;
         |  if ($c + $rem < $need) { $viable = false; break; }
         |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = ($viable && $c >= $need) ? $c : -1;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SortedIntersectAtLeast =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SortedIntersectAtLeast {
  /** Column-API form; `need` is a per-row required-overlap int column,
    * inputs must be sorted+distinct array<string>.
    */
  def sorted_intersect_at_least(a: Column, b: Column, need: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      SortedIntersectAtLeast(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b),
        org.apache.spark.sql.graft.ColumnBridge.expression(need)))
}
