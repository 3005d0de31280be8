package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** id -> sorted int-encoded gram array table, the one jaccard kernel
  * of both driver-local plans (Dedup's local plan and canonicalization's
  * local branch run [[allPairs]]) and the executor-shared table of
  * [[SortedIntersectLookupAtLeast]]: the inline jaccard verify keys into
  * this ONE per-executor structure instead of attaching both shingle
  * arrays to every joined row (measured: materializing two ~51-element
  * string arrays into 27M join output rows — and copying them again
  * through the second attach join — cost more than the pair-dedup
  * aggregate the inline plan removes; a lookup costs two hashes and
  * zero copies). Keys are stored in Catalyst-internal form (UTF8String
  * / boxed numerics) so probe-side values match without conversion.
  * Custom toString keeps `explain` output bounded.
  */
final class IntersectSets(
    val sets: java.util.HashMap[Any, Array[Int]])
    extends Serializable {
  def n: Int = sets.size

  /** exact |A ∩ B| when >= need, else -1 (same contract and early exit
    * as [[SortedIntersectAtLeast]]); throws on an unknown id — the
    * caller guarantees every candidate id has a doc row.
    */
  def common(src: Any, dst: Any, need: Int): Int = {
    val a = sets.get(src)
    val b = sets.get(dst)
    if (a == null || b == null)
      throw new IllegalStateException(
        s"sorted_intersect_lookup: id missing from the doc table: " +
          s"${if (a == null) src else dst}")
    IntersectSets.common(a, b, need)
  }

  /** Every pair of entries whose jaccard |A∩B| / |A∪B| is >= `threshold`,
    * as (src, dst, common, jaccard) with src < dst in Catalyst order
    * (UTF-8 bytes for string ids, numeric otherwise): the driver-local
    * all-pairs kernel, and the same pair test the distributed jaccard
    * plans apply per candidate. The length filter and the bounded scan's
    * `need` are Dedup's 1e-9-guarded bounds, so they only prune; a pair
    * is kept on its exact `common` and the identical double
    * `common / (na + nb - common)`. Empty sets never pair.
    */
  def allPairs(threshold: Double): Seq[(Any, Any, Int, Double)] = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // ascending set size: na <= nb, so once the length filter
    // na >= t * nb fails for some j it fails for every later j
    val es = sets.entrySet.asScala.toArray
      .filter(_.getValue.length > 0).sortBy(_.getValue.length)
    val out = Seq.newBuilder[(Any, Any, Int, Double)]
    var i = 0
    while (i < es.length) {
      val a = es(i).getValue; val na = a.length
      var j = i + 1
      while (j < es.length &&
          na >= (threshold - 1e-9) * es(j).getValue.length) {
        val b = es(j).getValue; val nb = b.length
        val c = IntersectSets.common(a, b, math.ceil(
          threshold / (1.0 + threshold) * (na + nb) - 1e-9 * (na + nb)).toInt)
        if (c >= 0) {
          val jaccard = c.toDouble / (na + nb - c)
          if (jaccard >= threshold) {
            val (x, y) = (es(i).getKey, es(j).getKey)
            out += (if (x.asInstanceOf[Comparable[Any]].compareTo(y) < 0)
              (x, y, c, jaccard) else (y, x, c, jaccard))
          }
        }
        j += 1
      }
      i += 1
    }
    out.result()
  }

  override def toString: String = s"IntersectSets(n=$n)"
}

object IntersectSets {
  /** key datatypes the internal-form conversion below supports */
  def supportedKey(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType => true
    case _ => false
  }

  /** exact |A ∩ B| of two sorted distinct int arrays when >= need,
    * else -1, with the early exit of [[SortedIntersectAtLeast]]
    */
  def common(a: Array[Int], b: Array[Int], need: Int): Int = {
    val na = a.length; val nb = b.length
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val minRem = math.min(na - i, nb - j)
      if (c + minRem < need) return -1
      val ai = a(i); val bj = b(j)
      if (ai == bj) { c += 1; i += 1; j += 1 }
      else if (ai < bj) i += 1
      else j += 1
    }
    if (c >= need) c else -1
  }

  /** build from collected (id, distinct sh) rows; see [[of]] */
  def fromRows(rows: Array[org.apache.spark.sql.Row]): IntersectSets =
    of(rows.iterator.map(r => (r.get(0), r.getSeq[String](1))))

  /** build from (id, distinct grams) entries; null ids are skipped (they
    * pair with nothing in a join either), a null gram set is empty, and
    * a repeated id throws an IllegalArgumentException. Grams are
    * dictionary-encoded to their rank in the sorted distinct gram
    * vocabulary — an ORDER-PRESERVING, collision-free int encoding, so
    * the merge scan counts exactly the same intersection while comparing
    * ints instead of UTF8 strings (measured ~6.5 us per ~51-element UTF8
    * scan over 27M candidate rows — the whole verify wall; int scans are
    * ~20x cheaper and shrink the per-executor table to ~4 bytes/gram).
    */
  def of(entries: Iterator[(Any, Iterable[String])]): IntersectSets = {
    val rows = entries.collect {
      case (id, grams) if id != null => (id, Option(grams).getOrElse(Nil))
    }.toArray
    val vocab = new java.util.TreeSet[String]()
    rows.foreach(r => r._2.foreach(vocab.add))
    val rank = new java.util.HashMap[String, Integer](vocab.size * 2)
    val it = vocab.iterator()
    var k = 0
    while (it.hasNext) { rank.put(it.next(), k); k += 1 }
    val m = new java.util.HashMap[Any, Array[Int]](rows.length * 2)
    rows.foreach { case (id, grams) =>
      val key = id match {
        case s: String => UTF8String.fromString(s)
        case other => other // boxed Long / Int match eval-time values
      }
      // ranks follow java.lang.String order, which differs from UTF8
      // byte order for supplementary codepoints, and callers need not
      // pass sorted grams: sort the int arrays for the merge scan
      val arr = grams.iterator.map(s => rank.get(s).intValue()).toArray
      java.util.Arrays.sort(arr)
      require(m.put(key, arr) == null,
        s"duplicate id in the jaccard input: $id (contract: unique ids)")
    }
    new IntersectSets(m)
  }
}

/** `sorted_intersect_at_least` keyed through a shared
  * [[IntersectSets]] table: common(sets[src], sets[dst]) when >= need,
  * else -1. Same exactness contract as [[SortedIntersectAtLeast]]; the
  * arrays never enter the row. Same reference-object embedding as
  * [[NearestCentroid]] (ctx.addReferenceObj), so the table ships once
  * per executor with the task binary, not per row.
  */
case class SortedIntersectLookupAtLeast(
    first: Expression, second: Expression, third: Expression,
    sets: IntersectSets)
    extends TernaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (IntersectSets.supportedKey(first.dataType) &&
        first.dataType == second.dataType &&
        third.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_lookup expects (string|long|int id, same id, " +
          s"int), got ${first.dataType.sql}, ${second.dataType.sql}, " +
          s"${third.dataType.sql}")
  }

  override def nullSafeEval(src: Any, dst: Any, need: Any): Any =
    sets.common(src, dst, need.asInstanceOf[Int])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (src, dst, need) => {
      val ref = ctx.addReferenceObj("intersectSets", sets,
        classOf[IntersectSets].getName)
      s"${ev.value} = $ref.common($src, $dst, $need);"
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SortedIntersectLookupAtLeast =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SortedIntersectLookupAtLeast {
  def sorted_intersect_lookup(
      src: Column, dst: Column, need: Column,
      sets: IntersectSets): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      SortedIntersectLookupAtLeast(
        org.apache.spark.sql.graft.ColumnBridge.expression(src),
        org.apache.spark.sql.graft.ColumnBridge.expression(dst),
        org.apache.spark.sql.graft.ColumnBridge.expression(need),
        sets))
}
