package graft

import graft.functions.VecOps
import org.scalatest.funsuite.AnyFunSuite

class VecMetricsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("VecOps: cosine/l2 agree with plain Scala") {
    import spark.implicits._
    val df = Seq((Seq(3.0f, 4.0f), Seq(4.0f, 3.0f))).toDF("a", "b")
    val r = df.select(
      VecOps.cosine($"a", $"b").as("cos"),
      VecOps.l2Norm($"a").as("na")).head()
    assert(math.abs(r.getDouble(0) - 24.0 / 25.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 5.0) < 1e-12)
    // l2Normalize yields unit norm
    val n = df.select(VecOps.l2Norm(VecOps.l2Normalize($"a"))).head().getDouble(0)
    assert(math.abs(n - 1.0) < 1e-12)
  }

  test("A10 spanMeanPool / A11 combineLayers agree with plain Scala") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val toks = Seq(
      Array(1.0f, 2.0f), Array(3.0f, 4.0f), Array(5.0f, 6.0f),
      Array(7.0f, 8.0f))
    val df = Seq((1L, toks)).toDF("id", "tok_embs")
    // span [1, 3): tokens 1 and 2 -> mean = ((3+5)/2, (4+6)/2)
    val span = df.select(graft.functions.VecOps
        .spanMeanPool(col("tok_embs"), lit(1), lit(2)).as("v"))
      .head().getSeq[Double](0)
    assert(span == Seq(4.0, 5.0))
    val sum = df.select(graft.functions.VecOps
        .combineLayers(col("tok_embs"), "sum").as("v"))
      .head().getSeq[Double](0)
    assert(sum == Seq(16.0, 20.0))
    val avg = df.select(graft.functions.VecOps
        .combineLayers(col("tok_embs"), "avg").as("v"))
      .head().getSeq[Double](0)
    assert(avg == Seq(4.0, 5.0))
    // empty span -> null, not an error (ANSI-safe)
    val empty = df.select(graft.functions.VecOps
        .spanMeanPool(col("tok_embs"), lit(1), lit(0)).as("v"))
      .head()
    assert(empty.isNullAt(0))
  }
}
