package graft

import graft.ml.KMeansCluster
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{aggregate, array, array_min, lit,
  round, struct, typedLit, zip_with}
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic Lloyd's k-means (reference clustering.py:8-31):
  * blob recovery, partitioning invariance, empty-cluster handling.
  */
class KMeansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Dim = 8

  /** squared L2 distance of quantized vector `q` to literal centroid. */
  private def dist2(q: Column, centroid: Array[Double]): Column =
    aggregate(
      zip_with(q, typedLit(centroid.toSeq), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, x) => acc + x)

  /** Literal-centroid parity oracle for KMeansCluster.assignExpr,
    * derived independently of functions.NearestCentroid: array_min of
    * (rounded distance, cluster id) structs — struct ordering gives the
    * id tiebreak.
    */
  private def assignExprLiteral(q: Column,
      centroids: Array[Array[Double]]): Column =
    array_min(array(centroids.zipWithIndex.map { case (c, j) =>
      struct(round(dist2(q, c), 6).as("d"), lit(j).as("j"))
    }: _*)).getField("j")

  /** 3 well-separated blobs (centers 6 apart, sigma 0.3). */
  private def blobs(parts: Int) = {
    import spark.implicits._
    val centers = Seq(
      Array.tabulate(Dim)(j => if (j == 0) 6.0 else 0.0),
      Array.tabulate(Dim)(j => if (j == 1) 6.0 else 0.0),
      Array.tabulate(Dim)(j => if (j == 2) 6.0 else 0.0))
    val rnd = new scala.util.Random(13)
    (0 until 150).map { i =>
      val c = i % 3
      (i.toLong, c,
        centers(c).map(x => (x + 0.3 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "truth", "embedding").repartition(parts)
  }

  test("recovers well-separated blobs (assignment = a relabeling of " +
    "the true groups) and is invariant to input partitioning") {
    val df3 = blobs(3)
    val a3 = KMeansCluster.assign(df3, "vec_id", "embedding", 3, 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // each true blob maps to exactly one cluster and vice versa
    val truth = df3.select("vec_id", "truth").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val mapping = truth.groupBy(_._2).map { case (tr, ids) =>
      tr -> ids.keys.map(a3).toSet
    }
    assert(mapping.values.forall(_.size == 1),
      s"blob split across clusters: $mapping")
    assert(mapping.values.map(_.head).toSet.size == 3,
      "two blobs merged into one cluster")
    // partitioning invariance (decimal-routed means are order-free)
    val a7 = KMeansCluster.assign(blobs(7), "vec_id", "embedding", 3, 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a3 == a7)
  }

  test("empty clusters keep their previous centroid; k > points fails " +
    "with a clear message; NULL vectors are excluded") {
    import spark.implicits._
    // two groups of IDENTICAL points, k=3: at least one centroid ties
    // with another (duplicate-seed or abandoned) and goes empty after
    // the id-tiebreak — it must keep its previous centroid (no NaN)
    val df = ((1L to 5L).map(i => (i, Some(Array(0.0f, 0.0f)))) ++
      (6L to 10L).map(i => (i, Some(Array(9.0f, 9.0f)))) :+
      (11L, Option.empty[Array[Float]]))
      .toDF("vec_id", "embedding")
    val a = KMeansCluster.assign(df, "vec_id", "embedding", 3, 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a.size == 10, "NULL vector row must be excluded")
    // identical points always land in the same cluster (id tiebreak),
    // and the two groups land in different clusters
    assert((1L to 5L).map(a).toSet.size == 1)
    assert((6L to 10L).map(a).toSet.size == 1)
    assert(a(1L) != a(6L))
    val e = intercept[IllegalArgumentException] {
      KMeansCluster.fit(df, "vec_id", "embedding", 20, 1)
    }
    assert(e.getMessage.contains("non-null vectors"))
  }

  test("ragged embedding lengths fail fast with a clear message " +
    "(no silent zip_with NULL padding)") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(1.0f, 2.0f, 3.0f)),
      (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      KMeansCluster.assign(df, "vec_id", "embedding", 2, 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("ragged embedding length")),
      s"unexpected error: $e")
  }

  test("NULL element inside an embedding fails fast (no silent " +
    "cluster-0 assignment)") {
    import spark.implicits._
    val df = (1L to 8L).toDF("vec_id")
      .selectExpr("vec_id",
        "array(1.0D, CASE WHEN vec_id = 5 THEN NULL ELSE 2.0D END) " +
          "AS embedding")
    val e = intercept[Exception] {
      KMeansCluster.assign(df, "vec_id", "embedding", 2, 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("NULL element")),
      s"unexpected error: $e")
  }

  test("literal and reference-object assignment paths are identical at " +
    "k=128 (incl. exact and rounding ties)") {
    import org.apache.spark.sql.functions.col
    val d = 32
    val rnd = new scala.util.Random(99)
    val cents = Array.tabulate(128) { j =>
      if (j == 0) Array.fill(d)(0.0)
      else if (j == 1) Array.fill(d)(2.0)
      // cents(2) differs from cents(0) only past the 6-decimal rounding
      // grid: dist2 to a point at 0 is d*1e-18 -> rounds to 0.0, tying
      // with cluster 0 — the id tiebreak must pick 0 on BOTH paths
      else if (j == 2) Array.fill(d)(1e-9)
      else Array.fill(d)(math.floor(rnd.nextDouble() * 4e6) / 1e6)
    }
    import spark.implicits._
    val pts =
      // exact midpoint of cents(0)/cents(1): equal distance, id tiebreak
      Seq(1000L -> Array.fill(d)(1.0)) ++
        (0L until 300L).map { i =>
          val c = cents((i % 128).toInt)
          i -> c.map(x => x + (rnd.nextInt(5) - 2) * 0.137)
        }
    val df = pts.toDF("vec_id", "q")
      .select(col("vec_id"), col("q").cast("array<double>").as("q"))
      .repartition(3)
    def run(c: org.apache.spark.sql.Column) =
      df.select(col("vec_id"), c.as("cl")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lit = run(assignExprLiteral(col("q"), cents))
    val loop = run(KMeansCluster.assignExpr(col("q"), cents))
    assert(lit == loop)
    assert(lit(1000L) == 0, "midpoint tie must resolve to cluster 0")
    // coverage: the fixture actually lands points across many clusters
    assert(lit.values.toSet.size > 64)
    // round 6: the loop expression is the ONLY production path (the
    // interpreted-HOF literal argmin measured ~30% slower even at the
    // bench's k*d=256 — see KMeansCluster.assignExpr); the literal
    // form stays as this spec's independently-derived parity oracle
    assert(KMeansCluster.assignExpr(col("q"), cents).toString
      .toLowerCase.contains("nearestcentroid"))
    assert(KMeansCluster.assignExpr(col("q"), cents.take(4)).toString
      .toLowerCase.contains("nearestcentroid"))
    // end-to-end smoke on the loop path: full Lloyd's at k=128
    val a = KMeansCluster.assign(df, "vec_id", "q", 128, 2)
    assert(a.count() == pts.size)
  }

  test("non-finite distances (squared-overflow Infinity, NaN) assign " +
    "identically on the literal and reference-object paths") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val d = 4
    val cents = Array(
      Array.fill(d)(1e160), Array.fill(d)(0.0), Array.fill(d)(1.0))
    val pts = Seq(
      1L -> Array.fill(d)(0.5), // Inf to c0, 1.0 to c1 AND c2 (id tie)
      2L -> Array.fill(d)(1e160), // 0 to c0, Inf elsewhere
      3L -> Array.fill(d)(Double.NaN), // NaN everywhere -> id-0 tie
      4L -> Array(1e160, 0.0, 0.0, 0.0)) // Inf to ALL -> id-0 tie
    val df = pts.toDF("vec_id", "q").repartition(2)
    def run(c: org.apache.spark.sql.Column) =
      df.select(col("vec_id"), c.as("cl")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lit = run(assignExprLiteral(col("q"), cents))
    val loop = run(KMeansCluster.assignExpr(col("q"), cents))
    assert(lit == loop, s"dispatch-cutoff behavior flip: lit=$lit loop=$loop")
    assert(lit == Map(1L -> 1, 2L -> 0, 3L -> 0, 4L -> 0))
  }

  test("NaN element inside an embedding fails fast in quant; standalone " +
    "nearest_centroid enforces length and non-null elements per row") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    val dfNan = (1L to 8L).toDF("vec_id")
      .selectExpr("vec_id",
        "array(1.0D, CASE WHEN vec_id = 5 THEN CAST('NaN' AS DOUBLE) " +
          "ELSE 2.0D END) AS embedding")
    val e = intercept[Exception] {
      KMeansCluster.assign(dfNan, "vec_id", "embedding", 2, 2).collect()
    }
    assert(messages(e).exists(_.contains("NaN element")),
      s"unexpected error: $e")
    // nearest_centroid has no upstream quant/checkedDim — it must guard
    // itself (UnsafeArrayData.getDouble does not bounds-check; an
    // unguarded short array reads out-of-bounds memory)
    val cents = Array(Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0))
    val short = Seq(Tuple1(Array(1.0, 2.0))).toDF("q")
    val e2 = intercept[Exception] {
      short.select(graft.functions.NearestCentroid
        .nearest_centroid(col("q"), cents)).collect()
    }
    assert(messages(e2).exists(_.contains("input length")),
      s"unexpected error: $e2")
    val withNull = spark.range(1)
      .selectExpr("array(1.0D, NULL, 2.0D) AS q")
    val e3 = intercept[Exception] {
      withNull.select(graft.functions.NearestCentroid
        .nearest_centroid(col("q"), cents)).collect()
    }
    assert(messages(e3).exists(_.contains("NULL element")),
      s"unexpected error: $e3")
  }

  test("fit at iters=0 returns the seeded init (hash-ranked ids), " +
    "reproducibly") {
    val df = blobs(2)
    val c1 = KMeansCluster.fit(df, "vec_id", "embedding", 3, 0)
    val c2 = KMeansCluster.fit(df, "vec_id", "embedding", 3, 0)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    assert(c1.length == 3 && c1.forall(_.length == Dim))
  }
}
