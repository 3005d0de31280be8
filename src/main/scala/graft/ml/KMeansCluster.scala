package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic Lloyd's k-means over an embedding column (reference:
  * src/pipeline/clustering.py:8-31 — sklearn KMeans over the encoded
  * corpus; re-expressed as a driver-controlled DataFrame loop).
  *
  * Spark-first shape (one job per iteration, no RDDs):
  *
  *   - seeded deterministic init: the k rows with the smallest
  *     md5("km:" ++ id) (hash-ranked ids — reproducible in any engine
  *     with md5, unlike sklearn's random init);
  *   - assignment: the k*d centroid matrix rides as ONE codegen
  *     reference object (functions.NearestCentroid), argmin over the
  *     rounded distances in a nested loop — no join, no shuffle;
  *   - update: posexplode to (cluster, dim) cells, per-cell
  *     DECIMAL-routed mean — partial aggregation makes the shuffle
  *     k*d rows per task; k*d rows reach the driver (a driver-sized
  *     aggregate, same contract as broadcast-join sizing);
  *   - empty clusters keep their previous centroid.
  *
  * Cross-engine exactness at a FIXED iteration count (the DuckDB oracle
  * in MlQueries unrolls the same iterations):
  *   - inputs quantized to 6 decimals once (float->double cast is
  *     exact; round is value-deterministic);
  *   - centroid mean routed through DECIMAL(28,10) sums (exact,
  *     order-independent — raw double sums differ across engines and
  *     across Spark task orders), then /count in double, round 6;
  *   - assignment argmin on round(dist, 6) with cluster id as the
  *     tiebreak (distance sums run in array order in both engines —
  *     the same contract the cosine queries pin bit-equal).
  *
  * At 10^12 rows each iteration is one scan + one tiny aggregation —
  * the canonical distributed Lloyd's plan; callers persist the input
  * if the upstream lineage is expensive (`cache = true` does a
  * localCheckpoint, the sandbox analogue of mllib KMeans's
  * MEMORY_AND_DISK input cache).
  */
object KMeansCluster {

  private val SumDec = DecimalType(28, 10)

  /** quantized double vector column (the operator's working precision).
    * A NULL or NaN ELEMENT inside a vector fails fast here — NULL
    * would otherwise NULL every centroid distance (struct ordering then
    * silently assigns the row to cluster 0) while its non-null dims
    * still dilute the decimal mean; NaN poisons every distance to NaN
    * (assignment then degenerates to the id tiebreak) AND would crash
    * the decimal centroid mean's cast. Placing the check in quant
    * covers every consumer (init collection, assignment, update) once.
    */
  private def quant(vec: Column): Column = {
    val q = transform(vec.cast("array<double>"), x => round(x, 6))
    when(exists(q, _.isNull), raise_error(
      lit("k-means: embedding contains a NULL element")))
      .when(exists(q, isnan(_)), raise_error(
        lit("k-means: embedding contains a NaN element")))
      .otherwise(q)
  }

  /** fail fast on ragged embeddings (same contract as DimReduce): a
    * longer vector would crash the centroid update with a bare
    * ArrayIndexOutOfBounds, a shorter one would silently mis-assign
    * through zip_with NULL padding.
    */
  private def checkedDim(q: Column, d: Int): Column =
    when(size(q) === d, q).otherwise(raise_error(concat(
      lit("k-means: ragged embedding length "), size(q).cast("string"),
      lit(s", expected $d"))))

  /** Seeded initial centroids: embeddings of the k smallest
    * md5("km:" ++ id) rows (id as tiebreak); cluster j = j-th in that
    * order.
    */
  def initCentroids(
      df: DataFrame, id: String, vec: String, k: Int): Array[Array[Double]] = {
    val rows = df
      .filter(col(vec).isNotNull)
      .select(quant(col(vec)).as("q"),
        md5(concat(lit("km:"), col(id).cast("string")).cast("binary")).as("h"),
        col(id).cast("string").as("i"))
      .orderBy(col("h"), col("i"))
      .limit(k)
      .collect()
    require(rows.length == k,
      s"k-means: need >= $k non-null vectors, got ${rows.length}")
    rows.map(_.getSeq[Double](0).toArray)
  }

  /** filtered + quantized working set: (__id, q). Checkpointed so the
    * Lloyd's iterations don't re-execute an expensive upstream lineage
    * once per round (mllib KMeans caches its input the same way; the
    * blocks are freed by the ContextCleaner when the frame is GC'd).
    */
  private def prepare(df: DataFrame, id: String, vec: String,
      cache: Boolean,
      cut: graft.plans.LineageCut = graft.plans.LineageCut.Default)
      : DataFrame = {
    // NOT spread (round-6 A/B): repartitioning the working
    // set to session width made every Lloyd's job a wide job whose
    // scheduling overhead (~0.25 s per 32-task job on this sandbox)
    // exceeded the single-split compute it parallelized — the query
    // regressed 1.35 -> 1.55 s. At production scale the scan is already
    // wide and the iteration jobs inherit that width naturally.
    val pts = df.filter(col(vec).isNotNull)
      .select(col(id).as("__id"), quant(col(vec)).as("q"))
    if (cache) cut.cut(pts) else pts
  }

  private def fitOnPts(pts: DataFrame, k: Int,
      iters: Int): Array[Array[Double]] = {
    var centroids = initCentroids(pts, "__id", "q", k)
    val d = centroids(0).length
    for (_ <- 1 to iters) {
      // assignment + per-(cluster, dim) decimal mean in ONE job;
      // k*d rows reach the driver
      val cells = pts
        .withColumn("cluster",
          assignExpr(checkedDim(col("q"), d), centroids))
        .select(col("cluster"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(round(
          sum(col("v").cast(SumDec)).cast("double") / count(lit(1)), 6)
          .as("c"))
        .collect()
      val next = centroids.map(_.clone()) // empty clusters keep previous
      cells.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      centroids = next
    }
    centroids
  }

  /** Lloyd's iterations; returns the centroids after `iters` rounds
    * (cluster j's centroid at index j).
    */
  def fit(df: DataFrame, id: String, vec: String, k: Int, iters: Int,
      cache: Boolean = true,
      cut: graft.plans.LineageCut = graft.plans.LineageCut.Default)
      : Array[Array[Double]] = {
    require(k >= 1, s"k=$k"); require(iters >= 0, s"iters=$iters")
    fitOnPts(prepare(df, id, vec, cache, cut), k, iters)
  }

  /** argmin of squared L2 distance over the centroids: the
    * reference-object loop expression (functions.NearestCentroid, one
    * codegen'd nested loop whose generated-code size is independent of
    * k*d). Round 6: the loop measured ~30% faster per Lloyd's
    * iteration than a literal-struct argmin even at the bench's
    * k=4/d=64 (0.17-0.20 s vs 0.24-0.34 s steady-state, in-session
    * A/B) — the literal form's per-centroid `aggregate(zip_with(...))`
    * distances are higher-order functions, which Catalyst evaluates
    * INTERPRETED (CodegenFallback) with a fresh 64-element array
    * allocation per centroid per row. The literal form survives only
    * as KMeansSpec's independently-derived parity oracle (identical
    * accumulation order, rounding, tiebreak — byte-identical
    * assignments at k=128 and at k=4).
    */
  def assignExpr(q: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.NearestCentroid.nearest_centroid(q, centroids)

  /** (id, cluster) assignment after `iters` Lloyd's rounds. The final
    * assignment reuses the checkpointed working set from the fit — the
    * upstream lineage executes exactly once, not once more per call.
    */
  def assign(df: DataFrame, id: String, vec: String, k: Int,
      iters: Int): DataFrame = {
    require(k >= 1, s"k=$k"); require(iters >= 0, s"iters=$iters")
    val pts = prepare(df, id, vec, cache = true)
    val centroids = fitOnPts(pts, k, iters)
    val d = centroids(0).length
    pts.select(col("__id").as(id),
      assignExpr(checkedDim(col("q"), d), centroids).as("cluster"))
  }
}
