package graft.similarity

import graft.functions.CosineSim
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-facing similarity search over an embedding column
  * (Array[Float]): brute-force cosine top-k (exactness baseline) and
  * random-hyperplane LSH bucketing (scale path — block with an equi-join
  * on bucket, score only within blocks). Cosine is the native codegen
  * expression (graft.functions.CosineSim). The driver-contract queries
  * in graft.queries.SimilarityQueries wrap these with pinned parameters.
  */
object Similarity {

  private val OddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** +/-1 hyperplane coefficient from md5 hex parity (deterministic,
    * reproducible in any engine with md5).
    */
  def coef(plane: Int, dim: Int): Double =
    if (OddHex.contains(md5hex(s"$plane:$dim").substring(0, 1))) 1.0 else -1.0

  /** Sign-bucket id over `numPlanes` hyperplanes for a `dims`-dim
    * vector: the single-band case of [[bandBuckets]] (planes
    * [0, numPlanes), bit p = plane p).
    */
  def lshBucket(e: Column, numPlanes: Int, dims: Int): Column =
    signBucket(e, 0, numPlanes, dims)

  /** Sign bits of planes [first, first + numPlanes), bit p = plane
    * first + p. Round 6: the per-plane projection is the codegen
    * [[graft.functions.DotConst]] expression — the former
    * `aggregate(zip_with(...))` HOF pair per plane was interpreted
    * (CodegenFallback) and allocated an intermediate array per plane
    * per row; DotConst is bit-identical by construction (same
    * accumulation order, same null semantics — see its scaladoc).
    */
  private def signBucket(e: Column, first: Int, numPlanes: Int,
      dims: Int): Column =
    (0 until numPlanes).map { p =>
      val coefs = Array.tabulate(dims)(i => coef(first + p, i))
      when(graft.functions.DotConst.dot_const(e, coefs) >= 0, 1L << p)
        .otherwise(0L)
    }.reduce(_ + _)

  /** The shared rank-and-cut tail: per query, the k best (query_id,
    * neighbor_id, cos_sim) rows by cos_sim desc, ties by neighbor_id.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"))
  }

  /** Brute-force cosine top-k: broadcast the (small) query side, scan
    * candidates once (reference: search_pipeline.py:73-88).
    * Output: (query_id, rank, neighbor_id, cos_sim rounded to 6).
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qe"))
    // spread the probe side: the per-row cosine scan against the
    // broadcast query block runs at scan parallelism otherwise (ONE
    // task on a one-file corpus — guide §2.5; no-op at scale)
    val scored = graft.plans.Spread.ensure(corpus, col(id))
      .crossJoin(broadcast(q))
      .filter(col(id) =!= col("query_id"))
      .select(col("query_id"), col(id).as("neighbor_id"),
        round(CosineSim.cosine_sim(col("__qe"), col(vec)), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Per-band sign buckets: band b hashes planes
    * [b*planesPerBand, (b+1)*planesPerBand) — disjoint plane sets per
    * band, same md5-parity coefficient formula. Returns
    * array<struct<band:int, bucket:bigint>> for one explode.
    */
  def bandBuckets(e: Column, planesPerBand: Int, numBands: Int,
      dims: Int): Column =
    array((0 until numBands).map { b =>
      struct(lit(b).as("band"),
        signBucket(e, b * planesPerBand, planesPerBand, dims).as("bucket"))
    }: _*)

  /** Multi-band OR-construction LSH top-k — the RECOMMENDED scale path.
    *
    * A single AND-bucket of r planes keeps a neighbor only when ALL r
    * sign bits agree: P = (1 - theta/pi)^r, which falls off a cliff for
    * true neighbors on the wrong side of any one plane. OR-ing B bands
    * (union of per-band candidate sets, like Dedup.lshCandidatePairs)
    * lifts recall to 1 - (1 - P)^B while the per-band equi-join keeps
    * the never-all-pairs shape: candidates/query ~ B * corpus / 2^r.
    * Recall@k vs bruteForceTopK is measured in SimilarityRecallSpec
    * (>= 0.9 on the clustered fixture; reference analog: hnswlib ef/M
    * recall tuning, search_pipeline.py:105-124).
    *
    * Candidate pair ids are deduped BEFORE scoring (narrow shuffle),
    * then vectors rejoin: corpus side by id, query side broadcast (the
    * query side is the small side by contract, as in bruteForceTopK).
    */
  def lshTopKMultiBand(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      planesPerBand: Int, numBands: Int, dims: Int): DataFrame = {
    def keys(df: DataFrame, idAs: String) = df
      .select(col(id).as(idAs),
        explode(bandBuckets(col(vec), planesPerBand, numBands, dims))
          .as("bb"))
      .select(col(idAs), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
    // spread the corpus side before the per-row band hashing (guide
    // §2.5; no-op at scale) — the query side stays as-is (broadcast)
    val corpusS = graft.plans.Spread.ensure(corpus, col(id))
    val cand = keys(corpusS, "neighbor_id")
      .join(broadcast(keys(queries, "query_id")), Seq("band", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qe"))
    val scored = cand
      .join(corpusS.select(col(id).as("neighbor_id"), col(vec).as("__ce")),
        "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(CosineSim.cosine_sim(col("__qe"), col("__ce")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** recall@k of an approximate top-k result vs the exact one: fraction
    * of exact (query_id, neighbor_id) pairs the approximate result
    * found. Evaluation utility (two scalar aggregates).
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): Double = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val total = e.count()
    if (total == 0) 1.0
    else e.join(approx.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id"), "left_semi").count().toDouble / total
  }

  /** Single-band LSH top-k (AND-construction only): equi-join on one
    * sign bucket, cosine only within blocks. Candidate set per query
    * ~ corpus / 2^numPlanes, but recall drops for neighbors split by
    * any plane — prefer lshTopKMultiBand; kept as the B=1 special case.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      numPlanes: Int, dims: Int): DataFrame = {
    val b = graft.plans.Spread.ensure(corpus, col(id))
      .select(col(id), col(vec),
        lshBucket(col(vec), numPlanes, dims).as("__bucket"))
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qe"),
      lshBucket(col(vec), numPlanes, dims).as("__bucket"))
    val scored = b.join(q, "__bucket")
      .filter(col(id) =!= col("query_id"))
      .select(col("query_id"), col(id).as("neighbor_id"),
        round(CosineSim.cosine_sim(col("__qe"), col(vec)), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }
}
