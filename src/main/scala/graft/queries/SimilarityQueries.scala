package graft.queries

import graft.functions.{CosineSim, VecOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY.md §2.3 J4/J5,
  * §3.1): brute-force cosine top-k as the exactness baseline, and
  * random-hyperplane LSH bucketing as the scale path (block first with an
  * equi-join on bucket, then score only within blocks).
  *
  * Cross-engine determinism: float products are exact in double, so the
  * dot product is reduction-order-stable to ~1 ulp; cosine values are
  * rounded to 6 decimals before any comparison or output. Hyperplane
  * coefficients are +/-1 from md5 hex parity — the same formula
  * evaluates in Scala (for the Spark literal) and in the DuckDB oracle.
  */
object SimilarityQueries {
  import Queries.t

  val NumPlanes = 8
  private val OddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // brute-force cosine top-3 per query vector: broadcast the small
    // query side, scan candidates once (reference:
    // search_pipeline.py:73-88 expand + cosine + topk)
    "q_ann_brute" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      graft.similarity.Similarity.bruteForceTopK(
          emb, emb.filter($"vec_id" % 25 === 0), "vec_id", "embedding", 3)
        .orderBy($"query_id", $"rank")
    }),

    // LSH bucketing: every vector's random-hyperplane sign bucket
    "q_ann_lsh_bucket" -> ((s, d) => {
      import s.implicits._
      t(s, d, "embeddings")
        .select($"vec_id",
          graft.similarity.Similarity.lshBucket($"embedding", NumPlanes, 64)
            .as("bucket"))
        .orderBy($"vec_id")
    }),

    // LSH-blocked top-1: equi-join on bucket, cosine only within block
    "q_ann_lsh_topk" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      graft.similarity.Similarity.lshTopK(
          emb, emb.filter($"vec_id" % 25 === 0), "vec_id", "embedding",
          k = 1, numPlanes = NumPlanes, dims = 64)
        .select($"query_id", $"neighbor_id", $"cos_sim")
        .orderBy($"query_id")
    }),

    // LSH multi-band OR-construction top-3 (the recommended scale
    // path): 2 bands x 4 planes, candidates = union of per-band bucket
    // matches, exact cosine on survivors
    "q_ann_lsh_multiband" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      graft.similarity.Similarity.lshTopKMultiBand(
          emb, emb.filter($"vec_id" % 25 === 0), "vec_id", "embedding",
          k = 3, planesPerBand = 4, numBands = 2, dims = 64)
        .orderBy($"query_id", $"rank")
    }),

    // J6: bi-encoder -> cross-encoder rerank (reference:
    // ranking_pipeline.py:14-43): stage 1 cosine top-10 per query,
    // stage 2 re-scores survivors with a different metric (squared L2)
    // and keeps top-3
    "q_ann_rerank" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" % 25 === 0)
        .select($"vec_id".as("query_id"), $"embedding".as("qe"))
      val scored = emb.crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id".as("neighbor_id"), $"qe", $"embedding",
          round(CosineSim.cosine_sim($"qe", $"embedding"), 6).as("cos_sim"))
      val w1 = Window.partitionBy($"query_id")
        .orderBy($"cos_sim".desc, $"neighbor_id")
      val stage1 = scored.withColumn("r1", row_number().over(w1))
        .filter($"r1" <= 10)
      val l2sq = round(
        VecOps.dot($"qe", $"qe") + VecOps.dot($"embedding", $"embedding") -
          lit(2.0) * VecOps.dot($"qe", $"embedding"), 6)
      val w2 = Window.partitionBy($"query_id")
        .orderBy($"l2_sq".asc, $"neighbor_id")
      stage1.withColumn("l2_sq", l2sq)
        .withColumn("rank", row_number().over(w2))
        .filter($"rank" <= 3)
        .select($"query_id", $"rank", $"neighbor_id", $"cos_sim", $"l2_sq")
        .orderBy($"query_id", $"rank")
    }),

    // J5/W5 bidirectional retrieval argmax (reference:
    // metrics.py:476-502 computes argmax over the similarity matrix in
    // BOTH directions — src->tgt and transposed — and scores accuracy
    // against the aligned pair). Alignment here: even/odd vec_id pairs
    // (pair_id = vec_id div 2). Evaluation-set metric: the all-pairs
    // matrix is the reference semantic (J5); query side broadcast.
    "q_ann_bidir_argmax" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val src = emb.filter($"vec_id" % 2 === 0)
        .select(expr("vec_id div 2").as("sp"), $"embedding".as("se"))
      val tgt = emb.filter($"vec_id" % 2 === 1)
        .select(expr("vec_id div 2").as("tp"), $"embedding".as("te"))
      val m = tgt.crossJoin(broadcast(src))
        .select($"sp", $"tp",
          round(CosineSim.cosine_sim($"se", $"te"), 6).as("cos"))
        .localCheckpoint()
      def acc(partCol: String, otherCol: String, name: String) = {
        val w = Window.partitionBy(col(partCol))
          .orderBy($"cos".desc, col(otherCol))
        m.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .agg(count(lit(1)).as("n"),
            sum(when($"sp" === $"tp", 1L).otherwise(0L)).as("correct"))
          .select(lit(name).as("direction"), $"n", $"correct",
            ($"correct".cast("double") / $"n").as("accuracy"))
      }
      acc("sp", "tp", "fwd").unionByName(acc("tp", "sp", "bwd"))
        .orderBy($"direction")
    }),

    // A10/A11: span mean-pool + layer combine over grouped embeddings
    // (groups of 4 consecutive vec_ids stand in for per-token /
    // per-layer embedding stacks). Scalar norm outputs — container
    // outputs stringify differently across engines.
    "q_vec_span_pool" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val grouped = emb
        .select(expr("vec_id div 4").as("gid"), $"vec_id", $"embedding")
        .groupBy($"gid")
        .agg(count(lit(1)).as("n"),
          transform(
            array_sort(collect_list(struct($"vec_id", $"embedding"))),
            e => e.getField("embedding")).as("tok"))
        .filter($"n" === 4)
      val pooled = VecOps.spanMeanPool($"tok", lit(1), lit(2))
      val summed = VecOps.combineLayers($"tok", "sum")
      grouped.select($"gid", $"n",
          round(VecOps.dot(pooled, pooled), 6)
            .as("span_norm2"),
          round(VecOps.dot(summed, summed), 6)
            .as("sum_norm2"))
        .orderBy($"gid")
    }),

    // per-label embedding stats (round-before-aggregate => order-free)
    "q_embed_stats" -> ((s, d) => {
      import s.implicits._
      t(s, d, "embeddings")
        .select($"label",
          round(VecOps.dot($"embedding", $"embedding"), 6).as("norm2"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n"),
          min($"norm2").as("min_norm2"),
          max($"norm2").as("max_norm2"))
        .orderBy($"label")
    }),
  )

  private val oddSql = OddHex.map(h => s"'$h'").mkString("(", ",", ")")

  /** band-b bucket over planes [b*r, (b+1)*r) with LOCAL bit positions —
    * mirrors Similarity.bandBuckets.
    */
  private def bandBucketSql(b: Int, r: Int): String =
    (0 until r).map { p =>
      val plane = b * r + p
      s"""(CASE WHEN list_sum(list_transform(range(1, 65),
         i -> __e[i] * (CASE WHEN substr(md5('$plane:' || (i - 1)), 1, 1)
           IN $oddSql THEN 1.0 ELSE -1.0 END))) >= 0
         THEN ${1L << p} ELSE 0 END)"""
    }.mkString(" + ")

  /** DuckDB bucket formula: the single band of NumPlanes planes. */
  private val bucketSql: String = bandBucketSql(0, NumPlanes)

  private val cosSql =
    """ROUND(list_dot_product(a.__e, q.__e) /
       (SQRT(list_dot_product(a.__e, a.__e)) *
        SQRT(list_dot_product(q.__e, q.__e))), 6)"""

  def oracle: Map[String, String] = Map(
    "q_ann_brute" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS __e
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, __e FROM e WHERE vec_id % 25 = 0),
         scored AS (SELECT q.query_id, a.vec_id AS neighbor_id,
             $cosSql AS cos_sim
           FROM e a CROSS JOIN q WHERE a.vec_id <> q.query_id)
         SELECT query_id, rank, neighbor_id, cos_sim FROM (
           SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank
           FROM scored)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "q_ann_lsh_bucket" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS __e
           FROM embeddings)
         SELECT vec_id, CAST($bucketSql AS BIGINT) AS bucket
         FROM e ORDER BY vec_id""",
    "q_ann_lsh_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS __e
           FROM embeddings),
         b AS (SELECT vec_id, __e, CAST($bucketSql AS BIGINT) AS bucket
           FROM e),
         q AS (SELECT vec_id AS query_id, __e, bucket FROM b
           WHERE vec_id % 25 = 0),
         scored AS (SELECT q.query_id, a.vec_id AS neighbor_id,
             $cosSql AS cos_sim
           FROM b a JOIN q ON a.bucket = q.bucket
           WHERE a.vec_id <> q.query_id)
         SELECT query_id, neighbor_id, cos_sim FROM (
           SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank
           FROM scored)
         WHERE rank = 1 ORDER BY query_id""",
    "q_ann_lsh_multiband" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS __e
           FROM embeddings),
         b AS (SELECT vec_id, __e,
           CAST(${bandBucketSql(0, 4)} AS BIGINT) AS b0,
           CAST(${bandBucketSql(1, 4)} AS BIGINT) AS b1
           FROM e),
         q AS (SELECT vec_id AS query_id, __e, b0, b1 FROM b
           WHERE vec_id % 25 = 0),
         scored AS (SELECT q.query_id, a.vec_id AS neighbor_id,
             $cosSql AS cos_sim
           FROM b a JOIN q ON (a.b0 = q.b0 OR a.b1 = q.b1)
           WHERE a.vec_id <> q.query_id)
         SELECT query_id, rank, neighbor_id, cos_sim FROM (
           SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank
           FROM scored)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "q_ann_bidir_argmax" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS __e
           FROM embeddings),
         s AS (SELECT vec_id // 2 AS sp, __e FROM e WHERE vec_id % 2 = 0),
         t2 AS (SELECT vec_id // 2 AS tp, __e FROM e WHERE vec_id % 2 = 1),
         m AS (SELECT s.sp, t2.tp,
             ROUND(list_dot_product(s.__e, t2.__e) /
               (SQRT(list_dot_product(s.__e, s.__e)) *
                SQRT(list_dot_product(t2.__e, t2.__e))), 6) AS cos
           FROM s CROSS JOIN t2),
         fwd AS (SELECT sp, tp FROM (SELECT sp, tp,
             ROW_NUMBER() OVER (PARTITION BY sp
               ORDER BY cos DESC, tp) AS rn FROM m) WHERE rn = 1),
         bwd AS (SELECT sp, tp FROM (SELECT sp, tp,
             ROW_NUMBER() OVER (PARTITION BY tp
               ORDER BY cos DESC, sp) AS rn FROM m) WHERE rn = 1)
         SELECT direction, n, correct,
           CAST(correct AS DOUBLE) / n AS accuracy FROM (
           SELECT 'fwd' AS direction, COUNT(*) AS n,
             CAST(SUM(CASE WHEN sp = tp THEN 1 ELSE 0 END) AS BIGINT)
               AS correct FROM fwd
           UNION ALL
           SELECT 'bwd' AS direction, COUNT(*) AS n,
             CAST(SUM(CASE WHEN sp = tp THEN 1 ELSE 0 END) AS BIGINT)
               AS correct FROM bwd)
         ORDER BY direction""",
    "q_ann_rerank" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS __e
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, __e FROM e WHERE vec_id % 25 = 0),
         scored AS (SELECT q.query_id, a.vec_id AS neighbor_id,
             $cosSql AS cos_sim,
             ROUND(list_dot_product(q.__e, q.__e) +
               list_dot_product(a.__e, a.__e) -
               2.0 * list_dot_product(a.__e, q.__e), 6) AS l2_sq
           FROM e a CROSS JOIN q WHERE a.vec_id <> q.query_id),
         stage1 AS (SELECT * FROM (
           SELECT query_id, neighbor_id, cos_sim, l2_sq,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS r1
           FROM scored) WHERE r1 <= 10)
         SELECT query_id, rank, neighbor_id, cos_sim, l2_sq FROM (
           SELECT query_id, neighbor_id, cos_sim, l2_sq,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY l2_sq ASC, neighbor_id) AS rank
           FROM stage1) WHERE rank <= 3 ORDER BY query_id, rank""",
    "q_vec_span_pool" ->
      """WITH g AS (SELECT vec_id // 4 AS gid, vec_id,
           CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         a AS (SELECT gid, COUNT(*) AS n,
           list(e ORDER BY vec_id) AS tok FROM g GROUP BY gid
           HAVING COUNT(*) = 4),
         v AS (SELECT gid, n,
           list_transform(range(1, 65),
             i -> (tok[2][i] + tok[3][i]) / 2.0) AS pooled,
           list_transform(range(1, 65),
             i -> tok[1][i] + tok[2][i] + tok[3][i] + tok[4][i]) AS summed
           FROM a)
         SELECT gid, n,
           ROUND(list_dot_product(pooled, pooled), 6) AS span_norm2,
           ROUND(list_dot_product(summed, summed), 6) AS sum_norm2
         FROM v ORDER BY gid""",
    "q_embed_stats" ->
      """WITH e AS (SELECT label,
           ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
             CAST(embedding AS DOUBLE[])), 6) AS norm2
           FROM embeddings)
         SELECT label, COUNT(*) AS n, MIN(norm2) AS min_norm2,
           MAX(norm2) AS max_norm2
         FROM e GROUP BY 1 ORDER BY 1""",
  )
}
