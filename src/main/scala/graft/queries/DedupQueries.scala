package graft.queries

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact, MinHash signature + LSH candidate pairs, SimHash, n-gram
  * Jaccard — each Spark-first (inverted-index equi-joins, never O(n^2)
  * cross joins) with a DuckDB oracle computing the identical formulas.
  *
  * Cross-engine hash: md5 hex strings (identical in Spark and DuckDB);
  * MinHash permutation k = lexicographic min of md5("k:" ++ shingle).
  */
object DedupQueries {
  import Queries.t

  val NumHashes = 8
  val BandRows = 2
  val JaccardThreshold = 0.1

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: canonical = min doc_id among identical texts
    // (reference: documents_dataset.py:71-83 URL dedup)
    "q_dedup_exact" -> ((s, d) => {
      import s.implicits._
      graft.dedup.Dedup.exactCanonical(t(s, d, "documents"),
        "doc_id", "text").orderBy($"doc_id")
    }),

    // MinHash signatures (the per-doc half of MinHash/LSH dedup)
    "q_dedup_minhash_sig" -> ((s, d) => {
      graft.dedup.Dedup.minhashSignatures(t(s, d, "documents"),
        "doc_id", "text", NumHashes).orderBy(col("doc_id"))
    }),

    // LSH banding -> candidate pairs + estimated similarity =
    // fraction of agreeing signature components. Equi-join on band key
    // (SURVEY.md §7.3); never a cross join.
    "q_dedup_lsh_pairs" -> ((s, d) => {
      import s.implicits._
      graft.dedup.Dedup.lshCandidatePairs(t(s, d, "documents"),
        "doc_id", "text", NumHashes, BandRows).orderBy($"src", $"dst")
    }),

    // n-gram (bigram) Jaccard near-dup pairs via inverted index:
    // explode shingles, equi-join postings, count shared, exact ratio
    "q_dedup_jaccard" -> ((s, d) => {
      import s.implicits._
      graft.dedup.Dedup.jaccardPairs(t(s, d, "documents"),
        "doc_id", "text", JaccardThreshold).orderBy($"src", $"dst")
    }),

    // same operator at a REALISTIC near-dup threshold (0.7): here the
    // rare-first prefix keeps only ~0.3n postings per doc and the
    // PPJoin positional filter bites — the configuration whose plan is
    // genuinely pruned at 100-TB scale (the t=0.1 variant above is the
    // adversarial low-threshold stress)
    "q_dedup_jaccard_t07" -> ((s, d) => {
      import s.implicits._
      graft.dedup.Dedup.jaccardPairs(t(s, d, "documents"),
        "doc_id", "text", 0.7).orderBy($"src", $"dst")
    }),

    // SimHash-16: bit j set iff majority of distinct tokens have an odd
    // j-th hex digit in md5(token)
    "q_dedup_simhash" -> ((s, d) => {
      import s.implicits._
      graft.dedup.Dedup.simhash(t(s, d, "documents"), "doc_id", "text", 16)
        .orderBy($"doc_id")
    }),

    // connected components over the t=0.7 near-dup graph: pointer-
    // jumping label propagation (canonical_id = min doc_id reachable) —
    // the canonicalization operator's CC core, DuckDB-checked against a
    // recursive-CTE transitive closure (previously ScalaTest-only)
    "q_graph_cc" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val edges = graft.dedup.Dedup.jaccardPairs(docs,
        "doc_id", "text", 0.7).select($"src", $"dst")
      graft.canon.Canonicalize.connectedComponents(s,
          docs.select($"doc_id".as("entity_id")), edges)
        .orderBy($"entity_id")
    }),
  )

  private val toksSql = TextQueriesSqlShared.toksSql
  /** distinct bigram shingles, DuckDB formula (zip-with-shifted) */
  private val shinglesSql =
    s"""list_distinct(list_filter(list_transform(
       list_zip($toksSql, ($toksSql)[2:]),
       x -> x[1] || ' ' || x[2]), y -> y IS NOT NULL))"""

  private def minhashSql(k: Int): String =
    s"list_aggregate(list_transform(__sh, s -> md5('$k:' || s)), 'min') AS h$k"

  /** all-postings inverted-index jaccard (the oracle restatement of the
    * prefix-filtered operator — exact by definition, no pruning)
    */
  private def jaccardOracleSql(threshold: Double): String =
    s"""WITH d AS (SELECT doc_id, $shinglesSql AS __sh FROM documents),
       posting AS (SELECT doc_id, len(__sh) AS n_sh, unnest(__sh) AS g
         FROM d),
       shared AS (SELECT a.doc_id AS src, b.doc_id AS dst,
           a.n_sh AS na, b.n_sh AS nb, COUNT(*) AS common
         FROM posting a JOIN posting b
         ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4)
       SELECT src, dst, common,
         CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
       FROM shared
       WHERE CAST(common AS DOUBLE) / (na + nb - common) >= $threshold
       ORDER BY src, dst"""

  def oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT doc_id,
         MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon_id
         FROM documents ORDER BY doc_id""",
    "q_dedup_minhash_sig" ->
      s"""WITH d AS (SELECT doc_id, $shinglesSql AS __sh FROM documents)
         SELECT doc_id, ${(0 until NumHashes).map(minhashSql).mkString(", ")}
         FROM d ORDER BY doc_id""",
    "q_dedup_lsh_pairs" -> {
      val bandExprs = (0 until NumHashes / BandRows).map { b =>
        val parts = (0 until BandRows).map(r => s"h${b * BandRows + r}")
        s"'$b' || '|' || ${parts.mkString(" || '|' || ")}"
      }
      val matchSum = (0 until NumHashes)
        .map(k => s"CASE WHEN a.h$k = b.h$k THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH d AS (SELECT doc_id, $shinglesSql AS __sh FROM documents),
         sig AS (SELECT doc_id,
           ${(0 until NumHashes).map(minhashSql).mkString(", ")} FROM d),
         keys AS (SELECT doc_id,
           unnest([${bandExprs.mkString(", ")}]) AS band FROM sig),
         pairs AS (SELECT DISTINCT ka.doc_id AS src, kb.doc_id AS dst
           FROM keys ka JOIN keys kb
           ON ka.band = kb.band AND ka.doc_id < kb.doc_id)
         SELECT p.src, p.dst,
           CAST($matchSum AS DOUBLE) / $NumHashes AS est_sim
         FROM pairs p
         JOIN sig a ON p.src = a.doc_id
         JOIN sig b ON p.dst = b.doc_id
         ORDER BY p.src, p.dst"""
    },
    "q_dedup_jaccard" -> jaccardOracleSql(JaccardThreshold),
    "q_dedup_jaccard_t07" -> jaccardOracleSql(0.7),
    // transitive closure of the t=0.7 jaccard graph as a recursive CTE
    // (UNION dedups, so the fixpoint is finite); labels flow along the
    // symmetric edge set, min label = min id in component
    "q_graph_cc" ->
      s"""WITH RECURSIVE dd AS (SELECT doc_id, $shinglesSql AS __sh
           FROM documents),
         posting AS (SELECT doc_id, len(__sh) AS n_sh, unnest(__sh) AS g
           FROM dd),
         shared AS (SELECT a.doc_id AS src, b.doc_id AS dst,
             a.n_sh AS na, b.n_sh AS nb, COUNT(*) AS common
           FROM posting a JOIN posting b
           ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4),
         e AS (SELECT src, dst FROM shared
           WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.7),
         sym AS (SELECT src, dst FROM e
           UNION ALL SELECT dst AS src, src AS dst FROM e),
         cc(id, label) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT s.dst AS id, c.label FROM sym s JOIN cc c ON c.id = s.src
         )
         SELECT id AS entity_id, MIN(label) AS canonical_id
         FROM cc GROUP BY id ORDER BY entity_id""",
    "q_dedup_simhash" -> {
      val oddSet = "('1','3','5','7','9','b','d','f')"
      val bitTerms = (0 until 16).map { j =>
        s"""(CASE WHEN len(list_filter(__h, h -> substr(h, ${j + 1}, 1)
           IN $oddSet)) * 2 > len(__h) THEN ${1L << j} ELSE 0 END)"""
      }.mkString(" + ")
      s"""WITH d AS (SELECT doc_id,
           list_transform(list_distinct($toksSql), x -> md5(x)) AS __h
           FROM documents)
         SELECT doc_id, CAST($bitTerms AS BIGINT) AS simhash16
         FROM d ORDER BY doc_id"""
    },
  )
}

/** Shared DuckDB SQL fragments (token formula must match TextOps.tokens). */
private[queries] object TextQueriesSqlShared {
  val toksSql: String =
    "list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')"
}
