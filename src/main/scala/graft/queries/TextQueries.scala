package graft.queries

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators (SURVEY.md §2.8 + the training-data-pipeline
  * additions: language-ID, quality scoring, token counting, document
  * fingerprinting) over the `documents` table, with DuckDB oracles.
  *
  * Everything is built-in Catalyst expressions over token arrays — no
  * UDFs; the reference pays a Python-UDF boundary for the same ops
  * (spark_topic_modeling.py:39-99).
  */
object TextQueries {
  import Queries.t

  /** Language-ID marker sets (n-gram-heuristic stand-in): disjoint token
    * sets per language; predicted = argmax marker count, ties by lang asc.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("join", "merge"),
    "en" -> Seq("the", "a"),
    "es" -> Seq("data", "row"),
    "fr" -> Seq("filter", "sort"),
    "zh" -> Seq("spark", "query"))

  val stopwords: Seq[String] = Seq("the", "a")

  private def toks: Column = TextOps.tokens(col("text"))

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F1/F4/F10 + fingerprint: per-doc token stats + md5 fingerprint
    "q_text_stats" -> ((s, d) => {
      import s.implicits._
      graft.text.TextAnalysis.fingerprint(t(s, d, "documents"),
        "doc_id", "text").orderBy($"doc_id")
    }),

    // F4 + A: corpus term frequencies, top 25
    "q_text_term_counts" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select(explode(toks).as("term"))
        .groupBy($"term").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"term")
        .limit(25)
    }),

    // A5: c-TF-IDF per (lang, term), top 5 terms per lang
    // (reference: topic_modeling.py:106-118)
    "q_text_ctfidf" -> ((s, d) => {
      import s.implicits._
      graft.text.TextAnalysis.cTfIdf(t(s, d, "documents"),
        "lang", "text", topK = 5).orderBy($"lang", $"rn")
    }),

    // quality scoring: stopword ratio + type/token ratio composite
    "q_text_quality" -> ((s, d) => {
      import s.implicits._
      graft.text.TextAnalysis.qualityScore(t(s, d, "documents"),
        "doc_id", "text", stopwords).orderBy($"doc_id")
    }),

    // language-ID by marker-token argmax (ties -> lang asc)
    "q_text_lang_id" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      graft.text.TextAnalysis.languageId(docs, "doc_id", "text", langMarkers)
        .join(docs.select($"doc_id", $"lang"), "doc_id")
        .select($"doc_id", $"pred_lang",
          ($"pred_lang" === $"lang").as("is_match"))
        .orderBy($"doc_id")
    }),

    // multimodal metadata path: media as opaque binary + typed metadata
    // (graft.multimodal.Multimodal) — text bytes stand in for a blob
    "q_media_meta" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents")
        .select($"doc_id", $"text".cast("binary").as("media"))
      graft.multimodal.Multimodal.mediaMetadata(media).orderBy($"doc_id")
    }),

    // token counting: whitespace tokens + BPE-ish piece count
    // (ceil(len/4) pieces per token)
    "q_text_token_count" -> ((s, d) => {
      import s.implicits._
      graft.text.TextAnalysis.tokenCounts(t(s, d, "documents"),
        "doc_id", "text").orderBy($"doc_id")
    }),
  )

  private val markerSql = langMarkers.map { case (lang, ms) =>
    val inList = ms.map(m => s"'$m'").mkString(", ")
    s"struct_pack(score := len(list_filter(__toks, x -> x IN ($inList))), cand := '$lang')"
  }.mkString("[", ", ", "]")

  private val toksSql =
    "list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')"

  def oracle: Map[String, String] = Map(
    "q_text_stats" ->
      s"""WITH d AS (SELECT doc_id, text, $toksSql AS __toks FROM documents)
         SELECT doc_id,
           len(__toks) AS n_tokens,
           len(list_distinct(__toks)) AS n_distinct,
           CAST(list_sum(list_transform(__toks, x -> length(x))) AS DOUBLE)
             / len(__toks) AS mean_word_len,
           md5(text) AS fingerprint
         FROM d ORDER BY doc_id""",
    "q_text_term_counts" ->
      s"""SELECT term, COUNT(*) AS cnt FROM (
           SELECT unnest($toksSql) AS term FROM documents)
         GROUP BY 1 ORDER BY cnt DESC, term LIMIT 25""",
    "q_text_ctfidf" ->
      s"""WITH terms AS (
           SELECT lang, unnest($toksSql) AS term FROM documents),
         grouped AS (
           SELECT lang, term, COUNT(*) AS cnt FROM terms GROUP BY 1, 2),
         totals AS (
           SELECT lang, SUM(cnt) AS lang_total FROM grouped GROUP BY 1),
         dfreq AS (
           SELECT term, COUNT(DISTINCT lang) AS df FROM grouped GROUP BY 1),
         nl AS (SELECT COUNT(DISTINCT lang) AS n_langs FROM documents),
         scored AS (
           SELECT g.lang, g.term, g.cnt,
             CAST(g.cnt AS DOUBLE) / t.lang_total AS tf,
             (CAST(g.cnt AS DOUBLE) / t.lang_total) *
               LN(1.0 + CAST(n_langs AS DOUBLE) / f.df) AS ctfidf
           FROM grouped g
           JOIN totals t ON g.lang = t.lang
           JOIN dfreq f ON g.term = f.term
           CROSS JOIN nl)
         SELECT lang, rn, term, cnt, ROUND(ctfidf, 6) AS ctfidf FROM (
           SELECT lang, term, cnt, ctfidf,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY ctfidf DESC, term) AS rn
           FROM scored)
         WHERE rn <= 5 ORDER BY lang, rn""",
    "q_text_quality" -> {
      val stops = stopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, $toksSql AS __toks FROM documents)
         SELECT doc_id,
           CAST(len(list_filter(__toks, x -> x IN ($stops))) AS DOUBLE)
             / len(__toks) AS stop_ratio,
           CAST(len(list_distinct(__toks)) AS DOUBLE) / len(__toks)
             AS type_token_ratio,
           ROUND((1.0 - CAST(len(list_filter(__toks, x -> x IN ($stops)))
               AS DOUBLE) / len(__toks)) * 0.4 +
             (CAST(len(list_distinct(__toks)) AS DOUBLE) / len(__toks)) * 0.6,
             6) AS quality
         FROM d ORDER BY doc_id"""
    },
    "q_text_lang_id" ->
      s"""WITH d AS (SELECT doc_id, lang, $toksSql AS __toks FROM documents),
         exploded AS (
           SELECT doc_id, lang, unnest($markerSql) AS s FROM d),
         flat AS (
           SELECT doc_id, lang, s.score AS score, s.cand AS cand
           FROM exploded)
         SELECT doc_id, cand AS pred_lang, cand = lang AS is_match FROM (
           SELECT doc_id, lang, cand,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY score DESC, cand) AS rn
           FROM flat)
         WHERE rn = 1 ORDER BY doc_id""",
    "q_media_meta" ->
      """SELECT doc_id,
         octet_length(text::BLOB) AS byte_len,
         hex(substring(text, 1, 4)::BLOB) AS header_hex,
         md5(text) AS media_md5
         FROM documents ORDER BY doc_id""",
    "q_text_token_count" ->
      s"""WITH d AS (SELECT doc_id, text, $toksSql AS __toks FROM documents)
         SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           CAST(list_sum(list_transform(__toks, x -> (length(x) + 3) // 4))
             AS BIGINT) AS bpe_pieces
         FROM d ORDER BY doc_id""",
  )
}
