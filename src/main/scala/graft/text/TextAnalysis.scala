package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-facing text-analysis operators for a training-data pipeline:
  * language-ID, quality scoring, token counting, fingerprinting,
  * c-TF-IDF. The driver-contract queries in graft.queries.TextQueries
  * are thin wrappers with pinned parameters (and DuckDB oracles).
  */
object TextAnalysis {

  /** Marker-set language ID: predicted = argmax marker-token count, ties
    * broken by language id ascending. Output: (id, pred_lang).
    */
  def languageId(
      df: DataFrame, id: String, text: String,
      markers: Seq[(String, Seq[String])]): DataFrame = {
    val toks = TextOps.tokens(col(text))
    val scores = markers.map { case (lang, ms) =>
      struct(
        size(filter(toks, x => x.isin(ms: _*))).as("score"),
        lit(lang).as("cand"))
    }
    val exploded = df
      .select(col(id), explode(array(scores: _*)).as("s"))
      .select(col(id), col("s.score"), col("s.cand"))
    val w = Window.partitionBy(col(id))
      .orderBy(col("score").desc, col("cand"))
    exploded.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(id), col("cand").as("pred_lang"))
  }

  /** Quality score: weighted mix of (1 - stopword ratio) and type/token
    * ratio. Output: (id, stop_ratio, type_token_ratio, quality).
    */
  def qualityScore(
      df: DataFrame, id: String, text: String,
      stopwords: Seq[String],
      stopWeight: Double = 0.4, ttrWeight: Double = 0.6): DataFrame = {
    val toks = TextOps.tokens(col(text))
    val nStop = size(filter(toks, x => x.isin(stopwords: _*)))
    val nTok = size(toks)
    val stopRatio = nStop.cast("double") / nTok
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    df.select(
      col(id),
      stopRatio.as("stop_ratio"),
      ttr.as("type_token_ratio"),
      round((lit(1.0) - stopRatio) * stopWeight + ttr * ttrWeight, 6)
        .as("quality"))
  }

  /** Token counting: whitespace tokens + BPE-ish pieces of `pieceLen`
    * chars. Output: (id, ws_tokens, bpe_pieces).
    */
  def tokenCounts(
      df: DataFrame, id: String, text: String,
      pieceLen: Int = 4): DataFrame =
    df.select(
      col(id),
      size(split(col(text), " ")).as("ws_tokens"),
      aggregate(TextOps.tokens(col(text)), lit(0L),
        (acc, x) => acc + floor((length(x) + lit(pieceLen - 1)) / lit(pieceLen)))
        .as("bpe_pieces"))

  /** Document fingerprint (md5) + basic stats. */
  def fingerprint(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = TextOps.tokens(col(text))
    df.select(
      col(id),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      (aggregate(toks, lit(0L), (acc, x) => acc + length(x))
        .cast("double") / size(toks)).as("mean_word_len"),
      md5(col(text).cast("binary")).as("fingerprint"))
  }

  /** c-TF-IDF per (class, term) with top-k terms per class (reference:
    * topic_modeling.py:106-118). Output: (cls, rn, term, cnt, ctfidf).
    */
  def cTfIdf(
      df: DataFrame, cls: String, text: String, topK: Int): DataFrame = {
    // NOT spread (round-6 A/B): parallelizing the tokenize
    // behind an extra exchange measured SLOWER than the single-split
    // scan at bench scale (0.82-0.89 s vs 0.55-0.63 with the cut alone)
    // — the per-row work is too light to pay for an exchange plus
    // wide-job scheduling; at production scale the scan is already wide
    val terms = df
      .select(col(cls), explode(TextOps.tokens(col(text))).as("term"))
    // `grouped` feeds THREE consumers (scored, totals, dfreq): without
    // a cut the tokenize+explode+aggregate subtree executes once per
    // consumer (three full corpus passes in the r5 plan — guide §2.4
    // duplicated subtrees / §5 lineage truncation). The cut frame is
    // tiny: one row per distinct (class, term).
    val grouped = graft.plans.LineageCut.Default.cut(
      terms.groupBy(col(cls), col("term"))
        .agg(count(lit(1)).as("cnt")))
    val totals = grouped.groupBy(col(cls))
      .agg(sum(col("cnt")).as("cls_total"))
    val dfreq = grouped.groupBy(col("term"))
      .agg(countDistinct(col(cls)).as("df"))
    val nCls = df.select(countDistinct(col(cls)).as("n_cls"))
    val scored = grouped
      .join(broadcast(totals), cls)
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nCls))
      .withColumn("tf", col("cnt").cast("double") / col("cls_total"))
      .withColumn("ctfidf",
        col("tf") * log(lit(1.0) + col("n_cls").cast("double") / col("df")))
    val w = Window.partitionBy(col(cls))
      .orderBy(col("ctfidf").desc, col("term"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col(cls), col("rn"), col("term"), col("cnt"),
        round(col("ctfidf"), 6).as("ctfidf"))
  }
}
