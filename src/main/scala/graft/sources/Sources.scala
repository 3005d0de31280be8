package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source loaders (SURVEY.md §2.1) — each reference file-shape
  * re-expressed as a declarative Spark read + column expressions, so
  * pushdown/pruning work and no driver-side parsing loops exist.
  */
object Sources {

  /** S1: TSV corpus scan — doc + tab-separated sentences per line
    * (reference: src/dataset/dataset.py:152-165).
    * Output: (doc: string, sentences: array<string>).
    */
  def tsvCorpus(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(split(col("value"), "\t").as("cells"))
      .filter(size(col("cells")) >= 1 && length(element_at(col("cells"), 1)) > 0)
      .select(
        element_at(col("cells"), 1).as("doc"),
        slice(col("cells"), lit(2), greatest(size(col("cells")) - 1, lit(0)))
          .as("sentences"))

  /** S2: CSV-with-header STS scan — per-row `score/5.0` normalization +
    * split filter (reference: src/dataset/sts_dataset.py:26-46).
    */
  def stsPairs(spark: SparkSession, path: String, split: String): DataFrame =
    spark.read.option("header", "true").option("sep", ",").csv(path)
      .filter(col("split") === split)
      .select(
        col("sent1"), col("sent2"),
        (col("score").cast("double") / 5.0).as("label"))

  /** S3: CoNLL scan — 2-column token/tag lines, blank-line sentence
    * boundary (reference: src/dataset/ner_dataset.py:82-110). The
    * stateful "current sentence" accumulation becomes a distributed
    * running-count window over a monotonic line id: sentence id = count
    * of blank lines seen so far.
    */
  def conll(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path)
      .withColumn("line_id", monotonically_increasing_id())
    // sentence id = running count of blank separator lines — a GLOBAL
    // scan, done with the distributed two-pass cum-sum (plans.GlobalRank)
    // instead of a single-partition Window.orderBy
    graft.plans.GlobalRank.withGlobalRankAndCumSum(
        lines, "__rn", "sent_id",
        when(length(trim(col("value"))) === 0, 1L).otherwise(0L),
        Seq(col("line_id")), 4)
      .filter(length(trim(col("value"))) > 0)
      .select(col("sent_id"),
        split(col("value"), "\\s+").as("cells"), col("line_id"))
      .groupBy(col("sent_id"))
      .agg(
        transform(array_sort(collect_list(struct(col("line_id"),
          col("cells")))), s => element_at(s("cells"), 1)).as("tokens"),
        transform(array_sort(collect_list(struct(col("line_id"),
          col("cells")))), s => element_at(s("cells"), 2)).as("tags"))
  }

  /** S4: gzip TSV parallel-pair scan with a row limit (reference:
    * src/dataset/parallel_dataset.py:21-51; codec handled transparently
    * by the datasource).
    */
  def parallelPairs(spark: SparkSession, path: String,
      maxExamples: Int): DataFrame =
    spark.read.option("sep", "\t").csv(path)
      .toDF("sent1", "sent2")
      .filter(col("sent1").isNotNull && col("sent2").isNotNull)
      .limit(maxExamples)

  /** S5: nested-JSON article scan — explode articles[], URL dedup,
    * empty-text filter (reference: src/dataset/documents_dataset.py:63-110).
    */
  def jsonArticles(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)
      .select(explode(col("articles")).as("a"))
      .select(col("a.title"), col("a.text"), col("a.url"))
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .dropDuplicates("url")

  /** S6: JSON-lines scan + broadcast allowlist semi-join (reference:
    * src/dataset/wikipedia_dataset.py:66-107).
    */
  def jsonLinesAllowlist(spark: SparkSession, path: String,
      allowedIds: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.json(path)
      .join(broadcast(allowedIds.toDF("id")), Seq("id"), "left_semi")
      .select(col("id"), col("title"), col("text"))
  }

  /** WiC TSV token-span scan (reference: src/dataset/wic_dataset.py:
    * 36-44): lemma, POS (lowercased), "i1-i2" token indexes of the
    * target word in each sentence, the two sentences. Gold labels live
    * in a parallel file of T/F lines and attach by line position — the
    * J7 positional zip join over plans.GlobalRank row numbers, never a
    * single-partition window (wic_dataset.py:46-55).
    */
  def wicPairs(spark: SparkSession, dataPath: String,
      goldPath: String): DataFrame = {
    def numbered(path: String) = graft.plans.GlobalRank.withGlobalRowNumber(
      spark.read.text(path).withColumn("line_id",
        monotonically_increasing_id()),
      "__rn", Seq(col("line_id")), 4)
    val idxs = split(element_at(col("c"), 3), "-")
    val data = numbered(dataPath)
      .select(col("__rn"), split(col("value"), "\t").as("c"))
      .filter(size(col("c")) === 5)
      // malformed index fields drop the LINE, not the job: under ANSI
      // mode (default here) element_at/cast on a bad "i1-i2" field
      // would abort the whole read
      .filter(element_at(col("c"), 3).rlike("^[0-9]+-[0-9]+$"))
      .select(col("__rn"),
        element_at(col("c"), 1).as("lemma"),
        lower(element_at(col("c"), 2)).as("pos"),
        element_at(idxs, 1).cast("int").as("idx1"),
        element_at(idxs, 2).cast("int").as("idx2"),
        element_at(col("c"), 4).as("sent1"),
        element_at(col("c"), 5).as("sent2"))
    val gold = numbered(goldPath)
      .select(col("__rn"),
        when(trim(col("value")) === "T", 1)
          .when(trim(col("value")) === "F", 0).as("label"))
      .filter(col("label").isNotNull)
    data.join(gold, "__rn").drop("__rn")
  }

  /** WiC JSON-lines char-offset span scan (reference:
    * wic_dataset.py:57-79): target word + two sentences with character
    * start/end offsets and a boolean label.
    */
  def wicJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path).select(
      col("word").cast("string").as("lemma"),
      col("sentence1").cast("string").as("sent1"),
      col("sentence2").cast("string").as("sent2"),
      col("start1").cast("int"), col("end1").cast("int"),
      col("start2").cast("int"), col("end2").cast("int"),
      col("label").cast("boolean").cast("int").as("label"))

  /** GWSC TSV scan (reference: src/dataset/gwsc_dataset.py:83-120):
    * two target words in two contexts; each context is HTML-stripped +
    * punctuation-padded, split on single spaces (EMPTY tokens kept —
    * the reference's split(" ") counts them in indexes), and the first
    * exact token match of each word form becomes its 0-based index
    * (utils.find_in_list; no match -> null).
    */
  def gwscPairs(spark: SparkSession, path: String): DataFrame = {
    import graft.text.TextOps
    val raw = spark.read.option("header", "true").option("sep", "\t").csv(path)
    def idx0(t: Column, w: Column) = {
      val p = array_position(t, w)
      when(p === 0, lit(null).cast("int")).otherwise((p - 1).cast("int"))
    }
    raw.select(
        col("word1"), col("word2"),
        trim(TextOps.padPunctuation(TextOps.stripHtml(col("context1"))))
          .as("context1"),
        trim(TextOps.padPunctuation(TextOps.stripHtml(col("context2"))))
          .as("context2"),
        col("word1_context1"), col("word2_context1"),
        col("word1_context2"), col("word2_context2"))
      // context1/2 are already cleaned+padded here: indexes split only
      // (padding twice would shift positions)
      .withColumn("word1_context1_idx",
        idx0(split(col("context1"), " ", -1), col("word1_context1")))
      .withColumn("word2_context1_idx",
        idx0(split(col("context1"), " ", -1), col("word2_context1")))
      .withColumn("word1_context2_idx",
        idx0(split(col("context2"), " ", -1), col("word1_context2")))
      .withColumn("word2_context2_idx",
        idx0(split(col("context2"), " ", -1), col("word2_context2")))
  }

  /** P10: seeded Bernoulli sample — deterministic for a fixed (seed,
    * input partitioning) pair (reference: dataset slicing/sampling,
    * src/dataset/dataset.py:38-56).
    */
  def seededSample(df: DataFrame, fraction: Double, seed: Long): DataFrame =
    df.sample(withReplacement = false, fraction, seed)

  /** O5: seeded shuffle — global reorder by rand(seed) with a unique
    * tiebreak column for full determinism given the same input
    * partitioning (reference: epoch shuffling; the KG pipeline itself
    * derives order from hashes instead — PropertySpec determinism rule).
    */
  def seededShuffle(df: DataFrame, seed: Long, tiebreak: String): DataFrame =
    df.orderBy(rand(seed), col(tiebreak))

  /** S9: embedding-file scan — `key v1..vd` rows collected into a
    * broadcastable map (reference: src/utils/utils.py:270-302).
    */
  def embeddingMap(spark: SparkSession, path: String): Map[String, Array[Float]] =
    spark.read.text(path)
      .select(split(col("value"), " ").as("cells"))
      .filter(size(col("cells")) > 1)
      .select(
        element_at(col("cells"), 1).as("key"),
        slice(col("cells"), lit(2), size(col("cells")) - 1).as("vec"))
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[String](1).map(_.toFloat).toArray)
      .toMap
}
