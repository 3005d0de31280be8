package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text functions (SURVEY.md §2.8).
  *
  * All derived — the carried `text` column is never mutated (per-turn text
  * equality invariant, BASELINE.json input_hint). Everything here is a
  * built-in Catalyst expression chain: whole-stage-codegen friendly, no
  * UDFs (the reference pays a JVM<->Python boundary for the same ops,
  * reference: src/modules/pyspark_extensions.py:38-47).
  */
object TextOps {

  /** Plain-Scala tokenizer spec — MUST stay semantically identical to
    * `tokens` below (asserted by TextOpsSpec). Used by the per-row
    * extraction pass (TurnExtract.triplesFromTurns) and available to
    * callers outside Catalyst.
    */
  def tokenizeString(s: String): Array[String] =
    s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      .split(" ").filter(_.nonEmpty)

  /** Whitespace/punct normalization on a COPY of the text
    * (reference: remove_unnecessary_spaces, src/utils/utils.py:52-67).
    * Non-alnum RUNS collapse to one space so the downstream split can be
    * a single-char split — String.split's non-regex fast path; a " +"
    * split pattern costs a java.util.regex.Pattern compile PER ROW
    * (stack-sampled hotspot).
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Wordpunct-style tokenization into a non-empty token array
    * (reference: src/utils/tokenizers.py:6-15,
    *  custom_pyspark_transformer.py:40-50).
    */
  def tokens(text: Column): Column =
    filter(split(normalized(text), " "), t => length(t) > 0)

  /** Token n-grams as space-joined strings
    * (reference: spark_topic_modeling.py:55-60).
    */
  def tokenNgrams(toks: Column, n: Int): Column = {
    // zip the token array against itself shifted by 1..n-1 and join.
    // slice is 1-based; pad keeps lengths aligned, filter drops tails.
    require(n >= 1)
    if (n == 1) toks
    else {
      val parts = (0 until n).map { i =>
        concat(slice(toks, lit(i + 1), size(toks)),
          array_repeat(lit(null).cast("string"), i))
      }
      val zipped = parts.reduceLeft { (acc, next) =>
        zip_with(acc, next, (a, b) => concat_ws(" ", a, b))
      }
      slice(zipped, lit(1), greatest(size(toks) - (n - 1), lit(0)))
    }
  }

  /** Character shingles (k-grams) of a '#'-padded lowercased string —
    * the MinHash input unit (SURVEY.md §7.3).
    */
  def charShingles(text: Column, k: Int): Column = {
    val padded = concat(lit("#"), lower(text), lit("#"))
    val n = length(padded)
    array_distinct(
      filter(
        transform(sequence(lit(1), greatest(n - (k - 1), lit(1))),
          i => padded.substr(i, lit(k))),
        s => length(s) === k))
  }
}
