package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector functions over Array[Float/Double] columns
  * (SURVEY.md §2.8 F11-F12, A10-A11) — pure higher-order-function
  * expressions, no UDFs. The hot-path scorer (graft.score.Embed inside mapPartitions)
  * stays the primary implementation; these are the declarative forms for
  * relational pipelines (used by the similarity queries).
  */
object VecOps {

  /** F11 helper: dot product with double accumulation. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** F12: L2 norm / normalization. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def l2Normalize(a: Column): Column = {
    val n = l2Norm(a)
    transform(a, x => when(n > 0, x.cast("double") / n).otherwise(0.0))
  }

  /** F11: cosine similarity. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** elementwise sum over an array<array<float|double>> column (the
    * shared core of A10/A11); null on an empty outer array.
    */
  private def elementwiseSum(vecs: Column): Column =
    when(size(vecs) > 0,
      aggregate(
        slice(vecs, lit(2), greatest(size(vecs) - 1, lit(0))),
        transform(element_at(vecs, 1), x => x.cast("double")),
        (acc, v) => zip_with(acc, v, (a, x) => a + x.cast("double"))))
      .otherwise(lit(null).cast("array<double>"))

  /** A10: mean-pool a token span — given per-token embeddings and a
    * 0-based (start, len) span, the elementwise mean over the span
    * (reference: span pooling over subword positions,
    * src/modules/modules.py:154-171 mean-pool applied to a span slice).
    * Empty spans -> null.
    */
  def spanMeanPool(tokenEmbs: Column, start: Column, len: Column): Column = {
    val span = slice(tokenEmbs, start.cast("int") + 1, len.cast("int"))
    transform(elementwiseSum(span), x => x / size(span))
  }

  /** A11: combine per-layer embeddings elementwise — "sum" or "avg"
    * (reference: layer-combination pooling,
    * src/modules/modules.py:120-152).
    */
  def combineLayers(layers: Column, mode: String): Column = mode match {
    case "sum" => elementwiseSum(layers)
    case "avg" => transform(elementwiseSum(layers), x => x / size(layers))
    case other =>
      throw new IllegalArgumentException(s"mode must be sum|avg, got $other")
  }
}
