package graft.link

import graft.schema.Entity
import graft.score.Embed

/** Embedding-based entity-link scoring (SURVEY.md §3.1, §2.3 J3/J4).
  *
  * Reference behavior: encode the mention surface, cosine top-k against an
  * in-memory corpus index, keep the best hit above threshold
  * (search_pipeline.py:73-88, 105-145). The reference reuses one pooled
  * inference session across batches (search_pipeline.py:192-194); the
  * Spark-native equivalent is the [[Scorer]], instantiated once per
  * partition inside TurnExtract's `mapPartitions` against a broadcast
  * candidate index — one executor-side object per task, zero per-row
  * setup cost.
  *
  * Length-sorted batching (sentence_encoder.py:138-139,168) exists in the
  * reference to minimize transformer padding; with a hash scorer the
  * equivalent win is per-partition surface memoization (repeated surfaces
  * are embedded once), which dominates because gazetteer surfaces repeat
  * heavily in transcripts.
  */
object EntityLink {

  /** Pooled per-partition scorer: broadcast index + memo cache. */
  final class Scorer(
      index: IndexedSeq[(String, Array[Float])],
      minScore: Double) extends Serializable {
    private val memo = new java.util.HashMap[String, Option[(String, Double)]]()
    def link(surface: String): Option[(String, Double)] = {
      var r = memo.get(surface)
      if (r == null) {
        r = Embed.top1(surface, index, minScore)
        memo.put(surface, r)
      }
      r
    }
  }

  /** Build the broadcast candidate index: one L2-normalized mean-pooled
    * vector per entity over canonical + aliases (reference:
    * src/utils/utils.py:270-302 loads the same shape from disk).
    * Sorted by entity_id for deterministic scan order.
    */
  def buildIndex(entities: Seq[Entity]): IndexedSeq[(String, Array[Float])] =
    entities.sortBy(_.entity_id)
      .map(e => (e.entity_id, Embed.meanEmbed(e.canonical +: e.aliases)))
      .toIndexedSeq
}
