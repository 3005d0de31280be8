package graft.streaming

import graft.gen.Vocab
import graft.extract.TurnExtract
import graft.schema.{Triple, Turn}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming surface (SURVEY.md §2.9).
  *
  * The reference is batch-only but has incremental shapes (index add/
  * remove, chunked corpora — search_pipeline.py:60-72,154-175); here the
  * same pipeline stages run over `readStream` sources:
  *
  *  - `streamingTriples`: the mention/link/extract stages are stateless
  *    per turn, so the exact batch expressions run unchanged on a stream
  *  - `windowedTripleCounts`: event-time tumbling window + watermark
  *  - `conversationSessions`: custom state via mapGroupsWithState — a
  *    per-conversation running summary (turn count, last turn seen,
  *    triple count), the streaming analogue of the reference's running
  *    meters (metrics.py:125-161)
  */
object StreamOps {

  /** Stateless per-turn extraction on a streaming Dataset[Turn] —
    * identical semantics to the batch pipeline (no canonicalization,
    * which is a batch-side index operation). Uses the per-row
    * mapPartitions path: zero shuffles, zero aggregation state, so it
    * runs in append mode on an unbounded stream.
    */
  def streamingTriples(
      spark: SparkSession,
      turns: DataFrame): Dataset[Triple] = {
    import spark.implicits._
    TurnExtract.timedTriplesFromTurns(spark, turns.as[Turn],
        Vocab.gazetteer, Vocab.entities, Vocab.minLinkScore,
        Vocab.predicates)
      .map(t => Triple(t.conv_id, t.turn_idx, t.subj, t.pred, t.obj,
        t.score))
  }

  /** Event-time tumbling-window triple counts with a watermark for late
    * data (north-rule conversations arrive in wall-clock order of ts).
    */
  def windowedTripleCounts(
      spark: SparkSession,
      turns: DataFrame,
      watermark: String = "10 minutes",
      windowLen: String = "5 minutes"): DataFrame = {
    import spark.implicits._
    TurnExtract.timedTriplesFromTurns(spark, turns.as[Turn],
        Vocab.gazetteer, Vocab.entities, Vocab.minLinkScore,
        Vocab.predicates)
      .withWatermark("ts", watermark)
      .groupBy(window($"ts", windowLen), $"conv_id")
      .agg(count(lit(1)).as("n_triples"))
  }

  final case class ConvState(turns: Long, maxTurnIdx: Int, triples: Long)
  final case class ConvSummary(
      conv_id: String, turns: Long, max_turn_idx: Int, triples: Long)

  /** Per-conversation running state via mapGroupsWithState (SURVEY.md
    * §2.9 U-6 analogue): updates a (turn count, max turn idx, triple
    * count) summary every micro-batch.
    */
  def conversationSessions(
      spark: SparkSession,
      triples: Dataset[Triple]): Dataset[ConvSummary] = {
    import spark.implicits._
    triples
      .groupByKey(_.conv_id)
      .mapGroupsWithState[ConvState, ConvSummary](GroupStateTimeout.NoTimeout) {
        (convId: String, rows: Iterator[Triple], state: GroupState[ConvState]) =>
          val prev = state.getOption.getOrElse(ConvState(0L, -1, 0L))
          var n = prev.triples
          var maxTi = prev.maxTurnIdx
          val turnSet = scala.collection.mutable.Set[Int]()
          rows.foreach { t =>
            n += 1
            if (t.turn_idx > maxTi) maxTi = t.turn_idx
            turnSet += t.turn_idx
          }
          val next = ConvState(prev.turns + turnSet.size, maxTi, n)
          state.update(next)
          ConvSummary(convId, next.turns, next.maxTurnIdx, next.triples)
      }
  }
}
