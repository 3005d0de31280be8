package graft.extract

import graft.link.EntityLink
import graft.mention.MentionDetect.OpenPrefix
import graft.schema.{Entity, Triple}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Per-turn extraction: overlap resolution + entity linking + predicate
  * pairing in ONE `mapPartitions` pass with pooled scorer state — the
  * north-star execution shape (reference: pooled inference session,
  * search_pipeline.py:192-194; span filters,
  * word_sense_multimodal_pipeline.py:239-277).
  *
  * Input rows are per-turn span groups produced by
  * MentionDetect.spanCandidates (Catalyst side: tokenize, one row per
  * token, broadcast gazetteer joins, optional open-shape spans,
  * groupBy collect). This stage owns the sequential per-turn semantics,
  * kept byte-compatible with graft.oracle.ReferenceOracle:
  *
  *   1. bigram-wins overlap resolution over gazetteer matches
  *   2. cosine top-1 linking against the broadcast candidate index
  *      (per-partition memoized scorer); an open span links to its own
  *      `open:<token>` id at score 1.0
  *   3. consecutive linked mentions + first predicate trigger in the gap
  *      -> (subj, pred, obj, min score)
  */
object TurnExtract {

  /** One candidate span: a gazetteer mention, an open mention
    * (surface `open:<token>`), or a predicate trigger.
    */
  final case class Span(
      token_pos: Int,
      token_len: Int,
      surface: String,
      is_mention: Boolean)

  final case class TurnSpans(
      conv_id: String,
      turn_idx: Int,
      spans: Seq[Span])

  /** In-task per-partition extraction metrics (north rule: "mentions/sec,
    * triples/partition" written alongside each commit). Collected via a
    * CollectionAccumulator passed from KgPipeline; a sentinel iterator
    * records once when the partition drains.
    */
  final case class PartitionMetrics(
      partition: Int, turns: Long, linked_mentions: Long, triples: Long,
      wall_nanos: Long) {
    def mentionsPerSec: Double =
      if (wall_nanos > 0) linked_mentions * 1e9 / wall_nanos else 0.0
    def json: String =
      s"""{"partition":$partition,"turns":$turns,""" +
        s""""linked_mentions":$linked_mentions,"triples":$triples,""" +
        s""""wall_nanos":$wall_nanos,""" +
        f""""mentions_per_sec":$mentionsPerSec%.1f}"""
  }

  /** wraps a partition iterator: counts turns/mentions/triples and
    * records once when drained.
    */
  private final class Recorder(
      acc: Option[org.apache.spark.util.CollectionAccumulator[PartitionMetrics]]) {
    private val t0 = System.nanoTime()
    var turns = 0L
    var mentions = 0L
    var triples = 0L
    private var recorded = false
    def sentinel[T]: Iterator[T] = new Iterator[T] {
      override def hasNext: Boolean = {
        if (!recorded) {
          recorded = true
          acc.foreach(_.add(PartitionMetrics(
            org.apache.spark.TaskContext.getPartitionId(), turns, mentions,
            triples, System.nanoTime() - t0)))
        }
        false
      }
      override def next(): T = throw new NoSuchElementException
    }
  }

  /** Core per-turn semantics, shared by the span-group ([[triples]])
    * and per-row ([[triplesFromTurns]]) entry points; the sequential
    * restatement lives independently in graft.oracle.ReferenceOracle.
    */
  private def extract(
      convId: String,
      turnIdx: Int,
      allSpans: Seq[Span],
      scorer: EntityLink.Scorer,
      preds: Map[String, String],
      rec: Recorder)
      : Iterator[Triple] = {
    rec.turns += 1
    val spans = allSpans.sortBy(s => (s.token_pos, s.token_len))
    // bigram-wins overlap resolution (mirrors ReferenceOracle)
    val covered = spans.iterator
      .filter(s => s.is_mention && s.token_len == 2)
      .flatMap(s => Iterator(s.token_pos, s.token_pos + 1)).toSet
    val mentions = spans.filter(s => s.is_mention &&
      (s.token_len == 2 || !covered.contains(s.token_pos)))
    val predSpans = spans.filter(!_.is_mention)

    // an OPEN span's surface is already its provisional entity id,
    // linked to itself at score 1.0 (MentionDetect.OpenPrefix)
    val linked = mentions.flatMap { m =>
      (if (m.surface.startsWith(OpenPrefix)) Some((m.surface, 1.0))
       else scorer.link(m.surface)).map { case (id, score) =>
        (m.token_pos, m.token_len, id, score)
      }
    }
    rec.mentions += linked.size
    linked.sliding(2).flatMap {
      case Seq((pos1, len1, id1, s1), (pos2, _, id2, s2)) =>
        val gapStart = pos1 + len1
        predSpans
          .find(p => p.token_pos >= gapStart && p.token_pos < pos2)
          .map { p =>
            rec.triples += 1
            Triple(convId, turnIdx, id1, preds(p.surface), id2,
              math.min(s1, s2))
          }
      case _ => None
    }
  }

  def triples(
      spark: SparkSession,
      turnSpans: DataFrame,
      entities: Seq[Entity],
      minScore: Double,
      predicates: Map[String, String],
      metrics: Option[org.apache.spark.util.CollectionAccumulator[PartitionMetrics]] = None,
      prebuiltIndex: Option[IndexedSeq[(String, Array[Float])]] = None)
      : Dataset[Triple] = {
    import spark.implicits._
    val bcIndex = spark.sparkContext.broadcast(
      prebuiltIndex.getOrElse(EntityLink.buildIndex(entities)))
    val bcPreds = spark.sparkContext.broadcast(predicates)

    turnSpans.as[TurnSpans].mapPartitions { it =>
      // pooled per-partition state: index + surface memo (reference:
      // reused inference session across batches)
      val scorer = new EntityLink.Scorer(bcIndex.value, minScore)
      val preds = bcPreds.value
      val rec = new Recorder(metrics)
      it.flatMap(t =>
        extract(t.conv_id, t.turn_idx, t.spans, scorer, preds, rec)) ++
        rec.sentinel
    }
  }

  /** Per-row (shuffle-free) variant: candidate detection, resolution,
    * linking and pairing all inside one mapPartitions over raw turns —
    * no exchange and no aggregation state, the gazetteer held as
    * per-executor broadcast Sets. Uses the shared plain-Scala tokenizer
    * spec (graft.text.TextOps.tokenizeString).
    *
    * `openShapePattern` (the OPEN fast path, KgPipeline.run's open
    * mode): when
    * set, every token matching the pattern that is not a token of any
    * gazetteer surface additionally becomes an open mention span
    * `open:<token>`, linked to itself at score 1.0 — the same spans
    * MentionDetect.spanCandidates adds for the same pattern above the
    * gazetteer cutoff, so shape detection and open linking stay inside
    * this one pooled pass.
    */
  def triplesFromTurns(
      spark: SparkSession,
      turns: Dataset[graft.schema.Turn],
      gazetteer: Seq[String],
      entities: Seq[Entity],
      minScore: Double,
      predicates: Map[String, String],
      metrics: Option[org.apache.spark.util.CollectionAccumulator[PartitionMetrics]] = None,
      prebuiltIndex: Option[IndexedSeq[(String, Array[Float])]] = None,
      openShapePattern: Option[String] = None)
      : Dataset[Triple] = {
    import spark.implicits._
    val bcIndex = spark.sparkContext.broadcast(
      prebuiltIndex.getOrElse(EntityLink.buildIndex(entities)))
    val bcPreds = spark.sparkContext.broadcast(predicates)
    val bcGazUni = spark.sparkContext.broadcast(
      gazetteer.filterNot(_.contains(' ')).toSet)
    val bcGazBi = spark.sparkContext.broadcast(
      gazetteer.filter(_.contains(' ')).toSet)
    // oracle contract (ReferenceOracle.openTriples): a shape-matching
    // token that is a token of ANY gazetteer surface is never open
    val bcGazToks = spark.sparkContext.broadcast(
      gazetteer.flatMap(_.split(" ")).toSet)
    val openPattern = openShapePattern.orNull

    turns.mapPartitions { it =>
      val scorer = new EntityLink.Scorer(bcIndex.value, minScore)
      val preds = bcPreds.value
      val (gazUni, gazBi) = (bcGazUni.value, bcGazBi.value)
      val gazToks = bcGazToks.value
      // compiled once per partition (a per-row Pattern compile is the
      // exact trap TextOps documents for split)
      val openRe =
        if (openPattern == null) null
        else java.util.regex.Pattern.compile(openPattern)
      val rec = new Recorder(metrics)
      it.flatMap { t =>
        val toks = graft.text.TextOps.tokenizeString(t.text)
        val spans = Seq.newBuilder[Span]
        var i = 0
        while (i < toks.length) {
          if (gazUni.contains(toks(i)))
            spans += Span(i, 1, toks(i), is_mention = true)
          if (preds.contains(toks(i)))
            spans += Span(i, 1, toks(i), is_mention = false)
          if (i + 1 < toks.length) {
            val bg = toks(i) + " " + toks(i + 1)
            if (gazBi.contains(bg))
              spans += Span(i, 2, bg, is_mention = true)
          }
          // find(), not matches(): spanCandidates' open flag is an rlike
          // (substring FIND), as in MentionDetect.openMentions — with the
          // default anchored OpenShapePattern the two agree, but a
          // caller-supplied unanchored pattern must yield the same
          // triples on both sides of gazetteerFastPathMax
          if (openRe != null && openRe.matcher(toks(i)).find() &&
              !gazToks.contains(toks(i)))
            spans += Span(i, 1, OpenPrefix + toks(i), is_mention = true)
          i += 1
        }
        extract(t.conv_id, t.turn_idx, spans.result(), scorer, preds, rec)
      } ++ rec.sentinel
    }
  }
}
