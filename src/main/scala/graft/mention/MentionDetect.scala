package graft.mention

import graft.schema.{Entity, Mention}
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Gazetteer mention detection (SURVEY.md §2.2 P3-P5).
  *
  * Reference behavior: exploded-token POS/NER span filters
  * (word_sense_multimodal_pipeline.py:239-277) + TextMatcher gazetteer
  * (:187-191). Spark-first design: each turn is tokenized once and
  * exploded into one row per token, carrying the unigram at that
  * position and the bigram that starts there; broadcast hash joins
  * against the gazetteer flag the matches. No window functions, no
  * UDFs, no exchange past the caller's turn-level partitioning.
  *
  * Overlap rule (deterministic, applied per turn by
  * graft.extract.TurnExtract, mirrored by the oracle): a bigram match
  * wins over any unigram match at either of its two positions.
  */
object MentionDetect {

  /** The gazetteer of an entity index: every canonical surface and
    * alias, lowercased, distinct, sorted, at most 2 tokens (detection
    * enumerates unigrams + bigrams only).
    */
  def gazetteerOf(entities: Seq[Entity]): IndexedSeq[String] =
    entities.flatMap(e => e.canonical +: e.aliases)
      .map(_.toLowerCase).distinct.sorted
      .filter(_.split(" ").length <= 2)
      .toIndexedSeq

  /** Per-turn span groups for the fused pipeline. Each token is one
    * probe row: its unigram is matched against the broadcast gazetteer
    * (mention span) and the predicate-trigger dictionary (pred span),
    * the bigram starting at it against the gazetteer (mention span).
    * Only rows with a match survive; their spans are exploded and
    * grouped per (conv_id, turn_idx) — shuffle-free when the input is
    * already hash-partitioned at turn granularity. A token that is both
    * a gazetteer surface and a predicate trigger yields one span of
    * each kind, matching the oracle's independent gap scan.
    *
    * The token array is a projected column exploded by the OUTER
    * generator: a plain posexplode makes Catalyst infer a non-empty
    * filter on it, substitute the tokenizer into that filter and push
    * it below the caller's exchange, so every turn would be tokenized
    * three times.
    *
    * With `openShapePattern` set (KgPipeline.run's open mode), a
    * unigram that matches the pattern and is not a token of any
    * gazetteer surface ([[openMentions]]' rule) also yields an OPEN
    * mention span whose surface is its provisional entity id
    * `open:<token>` (TurnExtract links it to itself at score 1.0); the
    * same probe row carries it, so the corpus is scanned once. An open
    * token is never a gazetteer token, so no gazetteer span sits at its
    * position.
    *
    * Output: (conv_id, turn_idx,
    *          spans: array<struct<token_pos, token_len, surface,
    *          is_mention>>) — consumed by graft.extract.TurnExtract.
    */
  def spanCandidates(
      spark: SparkSession,
      turns: DataFrame,
      gazetteer: Seq[String],
      predicates: Map[String, String],
      openShapePattern: Option[String] = None): DataFrame = {
    import spark.implicits._
    // one table for every probe: each gazetteer surface (flag true) and
    // each token of one (false). The joins read equal local relations,
    // so they share one broadcast (each broadcast costs a Spark job)
    val gazSet = gazetteer.toSet
    val dict = (gazSet ++ gazetteer.flatMap(_.split(" "))).toSeq
      .map(s => (s, gazSet(s)))
    def probe(key: String): DataFrame =
      broadcast(dict.toDF(key, s"${key}_gaz"))
    // get, not element_at: it is null past the last token, where ANSI
    // element_at throws. A flag is null where its join found no row.
    val probes = turns
      .select($"conv_id", $"turn_idx", TextOps.tokens($"text").as("toks"))
      .select($"conv_id", $"turn_idx", $"toks",
        posexplode_outer($"toks").as(Seq("token_pos", "uni")))
      .filter($"uni".isNotNull)
      .select($"conv_id", $"turn_idx", $"token_pos", $"uni",
        concat($"uni", lit(" "), get($"toks", $"token_pos" + 1)).as("bi"))
      .join(probe("uni"), Seq("uni"), "left")
      .join(probe("bi"), Seq("bi"), "left")
    def span(len: Int, surface: Column, isMention: Boolean): Column =
      struct($"token_pos", lit(len).as("token_len"), surface.as("surface"),
        lit(isMention).as("is_mention"))
    val matches = Seq(
      coalesce($"uni_gaz", lit(false)) -> span(1, $"uni", isMention = true),
      map_contains_key(typedlit(predicates), $"uni") ->
        span(1, $"uni", isMention = false),
      coalesce($"bi_gaz", lit(false)) -> span(2, $"bi", isMention = true)
    ) ++ openShapePattern.map(p =>
      ($"uni".rlike(p) && $"uni_gaz".isNull) ->
        span(1, concat(lit(OpenPrefix), $"uni"), isMention = true))
    // groupBy, not a Window: over turn-partitioned input the aggregation
    // needs no exchange and no sort, where a Window paid a per-group
    // sort + WindowExec buffering for these tiny groups (stack-sampled
    // hotspot)
    probes
      .filter(matches.map(_._1).reduce(_ || _))
      .select($"conv_id", $"turn_idx",
        explode(array(matches.map { case (f, s) => when(f, s) }: _*))
          .as("span"))
      .filter($"span".isNotNull)
      .groupBy($"conv_id", $"turn_idx")
      .agg(collect_list($"span").as("spans"))
  }

  /** Default token shape for OPEN (non-gazetteer) entity detection:
    * letters followed by >= 2 digits — service/resource-style names;
    * disjoint by construction from the all-letter gazetteer, filler,
    * and predicate vocabularies.
    */
  val OpenShapePattern = "^[a-z]+[0-9]{2,}$"

  /** Surface and entity-id prefix of an OPEN (provisional) mention:
    * `open:<token>`. Tokens are `[a-z0-9]+` (TextOps.normalized), so no
    * gazetteer surface carries it.
    */
  val OpenPrefix = "open:"

  /** Shape-heuristic OPEN mention detection (SURVEY.md §4.3.2's open
    * entity set; reference analog: corpus-derived cluster/synset sets,
    * word_sense_pipeline.py:241-252 — entities come from the data, not
    * a fixed vocabulary). Unigram tokens matching `shapePattern` that
    * are not a token of ANY gazetteer surface become provisional
    * mentions; KgPipeline.run's open mode assigns them `open:<surface>`
    * entity ids and canonicalizes them with the closed entities. Pure
    * Catalyst: tokenize -> posexplode -> rlike filter -> broadcast
    * anti-join (the gazetteer-token table is driver-small by the same
    * contract as the gazetteer broadcast).
    */
  def openMentions(
      spark: SparkSession,
      turns: DataFrame,
      gazetteer: Seq[String],
      shapePattern: String = OpenShapePattern): Dataset[Mention] = {
    import spark.implicits._
    val gazToks = gazetteer.flatMap(_.split(" ")).distinct.toDF("surface")
    turns
      .select($"conv_id", $"turn_idx",
        posexplode(TextOps.tokens($"text")).as(Seq("token_pos", "surface")))
      .filter($"surface".rlike(shapePattern))
      .join(broadcast(gazToks), Seq("surface"), "left_anti")
      .select($"conv_id", $"turn_idx", $"token_pos",
        lit(1).as("token_len"), $"surface")
      .as[Mention]
  }
}
