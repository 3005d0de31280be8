package graft.mention

import graft.schema.{Entity, Mention}
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Gazetteer mention detection (SURVEY.md §2.2 P3-P5).
  *
  * Reference behavior: exploded-token POS/NER span filters
  * (word_sense_multimodal_pipeline.py:239-277) + TextMatcher gazetteer
  * (:187-191). Spark-first design: candidate spans (unigrams + bigrams)
  * are built per row with array HOFs — zero shuffles — then matched with a
  * single broadcast hash join against the gazetteer. No window functions,
  * no UDFs; everything stays inside whole-stage codegen until the
  * broadcast join.
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

  /** Per-turn span groups for the fused pipeline: candidate spans
    * (unigrams + bigrams) are matched against the broadcast gazetteer
    * (mention spans) and the predicate-trigger dictionary (pred spans),
    * then grouped per (conv_id, turn_idx) — shuffle-free when the input
    * is already hash-partitioned at turn granularity. A token that is
    * both a gazetteer surface and a predicate trigger yields one row of
    * each kind, matching the oracle's independent gap scan.
    *
    * With `openShapePattern` set (KgPipeline.runOpen), the
    * [[openMentions]] rows for that pattern join the groups as OPEN
    * mention spans whose surface is their provisional entity id
    * `open:<token>` (TurnExtract links them to themselves at score
    * 1.0). An open token is never a gazetteer token, so no gazetteer
    * span sits at its position.
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
    val gaz = gazetteer.toDF("surface").withColumn("__gaz", lit(1))
    val predMap = typedlit(predicates)
    val flagged = candidateSpans(spark, turns)
      .join(broadcast(gaz), Seq("surface"), "left")
      .select($"conv_id", $"turn_idx", $"token_pos", $"token_len",
        $"surface",
        $"__gaz".isNotNull.as("gm"),
        ($"token_len" === 1 && map_contains_key(predMap, $"surface"))
          .as("pm"))
      .filter($"gm" || $"pm")
    val expanded = flagged.select(
      $"conv_id", $"turn_idx", $"token_pos", $"token_len", $"surface",
      explode(
        when($"gm" && $"pm", array(lit(true), lit(false)))
          .when($"gm", array(lit(true)))
          .otherwise(array(lit(false)))).as("is_mention"))
    val withOpen = openShapePattern.fold(expanded) { p =>
      expanded.unionByName(openMentions(spark, turns, gazetteer, p)
        .select($"conv_id", $"turn_idx", $"token_pos", $"token_len",
          concat(lit(OpenPrefix), $"surface").as("surface"),
          lit(true).as("is_mention")))
    }
    // groupBy, not a Window: over turn-partitioned input the aggregation
    // needs no exchange and no sort, where a Window paid a per-group
    // sort + WindowExec buffering for these tiny groups (stack-sampled
    // hotspot)
    withOpen
      .groupBy($"conv_id", $"turn_idx")
      .agg(collect_list(struct($"token_pos", $"token_len", $"surface",
        $"is_mention")).as("spans"))
  }

  /** Candidate spans = unigrams ++ bigrams in ONE array, exploded by the
    * codegen'd posexplode generator: element p < n is the unigram at
    * token position p; element p >= n is the bigram starting at p - n
    * (null-padded at the tail). The token array is let-bound so
    * tokenization runs once per row (see TextOps.let); the only
    * interpreted HOF left is one zip_with for the bigram strings —
    * building (pos, len, surface) struct arrays per row instead measured
    * ~2x slower at 32 threads.
    */
  private def candidateSpans(
      spark: SparkSession,
      turns: DataFrame): DataFrame = {
    import spark.implicits._
    val combined = TextOps.let(TextOps.tokens($"text")) { toks =>
      val n = size(toks)
      val shifted = concat(slice(toks, lit(2), greatest(n - 1, lit(0))),
        array(lit(null).cast("string")))
      val bigrams = zip_with(toks, shifted,
        (a, b) => when(b.isNotNull, concat_ws(" ", a, b)))
      concat(toks, bigrams)
    }
    turns
      .withColumn("combined_spans", combined)
      .select($"conv_id", $"turn_idx",
        (size($"combined_spans") / 2).cast("int").as("n_toks"),
        posexplode($"combined_spans"))
      .withColumnRenamed("col", "surface")
      .filter($"surface".isNotNull)
      .select($"conv_id", $"turn_idx",
        when($"pos" < $"n_toks", $"pos").otherwise($"pos" - $"n_toks")
          .as("token_pos"),
        when($"pos" < $"n_toks", 1).otherwise(2).as("token_len"),
        $"surface")
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
    * mentions; the caller assigns them `open:<surface>` entity ids and
    * canonicalizes them with Canonicalize.canonicalMapDf. Pure
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
