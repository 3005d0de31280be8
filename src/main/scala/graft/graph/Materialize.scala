package graft.graph

import graft.mention.MentionDetect
import graft.schema.{EdgeRow, Entity, NodeRow, Triple}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Graph materialization into node/edge tables (SURVEY.md §7.1 `graph/`).
  *
  * Triples are relabeled through the canonicalization map with two
  * broadcast joins while the map stays executor-memory-sized, falling
  * back to plain shuffle joins past a size knob (an OPEN corpus-derived
  * vocabulary is unbounded — the broadcast must not be); edges
  * aggregate support counts and nodes collect surface forms.
  * `sort_array(collect_set(...))` keeps outputs order-deterministic under
  * any parallelism.
  */
object Materialize {

  /** Broadcast cutoff for [[relabel]]'s canonical-map side: up to this
    * many map entries the two relabel joins carry an explicit broadcast
    * hint (a 10M-entry string pair map is ~hundreds of MB — the upper
    * edge of a comfortable executor broadcast); above it the hint is
    * dropped and the relabel is a shuffle equi-join on entity id, which
    * holds for any vocabulary size. Probed with one plain parallel
    * `count()` (callers hand in an already-cut map, so the probe is a
    * cheap fully-parallel re-read, not a recompute — and never the
    * single-task GlobalLimit funnel a limit(knob+1) probe plans).
    */
  val RelabelBroadcastMaxEntities = 10000000L

  /** Relabel subj/obj through (entity_id -> canonical_id).
    * `maxBroadcastEntities = 0` forces the shuffle path (spec hook and
    * explicit opt-out); results are identical on both paths
    * (KgPipelineSpec pins them).
    */
  def relabel(
      spark: SparkSession,
      triples: Dataset[Triple],
      canonicalMap: DataFrame,
      maxBroadcastEntities: Long = RelabelBroadcastMaxEntities,
      /** pass the map's size when the caller already knows it (e.g.
        * observed during the map's lineage cut) to skip the probe job
        * entirely (r5 ADVICE)
        */
      knownMapSize: Option[Long] = None)
      : Dataset[Triple] = {
    import spark.implicits._
    // the probe (see RelabelBroadcastMaxEntities), unless the size is known
    val useBroadcast = maxBroadcastEntities > 0 &&
      knownMapSize.getOrElse(canonicalMap.count()) <= maxBroadcastEntities
    def hinted(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    val subjMap = canonicalMap.select(
      col("entity_id").as("subj"), col("canonical_id").as("subj_canon"))
    val objMap = canonicalMap.select(
      col("entity_id").as("obj"), col("canonical_id").as("obj_canon"))
    triples.toDF()
      .join(hinted(subjMap), Seq("subj"), "left")
      .join(hinted(objMap), Seq("obj"), "left")
      .select(
        $"conv_id", $"turn_idx",
        coalesce($"subj_canon", $"subj").as("subj"),
        $"pred",
        coalesce($"obj_canon", $"obj").as("obj"),
        $"score")
      .as[Triple]
  }

  /** One node per canonical id of `canonicalMap`, which holds every
    * entity id; an id not in `entities` is an open one (`open:<surface>`),
    * whose one surface is the id without the prefix. Only the driver-side
    * `entities` are broadcast, never the (open mode: corpus-sized) map.
    */
  def nodes(
      spark: SparkSession,
      entities: Seq[Entity],
      canonicalMap: DataFrame): Dataset[NodeRow] = {
    import spark.implicits._
    val ent = entities
      .map(e => (e.entity_id, e.canonical, e.canonical +: e.aliases))
      .toDF("entity_id", "canonical", "surfaces")
    val openSurface =
      $"entity_id".substr(MentionDetect.OpenPrefix.length + 1, Int.MaxValue)
    canonicalMap.join(broadcast(ent), Seq("entity_id"), "left")
      .select($"entity_id", $"canonical_id",
        coalesce($"canonical", openSurface).as("canonical"),
        coalesce($"surfaces", array(openSurface)).as("surfaces"))
      .groupBy($"canonical_id")
      .agg(
        // canonical surface = the canonical of the representative
        // (min-id) member, deterministically
        min(struct($"entity_id", $"canonical"))("canonical").as("canonical"),
        sort_array(array_distinct(flatten(collect_list($"surfaces"))))
          .as("surface_forms"))
      .select($"canonical_id".as("entity_id"), $"canonical", $"surface_forms")
      .as[NodeRow]
  }

  def edges(spark: SparkSession, triples: Dataset[Triple]): Dataset[EdgeRow] = {
    import spark.implicits._
    triples.toDF()
      .groupBy($"subj".as("src"), $"pred", $"obj".as("dst"))
      .agg(count(lit(1)).as("support"))
      .as[EdgeRow]
  }
}
