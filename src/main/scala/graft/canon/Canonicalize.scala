package graft.canon

import graft.schema.Entity
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Entity canonicalization (SURVEY.md §4.3.2-3, §7.3).
  *
  * Reference analog: iterative smallest-topic -> nearest-topic merging
  * (topic_modeling.py:129-151) and cluster canonicalization; re-expressed
  * at scale as:
  *
  *   1. shingle: char-3-gram set over each entity's surface forms
  *   2. EXACT candidate edges: the shared prefix-filtered jaccard join
  *      (Dedup.jaccardPairsOnSets — rare-first prefix + length +
  *      positional filters, equi-join on shingle, merge-scan verify);
  *      identical result to all-pairs at any scale, never a cross join
  *   3. connected components -> canonical id = min entity_id in component
  *
  * Skew note (SURVEY.md §7.4.4): the prefix join's rare-first ordering
  * is the skew treatment (a ubiquitous shingle enters a doc's prefix
  * only when nothing rarer exists), plus AQE skew-join splitting
  * (enabled in session conf).
  */
object Canonicalize {

  /** EXACT similarity edges between entities (src < dst): char-3-gram
    * surface shingles through the shared jaccard operator
    * (Dedup.jaccardPairsOnSets: driver-local all-pairs up to
    * Dedup.LocalJaccardMaxDocs entities, else the prefix-filtered join).
    * Same result set as exact all-pairs at any scale; candidate
    * generation above the local cutoff is pruned by the rare-first
    * prefix + length + positional filters, never a cross join. The
    * operator spreads the table before the gram projection: a
    * corpus-derived surface table typically arrives through a distinct
    * whose output AQE coalesced to ~1 partition (guide §2.5).
    */
  def candidateEdges(
      spark: SparkSession,
      entitySurfaces: DataFrame,
      jaccardThreshold: Double,
      cut: graft.plans.LineageCut = graft.plans.LineageCut.Default)
      : DataFrame =
    graft.dedup.Dedup.jaccardPairsOnSets(entitySurfaces, "entity_id",
      array_distinct(flatten(transform(col("surfaces"),
        s => TextOps.charShingles(s, 3)))),
      jaccardThreshold, cut)
      .select(col("src"), col("dst"))

  /** Connected components by min-label propagation WITH POINTER JUMPING
    * (label shortcutting; driver-controlled DataFrame loop, SURVEY.md
    * §4.3.3): each round does (A) one neighbor-min propagation
    * l'(v) = min(l(v), min over neighbors u of l(u)), then (B) one label
    * shortcut l(v) <- l(l(v)), so the min label of a component travels
    * along label CHAINS as well as edges and the loop converges in
    * O(log diameter) rounds — plain min-label propagation needs
    * O(diameter) — a length-10^6 near-duplicate spelling chain needs ~20
    * rounds, not 10^6 (each round is 2 shuffle joins + 1 aggregation;
    * the reference analog — topic_modeling.py:129-151's iterative merge
    * loop — is the same shape without the shortcut).
    *
    * Each round's labels are cut via the pluggable `cut` strategy
    * (SURVEY.md §7.4.7): the sandbox default is localCheckpoint; a
    * cluster run passes [[graft.plans.LineageCut.Reliable]] (checkpoint
    * dir set) so an executor loss mid-loop recovers from durable storage
    * instead of failing the whole job. The iteration cap FAILS LOUDLY:
    * a graph that does not converge within `maxIter` rounds throws
    * instead of returning silently partial labels.
    *
    * Invariants (parity with local union-find and GraphX pinned in
    * CanonComponentsSpec/GraphXFallbackSpec): every label a vertex ever
    * holds is the id of a vertex in ITS component (propagation moves
    * labels along edges; shortcutting along label chains, both
    * component-preserving), labels only decrease, and at a fixed point
    * every edge joins equal labels — so the fixed point is exactly
    * (entity_id, min id in component).
    */
  def connectedComponents(
      spark: SparkSession,
      vertices: DataFrame, // (entity_id)
      edges: DataFrame, // (src, dst)
      maxIter: Int = 50,
      cut: graft.plans.LineageCut = graft.plans.LineageCut.Default)
      : DataFrame =
    connectedComponentsWithRounds(spark, vertices, edges, maxIter, cut)._1

  /** [[connectedComponents]] + the number of rounds it took to converge
    * (the O(log diameter) bound is spec-asserted on a chain graph;
    * package-visible for that spec).
    */
  private[graft] def connectedComponentsWithRounds(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      maxIter: Int = 50,
      cut: graft.plans.LineageCut = graft.plans.LineageCut.Default)
      : (DataFrame, Int) = {
    // ---- round-6 physical preparation, semantics unchanged ----
    // (1) STRING vertex ids are rank-encoded to dense longs for the
    // loop. Catalyst has no mutable agg buffer for min(string), so
    // every round's neighbor-min aggregation planned as SortAggregate
    // — TWO sorts (partial + final) of the edge-scale join output per
    // round (observed in the executed plan, OPTIMIZATION_r06.md §7).
    // GlobalRank's rank over entity_id ASC preserves the string order
    // exactly, so min(rank) == rank(min(string)) and the decoded fixed
    // point is identical; on longs the aggregation is a HashAggregate
    // and every per-round shuffle carries 8-byte keys instead of
    // strings. Long/int ids (q_graph_cc's doc ids) skip the encoding —
    // they hash-aggregate natively. Edges inner-join the rank table:
    // an endpoint absent from `vertices` was already inert in the
    // propagation (its rows died in the labels join), so dropping it
    // up front is the same fixed point.
    // (2) The symmetric edge table is LOOP-INVARIANT but the widest
    // frame in every round's join: pre-partition + pre-sort it by the
    // join key ONCE before the cut (localCheckpoint preserves both),
    // so the scale regime's per-round sort-merge join re-sorts only
    // the small labels side (guide §2.4 "share one exchange" across
    // the driver-controlled loop). Partition count = the session's
    // shuffle setting, the same deployment knob every other exchange
    // uses.
    val parts = spark.sessionState.conf.numShufflePartitions
    val encode = vertices.schema.head.dataType ==
      org.apache.spark.sql.types.StringType
    val ranked = if (encode) {
      cut.cut(graft.plans.GlobalRank.withGlobalRowNumber(
        vertices.select(col("entity_id")), "__rid",
        Seq(col("entity_id")), parts))
    } else null
    val (v2, e2) =
      if (encode) {
        val rSrc = ranked.select(col("entity_id").as("src"),
          col("__rid").as("__rid_src"))
        val rDst = ranked.select(col("entity_id").as("dst"),
          col("__rid").as("__rid_dst"))
        (ranked.select(col("__rid").as("entity_id")),
          edges.select(col("src"), col("dst"))
            .join(rSrc, "src").join(rDst, "dst")
            .select(col("__rid_src").as("src"), col("__rid_dst").as("dst")))
      } else (vertices, edges)

    val sym = cut.cut(e2.select(col("src"), col("dst"))
      .union(e2.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(parts, col("dst"))
      .sortWithinPartitions(col("dst")))

    var labels = cut.cut(v2
      .select(col("entity_id"), col("entity_id").as("canonical_id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // (A) propagate: l'(v) = min(l(v), min over neighbors u of l(u)),
      // via aggregate + left join + least rather than union +
      // re-aggregate: the aggregation input is the join result alone
      // (not join ∪ labels), and a Union of a checkpointed-lineage
      // labels frame with a frame derived FROM it trips Spark's union
      // constraint rewrite (AttributeMap key-not-found on LogicalRDD
      // origin constraints referencing pruned attributes — observed
      // with a localCheckpoint()ed entity table as canonicalMapDf input)
      val neighborMin = sym
        .join(labels, sym("dst") === labels("entity_id"))
        .groupBy(sym("src").as("entity_id"))
        .agg(min(col("canonical_id")).as("__nbr_min"))
      // the round's OLD label rides along into the cut so the
      // convergence check can be OBSERVED during the cut's own
      // materialization instead of scheduling a separate compare-join
      // job per round (round 6)
      val propagated = labels
        .join(neighborMin, Seq("entity_id"), "left")
        .select(col("entity_id"), col("canonical_id").as("__old"),
          least(col("canonical_id"), col("__nbr_min")).as("canonical_id"))
      // (B) shortcut: l''(v) = l'(l'(v)) — one self-join on the label;
      // left + coalesce keeps dangling labels (an edge endpoint missing
      // from `vertices`) fixed instead of dropping the row
      val lookup = propagated.select(
        col("entity_id").as("__lid"), col("canonical_id").as("__lcan"))
      // changed-label count via ObservedCount; its fallback job runs
      // only if the cut strategy's action does not deliver the metric
      val (next, changed) = graft.plans.ObservedCount.attach(
        propagated.alias("p")
          .join(lookup, col("p.canonical_id") === col("__lid"), "left")
          .select(col("p.entity_id"),
            coalesce(col("__lcan"), col("p.canonical_id")).as("canonical_id"),
            col("p.__old")),
        cut,
        agg = coalesce(sum(when(col("canonical_id") =!= col("__old"), 1L)),
          lit(0L)),
        fallback = _.filter(col("canonical_id") =!= col("__old")).count())
      labels = next.select(col("entity_id"), col("canonical_id"))
      converged = changed() == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter " +
          "pointer-jumping rounds — at O(log n) rounds this indicates " +
          "a graph far beyond the cap (2^" + maxIter + " diameter) or " +
          "a non-deterministic edge input; refusing to return partial " +
          "labels.")
    // decode ranks back to the original string ids (two joins against
    // the one-time rank table; rank order == string order, so the
    // decoded labels are exactly the min-string-id fixed point)
    val out =
      if (encode)
        labels
          .join(ranked.select(col("__rid").as("entity_id"),
            col("entity_id").as("__eid")), "entity_id")
          .join(ranked.select(col("__rid").as("canonical_id"),
            col("entity_id").as("__cid")), "canonical_id")
          .select(col("__eid").as("entity_id"),
            col("__cid").as("canonical_id"))
      else labels
    (out, iter)
  }

  /** Adaptive small-input cutoff: below this many candidate edges the
    * components are solved with a driver-local union-find instead of the
    * iterative DataFrame loop — the same size-based physical choice Spark
    * itself makes for broadcast joins. The distributed path stays the
    * scale path and is unit-tested directly.
    */
  val LocalComponentsMaxEdges = 100000L

  /** Below this many entities, canonicalization runs entirely
    * driver-side with EXACT all-pairs Jaccard plus local union-find —
    * saving several fixed-latency Spark jobs per pipeline run. This is
    * now a PURELY PHYSICAL choice: the distributed path's edge
    * generator (prefix-filtered jaccard) is exact too, so both sides of
    * the cutoff produce the identical canonical map (pinned in
    * KgPipelineSpec on a threshold-straddling adversarial vocabulary).
    * The distributed path is forced in tests via localMaxEntities = 0.
    *
    * Cutoff measured by timing both sides (local[4], alias vocabulary
    * with ~n/5 merge clusters) when the local pairs came from a Scala
    * `Set` intersect/union loop: ~1-3 s at n=1000 and ~5-6 s at n=2000
    * (single-threaded n^2/2 set intersections), while the distributed
    * path's floor is its several fixed-latency jobs (~2-5 s quiet-host).
    * The local pairs now come from the shared int-encoded merge-scan
    * kernel (IntersectSets.allPairs), which is cheaper per pair; the
    * cutoff has not been re-measured since.
    */
  val LocalCanonMaxEntities = 2000

  /** Local-path shingle set of one entity's surfaces: same set as the
    * distributed TextOps.charShingles — exactly-3-CODEPOINT padded
    * ngrams (Embed.ngrams slides over codepoints since round 5, so the
    * two exact paths agree on non-BMP surfaces too; pinned by a
    * surrogate-pair property spec). The filter matters for EMPTY
    * surfaces (Embed.ngrams keeps the short "##" gram there while
    * charShingles drops it, which would merge empty-surface entities on
    * this path only).
    */
  private def localShingles(surfaces: Seq[String]): Set[String] =
    surfaces.flatMap(graft.score.Embed.ngrams)
      .filter(graft.score.Embed.isShingle3).toSet

  /** Driver-local exact all-pairs jaccard + union-find over collected
    * (entity_id, surfaces) rows — the physical small-input fast path
    * of [[canonicalMapDf]]. The pairs come from the one driver-local
    * jaccard kernel that Dedup's local plan also runs
    * (IntersectSets.allPairs: int-encoded grams, bounded merge scan),
    * so its |A∩B| / |A∪B| is the same double as every other plan's.
    */
  private def localAllPairsMap(
      surf: Seq[(String, Seq[String])],
      jaccardThreshold: Double): Map[String, String] = {
    val edges = graft.functions.IntersectSets
      .of(surf.iterator.map { case (id, ss) => (id, localShingles(ss)) })
      .allPairs(jaccardThreshold)
      .map { case (a, b, _, _) => (a.toString, b.toString) }
    localUnionFind(surf.map(_._1), edges)
  }

  /** Distributed canonicalization over an arbitrary (entity_id,
    * surfaces) DataFrame: exact prefix-filtered edges -> components.
    * When the edge set is driver-small the components are solved with
    * a local union-find over the EDGE-TOUCHED ids only, broadcast back
    * onto the full id table (isolated entities map to themselves via
    * coalesce) — the id table itself is never collected, so this path
    * holds for a 100-TB corpus-derived entity table whose edge set is
    * sparse.
    */
  private def distributedCanonicalMap(
      spark: SparkSession,
      entitySurfaces: DataFrame,
      jaccardThreshold: Double,
      cut: graft.plans.LineageCut): (DataFrame, String) = {
    import spark.implicits._
    val ids = entitySurfaces.select(col("entity_id"))
    // the edge-count dispatch rides the edge frame's own cut
    // (ObservedCount) instead of a separate count job
    val (edges, edgeCount) = graft.plans.ObservedCount.attach(
      candidateEdges(spark, entitySurfaces, jaccardThreshold, cut), cut)
    if (edgeCount() <= LocalComponentsMaxEdges) {
      val pairs = edges.collect().map(r => (r.getString(0), r.getString(1)))
      val touched = pairs.flatMap(p => Seq(p._1, p._2)).distinct.toSeq
      val compDf = localUnionFind(touched, pairs.toSeq).toSeq
        .toDF("entity_id", "__cid")
      (ids.join(broadcast(compDf), Seq("entity_id"), "left")
        .select(col("entity_id"),
          coalesce(col("__cid"), col("entity_id")).as("canonical_id")),
        "distributed-edge-local-uf")
    } else {
      // pointer-jumping CC: the open path's component diameter is
      // unbounded (chains of near-duplicate spellings), so it needs the
      // O(log diameter) round bound, not diameter-many shuffle rounds
      (connectedComponents(spark, ids, edges, cut = cut),
        "distributed-cc")
    }
  }

  /** Full canonicalization: Seq[Entity] -> (entity_id, canonical_id).
    * The closed-vocabulary entry point (gazetteer contract). The Seq is
    * already on the driver, so its size is the dispatch: up to
    * `localMaxEntities` it goes straight to the driver all-pairs path
    * with ZERO Spark jobs and no probe query; above it, it becomes a
    * LocalRelation and goes through [[canonicalMapDf]].
    * CONTRACT: `entity_id` is non-null and unique; it is checked here,
    * before dispatch (zero jobs), with the same IllegalArgumentException
    * as [[canonicalMapDf]]'s local path — the only check above the
    * cutoff, where the distributed branch checks nothing.
    */
  def canonicalMap(
      spark: SparkSession,
      entities: Seq[Entity],
      jaccardThreshold: Double = 0.5,
      localMaxEntities: Int = LocalCanonMaxEntities): DataFrame =
    canonicalMapTracked(spark, entities, jaccardThreshold,
      localMaxEntities).map

  /** [[canonicalMap]] plus the branch it took (see [[CanonResult]]). */
  private[graft] def canonicalMapTracked(
      spark: SparkSession,
      entities: Seq[Entity],
      jaccardThreshold: Double = 0.5,
      localMaxEntities: Int = LocalCanonMaxEntities): CanonResult = {
    import spark.implicits._
    val surf = entities.map(e => (e.entity_id, e.canonical +: e.aliases))
    requireValidIds(surf.map(_._1), "canonicalMap")
    // Rows against a fixed schema: deriving the tuple encoder `toDF`
    // needs by reflection costs ~4 ms per call even warm, this ~0.4 ms
    if (surf.size <= localMaxEntities)
      CanonResult(
        spark.createDataFrame(localAllPairsMap(surf, jaccardThreshold).toSeq
          .map { case (id, canonical) => Row(id, canonical) }.asJava,
          StructType(Seq(StructField("entity_id", StringType),
            StructField("canonical_id", StringType)))),
        "local", Some(surf.size.toLong))
    else
      canonicalMapDfTracked(spark, surf.toDF("entity_id", "surfaces"),
        jaccardThreshold, localMaxEntities)
  }

  /** [[canonicalMapDf]]'s result plus the physical path it took —
    * "local" (driver all-pairs under the probe cutoff),
    * "distributed-edge-local-uf" (distributed exact edges, driver-small
    * edge set union-found locally and broadcast back), or
    * "distributed-cc" (fully distributed: edges -> pointer-jumping
    * connected components). The marker is bench/ops evidence that a
    * run actually exercised the intended branch (VERDICT r4: the open
    * path's scale branch previously had no at-scale witness).
    * `localRows` is the map's row count when the local branch built it
    * from rows already on the driver, else None.
    */
  final case class CanonResult(map: DataFrame, path: String,
      localRows: Option[Long])

  /** DataFrame-native canonicalization: (entity_id, surfaces:
    * array<string>) -> (entity_id, canonical_id), never materializing
    * a driver-side entity Seq — the entry point for OPEN entity sets
    * extracted from the corpus itself (reference analog: the
    * corpus-derived synset/cluster sets of
    * word_sense_pipeline.py:241-252 are built from data, not a fixed
    * vocabulary). CONTRACT: `entity_id` is non-null and unique (the
    * open pipeline builds it from `distinct` surfaces). Ids are checked
    * wherever the rows are already on the driver: the LOCAL path FAILS
    * FAST on null or duplicate ids, with the same
    * IllegalArgumentException as [[canonicalMap]], and KgPipeline.run
    * checks its closed ids before any job. The
    * distributed branches do not check: they emit duplicate rows for a
    * duplicate id (undefined behavior), because a uniqueness pass would
    * cost a corpus-scale shuffle per call to police a precondition the
    * producing pipeline enforces by construction. The driver-local fast
    * path is keyed off ONE bounded
    * `limit(localMaxEntities + 1)` collect (short-circuiting job, the
    * DataFrame analogue of `Seq.size`; the collected rows ARE the local
    * input, so the source is evaluated once); above the cutoff
    * everything stays distributed end-to-end: exact prefix-filtered
    * edges -> pointer-jumping connected components (or edge-local
    * union-find broadcast back when the EDGE set — not the entity
    * set — is driver-small).
    * Both sides of every cutoff produce the identical map
    * (KgPipelineSpec pins them on a threshold-straddling vocabulary).
    */
  def canonicalMapDf(
      spark: SparkSession,
      entitySurfaces: DataFrame,
      jaccardThreshold: Double = 0.5,
      localMaxEntities: Int = LocalCanonMaxEntities,
      cut: graft.plans.LineageCut = graft.plans.LineageCut.Default)
      : DataFrame =
    canonicalMapDfTracked(spark, entitySurfaces, jaccardThreshold,
      localMaxEntities, cut).map

  /** [[canonicalMapDf]] with the taken-path marker (see [[CanonResult]]).
    * The local-path probe is ONE bounded collect of
    * `limit(localMaxEntities + 1)` rows, branched on the collected
    * size — never a separate probe-then-unbounded-collect pair, so a
    * non-deterministic or concurrently-changing source cannot pass a
    * count probe and then flood the driver, and driver memory is
    * bounded by the cutoff by construction.
    */
  def canonicalMapDfTracked(
      spark: SparkSession,
      entitySurfaces: DataFrame,
      jaccardThreshold: Double = 0.5,
      localMaxEntities: Int = LocalCanonMaxEntities,
      cut: graft.plans.LineageCut = graft.plans.LineageCut.Default)
      : CanonResult = {
    import spark.implicits._
    val probeRows =
      entitySurfaces.select(col("entity_id"), col("surfaces"))
        .limit(math.min(localMaxEntities.toLong + 1, Int.MaxValue).toInt)
        .collect()
    if (probeRows.length <= localMaxEntities) {
      val rows = probeRows
        .map(r => (r.getString(0), r.getSeq[String](1)))
        .toSeq
      // fail fast on null or duplicate ids (VERDICT r5 #5): the rows
      // are in hand, so this costs one driver pass; without it the
      // shingle Map in localAllPairsMap silently last-write-wins while
      // the distributed path emits duplicate rows — divergent results
      // for the same (invalid) input
      requireValidIds(rows.map(_._1), "canonicalMapDf")
      CanonResult(localAllPairsMap(rows, jaccardThreshold).toSeq
        .toDF("entity_id", "canonical_id"), "local", Some(rows.size.toLong))
    } else {
      // cut the entity table ONCE before the distributed branch fans
      // out (round 6): its lineage — for the open pipeline, a full
      // corpus scan + distinct — was otherwise re-executed by every
      // consumer (the gram/doc cut, the CC vertex ranking, the final
      // id join). The local branch deliberately stays cut-free: its
      // bounded probe collect is the only execution it needs.
      val (map, path) = distributedCanonicalMap(spark,
        cut.cut(entitySurfaces), jaccardThreshold, cut)
      CanonResult(map, path, None)
    }
  }

  /** Fails with an IllegalArgumentException when `ids` holds a null or
    * a duplicate, the input contract of the canonicalization entry
    * points; names up to 5 duplicates.
    */
  private[graft] def requireValidIds(ids: Seq[String], caller: String)
      : Unit = {
    val nulls = ids.count(_ == null)
    require(nulls == 0,
      s"$caller: $nulls null entity_id values in the input " +
        "(contract: non-null unique ids)")
    val dups = ids.groupBy(identity).collect {
      case (k, v) if v.size > 1 => k
    }.toSeq.sorted
    require(dups.isEmpty,
      s"$caller: duplicate entity_id values in the input " +
        s"(contract: unique ids); first ${math.min(dups.size, 5)} of " +
        s"${dups.size}: ${dups.take(5).mkString(", ")}")
  }

  /** Driver-local union-find with path compression; min id = canonical. */
  def localUnionFind(
      ids: Seq[String],
      edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.map(i => i -> find(i)).toMap
  }
}
