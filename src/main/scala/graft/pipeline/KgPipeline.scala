package graft.pipeline

import graft.canon.Canonicalize
import graft.ckpt.Checkpoint
import graft.extract.TurnExtract
import graft.gen.Vocab
import graft.graph.Materialize
import graft.link.EntityLink
import graft.mention.MentionDetect
import graft.plans.{LineageCut, ObservedCount}
import graft.schema._
import java.util.concurrent.{CompletableFuture, CompletionException, Executors}
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{array, avg, col, concat, count, lit, min}
import org.apache.spark.unsafe.types.UTF8String

/** End-to-end KG construction (SURVEY.md §7.2, north rule):
  *
  *   turns --mention detect--> spans --pooled-scorer link + pattern
  *   pairing--> triples --exact-jaccard canon + connected components-->
  *   relabeled triples --> node/edge tables (TableIO snapshots via
  *   materialize)
  *
  * All stages are Dataset/DataFrame + Catalyst (no RDD API); the only
  * imperative region is the pooled scorer inside `mapPartitions`
  * (TurnExtract), mirroring the reference's reused inference session
  * (search_pipeline.py:192-194). Extraction has exactly one plan per
  * side of the gazetteer-size cutoff (see GazetteerFastPathMax): the
  * per-row pass (TurnExtract.triplesFromTurns) below it, the span-group
  * plan (MentionDetect.spanCandidates + TurnExtract.triples) above it;
  * both are tested equivalent. Stage checkpointing, per-partition
  * extraction metrics, and lineage manifests come from
  * graft.ckpt.Checkpoint plus the CollectionAccumulator wired here;
  * independent stages and snapshots commit on [[Branches]].
  */
object KgPipeline {

  final case class Result(
      triples: Dataset[Triple],
      nodes: Dataset[NodeRow],
      edges: Dataset[EdgeRow],
      stats: Seq[Checkpoint.StageStats],
      /** in-task per-partition extraction metrics; populated after the
        * first action that executes the triples stage (north rule:
        * mentions/sec + triples/partition alongside each commit)
        */
      extractionMetrics: () => Seq[TurnExtract.PartitionMetrics],
      /** plan-attached df.observe metrics over the canonical triples
        * (row count + link-score stats), collected for free by whatever
        * action the caller runs first; empty before any action
        */
      tripleStats: () => Map[String, Any],
      /** (entity_id, canonical_id) over every entity, open ones included */
      canonicalMap: DataFrame,
      /** the branch that built the map (Canonicalize.CanonResult.path),
        * or "resumed" when the canonical_map stage was read back
        */
      canonPath: String)

  /** Gazetteer-size cutoff for the per-row fast path: below it the whole
    * extraction (candidate spans + gazetteer probe + resolution + link +
    * pairing) runs in ONE shuffle-free mapPartitions pass with the
    * gazetteer as a per-executor broadcast Set (measured 5.6x over the
    * staged path at bench scale). Above it, gazetteer matching must be a
    * join (a 1e8-surface set does not fit executor memory), so the
    * Catalyst candidates + broadcast/shuffle-join + span-group path
    * runs — the same size-based physical choice Spark makes for
    * broadcast joins. Both paths are asserted equivalent in
    * KgPipelineSpec.
    */
  val GazetteerFastPathMax = 100000

  /** Builds the KG from `turns`, resuming every stage `checkpointRoot`
    * holds for the same inputs and parameters.
    *
    * Open mode (`openShapePattern` set, part of the fingerprint): a token
    * matching the pattern that is no gazetteer token also becomes an
    * entity `open:<token>` linked to itself at score 1.0, on both
    * extraction plans. canonical_map then canonicalizes the closed
    * surfaces together with the distinct open ones, scanned from the
    * corpus, through Canonicalize.canonicalMapDfTracked, with `cut` for
    * its reused frames. The relabel broadcasts the map only up to
    * `relabelBroadcastMax` entries.
    */
  def run(
      spark: SparkSession,
      turns: DataFrame,
      entities: Seq[Entity] = Vocab.entities,
      minLinkScore: Double = Vocab.minLinkScore,
      predicates: Map[String, String] = Vocab.predicates,
      checkpointRoot: Option[String] = None,
      shufflePartitions: Int = 32,
      gazetteerFastPathMax: Int = GazetteerFastPathMax,
      openShapePattern: Option[String] = None,
      cut: LineageCut = LineageCut.Default,
      relabelBroadcastMax: Long = Materialize.RelabelBroadcastMaxEntities)
      : Result = {
    // canonicalMap's id contract, checked on the driver before any stage
    // runs (0 jobs): inside the canonical branch its error would surface
    // only after the corpus chain had committed turn_spans and triples
    Canonicalize.requireValidIds(entities.map(_.entity_id), "canonicalMap")
    val gaz = MentionDetect.gazetteerOf(entities)
    import spark.implicits._

    // North-rule physical contract: ONE explicit hash repartition at
    // pipeline entry, at (conv_id, turn_idx) granularity. Every
    // downstream operator clusters by exactly (conv_id, turn_idx) —
    // overlap resolution, mention pairing, and the turns<->mentions join
    // are all within-turn — so HashPartitioning(conv_id, turn_idx)
    // satisfies every ClusteredDistribution with no further shuffle of
    // the turn table, AND it is the skew treatment: a hot conversation
    // (agent loop with 10^5 turns) partitioned by conv_id alone pins to
    // one task, measured as the scaling straggler; turn granularity
    // spreads it across the cluster. (An operator that genuinely needs
    // conversation-level co-location — e.g. cross-turn coref — must
    // repartition itself by conv_id with salting; none in this pipeline
    // does.) The explicit repartition also decouples parallelism from
    // input file-split packing (small parquet files otherwise coalesce
    // into a handful of splits via spark.sql.files.openCostInBytes,
    // capping the narrow chain's parallelism).
    val turnsP = turns.repartition(shufflePartitions,
      turns("conv_id"), turns("turn_idx"))

    val extractionAcc = spark.sparkContext
      .collectionAccumulator[TurnExtract.PartitionMetrics]("graft.extraction")

    // Input/parameter fingerprint: a committed stage is reused only if
    // the run's semantic parameters match the ones recorded at commit
    // time (Checkpoint rejects stale checkpoints otherwise). The turns
    // DATA itself is identified by the checkpoint root (callers use one
    // root per input corpus — documented contract); its schema is folded
    // in as a cheap drift signal. All components are JVM-stable hashes
    // (String/Seq/Map hashCode are specified murmur/31-based).
    val fingerprint = {
      // cheap DATA signal: the sorted input-file list of the turns scan
      // (empty for in-memory frames). Catches the silent-stale-reuse
      // case of re-pointing the same checkpoint root at a different
      // file-based corpus; mtimes/counts are deliberately NOT folded in
      // (a count() job per run is unaffordable at 10^12 rows) —
      // in-place rewrites of the same paths remain on the documented
      // one-root-per-corpus contract.
      val inputSig =
        try {
          val fs = turns.inputFiles
          s"${fs.length}:${fs.sorted.toSeq.hashCode}"
        } catch { case _: Exception => "na" }
      val desc = (Seq(
        s"gaz:${gaz.size}:${gaz.hashCode}",
        s"entities:${entities.size}:${entities.hashCode}",
        s"minLinkScore:$minLinkScore",
        s"predicates:${predicates.hashCode}",
        s"turnsSchema:${turns.schema.map(f => f.name + ":" + f.dataType.sql)}",
        s"turnsFiles:$inputSig"
      ) ++ openShapePattern.map(p => s"openShapePattern:$p")).mkString("|")
      java.security.MessageDigest.getInstance("MD5")
        .digest(desc.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }

    // stage stats land from the calling thread and from the branches;
    // Result.stats lists them in declared order
    val stats = scala.collection.concurrent.TrieMap[String, Checkpoint.StageStats]()
    def stage(name: String, inputs: Seq[String])(f: => DataFrame): DataFrame =
      checkpointRoot match {
        case Some(root) =>
          val (df, st) =
            Checkpoint.stage(spark, root, name, inputs, fingerprint)(f)
          stats(name) = st
          df
        case None => f
      }

    // The stage DAG is two chains that meet only at the relabel:
    // entity_index and canonical_map -> nodes read no stage of the
    // corpus chain turn_spans -> triples -> triples_canonical -> edges
    // (in open mode canonical_map scans the turns itself), so they run
    // as branches beside it, and each consumer joins the branch it reads.
    val branches = new Branches(spark)
    branches.join {
      // Persisted candidate-index table (reference: hnswlib index
      // save/load, search_pipeline.py:105-124): with checkpointing on,
      // the index is committed as an `entity_index` stage. Only the
      // triples compute block reads it, so it is forced there: a run
      // that just committed the stage uses the index it built, and
      // otherwise the committed table is LOADED back with one collect
      // (driver-sized by design — this is the broadcast index). A full
      // resume skips triples and never reads it. Either way it is sorted
      // on the driver in Spark's string order (UTF-8 bytes), so the load
      // needs no range-sort jobs.
      val indexBranch = checkpointRoot.map { _ => branches.fork {
        var built = Option.empty[IndexedSeq[(String, Array[Float])]]
        val idxDf = stage("entity_index", Seq("entities")) {
          val ix = EntityLink.buildIndex(entities)
          built = Some(ix)
          ix.map { case (id, v) => (id, v.toSeq) }.toDF("entity_id", "vec")
        }
        (idxDf, built)
      } }
      lazy val index: IndexedSeq[(String, Array[Float])] = indexBranch match {
        case Some(branch) =>
          val (idxDf, built) = branch()
          built.getOrElse(idxDf.collect().toIndexedSeq
              .map(r => (r.getString(0), r.getSeq[Float](1).toArray)))
            .sortBy(e => UTF8String.fromString(e._1))
        case None => EntityLink.buildIndex(entities)
      }

      // open mode's entity table. Raw `turns`, not turnsP: the surface
      // scan is a separate action, so a turnsP lineage would RE-EXECUTE
      // the full-corpus entry repartition; the distinct's own exchange
      // moves only the matching tokens
      def entitySurfaces(pattern: String): DataFrame =
        entities.map(e => (e.entity_id, e.canonical +: e.aliases))
          .toDF("entity_id", "surfaces")
          .unionByName(MentionDetect.openMentions(spark, turns, gaz, pattern)
            .select($"surface").distinct()
            .select(concat(lit(MentionDetect.OpenPrefix), $"surface")
                .as("entity_id"),
              array($"surface").as("surfaces")))

      val canonBranch = branches.fork {
        var built = Option.empty[Canonicalize.CanonResult]
        val committed = stage("canonical_map",
            Seq("entity_index") ++ openShapePattern.map(_ => "turns")) {
          val res = openShapePattern match {
            case None => Canonicalize.canonicalMapTracked(spark, entities)
            case Some(p) => Canonicalize.canonicalMapDfTracked(spark,
              entitySurfaces(p), cut = cut)
          }
          built = Some(res)
          res.map
        }
        // the map's size for the relabel, at no job of its own: one row per
        // closed entity, the committed footers' rows, the local branch's
        // rows, or the count OBSERVED during the distributed map's cut. A
        // resumed map's is unknown: the relabel counts it if it runs.
        val (canonMap, mapSize) =
          if (openShapePattern.isEmpty) (committed, Some(entities.size.toLong))
          else if (checkpointRoot.isDefined)
            (committed, stats.get("canonical_map").filterNot(_.skipped)
              .map(_.rows))
          else built.flatMap(_.localRows) match {
            case Some(n) => (committed, Some(n))
            case None =>
              val (m, n) = ObservedCount.attach(committed, cut)
              (m, Some(n()))
          }
        val nodes = stage("nodes", Seq("canonical_map", "entity_index")) {
          Materialize.nodes(spark, entities, canonMap).toDF()
        }.as[NodeRow]
        (canonMap, mapSize, nodes, built.fold("resumed")(_.path))
      }

      val rawTriples = (if (gaz.size <= gazetteerFastPathMax) {
        // fast path: whole extraction in one shuffle-free pooled
        // mapPartitions pass (north-star shape; gazetteer as broadcast Set)
        stage("triples", Seq("turns", "gazetteer", "entity_index")) {
          TurnExtract.triplesFromTurns(spark, turnsP.as[Turn],
              gaz, entities, minLinkScore, predicates, Some(extractionAcc),
              prebuiltIndex = Some(index), openShapePattern = openShapePattern)
            .toDF()
        }
      } else {
        // scale path: Catalyst side (tokenize once -> one row per token
        // -> gazetteer JOINs on its unigram and bigram -> per-turn span
        // groups, no exchange past the entry repartition), then
        // pooled-scorer resolution/link/pairing; asserted equal to the
        // fast path in KgPipelineSpec
        val spans = stage("turn_spans", Seq("turns", "gazetteer")) {
          MentionDetect.spanCandidates(spark, turnsP, gaz, predicates,
            openShapePattern)
        }
        stage("triples", Seq("turn_spans", "entity_index")) {
          TurnExtract.triples(spark, spans, entities, minLinkScore,
            predicates, Some(extractionAcc), prebuiltIndex = Some(index))
            .toDF()
        }
      }).as[Triple]

      // U-6: observed metrics ride the plan itself (zero extra jobs) —
      // any first action on the triples also delivers row count + score
      // stats, complementing the in-task accumulator metrics above
      val tripleObs = new org.apache.spark.sql.Observation()
      val relabeled = stage("triples_canonical",
          Seq("triples", "canonical_map")) {
        val (canonMap, mapSize, _, _) = canonBranch()
        Materialize.relabel(spark, rawTriples, canonMap, relabelBroadcastMax,
          knownMapSize = mapSize).toDF()
      }.as[Triple]
        .observe(tripleObs, count(lit(1)).as("triples"),
          min(col("score")).as("min_score"), avg(col("score")).as("avg_score"))

      val edges = stage("edges", Seq("triples_canonical")) {
        Materialize.edges(spark, relabeled).toDF()
      }.as[EdgeRow]

      val metricsFn = () => {
        import scala.jdk.CollectionConverters._
        extractionAcc.value.asScala.toSeq.sortBy(_.partition)
      }
      // extraction metrics land alongside the commits (the triples stage
      // has already run an action when checkpointing is on)
      checkpointRoot.foreach { root =>
        val m = metricsFn()
        if (m.nonEmpty) {
          val p = new org.apache.hadoop.fs.Path(root, "extraction_metrics.json")
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val os = fs.create(p, true)
          try os.write(m.map(_.json).mkString("[", ",", "]").getBytes("UTF-8"))
          finally os.close()
        }
      }
      val declared = Seq("entity_index", "turn_spans", "triples",
        "canonical_map", "triples_canonical", "nodes", "edges")
      val (canonMap, _, nodes, canonPath) = canonBranch()
      Result(relabeled, nodes, edges, declared.flatMap(stats.get),
        metricsFn,
        // non-blocking read of the observed row (Observation.get blocks
        // until an action; future.value is None before one)
        () => tripleObs.future.value match {
          case Some(scala.util.Success(row)) =>
            row.schema.fieldNames.zip(row.toSeq).toMap
          case _ => Map.empty
        },
        canonMap, canonPath)
    }
  }

  /** [[run]] in open mode with the default shape pattern. */
  def runOpen(spark: SparkSession, turns: DataFrame,
      shufflePartitions: Int = 32): Result =
    run(spark, turns, shufflePartitions = shufflePartitions,
      openShapePattern = Some(MentionDetect.OpenShapePattern))

  /** Materialize the graph into snapshot-committed node/edge tables.
    * The format binding is pluggable (graft.io.KgTableFormat): the
    * sandbox default is snapshot-versioned Parquet; pass
    * `new IcebergTableFormat` plus catalog-qualified table names to
    * commit real Iceberg tables (config-only swap — see the mapping
    * table in KgTableFormat's scaladoc). Edges are partitioned by
    * predicate: low cardinality, and per-predicate reads (the common KG
    * access path) get partition pruning.
    */
  def materialize(
      spark: SparkSession,
      result: Result,
      dir: String,
      format: graft.io.KgTableFormat = graft.io.ParquetSnapshotFormat)
      : (Long, Long) = {
    // the two snapshots are independent commits: nodes on a branch,
    // edges on the calling thread
    val branches = new Branches(spark)
    branches.join {
      val nv = branches.fork(format.write(spark, result.nodes.toDF(),
        format.tableName(dir, "nodes"), Nil,
        Seq("canonical_map", "entity_index")))
      val ev = format.write(spark, result.edges.toDF(),
        format.tableName(dir, "edges"), Seq("pred"),
        Seq("triples_canonical"))
      (nv(), ev)
    }
  }

  /** Daemon threads for the branches of [[run]] and [[materialize]]. A
    * call forks at most two (the width of its stage DAG, never anything
    * sized by input); idle threads exit after a minute.
    */
  private lazy val branchPool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "kg-pipeline-branch")
    t.setDaemon(true)
    t
  }

  /** The branches one call forks beside its own path. A branch runs
    * with the caller's session and Spark local properties, its job group
    * included, so its jobs count as the caller's. [[join]] returns or
    * throws only after every branch has finished, and throws the first
    * failure of any of them or of the caller's path, unwrapped.
    */
  private final class Branches(spark: SparkSession) {
    private val forked = scala.collection.mutable.ArrayBuffer[CompletableFuture[_]]()
    private val firstFailure = new AtomicReference[Throwable]()

    /** starts `body` on a branch thread; the returned function waits for
      * its value and rethrows its failure unwrapped
      */
    def fork[T](body: => T): () => T = {
      val f = SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[classic.SparkSession], branchPool) {
        try body
        catch { case e: Throwable => firstFailure.compareAndSet(null, e); throw e }
      }
      forked += f
      () => try f.join() catch { case e: CompletionException => throw e.getCause }
    }

    def join[T](body: => T): T = {
      val r =
        try Some(body)
        catch { case e: Throwable => firstFailure.compareAndSet(null, e); None }
      forked.foreach(f => try f.join() catch { case _: CompletionException => })
      Option(firstFailure.get).foreach(e => throw e)
      r.get
    }
  }
}
