package kgbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.canon.Canonicalize
import graft.ckpt.Checkpoint
import graft.extract.TurnExtract
import graft.gen.Vocab
import graft.graph.Materialize
import graft.io.ParquetSnapshotFormat
import graft.link.EntityLink
import graft.mention.MentionDetect
import graft.oracle.ReferenceOracle
import graft.pipeline.KgPipeline
import graft.schema.{Triple, Turn}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

/** Row count plus an order-independent row-hash sum of one output. */
final case class Sum(rows: Long, hash: Long)

object Sum {
  def of(df: DataFrame): Sum = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.map(c => col(s"`$c`")): _*),
        lit(1000000007L))), lit(0L))).head()
    Sum(r.getLong(0), r.getLong(1))
  }
}

/** What one iteration produced: a checksum per output (for
  * `query_suite` the row count alone, with hash 0), and for the
  * checkpointed workload the wall of the resumed run.
  */
final case class Out(sums: Map[String, Sum], resumeS: Double = 0.0)

/** Runs the layers of one traced iteration. Each layer call runs under
  * `setJobGroup(<layer>#t<iter>)` inside a span; [[force]] persists a
  * layer's output and counts it there, so the next layer's jobs do only
  * their own work.
  */
final class Tracer(spark: SparkSession, spans: Spans, val iter: Int) {
  val rows = mutable.Map[String, Long]().withDefaultValue(0L)
  val extra = mutable.Map[String, Double]()
  private val cached = mutable.ArrayBuffer[DataFrame]()

  def group(layer: String): String = s"$layer#t$iter"

  def apply[T](layer: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group(layer), layer, interruptOnCancel = false)
    try spans(layer, s"iter#t$iter")(f) finally sc.clearJobGroup()
  }

  def force(layer: String, df: DataFrame): DataFrame = apply(layer) {
    val p = df.persist()
    cached += p
    rows(layer) += p.count()
    p
  }

  def release(): Unit = cached.foreach(_.unpersist(blocking = false))
}

trait Workload {
  /** writes the seeded inputs under `dir` and loads them; called once
    * per session
    */
  def prepare(spark: SparkSession, seed: Int, dir: String): Unit
  /** One untraced iteration through the public entry points. Returns
    * once its outputs are forced with the action the program's own
    * callers use; the returned function checksums them and is called
    * outside the timed region.
    */
  def iterate(spark: SparkSession, tag: String): () => Out
  /** the same work layer by layer, returning the same checksums */
  def traced(spark: SparkSession, t: Tracer): () => Out
  /** the warm-up iteration that ends each set-up; its outputs are not
    * checksummed
    */
  def warmUp(spark: SparkSession, tag: String): Unit = iterate(spark, tag)
  /** removes what iteration `tag` left on disk (never timed) */
  def cleanup(spark: SparkSession, tag: String): Unit = ()
  /** correctness checks beyond iteration-to-iteration agreement; each
    * entry is (check name, outputs it covers, failure message or "")
    */
  def gate(spark: SparkSession, seed: Int): Seq[(String, Seq[String], String)]
  /** items an iteration produces (triples), for triples_per_s */
  def items(o: Out): Long = o.sums.get("triples").map(_.rows).getOrElse(0L)
  /** layer counts measured once per traced run, outside the iterations */
  def traceStats(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, cores: Int, work: String, fixture: String)
      : Workload = name match {
    case "kg_staged_ckpt" => new KgStaged(cores, work)
    case "query_suite" => new QuerySuite(cores, work, fixture)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val entities = Vocab.entities
  /** the gazetteer `KgPipeline` derives from the entity index */
  val gazetteer: Seq[String] = entities.flatMap(e => e.canonical +: e.aliases)
    .map(_.toLowerCase).distinct.sorted.filter(_.split(" ").length <= 2)

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  def bytesUnder(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** `extract.mentions_per_s` (linked mentions over summed task time)
    * and `extract.partition_skew` (largest over median turns per
    * partition) from the extraction's per-partition metrics
    */
  def extractMetrics(t: Tracer,
      acc: CollectionAccumulator[TurnExtract.PartitionMetrics]): Unit = {
    val m = acc.value.asScala.toSeq
    if (m.nonEmpty) {
      val secs = m.map(_.wall_nanos).sum / 1e9
      t.extra("extract.mentions_per_s") =
        if (secs > 0) m.map(_.linked_mentions).sum / secs else 0.0
      val turns = m.map(_.turns).sorted
      val p50 = turns((turns.size - 1) / 2)
      t.extra("extract.partition_skew") =
        if (p50 > 0) turns.last.toDouble / p50 else 0.0
    }
  }
}

/** Closed-vocabulary pipeline over `TranscriptGen.transcripts` with a
  * hot conversation, on its scale configuration: the join-based mention
  * path (`gazetteerFastPathMax = 0`), every stage checkpointed, the
  * node/edge tables materialized, then one resume from the committed
  * root.
  */
final class KgStaged(cores: Int, work: String) extends Workload {
  // 1/40 of the 200k-conversation corpus the pipeline was profiled on:
  // one iteration is 73 jobs: the run with its 8 stage commits and 2
  // table snapshots, then the resume
  private val nConvs = 5000
  private val hotTurns = nConvs / 5
  private val parts = 4 * cores
  import Workload.{entities, gazetteer => gaz}
  private var turns: DataFrame = _
  /** triples of the latest untraced iteration, for the gate */
  private var last: Dataset[Triple] = _

  def prepare(spark: SparkSession, seed: Int, dir: String): Unit = {
    Gen.transcripts(spark, seed, nConvs, 8, hotTurns, 2 * cores)
      .write.mode("overwrite").parquet(s"$dir/turns")
    turns = spark.read.parquet(s"$dir/turns")
    last = null
  }

  private def root(tag: String) = s"$work/ckpt-$tag"
  private def outDir(tag: String) = s"$work/graph-$tag"

  /** the pipeline run plus materialization; on a committed root it
    * only reads the stages back
    */
  private def once(spark: SparkSession, tag: String): KgPipeline.Result = {
    val r = KgPipeline.run(spark, turns, checkpointRoot = Some(root(tag)),
      shufflePartitions = parts, gazetteerFastPathMax = 0)
    KgPipeline.materialize(spark, r, outDir(tag))
    r
  }

  /** checksums of a run's outputs, read back from their committed stages */
  private def sums(triples: DataFrame, nodes: DataFrame, edges: DataFrame)
      : Map[String, Sum] = Map("triples" -> Sum.of(triples),
    "nodes" -> Sum.of(nodes), "edges" -> Sum.of(edges))

  private def sums(r: KgPipeline.Result): Map[String, Sum] =
    sums(r.triples.toDF(), r.nodes.toDF(), r.edges.toDF())

  /** checksums of a resumed run, which must have read every stage back */
  private def resumed(r: KgPipeline.Result): Map[String, Sum] = {
    val redone = r.stats.filterNot(_.skipped).map(_.name)
    if (redone.nonEmpty) throw new IllegalStateException(
      s"resume recomputed ${redone.mkString(",")}")
    sums(r).map { case (k, v) => s"resumed_$k" -> v }
  }

  /** tag of the latest untraced iteration, whose root the traced
    * iterations resume from
    */
  private var committed = ""

  /** the first run, then the resume from its committed root */
  def iterate(spark: SparkSession, tag: String): () => Out = {
    val first = once(spark, tag)
    val t0 = System.nanoTime()
    val again = once(spark, tag)
    val resumeS = (System.nanoTime() - t0) / 1e9
    committed = tag
    () => {
      last = first.triples
      Out(sums(first) ++ resumed(again), resumeS)
    }
  }

  override def cleanup(spark: SparkSession, tag: String): Unit = {
    Workload.delete(spark, root(tag))
    Workload.delete(spark, outDir(tag))
  }

  def traced(spark: SparkSession, t: Tracer): () => Out = {
    import spark.implicits._
    val tag = s"t${t.iter}"
    val acc = spark.sparkContext
      .collectionAccumulator[TurnExtract.PartitionMetrics]("kgbench.extract")
    val turnsP = turns.repartition(parts, turns("conv_id"), turns("turn_idx"))
    val index = EntityLink.buildIndex(entities)
    // every layer output is committed as a stage; the argument is strict,
    // so the layer forces its output under its own group before the
    // commit runs under "ckpt"
    def commit(name: String, inputs: Seq[String])(df: DataFrame): DataFrame =
      t("ckpt")(Checkpoint.stage(spark, root(tag), name, inputs,
        "kgbench")(df)._1)
    def snapshot(nodes: DataFrame, edges: DataFrame): Unit = t("io") {
      ParquetSnapshotFormat.write(spark, nodes, s"${outDir(tag)}/nodes",
        Nil, Seq("canonical_map", "entity_index"))
      ParquetSnapshotFormat.write(spark, edges, s"${outDir(tag)}/edges",
        Seq("pred"), Seq("triples_canonical"))
    }

    commit("entity_index", Seq("entities"))(
      index.map { case (id, v) => (id, v.toSeq) }.toDF("entity_id", "vec"))
    val spans = commit("turn_spans", Seq("turns", "gazetteer"))(t.force(
      "mention",
      MentionDetect.spanCandidates(spark, turnsP, gaz, Vocab.predicates)))
    val raw = commit("triples", Seq("turn_spans", "entity_index"))(t.force(
      "extract", TurnExtract.triples(spark, spans, entities,
        Vocab.minLinkScore, Vocab.predicates, Some(acc),
        prebuiltIndex = Some(index)).toDF()))
    val canonMap = commit("canonical_map", Seq("entity_index"))(t("canon") {
      val m = Canonicalize.canonicalMap(spark, entities)
      // a driver-local map: collect() reads it without a Spark job
      t.rows("canon") += m.collect().length
      m
    })
    val relabeled = commit("triples_canonical",
      Seq("triples", "canonical_map"))(t.force("graph",
      Materialize.relabel(spark, raw.as[Triple], canonMap,
        knownMapSize = Some(entities.size.toLong)).toDF()))
    val nodes = commit("nodes", Seq("canonical_map", "entity_index"))(
      t.force("graph", Materialize.nodes(spark, entities, canonMap).toDF()))
    val edges = commit("edges", Seq("triples_canonical"))(
      t.force("graph", Materialize.edges(spark, relabeled.as[Triple]).toDF()))
    snapshot(nodes, edges)
    Workload.extractMetrics(t, acc)
    t.extra("ckpt.bytes_written") = Workload.bytesUnder(spark, root(tag)).toDouble
    t.extra("io.bytes_written") = Workload.bytesUnder(spark, outDir(tag)).toDouble

    // the resume, as in an untraced iteration, from the root the latest
    // untraced iteration committed (the stages above carry the benchmark's
    // fingerprint, not the pipeline's, so the pipeline would redo them):
    // the pipeline reads every stage back and writes the tables again
    val t0 = System.nanoTime()
    val again = t("ckpt")(once(spark, committed))
    val resumeS = (System.nanoTime() - t0) / 1e9
    () => Out(sums(relabeled, nodes, edges) ++ resumed(again), resumeS)
  }

  override def traceStats(spark: SparkSession): Map[String, Double] = {
    import spark.implicits._
    val table = entities.map(e => (e.entity_id, e.canonical +: e.aliases))
      .toDF("entity_id", "surfaces")
    Map("canon.entities" -> entities.size.toDouble,
      "canon.edges" -> Canonicalize.candidateEdges(spark, table, 0.5).count()
        .toDouble)
  }

  def gate(spark: SparkSession, seed: Int)
      : Seq[(String, Seq[String], String)] = {
    import spark.implicits._
    // 200 seeded conversations plus the hot one
    val r = new scala.util.Random(seed.toLong * 7919 + 17)
    val convs = Seq.fill(200)(f"conv_${r.nextInt(nConvs)}%06d").distinct :+
      "conv_hot"
    val sampleTurns = turns.filter($"conv_id".isin(convs: _*)).as[Turn]
      .collect().toSeq
    val got = last.filter($"conv_id".isin(convs: _*)).collect().toSeq
    val canon = ReferenceOracle.canonicalMap(entities)
    val expected = ReferenceOracle.triples(sampleTurns).map(x => x.copy(
      subj = canon.getOrElse(x.subj, x.subj), obj = canon.getOrElse(x.obj, x.obj)))
    val (p, rc) = ReferenceOracle.precisionRecall(got, expected)
    Seq(("oracle_pr", Seq("triples"),
      if (p >= 0.95 && rc >= 0.95 && expected.nonEmpty) ""
      else f"P/R $p%.4f/$rc%.4f below 0.95 on ${expected.size} oracle triples"))
  }
}

/** The twelve headline queries of `graft.Bench` over a seeded row
  * sample of the sf0.01 fixture tables. One iteration is one pass over
  * all twelve, each forced with `count()` as `graft.Bench` times it.
  * Iterations are compared by row count; the content of each query's
  * output is checked once, against DuckDB.
  */
final class QuerySuite(cores: Int, work: String, fixture: String)
    extends Workload {
  import QuerySuite.headline
  /** module that implements each query; the rest are relational/text */
  val layerOf: Map[String, String] = Map(
    "q_dedup_lsh_pairs" -> "dedup", "q_dedup_jaccard" -> "dedup",
    "q_dedup_jaccard_t07" -> "dedup", "q_ann_brute" -> "similarity",
    "q_ann_lsh_topk" -> "similarity", "q_cluster_kmeans" -> "ml")
    .withDefaultValue("queries")
  /** share of the fixture rows a seed keeps */
  private val fraction = 0.5
  private var sf = ""

  def prepare(spark: SparkSession, seed: Int, dir: String): Unit = {
    sf = s"$dir/sf"
    Gen.sampleTables(spark, seed, fraction, fixture, sf)
  }

  private def query(spark: SparkSession, q: String): DataFrame =
    graft.SparkEntry.queries(q)(spark, sf)

  private def out(rows: Seq[(String, Long)]): () => Out =
    () => Out(rows.map { case (q, n) => q -> Sum(n, 0L) }.toMap)

  def iterate(spark: SparkSession, tag: String): () => Out =
    out(headline.map(q => q -> query(spark, q).count()))

  def traced(spark: SparkSession, t: Tracer): () => Out = out(headline.map {
    q =>
      val layer = layerOf(q)
      val t0 = System.nanoTime()
      val n = t(layer)(query(spark, q).count())
      t.extra(s"queries.${q}_s") = (System.nanoTime() - t0) / 1e9
      t.rows(layer) += n
      q -> n
  })

  override def items(o: Out): Long = o.sums.values.map(_.rows).sum

  /** The warm-up pass of each set-up writes every query's output, and
    * its DuckDB oracle SQL (`oracle_sql.json`), for the comparison run.py
    * makes; every timed pass must count as many rows.
    */
  override def warmUp(spark: SparkSession, tag: String): Unit = {
    headline.foreach(q =>
      query(spark, q).write.mode("overwrite").parquet(s"$work/qout/$q"))
    val json = headline.map(q =>
      s"${Main.str(q)}:${Main.str(graft.SparkEntry.oracleSql(q))}")
      .mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/oracle_sql.json"),
      json.getBytes("UTF-8"))
  }

  override def traceStats(spark: SparkSession): Map[String, Double] = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (cand, ver) = graft.dedup.Dedup.jaccardPairStats(docs, "doc_id",
      "text", graft.queries.DedupQueries.JaccardThreshold)
    Map("dedup.candidates" -> cand.toDouble, "dedup.verified" -> ver.toDouble,
      "dedup.verify_ratio" -> (if (cand > 0) ver.toDouble / cand else 0.0))
  }

  def gate(spark: SparkSession, seed: Int)
      : Seq[(String, Seq[String], String)] = Nil
}

object QuerySuite {
  val headline = Seq(
    "q_agg_pricing", "q_join_broadcast", "q_join_star", "q_window_running",
    "q_threshold_sweep", "q_text_ctfidf", "q_dedup_lsh_pairs",
    "q_dedup_jaccard", "q_dedup_jaccard_t07", "q_ann_brute",
    "q_ann_lsh_topk", "q_cluster_kmeans")
}
