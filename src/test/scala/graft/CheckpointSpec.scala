package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.ckpt.Checkpoint
import graft.gen.TranscriptGen
import graft.io.TableIO
import graft.mention.MentionDetect
import graft.pipeline.KgPipeline
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Resumability gate (north rule: "resumable from per-partition
  * checkpoints with lineage + metrics written alongside each commit";
  * SURVEY.md §5.2.5).
  */
/** JVM-wide single-shot failure flag + attempt counter for the
  * task-retry drill (local mode: executor shares the JVM, so these are
  * visible in the task; a Spark accumulator would NOT work here — the
  * failed attempt's updates are discarded by design).
  */
object FailOnce {
  private val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  val attempts = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  def reset(): Unit = { armed.set(true); attempts.clear() }
  def shouldFail(): Boolean = armed.compareAndSet(true, false)
  def record(pid: Int): Unit =
    attempts.merge(pid, 1, (a, b) => a + b)
}

class CheckpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("pipeline resumes: completed stages are skipped, output identical") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ckpt").toString
    val turns = TranscriptGen.transcripts(spark, nConvs = 30,
      turnsPerConv = 6, hotTurns = 0, partitions = 2).toDF()

    // force the staged (large-gazetteer) path so multi-stage resume is
    // exercised; the fast path has fewer stages but the same mechanism
    val first = KgPipeline.run(spark, turns, checkpointRoot = Some(root),
      shufflePartitions = 2, gazetteerFastPathMax = 0)
    val firstTriples = first.triples.collect().toSet
    assert(first.stats.nonEmpty && first.stats.forall(!_.skipped))

    // simulate a crash after the pipeline committed everything except the
    // last stage: delete the final output, keep the earlier commits
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "edges"), true)
    def committed(stage: String) = Seq("_SUCCESS", "_manifest.json")
      .forall(f => fs.exists(new org.apache.hadoop.fs.Path(s"$root/$stage", f)))
    assert(!committed("edges"))
    assert(committed("turn_spans"))

    val second = KgPipeline.run(spark, turns, checkpointRoot = Some(root),
      shufflePartitions = 2, gazetteerFastPathMax = 0)
    val byName = second.stats.map(s => s.name -> s.skipped).toMap
    assert(byName("entity_index"),
      "persisted candidate index should be loaded, not rebuilt")
    assert(byName("turn_spans"), "turn_spans should be resumed, not rerun")
    assert(byName("triples"), "triples should be resumed, not rerun")
    assert(!byName("edges"), "edges must be recomputed")
    assert(second.triples.collect().toSet == firstTriples)
  }

  test("the persisted entity index is genuinely LOADED on resume: " +
    "tampering the committed table changes re-extracted triples") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_ckpt_idx").toString
    val turns = TranscriptGen.transcripts(spark, nConvs = 40,
      turnsPerConv = 6, hotTurns = 0, partitions = 2).toDF()
    val first = KgPipeline.run(spark, turns, checkpointRoot = Some(root),
      shufflePartitions = 2, gazetteerFastPathMax = 0)
    val firstTriples = first.triples.collect().toSet
    // victim: a linked subject that is its own singleton canonical
    // cluster, so relabeling can never re-introduce its id
    val canon = graft.oracle.ReferenceOracle.canonicalMap(
      graft.gen.Vocab.entities)
    val victim = firstTriples.map(_.subj)
      .find(s => canon.get(s).contains(s) &&
        canon.count(_._2 == s) == 1)
      .getOrElse(fail("no singleton-cluster subject in first triples"))

    // tamper: drop the victim's row from the COMMITTED index table
    // (keep the manifest so the fingerprint still matches)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idxDir = new org.apache.hadoop.fs.Path(root, "entity_index")
    val kept = spark.read.parquet(idxDir.toString)
      .filter(col("entity_id") =!= victim)
      .collect().map(r => (r.getString(0), r.getSeq[Float](1)))
    val tmpT = Files.createTempDirectory("graft_idx_tamper").toString
    kept.toSeq.toDF("entity_id", "vec")
      .coalesce(1).write.mode("overwrite").parquet(tmpT)
    fs.listStatus(idxDir).foreach { st =>
      if (!st.getPath.getName.startsWith("_")) fs.delete(st.getPath, false)
    }
    fs.listStatus(new org.apache.hadoop.fs.Path(tmpT)).foreach { st =>
      if (st.getPath.getName.startsWith("part-"))
        fs.rename(st.getPath,
          new org.apache.hadoop.fs.Path(idxDir, st.getPath.getName))
    }
    // drop downstream commits so extraction re-runs FROM the loaded index
    Seq("triples", "triples_canonical", "edges").foreach(s =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s), true))

    val second = KgPipeline.run(spark, turns, checkpointRoot = Some(root),
      shufflePartitions = 2, gazetteerFastPathMax = 0)
    val byName = second.stats.map(s => s.name -> s.skipped).toMap
    assert(byName("entity_index"), "tampered index must still be resumed")
    val secondTriples = second.triples.collect().toSet
    assert(!secondTriples.exists(t => t.subj == victim || t.obj == victim),
      s"victim $victim still linked — committed index not actually used")
    assert(secondTriples != firstTriples)
  }

  test("re-pointing the same checkpoint root at a DIFFERENT file-based " +
    "corpus invalidates committed stages (input-files data signal)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ckpt_data").toString
    val dirA = Files.createTempDirectory("graft_turns_a").toString
    val dirB = Files.createTempDirectory("graft_turns_b").toString
    TranscriptGen.transcripts(spark, nConvs = 10, turnsPerConv = 4,
      hotTurns = 0, partitions = 2).write.mode("overwrite").parquet(dirA)
    TranscriptGen.transcripts(spark, nConvs = 20, turnsPerConv = 4,
      hotTurns = 0, partitions = 2).write.mode("overwrite").parquet(dirB)
    KgPipeline.run(spark, spark.read.parquet(dirA),
      checkpointRoot = Some(root), shufflePartitions = 2,
      gazetteerFastPathMax = 0).triples.count()
    // same schema, same parameters, different data files -> recompute
    val second = KgPipeline.run(spark, spark.read.parquet(dirB),
      checkpointRoot = Some(root), shufflePartitions = 2,
      gazetteerFastPathMax = 0)
    assert(second.stats.forall(!_.skipped),
      s"stale reuse: ${second.stats.filter(_.skipped).map(_.name)}")
  }

  test("manifest carries lineage and per-partition metrics") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ckpt2").toString
    val turns = TranscriptGen.transcripts(spark, nConvs = 10,
      turnsPerConv = 4, hotTurns = 0, partitions = 2).toDF()
    val result = KgPipeline.run(spark, turns, checkpointRoot = Some(root),
      shufflePartitions = 2, gazetteerFastPathMax = 0)
    result.triples.count()
    val manifest = Files.readString(
      java.nio.file.Paths.get(root, "triples", "_manifest.json"))
    assert(manifest.contains(""""stage":"triples""""))
    assert(manifest.contains(""""lineage":["turn_spans","entity_index"]"""))
    assert(manifest.contains(""""per_partition":["""))
    assert(manifest.contains(""""rows_per_sec":"""))
    // in-task extraction metrics: committed alongside and consistent
    val em = result.extractionMetrics()
    assert(em.nonEmpty)
    assert(em.map(_.triples).sum ==
      result.triples.count())
    assert(em.forall(m => m.wall_nanos > 0))
    val emJson = Files.readString(
      java.nio.file.Paths.get(root, "extraction_metrics.json"))
    assert(emJson.contains(""""mentions_per_sec":"""))
    assert(emJson.contains(""""triples":"""))
  }

  test("interrupted commit leaves no half-visible stage (tmp then rename)") {
    val root = Files.createTempDirectory("graft_ckpt3").toString
    val df = spark.range(10).toDF("id")
    // a compute that writes, then we check no .tmp dir survives a commit
    val (out, st) = Checkpoint.stage(spark, root, "s1", Seq("in"))(df)
    assert(out.count() == 10 && !st.skipped)
    assert(!Files.exists(java.nio.file.Paths.get(root, "s1.tmp")))
    // second call resumes
    val (_, st2) = Checkpoint.stage(spark, root, "s1", Seq("in"))(df)
    assert(st2.skipped)
  }

  test("fingerprint mismatch forces recompute instead of stale reuse") {
    val root = Files.createTempDirectory("graft_ckpt4").toString
    val (_, st1) = Checkpoint.stage(spark, root, "s", Seq("in"), "fpA")(
      spark.range(5).toDF("id"))
    assert(!st1.skipped)
    // same fingerprint -> resumed
    val (_, st2) = Checkpoint.stage(spark, root, "s", Seq("in"), "fpA")(
      spark.range(5).toDF("id"))
    assert(st2.skipped)
    // changed inputs/params -> recomputed, new data visible
    val (out3, st3) = Checkpoint.stage(spark, root, "s", Seq("in"), "fpB")(
      spark.range(9).toDF("id"))
    assert(!st3.skipped && out3.count() == 9)
    // manifest now records the new fingerprint (JSON-escaped round-trip)
    val (_, st4) = Checkpoint.stage(spark, root, "s", Seq("in"), "fpB")(
      spark.range(9).toDF("id"))
    assert(st4.skipped)
  }

  test("per-partition recovery inside a stage: an injected task failure " +
    "is retried alone; finished partitions are not recomputed") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_ckpt6").toString
    FailOnce.reset()
    import spark.implicits._
    val ds = spark.range(0, 40, 1, 4).toDF("id").as[Long]
    val mapped = ds.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      FailOnce.record(pid)
      if (pid == 2 && FailOnce.shouldFail())
        throw new RuntimeException("injected task failure")
      it
    }
    // the stage commits despite the mid-stage task death (local[4, 2]
    // retries the task; parquet task-commit discards the dead attempt)
    val (out, st) = Checkpoint.stage(spark, root, "flaky", Seq("in"))(
      mapped.toDF())
    assert(!st.skipped && out.count() == 40)
    val perPartition = FailOnce.attempts.asScala.toMap
    assert(perPartition(2) == 2, s"failed task not retried: $perPartition")
    assert(Seq(0, 1, 3).forall(p => perPartition(p) == 1),
      s"finished partitions recomputed: $perPartition")
  }

  test("changed pipeline parameters invalidate committed stages") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ckpt5").toString
    val turns = TranscriptGen.transcripts(spark, nConvs = 10,
      turnsPerConv = 4, hotTurns = 0, partitions = 2).toDF()
    KgPipeline.run(spark, turns, checkpointRoot = Some(root),
      shufflePartitions = 2, gazetteerFastPathMax = 0).triples.count()
    // a different minLinkScore must NOT reuse the old triples commit
    val second = KgPipeline.run(spark, turns, checkpointRoot = Some(root),
      shufflePartitions = 2, gazetteerFastPathMax = 0,
      minLinkScore = 0.99)
    assert(second.stats.forall(!_.skipped),
      s"stale reuse: ${second.stats.filter(_.skipped).map(_.name)}")
  }

  private val declared = Seq("entity_index", "turn_spans", "triples",
    "canonical_map", "triples_canonical", "nodes", "edges")

  test("an open root is reused by no run with another shape pattern or " +
    "none") {
    val root = Files.createTempDirectory("graft_ckpt_open_fp").toString
    val turns = TranscriptGen.transcripts(spark, nConvs = 10,
      turnsPerConv = 4, hotTurns = 0, partitions = 2).toDF()
      .unionByName(TranscriptGen.openTranscripts(spark, nConvs = 10,
        turnsPerConv = 4, nBases = 4, partitions = 2).toDF())
    def run(pattern: Option[String]) = KgPipeline.run(spark, turns,
      checkpointRoot = Some(root), shufflePartitions = 2,
      gazetteerFastPathMax = 0, openShapePattern = pattern)
    val first = run(Some(MentionDetect.OpenShapePattern))
    assert(first.stats.map(_.name) == declared)
    assert(first.stats.forall(!_.skipped))
    for (pattern <- Seq(Some("[0-9]{2}"), None)) {
      val again = run(pattern)
      assert(again.stats.map(_.name) == declared)
      assert(again.stats.forall(!_.skipped),
        s"$pattern: stale reuse of ${again.stats.filter(_.skipped).map(_.name)}")
    }
  }

  test("an open run resumes: every stage and the extraction metrics " +
    "commit, a rerun schedules no job and returns the same tables, and " +
    "every edge endpoint is a node") {
    val root = Files.createTempDirectory("graft_ckpt_open").toString
    // wide enough (> LocalCanonMaxEntities open names) that the map is
    // built by the distributed canonicalization
    val turns = TranscriptGen.openTranscriptsWide(spark, nConvs = 1500,
      turnsPerConv = 8, nBases = 1200, partitions = 4).toDF().cache()
    def run() = KgPipeline.run(spark, turns, checkpointRoot = Some(root),
      shufflePartitions = 4, gazetteerFastPathMax = 0,
      openShapePattern = Some(MentionDetect.OpenShapePattern))
    def tables(r: KgPipeline.Result) = (r.triples.collect().toSet,
      r.canonicalMap.collect().map(x => x.getString(0) -> x.getString(1)).toMap,
      r.nodes.collect().map(n => (n.entity_id, n.canonical,
        n.surface_forms.toSeq)).toSet,
      r.edges.collect().toSet)
    val first = run()
    assert(first.canonPath.startsWith("distributed"),
      s"canon path was '${first.canonPath}' — fixture too small")
    assert(first.stats.map(_.name) == declared)
    assert(first.stats.forall(!_.skipped))
    assert(Files.exists(Paths.get(root, "extraction_metrics.json")))
    val firstTables = tables(first)

    val (again, jobs) = JobCount(spark)(run())
    assert(jobs == 0, s"resume scheduled $jobs jobs")
    assert(again.stats.forall(_.skipped))
    assert(again.canonPath == "resumed")
    assert(tables(again) == firstTables)

    // one node per canonical id, open ones included
    val (_, canon, nodes, _) = firstTables
    assert(nodes.map(_._1) == canon.values.toSet)
    val closed = KgPipeline.run(spark, turns, shufflePartitions = 4)
    for ((name, r) <- Seq("open" -> again, "closed" -> closed)) {
      val ids = r.nodes.collect().map(_.entity_id).toSet
      val ends = r.edges.collect().flatMap(e => Seq(e.src, e.dst)).toSet
      assert(ends.nonEmpty, s"$name: no edges")
      assert(ends.subsetOf(ids), s"$name: edge endpoints without a node: " +
        ends.diff(ids).take(5))
    }
    turns.unpersist()
  }

  private val mapper = new ObjectMapper()
  private def manifestPath(root: String, stage: String) =
    Paths.get(root, stage, "_manifest.json")
  private def manifest(root: String, stage: String): ObjectNode =
    mapper.readTree(Files.readAllBytes(manifestPath(root, stage)))
      .asInstanceOf[ObjectNode]

  test("a stage commit schedules only its parquet write's jobs; a resume " +
    "schedules none") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_ckpt_jobs").toString
    // a shuffle in the plan, so the write is more than one job
    val df = spark.range(0, 1000, 1, 4).toDF("id")
      .groupBy((col("id") % 7).as("k")).count()
    val (_, bare) = JobCount(spark)(df.write.parquet(s"$root/bare"))
    val ((_, st), commit) = JobCount(spark)(
      Checkpoint.stage(spark, root, "s", Seq("in"), "fp")(df))
    assert(!st.skipped && st.rows == 7)
    assert(bare > 0 && commit == bare,
      s"commit scheduled $commit jobs, the bare write $bare")
    val ((out, st2), resume) = JobCount(spark)(
      Checkpoint.stage(spark, root, "s", Seq("in"), "fp")(
        fail("a resume must not recompute")))
    assert(st2.skipped)
    assert(resume == 0, s"resume scheduled $resume jobs")
    assert(out.count() == 7)
  }

  test("TableIO.write schedules only its parquet write's jobs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tableio_jobs").toString
    val df = Seq(("a", "uses", "b"), ("b", "calls", "c"), ("c", "uses", "d"))
      .toDF("src", "pred", "dst").repartition(2)
    val (_, bare) = JobCount(spark)(
      df.write.partitionBy("pred").parquet(s"$dir/bare"))
    val (v, write) = JobCount(spark)(
      TableIO.write(spark, df, s"$dir/t", Seq("pred")))
    assert(v == 1)
    assert(bare > 0 && write == bare,
      s"TableIO.write scheduled $write jobs, the bare write $bare")
  }

  test("manifest rows, per_partition and schema agree with the committed " +
    "parquet for every pipeline stage") {
    import spark.implicits._
    val turns = TranscriptGen.transcripts(spark, nConvs = 10,
      turnsPerConv = 4, hotTurns = 0, partitions = 2).toDF()
    // the span-group plan (gazetteerFastPathMax = 0) and the per-row
    // fast path (the default cutoff)
    val roots = Seq(0, KgPipeline.GazetteerFastPathMax).map { fastMax =>
      val root = Files.createTempDirectory("graft_ckpt_meta").toString
      val result = KgPipeline.run(spark, turns, checkpointRoot = Some(root),
        shufflePartitions = 2, gazetteerFastPathMax = fastMax)
      assert(result.stats.map(_.name).contains("entity_index"))
      result.stats.foreach { st =>
        val m = manifest(root, st.name)
        val out = spark.read.parquet(s"$root/${st.name}")
        val pp = m.get("per_partition").elements.asScala.toSeq
        val tasks = pp.map(_.get("partition").asInt)
        assert(tasks == tasks.distinct.sorted, s"${st.name}: $tasks")
        val n = out.count()
        assert(m.get("rows").asLong == n && st.rows == n &&
          pp.map(_.get("rows").asLong).sum == n, st.name)
        assert(DataType.fromJson(m.get("schema").toString) == out.schema,
          st.name)
      }
      assert(DataType.fromJson(manifest(root, "entity_index").get("schema")
        .toString) == StructType(Seq(StructField("entity_id", StringType),
          StructField("vec", ArrayType(FloatType)))))
      root
    }
    // both extraction plans commit the same triples schema
    val Seq(staged, fast) = roots.map(r =>
      DataType.fromJson(manifest(r, "triples").get("schema").toString))
    assert(fast == staged, s"fast path $fast, span-group path $staged")
  }

  test("the recorded schema and fingerprint survive JSON escaping") {
    // a quote, a backslash and a non-BMP character
    val name = "q\"b\\s\uD83D\uDE00"
    val root = Files.createTempDirectory("graft_ckpt_esc").toString
    val df = spark.range(3).toDF(name)
    val (_, st) = Checkpoint.stage(spark, root, "s", Seq(name), name)(df)
    assert(!st.skipped)
    assert(DataType.fromJson(manifest(root, "s").get("schema").toString) ==
      spark.read.parquet(s"$root/s").schema)
    val (out, st2) = Checkpoint.stage(spark, root, "s", Seq(name), name)(
      fail("a resume must not recompute"))
    assert(st2.skipped)
    assert(out.columns.toSeq == Seq(name) && out.count() == 3)
  }

  test("a manifest without a recorded schema gets its stage recomputed") {
    val root = Files.createTempDirectory("graft_ckpt_noschema").toString
    Checkpoint.stage(spark, root, "s", Seq("in"), "fp")(
      spark.range(5).toDF("id"))
    val m = manifest(root, "s")
    m.remove("schema")
    Files.write(manifestPath(root, "s"), mapper.writeValueAsBytes(m))
    val (out, st) = Checkpoint.stage(spark, root, "s", Seq("in"), "fp")(
      spark.range(4).toDF("id"))
    assert(!st.skipped && out.count() == 4)
    assert(manifest(root, "s").get("schema").isObject)
    val (_, st2) = Checkpoint.stage(spark, root, "s", Seq("in"), "fp")(
      fail("a resume must not recompute"))
    assert(st2.skipped)
  }
}
