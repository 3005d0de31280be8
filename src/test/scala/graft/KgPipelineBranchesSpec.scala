package graft

import graft.gen.{TranscriptGen, Vocab}
import graft.mention.MentionDetect
import graft.pipeline.KgPipeline
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The contract of the checkpointed pipeline's concurrent stage
  * branches: their jobs are the caller's, a resume schedules nothing
  * but the snapshot writes, stats keep the declared order, and a failed
  * branch surfaces unwrapped once every branch has finished.
  */
class KgPipelineBranchesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val declared = Seq("entity_index", "turn_spans", "triples",
    "canonical_map", "triples_canonical", "nodes", "edges")

  private lazy val turns = TranscriptGen.transcripts(spark, nConvs = 30,
    turnsPerConv = 6, hotTurns = 20, partitions = 2).toDF()

  /** the staged path, every stage checkpointed under `root` */
  private def run(root: String, entities: Seq[graft.schema.Entity] =
      Vocab.entities): KgPipeline.Result =
    KgPipeline.run(spark, turns, entities, checkpointRoot = Some(root),
      shufflePartitions = 2, gazetteerFastPathMax = 0)

  /** the block's value, the jobs `JobCount` sees in the caller's group,
    * and every job any thread started during the block
    */
  private def counted[T](f: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val all = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        all.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val (r, mine) = JobCount(spark)(f)
      ListenerBusDrain(sc)
      (r, mine, all.get)
    } finally sc.removeSparkListener(listener)
  }

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString

  test("every job of run and materialize carries the caller's job group; " +
    "stats are in declared order") {
    val root = tmp("graft_branches")
    val (result, runJobs, runAll) = counted(run(root))
    assert(runJobs > 0 && runJobs == runAll,
      s"run: $runJobs jobs in the caller's group of $runAll started")
    assert(result.stats.map(_.name) == declared)
    assert(result.stats.forall(!_.skipped))
    val (_, matJobs, matAll) = counted(
      KgPipeline.materialize(spark, result, tmp("graft_branches_out")))
    assert(matJobs > 0 && matJobs == matAll,
      s"materialize: $matJobs jobs in the caller's group of $matAll started")
  }

  test("a full resume schedules no job in run and only the two snapshot " +
    "writes' jobs in materialize") {
    val root = tmp("graft_branches_resume")
    val first = run(root)
    KgPipeline.materialize(spark, first, tmp("graft_branches_first"))
    val firstTriples = first.triples.collect().toSet

    val (again, runJobs, runAll) = counted(run(root))
    assert(runJobs == 0 && runAll == 0,
      s"resume scheduled $runAll jobs ($runJobs in the caller's group)")
    assert(again.stats.map(_.name) == declared)
    assert(again.stats.forall(_.skipped))

    val ((nv, ev), matJobs, matAll) = counted(
      KgPipeline.materialize(spark, again, tmp("graft_branches_again")))
    assert(nv == 1 && ev == 1)
    val bare = tmp("graft_branches_bare")
    val (_, nodeWrite) = JobCount(spark)(
      again.nodes.toDF().write.parquet(s"$bare/nodes"))
    val (_, edgeWrite) = JobCount(spark)(
      again.edges.toDF().write.partitionBy("pred").parquet(s"$bare/edges"))
    assert(nodeWrite > 0 && edgeWrite > 0)
    assert(matJobs == nodeWrite + edgeWrite && matAll == matJobs,
      s"materialize scheduled $matJobs jobs ($matAll started), the bare " +
        s"writes $nodeWrite + $edgeWrite")
    assert(again.triples.collect().toSet == firstTriples)
  }

  test("a duplicated entity id makes run throw canonicalMap's " +
    "IllegalArgumentException, with no job left running") {
    val dup = Vocab.entities :+ Vocab.entities.head
    val root = tmp("graft_branches_dup")
    val e = intercept[IllegalArgumentException](run(root, dup))
    assert(e.getMessage.contains(
      "canonicalMap: duplicate entity_id values in the input"), e.getMessage)
    assert(e.getMessage.contains(Vocab.entities.head.entity_id))
    ListenerBusDrain(spark.sparkContext)
    val active = spark.sparkContext.statusTracker.getActiveJobIds()
    assert(active.isEmpty, s"jobs still running: ${active.mkString(",")}")
    // the ids are checked before any stage runs: nothing was committed
    val left = new java.io.File(root).list().toSeq
    assert(left.intersect(declared).isEmpty, s"stages committed: $left")
    // open mode checks the same closed ids on the driver, before any job
    val (eOpen, openJobs) = JobCount(spark)(intercept[IllegalArgumentException](
      KgPipeline.run(spark, turns, dup, shufflePartitions = 2,
        openShapePattern = Some(MentionDetect.OpenShapePattern))))
    assert(openJobs == 0, s"open run scheduled $openJobs jobs before it threw")
    assert(eOpen.getMessage == e.getMessage)
  }

  test("runOpen is run in open mode with the default shape pattern") {
    val mixed = turns.unionByName(TranscriptGen.openTranscripts(spark,
      nConvs = 20, turnsPerConv = 6, nBases = 4, partitions = 2).toDF())
    val viaRunOpen = KgPipeline.runOpen(spark, mixed, shufflePartitions = 2)
    val viaRun = KgPipeline.run(spark, mixed, shufflePartitions = 2,
      openShapePattern = Some(MentionDetect.OpenShapePattern))
    assert(viaRunOpen.canonPath == viaRun.canonPath)
    val triples = viaRunOpen.triples.collect().toSet
    assert(triples.exists(_.subj.startsWith(MentionDetect.OpenPrefix)),
      "no open triple in fixture")
    assert(triples == viaRun.triples.collect().toSet)
  }
}
