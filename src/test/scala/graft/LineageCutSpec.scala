package graft

import graft.plans.LineageCut
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The pluggable lineage-cut strategy (plans.LineageCut): the iterative
  * operators must produce IDENTICAL results under the durable
  * strategies a cluster run would use — localCheckpoint (default) has
  * no recompute path after executor loss, so connectedComponents /
  * jaccardPairs / k-means expose a `cut` knob instead of hard-coding
  * it.
  */
class LineageCutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def withCheckpointDir[T](f: => T): T = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_dir").toString
    spark.sparkContext.setCheckpointDir(dir)
    try f
    finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  private lazy val docs = {
    import spark.implicits._
    // clusters of near-duplicate token sequences + singletons
    (0 until 40).map { i =>
      val base = s"alpha bravo charlie delta echo_${i / 4}"
      val text = if (i % 4 == 0) base else s"$base foxtrot_$i"
      (f"d$i%02d", text)
    }.toDF("doc_id", "text")
  }

  private lazy val edges = {
    import spark.implicits._
    // two chains + one isolated vertex
    Seq(("a", "b"), ("b", "c"), ("d", "e"), ("e", "f"), ("f", "g"))
      .toDF("src", "dst")
  }
  private lazy val vertices = {
    import spark.implicits._
    Seq("a", "b", "c", "d", "e", "f", "g", "h").toDF("entity_id")
  }

  test("connectedComponents: Reliable (checkpoint dir) and Replicated " +
    "strategies produce the identical component map") {
    def run(cut: LineageCut) =
      graft.canon.Canonicalize
        .connectedComponents(spark, vertices, edges, cut = cut)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val local = run(LineageCut.Local)
    assert(local == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d",
      "e" -> "d", "f" -> "d", "g" -> "d", "h" -> "h"))
    withCheckpointDir { assert(run(LineageCut.Reliable) == local) }
    assert(run(LineageCut.Replicated) == local)
  }

  test("jaccardPairs: Reliable strategy produces the identical pair set " +
    "(and the checkpoint dir actually received data)") {
    def run(cut: LineageCut) =
      graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text", 0.5, cut = cut,
          localMaxDocs = 0)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
    val local = run(LineageCut.Local)
    assert(local.nonEmpty, "fixture produced no pairs")
    withCheckpointDir {
      val reliable = run(LineageCut.Reliable)
      assert(reliable == local)
      // the durable cut must actually have written to the checkpoint
      // dir (guards against a silent fall-through to localCheckpoint)
      val dir = spark.sparkContext.getCheckpointDir.get
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.listStatus(p).nonEmpty, "no reliable checkpoint written")
    }
  }

  test("runOpen under Reliable lineage cut equals the default (the open " +
    "pipeline is the cluster path — no hardcoded localCheckpoint left)") {
    import graft.schema.Triple
    // a vocabulary wide enough (> LocalCanonMaxEntities open names) that
    // canonicalization takes its distributed branch, whose edge table
    // and CC rounds are the frames that go through the cut strategy
    val turns = graft.gen.TranscriptGen.openTranscriptsWide(spark,
      nConvs = 1500, turnsPerConv = 8, nBases = 1200, partitions = 4)
      .toDF().cache()
    def key(t: Triple) = (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)
    def run(cut: LineageCut) = {
      val r = graft.pipeline.KgPipeline.run(spark, turns,
        shufflePartitions = 4,
        openShapePattern = Some(graft.mention.MentionDetect.OpenShapePattern),
        cut = cut)
      assert(r.canonPath.startsWith("distributed"),
        s"canon path was '${r.canonPath}' — fixture too small")
      r.triples.collect().map(key).toSet
    }
    val local = run(LineageCut.Local)
    assert(local.nonEmpty, "fixture produced no triples")
    withCheckpointDir {
      val reliable = run(LineageCut.Reliable)
      assert(reliable == local)
      val dir = spark.sparkContext.getCheckpointDir.get
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.listStatus(p).nonEmpty, "no reliable checkpoint written")
    }
    turns.unpersist()
  }

  test("k-means fit under Reliable equals the default strategy") {
    import spark.implicits._
    val df = (0 until 60)
      .map(i => (i.toLong, Array.tabulate(4)(j =>
        ((i % 3) * 5 + 0.1 * ((i * 7 + j) % 10)).toFloat)))
      .toDF("vec_id", "embedding")
    val a = graft.ml.KMeansCluster
      .fit(df, "vec_id", "embedding", 3, 3).map(_.toSeq).toSeq
    withCheckpointDir {
      val b = graft.ml.KMeansCluster
        .fit(df, "vec_id", "embedding", 3, 3, cut = LineageCut.Reliable)
        .map(_.toSeq).toSeq
      assert(a == b)
    }
  }
}
