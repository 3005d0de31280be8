package graft

import graft.canon.Canonicalize
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components convergence contracts (VERDICT r4 tasks #2/#3):
  *
  *   - the pointer-jumping loop must FAIL LOUDLY when it hits its round
  *     cap — a silently partial label set is a WRONG canonical map
  *     (open corpus-derived vocabularies can chain near-duplicate
  *     spellings to arbitrary diameter);
  *   - it must produce the local union-find map and converge in
  *     O(log n) rounds on exactly those graphs.
  */
class CanonComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def chain(n: Int): (Seq[String], Seq[(String, String)]) = {
    val ids = (0 until n).map(i => f"c$i%04d")
    (ids, ids.sliding(2).map(p => (p(0), p(1))).toSeq)
  }

  private def toDf(ids: Seq[String], edges: Seq[(String, String)]) = {
    import spark.implicits._
    (ids.toDF("entity_id"), edges.toDF("src", "dst"))
  }

  test("pointer-jumping CC throws on a chain longer than its round cap " +
    "instead of returning silently partial labels") {
    val (ids, es) = chain(12)
    val (v, e) = toDf(ids, es)
    // 2 rounds cannot carry c0000's label down an 11-edge chain
    val ex = intercept[IllegalStateException] {
      Canonicalize.connectedComponents(spark, v, e, maxIter = 2)
    }
    assert(ex.getMessage.contains("did not converge"))
    // the same graph under a sufficient cap still converges exactly
    val ok = Canonicalize.connectedComponents(spark, v, e, maxIter = 15)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ok == ids.map(_ -> ids.head).toMap)
  }

  test("pointer-jumping CC solves a length-64 chain in <= ceil(log2 n) " +
    "+ 2 rounds, where plain label propagation would need 63") {
    val (ids, es) = chain(64)
    val (v, e) = toDf(ids, es)
    val (labels, rounds) = Canonicalize
      .connectedComponentsWithRounds(spark, v, e)
    val got = labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == ids.map(_ -> ids.head).toMap)
    val bound = math.ceil(math.log(64) / math.log(2)).toInt + 2
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
  }

  test("pointer-jumping CC takes every round's changed-label count from " +
    "its cut: no fallback count job on a length-64 chain") {
    val (ids, es) = chain(64)
    val (v, e) = toDf(ids, es)
    // without AQE a count job keeps its action's call site (AQE submits
    // every stage from its own thread, so the site reads CompletableFuture)
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    val ((labels, rounds), sites) =
      try JobCount.callSites(spark)(
        Canonicalize.connectedComponentsWithRounds(spark, v, e))
      finally spark.conf.set(aqe, prev)
    assert(rounds > 1)
    assert(sites.count(_.startsWith("localCheckpoint at ")) >= rounds)
    assert(!sites.exists(_.startsWith("count at ")),
      s"CC scheduled a fallback count job: ${sites.mkString(", ")}")
    assert(labels.collect().forall(_.getString(1) == ids.head))
  }

  test("pointer-jumping CC == local union-find on seeded random graphs " +
    "(including isolated vertices)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 10
      val ids = (0 until n).map(i => f"r$trial%d_$i%03d")
      val edges = (0 until n).map { _ =>
        (ids(rnd.nextInt(n)), ids(rnd.nextInt(n)))
      }.filter { case (a, b) => a != b }
      val (v, e) = toDf(ids, edges)
      val expected = Canonicalize.localUnionFind(ids, edges)
      val got = Canonicalize.connectedComponents(spark, v, e)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == expected, s"trial $trial: CC != local union-find")
    }
  }

  test("canonicalMapDf accepts a localCheckpoint()ed entity table on " +
    "the distributed path (regression: Spark union-constraint rewrite " +
    "crashed on LogicalRDD origin constraints)") {
    import spark.implicits._
    // pre-r5 the CC loop's labels.unionByName(neighborMin) threw
    // NoSuchElementException (AttributeMap key not found) at OPTIMIZER
    // time when the entity table's lineage was a checkpointed
    // LogicalRDD (exactly what a resumable pipeline hands in):
    // LogicalRDD origin constraints can reference pruned attributes,
    // and Spark's Union constraint rewrite looks every attribute up
    // without a contains-check (reproduced at 16k entities on the
    // kg_open_large vocabulary; whether the stale constraint appears
    // depends on the concrete lineage). The loop now builds no Union
    // node at all — aggregate + left join + least — so the failure
    // mode is structurally impossible; this pins the
    // checkpointed-input contract.
    val surf = Seq(
      ("e1", Seq("streamer")), ("e2", Seq("streamers")),
      ("e3", Seq("unrelatedword")))
      .toDF("entity_id", "surfaces")
      .filter(col("entity_id").isNotNull)
      .localCheckpoint()
    val ids = surf.select(col("entity_id"))
    val edges = Canonicalize.candidateEdges(spark, surf, 0.5)
      .localCheckpoint()
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expected = Map("e1" -> "e1", "e2" -> "e1", "e3" -> "e3")
    assert(labelsOf(
      Canonicalize.connectedComponents(spark, ids, edges)) == expected)
  }

  test("pointer-jumping CC under Reliable lineage cut equals the default") {
    val (ids, es) = chain(20)
    val (v, e) = toDf(ids, es)
    val local = Canonicalize.connectedComponents(spark, v, e)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ccfast_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = Canonicalize.connectedComponents(spark, v, e,
          cut = graft.plans.LineageCut.Reliable)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(reliable == local)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  test("canonicalMapDf local path fails fast on duplicate entity_id " +
    "(VERDICT r5 #5: silent last-write-wins diverged from the " +
    "distributed path's duplicate rows)") {
    import spark.implicits._
    val dup = Seq(
      ("e1", Seq("streamer")), ("e2", Seq("unrelatedword")),
      ("e1", Seq("streamers")))
      .toDF("entity_id", "surfaces")
    val ex = intercept[IllegalArgumentException] {
      Canonicalize.canonicalMapDf(spark, dup, 0.5)
    }
    assert(ex.getMessage.contains("duplicate entity_id"))
    assert(ex.getMessage.contains("e1"))
    // unique ids keep working on the same shape
    val ok = Canonicalize.canonicalMapDf(spark,
        Seq(("e1", Seq("streamer")), ("e2", Seq("streamers")))
          .toDF("entity_id", "surfaces"), 0.5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ok == Map("e1" -> "e1", "e2" -> "e1"))
  }

  test("canonicalMap(Seq) rejects duplicate and null entity_id on both " +
    "branches with canonicalMapDf's IllegalArgumentException") {
    import graft.schema.Entity
    val dup = Seq(Entity("e1", "streamer", Nil),
      Entity("e2", "unrelatedword", Nil), Entity("e1", "streamers", Nil))
    val nul = Seq(Entity(null, "streamer", Nil),
      Entity("e2", "unrelatedword", Nil), Entity(null, "streamers", Nil))
    // local branch (default cutoff) and distributed branch (cutoff 0)
    for (localMax <- Seq(Canonicalize.LocalCanonMaxEntities, 0)) {
      val d = intercept[IllegalArgumentException] {
        Canonicalize.canonicalMap(spark, dup, 0.5, localMax)
      }
      assert(d.getMessage.contains("duplicate entity_id"))
      assert(d.getMessage.contains("e1"))
      // a duplicated null id used to surface as an NPE from the sort of
      // the duplicate list
      val n = intercept[IllegalArgumentException] {
        Canonicalize.canonicalMap(spark, nul, 0.5, localMax)
      }
      assert(n.getMessage.contains("2 null entity_id"))
      val one = intercept[IllegalArgumentException] {
        Canonicalize.canonicalMap(spark, nul.take(2), 0.5, localMax)
      }
      assert(one.getMessage.contains("1 null entity_id"))
    }
  }

  test("canonicalMap(Seq) on the closed vocabulary schedules 0 Spark " +
    "jobs once warm") {
    val entities = graft.gen.Vocab.entities
    assert(entities.size <= Canonicalize.LocalCanonMaxEntities)
    // the first call pays one-time class loading and codegen
    Canonicalize.canonicalMap(spark, entities).collect()
    val (rows, jobs) = JobCount(spark)(
      Canonicalize.canonicalMap(spark, entities).collect())
    assert(jobs == 0, s"closed canonicalization scheduled $jobs jobs")
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      entities.map(_.entity_id).sorted)
  }

  test("canonicalMapDf local path rejects null entity_id, single or " +
    "duplicated, with an IllegalArgumentException") {
    import spark.implicits._
    val rows = Seq[(String, Seq[String])](
      (null, Seq("streamer")), ("e2", Seq("unrelatedword")),
      (null, Seq("streamers")))
    for ((input, n) <- Seq(rows -> 2, rows.take(2) -> 1)) {
      val ex = intercept[IllegalArgumentException] {
        Canonicalize.canonicalMapDf(spark,
          input.toDF("entity_id", "surfaces"), 0.5)
      }
      assert(ex.getMessage.contains(s"$n null entity_id"))
    }
  }
}
