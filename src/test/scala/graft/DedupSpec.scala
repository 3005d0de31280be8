package graft

import graft.dedup.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-hardening contracts for the dedup operators:
  *   - prefix-filtered jaccardPairs == naive all-postings join (the
  *     df-ordered prefix join is an exact optimization, not an
  *     approximation);
  *   - the local, inline and staged jaccard plans return identical
  *     rows and schemas on every differential input;
  *   - LSH degenerate-bucket salting preserves the candidate-pair set
  *     while bounding per-join-key group sizes;
  *   - minhashSignatures keeps short/empty docs as NULL-signature rows
  *     (DuckDB list_aggregate-over-empty parity).
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** mixed corpus: clusters of near-dups sharing a ubiquitous
    * boilerplate prefix (high-df shingles), plus unique docs and a
    * couple of too-short docs
    */
  private def corpus(): DataFrame = {
    import spark.implicits._
    val boiler = "terms of service apply to all users of this site"
    val rows =
      (0 until 40).map(i => (i.toLong, s"$boiler cluster alpha doc body $i")) ++
      (40 until 80).map(i => (i.toLong, s"$boiler cluster beta text body $i")) ++
      (80 until 100).map(i =>
        (i.toLong, s"unique document $i with words w${i}a w${i}b w${i}c")) ++
      Seq((100L, "short"), (101L, ""))
    rows.toDF("doc_id", "text")
  }

  private def naiveJaccard(df: DataFrame, threshold: Double): Set[(Long, Long, Long)] = {
    // all-postings inverted-index join (the pre-prefix-filter
    // implementation) as the exactness oracle
    val sh = df.select(col("doc_id"),
        Dedup.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val p = sh.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("g"))
    p.alias("a").join(p.alias("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("src"), col("b.doc_id").as("dst"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common").cast("double") /
        (col("na") + col("nb") - col("common")) >= threshold)
      .select("src", "dst", "common")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("jaccardPairs prefix filter is exact vs all-postings join " +
    "(several thresholds, high-df boilerplate shingles present)") {
    val df = corpus()
    for (t <- Seq(0.1, 0.3, 0.5, 0.8)) {
      val fast = Dedup.jaccardPairs(df, "doc_id", "text", t,
          localMaxDocs = 0)
        .select("src", "dst", "common")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val naive = naiveJaccard(df, t)
      assert(fast == naive, s"threshold=$t")
      assert(fast.nonEmpty || t > 0.5, s"threshold=$t produced no pairs")
    }
  }

  test("inline-broadcast jaccard plan == staged plan (forced via knobs): " +
    "identical full rows incl. common and jaccard doubles") {
    val df = corpus()
    val sets = df.select(col("doc_id"), Dedup.shingles(col("text")).as("s"))
    def rows(d: DataFrame): Set[(Long, Long, Long, Double)] =
      d.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    for (t <- Seq(0.1, 0.5, 0.8)) {
      val inline = Dedup.jaccardPairsOnSets(sets, "doc_id", col("s"), t,
        localMaxDocs = 0)
      val staged = Dedup.jaccardPairsOnSets(sets, "doc_id", col("s"), t,
        inlineMaxPostings = 0, inlineMaxDocs = 0, localMaxDocs = 0)
      // the dispatch actually took different physical paths
      assert(!inline.queryExecution.executedPlan.toString
        .contains("ShuffledHashJoin"), s"inline plan at t=$t")
      assert(staged.queryExecution.executedPlan.toString
        .contains("ShuffledHashJoin"), s"staged plan at t=$t")
      assert(rows(inline) == rows(staged), s"threshold=$t")
    }
  }

  test("jaccard dispatch above the doc cutoff pulls no rows to the " +
    "driver; both sides return the same pairs") {
    val df = corpus()
    val sets = df.select(col("doc_id"), Dedup.shingles(col("text")).as("s"))
    def pairs(d: DataFrame): Set[(Long, Long)] =
      d.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def collects(sites: Seq[String]) = sites.filter(_.startsWith("collect "))
    // localMaxDocs = -1: the local plan's probe is an empty limit, so
    // it collects nothing either
    val (inline, inlineSites) = JobCount.callSites(spark)(
      Dedup.jaccardPairsOnSets(sets, "doc_id", col("s"), 0.5,
        localMaxDocs = -1))
    val (staged, stagedSites) = JobCount.callSites(spark)(
      Dedup.jaccardPairsOnSets(sets, "doc_id", col("s"), 0.5,
        inlineMaxDocs = 1, localMaxDocs = -1))
    // the detector sees the inline side's collect of the doc rows
    assert(collects(inlineSites).size == 1, inlineSites)
    assert(collects(stagedSites).isEmpty, stagedSites)
    assert(pairs(inline) == pairs(staged) && pairs(inline).nonEmpty)
  }

  test("jaccardPairStats: verified count == jaccardPairs row count, " +
    "candidates >= verified, and candidates shrink as t rises") {
    val df = corpus()
    val stats = Seq(0.1, 0.5).map(t =>
      t -> Dedup.jaccardPairStats(df, "doc_id", "text", t))
    stats.foreach { case (t, (cand, verified)) =>
      val pairs = Dedup.jaccardPairs(df, "doc_id", "text", t).count()
      assert(verified == pairs, s"t=$t")
      assert(cand >= verified, s"t=$t")
    }
    // the in-join filters must actually prune harder at the higher
    // threshold (the selectivity claim the bench counts evidence)
    assert(stats(1)._2._1 < stats(0)._2._1,
      s"candidates did not shrink: $stats")
  }

  test("jaccardPairs prefix filter survives an exact-integer t*n " +
    "boundary (FP-epsilon guard)") {
    import spark.implicits._
    // 10 shingles per doc, threshold 0.5 -> t*n = 5 exactly; a pair
    // with exactly 5/15... build two docs with overlap right at the
    // boundary: |A|=|B|=10, common=7 -> jaccard 7/13 = 0.538 >= 0.5
    val a = "a b c d e f g h i j k".split(" ")   // 10 bigrams
    val b = "a b c d e f g h x y z".split(" ")   // 7 shared bigrams
    val df = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")))
      .toDF("doc_id", "text")
    val fast = Dedup.jaccardPairs(df, "doc_id", "text", 0.5,
        localMaxDocs = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == Set((1L, 2L)))
  }

  test("jaccardPairs length prefilter survives an exact-integer t*max " +
    "boundary (FP-epsilon guard on the size filter)") {
    import spark.implicits._
    // A ⊂ B with |A|=7 bigrams, |B|=100 bigrams, threshold 0.07:
    // jaccard = 7/(7+100-7) = 0.07 exactly, but 0.07*100 =
    // 7.000000000000001 in double — an unguarded `min >= t*max`
    // prefilter drops the pair even though the exact verify keeps it
    val toks = (0 to 100).map(i => s"t$i")
    val big = toks.mkString(" ")            // 100 distinct bigrams
    val small = toks.take(8).mkString(" ")  // 7 bigrams, all within big's
    val df = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
    val fast = Dedup.jaccardPairs(df, "doc_id", "text", 0.07,
        localMaxDocs = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(fast == Set((1L, 2L, 0.07)))
  }

  test("jaccardPairs positional (PPJoin) filter keeps a pair sitting " +
    "exactly at the overlap bound (shared tokens are the rarest-last)") {
    import spark.implicits._
    // A = u1 u2 u3 s1..s7, B = v1 v2 v3 s1..s7: 9 bigrams each, 6
    // shared (s1s2..s6s7). Shared bigrams have df=2 so the rare-first
    // order puts them LAST: pa = pb = 4, positional ubound =
    // 1 + min(9-4, 9-4) = 6 = ceil(0.5*18/1.5) exactly; jaccard =
    // 6/12 = 0.5 exactly. The pair must survive both boundary checks.
    val shared = (1 to 7).map(i => s"s$i").mkString(" ")
    val df = Seq((1L, s"u1 u2 u3 $shared"), (2L, s"v1 v2 v3 $shared"))
      .toDF("doc_id", "text")
    val fast = Dedup.jaccardPairs(df, "doc_id", "text", 0.5,
        localMaxDocs = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(fast == Set((1L, 2L, 0.5)))
    // and one the positional filter must PRUNE: raise the threshold so
    // the bound fails (t=0.6 needs ceil(0.6*18/1.6)=7 > ubound 6)
    assert(Dedup.jaccardPairs(df, "doc_id", "text", 0.6, localMaxDocs = 0)
      .count() == 0)
  }

  test("lshCandidatePairs salting engages on degenerate buckets and " +
    "preserves the pair set exactly") {
    import spark.implicits._
    // 60 identical docs = one band bucket per band of size 60 (plus a
    // few distinct docs); bound 16 forces the salted path
    val df = ((0 until 60).map(i => (i.toLong, "identical boilerplate row " +
        "shared by every document in this block")) ++
      (60 until 70).map(i => (i.toLong, s"distinct text $i q${i}r s${i}t")))
      .toDF("doc_id", "text")
    val salted = Dedup.lshCandidatePairs(df, "doc_id", "text", 8, 2,
        saltBucketBound = 16, saltFactor = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unsalted = Dedup.lshCandidatePairs(df, "doc_id", "text", 8, 2,
        saltBucketBound = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == unsalted)
    assert(salted.size >= 60 * 59 / 2) // the identical block is all-pairs
    // bounded-bucket property: with S=4 salt cells no (band, salt, j)
    // join-key group on either side exceeds the unsalted bucket / 2
    // (xxhash64 spread; deterministic for fixed ids)
    val sig = Dedup.minhashSignatures(df, "doc_id", "text", 8)
      .filter(col("h0").isNotNull)
    val bands = (0 until 4).map { bnd =>
      concat_ws("|", lit(bnd.toString) +:
        (0 until 2).map(r => col(s"h${bnd * 2 + r}")): _*)
    }
    val maxCell = sig.select(col("doc_id"), explode(array(bands: _*)).as("band"))
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(4)))
      .groupBy("band", "salt").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxCell <= 30, s"salt cells not spreading: max=$maxCell")
  }

  test("SortedIntersectAtLeast: exact count when >= need, -1 otherwise " +
    "(early exit never truncates a qualifying pair)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(17)
    val rows = (0 until 300).map { i =>
      def arr() = rnd.shuffle((0 until 40).toList).take(rnd.nextInt(25) + 1)
        .map(x => s"tok$x").distinct.sorted
      (i.toLong, arr(), arr(), rnd.nextInt(12)) // need in 0..11
    }
    // need = 0 rows: the plain intersection size, never -1
    val rowsAt0 = (0 until 200).map { i =>
      def arr() = rnd.shuffle((0 until 60).toList).take(rnd.nextInt(30) + 1)
        .map(x => s"tok$x").distinct.sorted
      (1000L + i, arr(), arr(), 0)
    }
    val df = (rows ++ rowsAt0).toDF("id", "a", "b", "need")
    val bad = df.select(
        graft.functions.SortedIntersectAtLeast
          .sorted_intersect_at_least($"a", $"b", $"need").as("fast"),
        size(array_intersect($"a", $"b")).as("ref"), $"need")
      .filter($"fast" =!= when($"ref" >= $"need", $"ref").otherwise(-1))
      .count()
    assert(bad == 0)
    // boundary: count == need exactly must return the exact count; at
    // need = 0, the empty-overlap and identical-array edges
    val edge = Seq((Seq("a", "b", "c"), Seq("a", "b", "z"), 2),
        (Seq("a", "b"), Seq("c", "d"), 0), (Seq("a", "b"), Seq("a", "b"), 0))
      .toDF("a", "b", "need")
      .select(graft.functions.SortedIntersectAtLeast
        .sorted_intersect_at_least($"a", $"b", $"need"))
      .collect().map(_.getInt(0)).toSeq
    assert(edge == Seq(2, 0, 2))
  }

  test("minhashSignatures keeps docs with <2 tokens as NULL-signature " +
    "rows (oracle parity) and lshCandidatePairs excludes them") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "short"), (3L, ""))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(df, "doc_id", "text", 4)
      .orderBy("doc_id").collect()
    assert(sig.length == 3)
    assert(!sig(0).isNullAt(1))
    assert(sig(1).isNullAt(1) && sig(1).isNullAt(4))
    assert(sig(2).isNullAt(1))
    val pairs = Dedup.lshCandidatePairs(df, "doc_id", "text", 4, 2).count()
    assert(pairs == 0) // no shared bands among the 3; nulls never pair
  }

  /** jaccardPairsOnSets forced onto each of its three plans (local,
    * inline, staged), each checked to have taken it; asserts equal
    * schemas and rows and returns the rows
    */
  private def sameOnEveryPlan(name: String, df: DataFrame, id: String,
      sets: Column, t: Double): Set[Seq[Any]] = {
    val local = Dedup.jaccardPairsOnSets(df, id, sets, t,
      localMaxDocs = Long.MaxValue)
    val inline = Dedup.jaccardPairsOnSets(df, id, sets, t, localMaxDocs = -1)
    // -1, not 0: an empty table fits every cutoff of 0
    val staged = Dedup.jaccardPairsOnSets(df, id, sets, t,
      inlineMaxPostings = -1, inlineMaxDocs = -1, localMaxDocs = -1)
    assert(local.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    // the planned (pre-AQE) plans: at run time AQE drops the joins of an
    // empty input
    assert(!inline.queryExecution.sparkPlan.toString
      .contains("ShuffledHashJoin"))
    assert(staged.queryExecution.sparkPlan.toString
      .contains("ShuffledHashJoin"))
    def rows(d: DataFrame) = d.collect().map(_.toSeq).toSet
    assert(local.schema == inline.schema && inline.schema == staged.schema,
      s"$name t=$t schemas: ${local.schema} / ${inline.schema} / " +
        staged.schema)
    val l = rows(local)
    assert(l == rows(inline), s"$name t=$t local vs inline")
    assert(l == rows(staged), s"$name t=$t local vs staged")
    l
  }

  test("local, inline and staged jaccard plans give identical rows and " +
    "schemas on every differential input") {
    import spark.implicits._
    val rnd = new scala.util.Random(12)
    val vocab = (0 until 12).map(i => s"g$i")
    // threshold-straddling: random 3-8 element subsets of 12 grams
    // crowd every pair's jaccard around the thresholds below; two rows
    // sit exactly at 0.5 (6 of 12) and at 1/3
    val straddle = (0 until 60).map(i =>
      (i.toLong, rnd.shuffle(vocab).take(3 + rnd.nextInt(6)))) ++ Seq(
      (100L, (0 until 9).map(i => s"x$i")),
      (101L, (0 until 6).map(i => s"x$i") ++ (0 until 3).map(i => s"y$i")),
      (102L, Seq("z0", "z1")), (103L, Seq("z1", "z2")))
    val longIds = straddle.toDF("id", "s")
    for (t <- Seq(0.1, 1.0 / 3, 0.5, 0.8, 1.0)) {
      val out = sameOnEveryPlan("straddle", longIds, "id", col("s"), t)
      if (t == 0.5) assert(out.exists(r => r(3) == 0.5))
      if (t == 1.0 / 3) assert(out.contains(Seq(102L, 103L, 1L, 1.0 / 3)))
    }
    // the same sets keyed by strings and by ints
    sameOnEveryPlan("string ids",
      straddle.map { case (i, s) => (f"d$i%03d", s) }.toDF("id", "s"),
      "id", col("s"), 0.3)
    sameOnEveryPlan("int ids",
      straddle.map { case (i, s) => (i.toInt, s) }.toDF("id", "s"),
      "id", col("s"), 0.3)
    // text corpus through the bigram shingle expression
    for (t <- Seq(0.1, 0.5))
      sameOnEveryPlan("corpus", corpus(), "doc_id",
        Dedup.shingles(col("text")), t)
    // empty and null sets, duplicate grams, and null ids that share
    // grams with real rows: none of them pairs
    val sparse = Seq[(Option[Long], Seq[String])](
      (Some(1L), Seq("a", "b", "c")), (Some(2L), Seq("a", "b", "c", "c")),
      (Some(3L), Seq()), (Some(4L), null), (None, Seq("a", "b", "c")),
      (None, Seq("a", "b")), (Some(5L), Seq("a", "b"))).toDF("id", "s")
    assert(sameOnEveryPlan("sparse", sparse, "id", col("s"), 0.5) == Set(
      Seq(1L, 2L, 3L, 1.0), Seq(1L, 5L, 2L, 2.0 / 3),
      Seq(2L, 5L, 2L, 2.0 / 3)))
    // empty table
    assert(sameOnEveryPlan("empty", longIds.limit(0), "id", col("s"), 0.5)
      .isEmpty)
    // non-BMP ids and grams: U+FB01 sorts BEFORE U+1F600 in UTF-8 bytes
    // (Catalyst's order) but after it in UTF-16 (java.lang.String's)
    val fi = "\uFB01"; val smile = "\uD83D\uDE00"; val gA = "\uD835\uDD38"
    val nonBmp = Seq(
      (s"${smile}x", Seq(s"$gA$gA", "b", s"c$smile", "d")),
      (s"${fi}x", Seq(s"$gA$gA", "b", s"c$smile", "e")),
      (s"a$gA", Seq(s"$gA$gA", "b", s"c$fi", "d")),
      ("ab", Seq("b", s"c$smile", "d", s"$fi"))).toDF("id", "s")
    val out = sameOnEveryPlan("non-BMP", nonBmp, "id", col("s"), 0.4)
    assert(out.contains(Seq(s"${fi}x", s"${smile}x", 3L, 0.6)), out)
  }

  test("the local jaccard plan rejects a duplicate id with an " +
    "IllegalArgumentException") {
    import spark.implicits._
    val dup = Seq((1L, Seq("a", "b")), (2L, Seq("a", "c")), (1L, Seq("b")))
      .toDF("id", "s")
    val e = intercept[IllegalArgumentException](
      Dedup.jaccardPairsOnSets(dup, "id", col("s"), 0.3))
    assert(e.getMessage.contains("duplicate id"), e.getMessage)
  }

  test("the local plan's probe collects at most localMaxDocs + 1 rows and " +
    "hands a larger table to the distributed plans") {
    import org.apache.spark.sql.execution.CollectLimitExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // a parquet scan: over an in-memory table the optimizer folds the
    // probe's limit into a local relation and no plan collects
    val dir = java.nio.file.Files.createTempDirectory("graft_probe").toString
    corpus().write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val sets = Dedup.shingles(col("text"))
    val (above, plans) = ExecutedPlans(spark)(
      Dedup.jaccardPairsOnSets(df, "doc_id", sets, 0.5, localMaxDocs = 5))
    val helper = new AdaptiveSparkPlanHelper {}
    val limits = plans.flatMap(p =>
      helper.collect(p) { case c: CollectLimitExec => c.limit })
    assert(limits == Seq(6), limits)
    assert(!above.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    def rows(d: DataFrame) = d.collect().map(_.toSeq).toSet
    assert(rows(above) == rows(Dedup.jaccardPairsOnSets(df, "doc_id", sets,
      0.5)))
  }
}
