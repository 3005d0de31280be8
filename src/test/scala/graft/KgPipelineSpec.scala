package graft

import graft.gen.{TranscriptGen, Vocab}
import graft.oracle.ReferenceOracle
import graft.pipeline.KgPipeline
import graft.schema.{Triple, Turn}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The P/R >= 0.95 gate (SURVEY.md §5.2.2) plus the pipeline invariants
  * from BASELINE.json's input_hint.
  */
class KgPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val turns = {
    import spark.implicits._
    // "small" fixture per FIXTURES.md §1: 200 convs + a hot conversation
    TranscriptGen.transcripts(spark, nConvs = 200, turnsPerConv = 8,
      hotTurns = 400, partitions = 4).cache()
  }
  private lazy val collected: Seq[Turn] = {
    import spark.implicits._
    turns.orderBy($"conv_id", $"turn_idx").collect().toSeq
  }

  test("engine triples match the reference-semantics oracle at P/R >= 0.95") {
    import spark.implicits._
    val result = KgPipeline.run(spark, turns.toDF(), shufflePartitions = 4)
    val got = result.triples.collect().toSeq
    val expectedRaw = ReferenceOracle.triples(collected)
    val canon = ReferenceOracle.canonicalMap(Vocab.entities)
    val expected = expectedRaw.map(t => t.copy(
      subj = canon.getOrElse(t.subj, t.subj),
      obj = canon.getOrElse(t.obj, t.obj)))
    val (p, r) = ReferenceOracle.precisionRecall(got, expected)
    assert(expected.nonEmpty, "oracle produced no triples — fixture broken")
    withClue(s"precision=$p recall=$r got=${got.size} exp=${expected.size}: ") {
      assert(p >= 0.95 && r >= 0.95)
    }
    // df.observe metrics rode the collect() action (zero extra jobs)
    val stats = result.tripleStats()
    assert(stats("triples") == got.size.toLong)
    assert(stats("min_score").asInstanceOf[Double] >= Vocab.minLinkScore)
  }

  test("per-turn text equality is preserved under stable turn ordering") {
    import spark.implicits._
    // input_hint invariant: the carried text column must survive the
    // pipeline byte-identical; compare the full turn table before/after
    // flowing through the mention stage's source, ordered by
    // (conv_id, turn_idx)
    val before = collected.map(t => (t.conv_id, t.turn_idx, t.text))
    val after = turns.toDF()
      .select($"conv_id", $"turn_idx", $"text")
      .orderBy($"conv_id", $"turn_idx")
      .as[(String, Int, String)].collect().toSeq
    assert(after == before)
  }

  test("canonicalization (exact edges + connected components) matches exact oracle") {
    // force the DISTRIBUTED path (localMaxEntities = 0); the driver-local
    // fast path is compared against it below
    val got = graft.canon.Canonicalize.canonicalMap(spark, Vocab.entities,
        localMaxEntities = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expected = ReferenceOracle.canonicalMap(Vocab.entities)
    assert(got == expected)
    val local = graft.canon.Canonicalize.canonicalMap(spark, Vocab.entities)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == expected)
    // the fixture must contain at least one real merge
    assert(expected.exists { case (k, v) => k != v },
      "no coreferent entities merged — canon fixture too weak")
  }

  /** 92 seeded-random entities built from a small prefix pool + unique
    * suffixes so pairwise char-3-gram jaccards crowd AROUND the 0.3
    * merge threshold — the regime where a recall<1 edge generator
    * (old LSH default) could diverge from exact all-pairs. Shared by
    * the canonicalization-parity tests below.
    */
  private lazy val advEntities: Seq[graft.schema.Entity] = {
    import graft.schema.Entity
    val rnd = new scala.util.Random(41)
    val prefixes = Vector("stream", "sparkle", "springs", "strider",
      "storage", "station")
    def word() = {
      val p = prefixes(rnd.nextInt(prefixes.size))
      val keep = 4 + rnd.nextInt(p.length - 3)
      p.take(keep) + (1 to 3 + rnd.nextInt(4))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    (0 until 90).map { i =>
      val c = word()
      val aliases = (0 until rnd.nextInt(3)).map { _ =>
        // mutate one char: a near-identical alias widens the surface set
        val pos = rnd.nextInt(c.length)
        c.updated(pos, ('a' + rnd.nextInt(26)).toChar)
      }
      Entity(f"ent_adv_$i%03d", c, aliases)
    } ++ Seq(
      // empty surfaces: both paths must agree these have NO shingles
      // (exactly-3-char gram spec) and never merge with anything
      Entity("ent_adv_empty_a", "", Nil),
      Entity("ent_adv_empty_b", "", Seq("")))
  }

  test("local and distributed canonicalization are pinned equal on an " +
    "adversarial threshold-straddling vocabulary") {
    import graft.schema.Entity
    val entities = advEntities
    // prove the vocabulary actually straddles: many pairs near 0.3
    def sh(e: Entity) =
      (e.canonical +: e.aliases).flatMap(graft.score.Embed.ngrams).toSet
    val near = (for {
      a <- entities; b <- entities if a.entity_id < b.entity_id
      ja = sh(a); jb = sh(b)
      j = ja.intersect(jb).size.toDouble / ja.union(jb).size
      if j >= 0.2 && j <= 0.4
    } yield 1).size
    assert(near >= 30, s"fixture too weak: only $near pairs near threshold")
    val dist = graft.canon.Canonicalize.canonicalMap(spark, entities,
        jaccardThreshold = 0.3, localMaxEntities = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val local = graft.canon.Canonicalize.canonicalMap(spark, entities,
        jaccardThreshold = 0.3, localMaxEntities = Int.MaxValue)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist == local)
    assert(dist.exists { case (k, v) => k != v }, "no merges happened")
    assert(dist("ent_adv_empty_a") == "ent_adv_empty_a" &&
      dist("ent_adv_empty_b") == "ent_adv_empty_b",
      "empty-surface entities must never merge")
  }

  test("DataFrame-native canonicalMapDf (open entity set, no Seq " +
    "materialization) is pinned equal to the Seq path, on both sides " +
    "of its probe cutoff, end-to-end through KgPipeline") {
    import spark.implicits._
    val entities = advEntities
    // the entity table arrives as a DATAFRAME — the open-entity-set
    // shape a 100-TB corpus-derived vocabulary would have; no
    // Seq[Entity] is handed to the canonicalization path
    val surfDf = entities
      .map(e => (e.entity_id, e.canonical +: e.aliases))
      .toDF("entity_id", "surfaces")
    val expected = graft.canon.Canonicalize.canonicalMap(spark, entities,
        jaccardThreshold = 0.3, localMaxEntities = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // distributed side of the probe (localMaxEntities = 0)
    val dist = graft.canon.Canonicalize.canonicalMapDf(spark, surfDf,
        jaccardThreshold = 0.3, localMaxEntities = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist == expected)
    // driver-local side of the probe (92 entities < Int.MaxValue)
    val local = graft.canon.Canonicalize.canonicalMapDf(spark, surfDf,
        jaccardThreshold = 0.3, localMaxEntities = Int.MaxValue)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == expected)
    // end-to-end, KgPipeline.runOpen routes its entity table through
    // canonicalMapDf; the open-entity tests below pin its map against
    // the oracle on its local and its distributed branch
  }

  test("open-entity pipeline: provisional entities (shape-detected, " +
    "DataFrame-canonicalized) match the extended oracle at P/R >= 0.95, " +
    "with real open-open merges and open-closed triples") {
    import spark.implicits._
    val openTurns = TranscriptGen.openTranscripts(spark, nConvs = 150,
      turnsPerConv = 8, nBases = 6, partitions = 4)
    val allTurns = turns.toDF().unionByName(openTurns.toDF())
    val result = KgPipeline.runOpen(spark, allTurns, shufflePartitions = 4)
    val got = result.triples.collect().toSeq

    val collectedAll = allTurns
      .orderBy($"conv_id", $"turn_idx").as[Turn].collect().toSeq
    val names = ReferenceOracle.openSurfaces(collectedAll)
    val canon = ReferenceOracle.openCanonicalMap(Vocab.entities, names)
    val expected = ReferenceOracle.openTriples(collectedAll).map(t =>
      t.copy(subj = canon.getOrElse(t.subj, t.subj),
        obj = canon.getOrElse(t.obj, t.obj)))
    val (p, r) = ReferenceOracle.precisionRecall(got, expected)
    withClue(s"precision=$p recall=$r got=${got.size} exp=${expected.size}: ") {
      assert(p >= 0.95 && r >= 0.95)
    }
    // the fixture must exercise the open paths for the gate to mean
    // anything: spelling variants of one base MERGED (the canonical map
    // sends the longer variant to the shorter), and at least one triple
    // connects an open entity to a closed one
    val (v1, v2) = TranscriptGen.openVariants(0)
    val gotCanon = result.canonicalMap.collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(gotCanon(s"open:$v2") == s"open:$v1",
      s"open variants did not merge: ${gotCanon.filter(_._1.contains(v1))}")
    assert(got.exists(t => t.subj.startsWith("open:") !=
      t.obj.startsWith("open:")), "no open-closed triple in fixture")
    assert(got.exists(t => t.subj.startsWith("open:")), "no open subj")
    // the canonical map agrees with the oracle's extended map wherever
    // both define an id
    assert(gotCanon == canon)
  }

  test("fused open fast path == span-group plan in runOpen(), " +
    "and the relabel shuffle fallback (knob = 0) is identical and " +
    "hint-free") {
    import spark.implicits._
    val openTurns = TranscriptGen.openTranscripts(spark, nConvs = 150,
      turnsPerConv = 8, nBases = 6, partitions = 4)
    val allTurns = turns.toDF().unionByName(openTurns.toDF())
    def key(t: Triple) = (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)
    val fused = KgPipeline.runOpen(spark, allTurns, shufflePartitions = 4)
    val composed = KgPipeline.runOpen(spark, allTurns,
      shufflePartitions = 4, gazetteerFastPathMax = 0)
    val fusedT = fused.triples.collect()
    val composedT = composed.triples.collect()
    assert(fusedT.map(key).toSet == composedT.map(key).toSet)
    assert(fusedT.length == composedT.length)
    val fc = fused.canonicalMap.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val cc = composed.canonicalMap.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fc == cc)
    // relabel forced off broadcast: identical triples, and the relabel
    // joins carry NO broadcast hint (the physical join is then free to
    // shuffle — the only shape that holds for an unbounded vocabulary)
    val shuffled = KgPipeline.runOpen(spark, allTurns,
      shufflePartitions = 4, relabelBroadcastMax = 0)
    assert(shuffled.triples.collect().map(key).toSet ==
      fusedT.map(key).toSet)
    val hints = shuffled.triples.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.exists(_.strategy.isDefined) ||
            j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    assert(hints.isEmpty,
      s"relabel with knob=0 still planned ${hints.size} hinted join(s)")
  }

  test("wide open vocabulary (> LocalCanonMaxEntities distinct names) " +
    "drives the DISTRIBUTED canonicalization branch and stays P/R-green") {
    import spark.implicits._
    val wide = TranscriptGen.openTranscriptsWide(spark, nConvs = 3000,
      turnsPerConv = 8, nBases = 1500, partitions = 8).cache()
    val result = KgPipeline.runOpen(spark, wide.toDF(), shufflePartitions = 8)
    val got = result.triples.collect().toSeq
    // the scale branch must actually have run (r4's bench pool of 16
    // names always fell into the driver-local branch)
    assert(result.canonPath.startsWith("distributed"),
      s"canon path was '${result.canonPath}' — fixture too small")
    val openCount = result.openEntities.count()
    assert(openCount > graft.canon.Canonicalize.LocalCanonMaxEntities,
      s"only $openCount open names detected")

    val collected = wide.orderBy($"conv_id", $"turn_idx").collect().toSeq
    val names = ReferenceOracle.openSurfaces(collected)
    val canon = ReferenceOracle.openCanonicalMap(Vocab.entities, names)
    val expected = ReferenceOracle.openTriples(collected).map(t =>
      t.copy(subj = canon.getOrElse(t.subj, t.subj),
        obj = canon.getOrElse(t.obj, t.obj)))
    val (p, r) = ReferenceOracle.precisionRecall(got, expected)
    withClue(s"precision=$p recall=$r got=${got.size} exp=${expected.size}: ") {
      assert(p >= 0.95 && r >= 0.95)
    }
    // the distributed map equals the oracle's exact-jaccard union-find
    // over the same (closed + open) entity table
    val gotCanon = result.canonicalMap.collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(gotCanon == canon)
    // the wide generator's digit-neighbor merges create multi-entity
    // components — the regime pointer-jumping CC exists for
    assert(gotCanon.count { case (k, v) => k != v } > 100,
      "fixture produced almost no merges")
    wide.unpersist()
  }

  test("output is invariant to shuffle-partition count (2 vs 8)") {
    def key(t: Triple) = (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)
    val a = KgPipeline.run(spark, turns.toDF(), shufflePartitions = 2)
      .triples.collect().map(key).toSet
    val b = KgPipeline.run(spark, turns.toDF(), shufflePartitions = 8)
      .triples.collect().map(key).toSet
    assert(a == b)
  }

  test("fast path (per-row) == staged path (Catalyst candidates) in run()") {
    def key(t: Triple) = (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)
    val fast = KgPipeline.run(spark, turns.toDF(), shufflePartitions = 4)
      .triples.collect()
    val staged = KgPipeline.run(spark, turns.toDF(), shufflePartitions = 4,
      gazetteerFastPathMax = 0).triples.collect()
    assert(fast.map(key).toSet == staged.map(key).toSet)
    assert(fast.length == staged.length)
  }

  test("runOpen per-row == span-group under a caller-supplied unanchored " +
    "shape pattern that also matches predicate triggers and fillers") {
    import spark.implicits._
    val openTurns = TranscriptGen.openTranscripts(spark, nConvs = 150,
      turnsPerConv = 8, nBases = 6, partitions = 4).toDF()
    // substring FIND on both sides: digits anywhere, "-es" triggers
    // (uses, queries, updates) and "-ly" fillers all become open tokens
    val pattern = "[0-9]{2}|es$|ly"
    def key(t: Triple) = (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)
    val perRowRes = KgPipeline.runOpen(spark, openTurns,
      shufflePartitions = 4, shapePattern = pattern)
    val perRow = perRowRes.triples.collect()
    val spanGroup = KgPipeline.runOpen(spark, openTurns,
      shufflePartitions = 4, shapePattern = pattern,
      gazetteerFastPathMax = 0).triples.collect()
    assert(perRow.nonEmpty, "fixture produced no triples")
    assert(perRow.map(key).toSet == spanGroup.map(key).toSet)
    assert(perRow.length == spanGroup.length)
    // the pattern must reach past the default anchored shape
    val defaultShape = graft.mention.MentionDetect.OpenShapePattern.r
    val open = perRowRes.openEntities.as[String].collect()
    assert(open.exists(id => !defaultShape.matches(id.stripPrefix("open:"))),
      s"no open entity outside the default shape: ${open.take(5).toSeq}")
  }

  test("hot conversation is present and yields triples (skew path)") {
    import spark.implicits._
    val result = KgPipeline.run(spark, turns.toDF(), shufflePartitions = 4)
    val hot = result.triples.filter($"conv_id" === "conv_hot").count()
    assert(hot > 0)
  }

  test("graph tables: edges aggregate support, nodes collect surfaces") {
    import spark.implicits._
    val result = KgPipeline.run(spark, turns.toDF(), shufflePartitions = 4)
    val triples = result.triples.count()
    val edgeSupport = result.edges.agg(sum($"support")).as[Long].head()
    assert(edgeSupport == triples)
    val nodes = result.nodes.collect()
    assert(nodes.nonEmpty)
    // canonical ids are representatives (min ids): a node id never maps
    // to a different canonical
    val canon = ReferenceOracle.canonicalMap(Vocab.entities)
    nodes.foreach(n => assert(canon(n.entity_id) == n.entity_id))
  }
}
