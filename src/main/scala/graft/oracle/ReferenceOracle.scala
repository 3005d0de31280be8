package graft.oracle

import graft.gen.Vocab
import graft.link.EntityLink
import graft.schema.{Entity, Triple, Turn}
import graft.score.Embed

/** Single-threaded plain-Scala restatement of the reference's extraction
  * semantics (SURVEY.md §5.2.2, FIXTURES.md §3) — the "teacher" in the
  * teacher-vs-student differential test
  * (reference: src/evaluation/eval_sentence_mining.py:11-34).
  *
  * Deliberately NO Spark here: ordinary collections, one thread. It shares
  * only the scorer spec (graft.score.Embed) with the engine, so the
  * P/R >= 0.95 gate measures whether the distributed plan reproduces the
  * sequential semantics — mention overlap rule, linking tie-breaks,
  * consecutive-pair predicate windows — not whether two copies of the same
  * DataFrame code agree with each other.
  */
object ReferenceOracle {

  def tokenize(text: String): Array[String] =
    text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      .split(" +").filter(_.nonEmpty)

  /** (token_pos, token_len, surface) with bigram-wins overlap rule. */
  def detectMentions(
      toks: Array[String],
      gazetteer: Set[String]): Seq[(Int, Int, String)] = {
    val bigrams = (0 until toks.length - 1).flatMap { i =>
      val s = toks(i) + " " + toks(i + 1)
      if (gazetteer.contains(s)) Some((i, 2, s)) else None
    }
    val covered = bigrams.flatMap { case (i, _, _) => Seq(i, i + 1) }.toSet
    val unigrams = toks.indices.flatMap { i =>
      if (gazetteer.contains(toks(i)) && !covered.contains(i))
        Some((i, 1, toks(i)))
      else None
    }
    (unigrams ++ bigrams).sortBy(_._1)
  }

  /** Full extraction for one corpus of turns. */
  def triples(
      turns: Seq[Turn],
      entities: Seq[Entity] = Vocab.entities,
      gazetteer: Set[String] = Vocab.gazetteer.toSet,
      predicates: Map[String, String] = Vocab.predicates,
      minScore: Double = Vocab.minLinkScore): Seq[Triple] = {
    val index = EntityLink.buildIndex(entities)
    turns.flatMap { t =>
      val toks = tokenize(t.text)
      val linked = detectMentions(toks, gazetteer).flatMap {
        case (pos, len, surface) =>
          Embed.top1(surface, index, minScore).map { case (id, score) =>
            (pos, len, id, score)
          }
      }
      linked.sliding(2).flatMap {
        case Seq((pos1, len1, id1, s1), (pos2, _, id2, s2)) =>
          val gap = toks.slice(pos1 + len1, pos2)
          gap.find(predicates.contains).map { predTok =>
            Triple(t.conv_id, t.turn_idx, id1, predicates(predTok), id2,
              math.min(s1, s2))
          }
        case _ => None
      }
    }
  }

  /** Open-entity extraction oracle: [[triples]] plus provisional
    * mentions for every token matching `shapePattern` that is not a
    * token of any gazetteer surface (entity id `open:<token>`, link
    * score 1.0) — the sequential restatement of KgPipeline.run's open-mode
    * detection/linking/pairing (BEFORE canonical relabeling; relabel
    * with [[openCanonicalMap]]).
    */
  def openTriples(
      turns: Seq[Turn],
      entities: Seq[Entity] = Vocab.entities,
      gazetteer: Set[String] = Vocab.gazetteer.toSet,
      predicates: Map[String, String] = Vocab.predicates,
      minScore: Double = Vocab.minLinkScore,
      shapePattern: String = graft.mention.MentionDetect.OpenShapePattern)
      : Seq[Triple] = {
    val index = EntityLink.buildIndex(entities)
    val gazToks = gazetteer.flatMap(_.split(" "))
    val re = shapePattern.r
    turns.flatMap { t =>
      val toks = tokenize(t.text)
      val closed = detectMentions(toks, gazetteer).flatMap {
        case (pos, len, surface) =>
          Embed.top1(surface, index, minScore).map { case (id, score) =>
            (pos, len, id, score)
          }
      }
      val open = toks.indices.collect {
        case i if re.matches(toks(i)) && !gazToks.contains(toks(i)) =>
          (i, 1, "open:" + toks(i), 1.0)
      }
      val linked = (closed ++ open).sortBy(_._1)
      linked.sliding(2).flatMap {
        case Seq((pos1, len1, id1, s1), (pos2, _, id2, s2)) =>
          val gap = toks.slice(pos1 + len1, pos2)
          gap.find(predicates.contains).map { predTok =>
            Triple(t.conv_id, t.turn_idx, id1, predicates(predTok), id2,
              math.min(s1, s2))
          }
        case _ => None
      }
    }
  }

  /** The open-entity surfaces the shape heuristic detects in `turns`
    * (distinct, sorted) — feeds [[openCanonicalMap]].
    */
  def openSurfaces(
      turns: Seq[Turn],
      gazetteer: Set[String] = Vocab.gazetteer.toSet,
      shapePattern: String = graft.mention.MentionDetect.OpenShapePattern)
      : Seq[String] = {
    val gazToks = gazetteer.flatMap(_.split(" "))
    val re = shapePattern.r
    turns.flatMap(t => tokenize(t.text)
        .filter(tok => re.matches(tok) && !gazToks.contains(tok)))
      .distinct.sorted
  }

  /** Extended canonicalization oracle: the closed entities plus one
    * single-surface provisional entity per open name, through the same
    * exact-jaccard union-find.
    */
  def openCanonicalMap(
      entities: Seq[Entity],
      openNames: Seq[String],
      jaccardThreshold: Double = 0.5): Map[String, String] =
    canonicalMap(
      entities ++ openNames.map(s => Entity("open:" + s, s, Nil)),
      jaccardThreshold)

  /** Canonical relabeling oracle: exact-Jaccard graph over shingle sets,
    * transitive closure, min-id representative — the sequential
    * restatement of graft.canon.Canonicalize.
    */
  def canonicalMap(
      entities: Seq[Entity],
      jaccardThreshold: Double = 0.5): Map[String, String] = {
    def shingles(e: Entity): Set[String] =
      (e.canonical +: e.aliases).flatMap { s =>
        // same '#'-padded EXACTLY-3-CODEPOINT grams as
        // TextOps.charShingles (the filter drops the "##" gram of empty
        // surfaces)
        Embed.ngrams(s).filter(Embed.isShingle3)
      }.toSet
    val sh = entities.map(e => e.entity_id -> shingles(e)).toMap
    val ids = entities.map(_.entity_id)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: String): String =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    for {
      a <- ids; b <- ids if a < b
      ja = sh(a); jb = sh(b)
      j = ja.intersect(jb).size.toDouble / ja.union(jb).size
      if j >= jaccardThreshold
    } union(a, b)
    // min-id representative
    val groups = ids.groupBy(find)
    groups.flatMap { case (_, members) =>
      val canon = members.min
      members.map(_ -> canon)
    }
  }

  /** P/R of `got` triples vs this oracle on the same turns. */
  def precisionRecall(
      got: Seq[Triple],
      expected: Seq[Triple]): (Double, Double) = {
    def key(t: Triple) = (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)
    val g = got.map(key).toSet
    val e = expected.map(key).toSet
    val tp = g.intersect(e).size.toDouble
    val p = if (g.isEmpty) 1.0 else tp / g.size
    val r = if (e.isEmpty) 1.0 else tp / e.size
    (p, r)
  }
}
