package graft

import graft.mention.MentionDetect
import graft.text.TextOps
import org.scalatest.funsuite.AnyFunSuite

/** Span-level parity: `MentionDetect.spanCandidates` yields, per turn,
  * the same multiset of spans as a plain-Scala scan over the token spec
  * (`TextOps.tokenizeString`) — gazetteer unigrams and bigrams,
  * predicate triggers, and open-shape tokens. Only the order inside a
  * turn's span array is free; TurnExtract sorts it.
  */
class MentionDetectSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // "uses" is both a gazetteer surface and a predicate trigger; "lake"
  // is a gazetteer token only inside a bigram
  private val gazetteer =
    Seq("apache spark", "data lake", "kafka", "spark", "uses")
  private val predicates = Map("uses" -> "uses", "runs" -> "runs_on",
    "feeds" -> "feeds")

  private type S = (Int, Int, String, Boolean)

  /** the per-turn span multiset from the plain-Scala token spec */
  private def reference(text: String, open: Option[String]): Seq[S] = {
    val toks = TextOps.tokenizeString(text)
    val gaz = gazetteer.toSet
    val gazToks = gazetteer.flatMap(_.split(" ")).toSet
    val openRe = open.map(java.util.regex.Pattern.compile)
    toks.indices.flatMap { i =>
      val u = toks(i)
      val bi = if (i + 1 < toks.length) Some(u + " " + toks(i + 1)) else None
      Seq(
        Option.when(gaz(u))((i, 1, u, true)),
        Option.when(predicates.contains(u))((i, 1, u, false)),
        bi.filter(gaz).map(b => (i, 2, b, true)),
        Option.when(openRe.exists(_.matcher(u).find()) && !gazToks(u))(
          (i, 1, MentionDetect.OpenPrefix + u, true))).flatten
    }.sorted
  }

  private lazy val texts: Seq[String] = {
    val fixed = Seq(
      "", "?!... --", "Spark", "runs", "uses", "Apache Spark uses Kafka.",
      "the data lake feeds kafka", "lake data", "db01 runs on spark",
      "Kafka", "quickly es01 x99 uses apache")
    val words = Seq("Spark", "apache", "data", "lake", "kafka", "uses",
      "runs", "feeds", "the", "quickly", "db01", "node42", "queries",
      "x1", "!", "Data-Lake", "  ")
    val rnd = new scala.util.Random(7)
    fixed ++ (1 to 300).map(_ =>
      Seq.fill(rnd.nextInt(9))(words(rnd.nextInt(words.size))).mkString(" "))
  }

  private def check(open: Option[String]): Unit = {
    import spark.implicits._
    val turns = texts.zipWithIndex
      .map { case (t, i) => (s"c${i % 17}", i, t) }
      .toDF("conv_id", "turn_idx", "text")
      .repartition(4, $"conv_id", $"turn_idx")
    val got = MentionDetect.spanCandidates(spark, turns, gazetteer,
        predicates, open)
      .select($"conv_id", $"turn_idx", $"spans")
      .as[(String, Int, Seq[S])].collect()
      .map { case (c, t, s) => (c, t) -> s.sorted }.toMap
    val expected = texts.zipWithIndex
      .map { case (t, i) => (s"c${i % 17}", i) -> reference(t, open) }
      .filter(_._2.nonEmpty).toMap
    assert(got.size == expected.size)
    assert(got == expected)
    // the fixture reaches every span kind, and a gazetteer surface that
    // is also a trigger yields both at one position
    val all = expected.values.flatten.toSeq
    assert(all.exists(s => s._2 == 2))
    assert(all.exists(s => s._3 == "uses" && s._4) &&
      all.exists(s => s._3 == "uses" && !s._4))
    assert(open.isEmpty ||
      all.exists(_._3.startsWith(MentionDetect.OpenPrefix)))
  }

  test("spanCandidates == the plain-Scala span spec per turn (closed)") {
    check(None)
  }

  test("spanCandidates == the plain-Scala span spec per turn (default " +
    "open shape)") {
    check(Some(MentionDetect.OpenShapePattern))
  }

  test("spanCandidates == the plain-Scala span spec per turn (unanchored " +
    "open pattern that also matches triggers)") {
    check(Some("[0-9]{2}|es$|ly"))
  }
}
