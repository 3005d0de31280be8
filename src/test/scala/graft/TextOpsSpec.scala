package graft

import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The Catalyst tokenizer/ngram/shingle expressions must agree with the
  * plain-Scala specs (tokenizeString, Embed.ngrams) — asserted over
  * generated strings, not just fixtures. (scalatestplus is not in the
  * offline cache, so Gen is sampled with a pinned seed directly.)
  */
class TextOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val textGen: Gen[String] = for {
    words <- Gen.listOfN(8, Gen.oneOf(
      "Spark", "the", "a b", "Kafka!", "x1", "", "  ", "Ångström",
      "data-pipeline", "hello,world", "42"))
  } yield words.mkString(" ")

  /** deterministic samples from a Gen (pinned seed per FIXTURES.md §4) */
  private def samples(n: Int): List[String] =
    Gen.listOfN(n, textGen)
      .apply(Gen.Parameters.default, Seed(42L)).get

  test("expression tokens == tokenizeString spec (property)") {
    import spark.implicits._
    val texts = samples(200)
    val got = texts.toDF("text")
      .select(TextOps.tokens($"text")).as[Seq[String]]
      .collect().toList
    val expected = texts.map(t => TextOps.tokenizeString(t).toSeq)
    assert(got == expected)
  }

  test("tokenNgrams(2) == sliding bigrams of the token spec") {
    import spark.implicits._
    val texts = samples(100)
    val got = texts.toDF("text")
      .select(TextOps.tokenNgrams(TextOps.tokens($"text"), 2))
      .as[Seq[String]].collect().toList
    val expected = texts.map { t =>
      TextOps.tokenizeString(t).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
    }
    assert(got == expected)
  }

  test("charShingles == Embed.ngrams spec (the canon shingle unit), " +
    "including non-BMP surrogate-pair surfaces") {
    import spark.implicits._
    // the non-ASCII entries contain astral-plane codepoints (surrogate
    // PAIRS in UTF-16): "𝕏" = 𝕏 MATHEMATICAL DOUBLE-STRUCK X,
    // "𝄞" = 𝄞 MUSICAL G CLEF, "🚀" = 🚀 — open
    // vocabularies are corpus-derived and can contain anything, and
    // Spark substring/length count CODEPOINTS while a naive String
    // sliding walks UTF-16 units (the r4-documented divergence, closed
    // in r5 by codepoint-sliding Embed.ngrams)
    val surfaces = Seq("apache spark", "x", "kafka broker", "a", "ab",
      "a𝕏b", "𝄞𝄞",
      "naïve🚀x", "𝕏")
    val got = surfaces.toDF("s")
      .select(TextOps.charShingles($"s", 3)).as[Seq[String]]
      .collect().map(_.toSet)
    val expected = surfaces.map(s => graft.score.Embed.ngrams(s).toSet)
    // charShingles drops <k-codepoint degenerates; Embed keeps one
    // ("##" for empty) — equality holds whenever padded codepoint
    // count >= 3
    surfaces.zipWithIndex.foreach { case (s, i) =>
      if (s.codePointCount(0, s.length) + 2 >= 3)
        assert(got(i) == expected(i), s"surface=$s")
    }
  }

  test("local and distributed canonicalization agree on surrogate-pair " +
    "surfaces (codepoint-shingle parity)") {
    import spark.implicits._
    // two spellings of an astral-plane name that must merge, plus an
    // unrelated emoji surface that must not; a UTF-16-unit shingler
    // would see broken-surrogate grams on the local path only
    val rocket = "🚀"
    val clef = "𝄞"
    val ents = Seq(
      ("e1", Seq("svc" + rocket + "alpha")),
      ("e2", Seq("svc" + rocket + "alpha9")),
      ("e3", Seq(clef + clef + clef)))
    val surfDf = ents.toDF("entity_id", "surfaces")
    val local = graft.canon.Canonicalize.canonicalMapDf(spark, surfDf,
        localMaxEntities = Int.MaxValue)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = graft.canon.Canonicalize.canonicalMapDf(spark, surfDf,
        localMaxEntities = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == dist)
    assert(local("e1") == "e1" && local("e2") == "e1",
      s"astral-name variants did not merge: $local")
    assert(local("e3") == "e3")
  }
}
