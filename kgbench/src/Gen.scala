package kgbench

import graft.gen.{TranscriptGen, Vocab}
import graft.schema.Turn
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. `graft.gen.TranscriptGen` hashes every
  * template choice with a fixed salt, so one corpus size always yields
  * the same text. Here each salt is shifted by `seed * SaltStride`: seed
  * 0 reproduces TranscriptGen row for row (checked by [[selfCheck]] on
  * every run), and any other seed changes the text while keeping the row
  * counts and the hot conversation.
  */
object Gen {

  /** Larger than every salt `TranscriptGen.transcripts` uses (0 to 8). */
  private val SaltStride = 1000

  private def salt(seed: Int, s: Int): Column = lit(s + seed * SaltStride)

  private def pick(arr: IndexedSeq[String], seed: Int, s: Int): Column =
    element_at(lit(arr.toArray),
      pmod(hash(col("conv_id"), col("turn_idx"), salt(seed, s)),
        lit(arr.size)) + 1)

  private val ts = expr(
    "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,turn_idx,0)")

  /** Seeded `TranscriptGen.transcripts`. */
  def transcripts(spark: SparkSession, seed: Int, nConvs: Int,
      turnsPerConv: Int, hotTurns: Int, partitions: Int): Dataset[Turn] = {
    import spark.implicits._
    val base = spark.range(nConvs.toLong * turnsPerConv)
      .withColumn("conv_id",
        format_string("conv_%06d", ($"id" / turnsPerConv).cast("long")))
      .withColumn("turn_idx", ($"id" % turnsPerConv).cast("int"))
    val hot = spark.range(hotTurns.toLong)
      .withColumn("conv_id", lit("conv_hot"))
      .withColumn("turn_idx", $"id".cast("int"))
    val t = pmod(hash($"conv_id", $"turn_idx", salt(seed, 0)), lit(10))
    val subj = pick(Vocab.gazetteer, seed, 1)
    val obj = pick(Vocab.gazetteer, seed, 2)
    val pred = pick(Vocab.predicateTokens, seed, 3)
    val fillA = pick(Vocab.fillers, seed, 4)
    val fillB = pick(Vocab.fillers, seed, 5)
    val fillC = pick(Vocab.fillers, seed, 6)
    val text =
      when(t < 6, concat_ws(" ", fillA, subj, pred, obj, fillB))
        .when(t < 8, concat_ws(" ", fillA, subj, fillB))
        .otherwise(concat_ws(" ", fillA, fillB, fillC))
    val role = pick(Vocab.roles, seed, 7)
    val tool = when(role === "tool", pick(Vocab.tools, seed, 8))
      .otherwise(lit(""))
    base.unionByName(hot)
      .select($"conv_id", $"turn_idx", role.as("role"), text.as("text"),
        tool.as("tool"), ts.as("ts"))
      .repartition(partitions, hash($"text", $"turn_idx"))
      .as[Turn]
  }

  /** Seed 0 must reproduce TranscriptGen exactly: both corpora are
    * compared as multisets of rows (`exceptAll` both ways) at a small
    * size. Returns an empty string when they match.
    */
  def selfCheck(spark: SparkSession): String = {
    val a = transcripts(spark, 0, 300, 8, 120, 4).toDF()
    val b = TranscriptGen.transcripts(spark, 300, 8, 120, 4).toDF()
    if (a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty) ""
    else "seed 0 differs from TranscriptGen.transcripts"
  }

  /** Fixture tables every headline query reads; `region`, `nation` and
    * `supplier` (at most 100 rows) are copied whole.
    */
  private val SampledTables = Seq("customer", "part", "orders", "lineitem",
    "events", "documents", "embeddings")
  private val WholeTables = Seq("region", "nation", "supplier")

  /** Writes a seeded Bernoulli row sample of the fixture tables under
    * `src` (one `<name>.parquet` each) to `dst`: a row is kept when a
    * 64-bit hash of the seed and all its columns falls below `fraction`.
    */
  def sampleTables(spark: SparkSession, seed: Int, fraction: Double,
      src: String, dst: String): Unit = {
    def copy(name: String, keep: DataFrame => DataFrame): Unit = {
      val df = spark.read.parquet(s"$src/$name.parquet")
      keep(df).write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
    val cut = math.round(fraction * 1000000L)
    SampledTables.foreach(copy(_, df => df.filter(pmod(
      xxhash64(lit(seed) +: df.columns.map(c => col(s"`$c`")).toSeq: _*),
      lit(1000000L)) < cut)))
    WholeTables.foreach(copy(_, identity))
  }
}
