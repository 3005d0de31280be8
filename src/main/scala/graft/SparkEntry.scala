package graft

import graft.gen.TranscriptGen
import graft.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: full KG construction (mention detect -> pooled-scorer
    * entity linking -> triple extraction -> canonicalization by exact
    * jaccard plus connected components -> relabel) over a deterministic synthetic transcript table
    * (sf0.001-sized: 60 convs x 8 turns + a hot conversation).
    * Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val turns = TranscriptGen.transcripts(spark, nConvs = 60,
      turnsPerConv = 8, hotTurns = 120)
    KgPipeline.run(spark, turns.toDF(), shufflePartitions = 8).triples.toDF()
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = graft.queries.Queries.oracle
}
