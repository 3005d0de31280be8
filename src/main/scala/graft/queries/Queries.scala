package graft.queries

import graft.io.ParquetFooters
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract query registry (SURVEY.md §7.5): each entry is a
  * Spark-first implementation of one operator family from SURVEY.md §2,
  * runnable on the /root/testdata parquet tables, with a DuckDB-equivalent
  * oracle SQL in `oracle` (column names aligned on both sides).
  */
object Queries {

  /** table `name` of `dir`, read with the schema taken from its footer
    * on the driver, so the read schedules no schema-inference job
    */
  private[queries] def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(ParquetFooters.schema(spark, path)).parquet(path)
  }

  def all: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.all ++ TextQueries.all ++ DedupQueries.all ++
      SimilarityQueries.all ++ MlQueries.all

  def oracle: Map[String, String] =
    RelationalQueries.oracle ++ TextQueries.oracle ++ DedupQueries.oracle ++
      SimilarityQueries.oracle ++ MlQueries.oracle
}
