package graft

import graft.io.ParquetFooters
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The footer-read metrics and schemas agree with what Spark reads
  * back, and cost no Spark job.
  */
class ParquetFootersSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def footerRows(dir: String): Seq[(Int, Long)] =
    ParquetFooters.rowsPerTask(spark.sparkContext.hadoopConfiguration,
      new Path(dir))

  /** writes `df` with each row tagged by the partition that writes it;
    * returns the rows read back per tag
    */
  private def write(df: DataFrame, dir: String,
      partitionBy: Seq[String] = Nil): Seq[(Int, Long)] = {
    df.withColumn("task", spark_partition_id())
      .write.partitionBy(partitionBy: _*).parquet(dir)
    spark.read.parquet(dir).groupBy("task").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
  }

  test("rowsPerTask equals the read-back rows of every write task: " +
    "unpartitioned, nested partitionBy, with side files, and empty") {
    val root = Files.createTempDirectory("graft_footers").toString
    // 5 partitions, the last two empty: tasks without rows leave no file
    val flat = spark.range(0, 1000, 1, 5).toDF().filter(col("id") < 550 &&
      col("id") % 7 =!= 0)
    val flatBack = write(flat, s"$root/flat")
    assert(flatBack.map(_._1) == Seq(0, 1, 2), flatBack)
    assert(footerRows(s"$root/flat") == flatBack)

    val nested = spark.range(0, 600, 1, 3)
      .select(col("id"), (col("id") % 3).as("a"), (col("id") % 2).as("b"))
    val nestedBack = write(nested, s"$root/nested", Seq("a", "b"))
    assert(Files.isDirectory(Paths.get(s"$root/nested/a=1/b=0")))
    assert(footerRows(s"$root/nested") == nestedBack)

    val side = s"$root/side"
    val sideBack = write(flat, side)
    Files.write(Paths.get(side, "_manifest.json"), "{}".getBytes("UTF-8"))
    val names = Files.list(Paths.get(side)).iterator.asScala
      .map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      names)
    assert(footerRows(side) == sideBack)

    Files.createDirectory(Paths.get(root, "empty"))
    assert(footerRows(s"$root/empty") == Nil)
  }

  test("schema equals the inferred one for every fixture table, and its " +
    "read schedules no job") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val tables = Files.list(Paths.get(s"/root/testdata/$sf")).iterator
        .asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      assert(tables.size >= 10, s"$sf: $tables")
      for (path <- tables) {
        val (df, jobs) = JobCount(spark)(
          spark.read.schema(ParquetFooters.schema(spark, path)).parquet(path))
        assert(jobs == 0, path)
        val inferred = spark.read.parquet(path).schema
        assert(ParquetFooters.schema(spark, path) == inferred, path)
        assert(df.schema == inferred, path)
      }
    }
  }

  test("schema of a directory Spark wrote equals the inferred one") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_footers_schema").toString + "/t"
    Seq((1L, "a", Seq(1.0, 2.0), Map("k" -> 1)), (2L, null, Nil, Map.empty[String, Int]))
      .toDF("id", "s", "v", "m").repartition(2).write.parquet(dir)
    assert(ParquetFooters.schema(spark, dir) == spark.read.parquet(dir).schema)
  }
}
