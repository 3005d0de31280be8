package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Iceberg-semantics table IO on plain Parquet (SURVEY.md §7.4.1).
  *
  * No Iceberg runtime jar ships in /opt/spark/jars, so this implements
  * the subset of Iceberg's table contract the north rule relies on, with
  * a config-only swap path to the real thing:
  *
  *   - partitioned layout (`partitionBy` columns -> directory layout,
  *     so partition pruning works on read)
  *   - snapshot isolation: each write is a new `snap-<n>` directory plus
  *     an atomically renamed `v<n>.metadata.json` carrying schema,
  *     partition spec, row count, lineage, and parent snapshot — readers
  *     resolve the latest committed metadata and never observe a
  *     half-written snapshot
  *   - the row count is read from the committed part files' footers
  *     (every `partitionBy` subdirectory), so a write schedules only the
  *     jobs of its parquet write, and its driver adds one footer read
  *     per part file ([[ParquetFooters]])
  *   - time travel: `read(dir, asOf = Some(n))`
  *
  * The KG pipeline materializes node/edge tables through this interface.
  */
object TableIO {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def latestVersion(spark: SparkSession, dir: String): Option[Int] = {
    val f = fs(spark, dir)
    val d = new Path(dir)
    if (!f.exists(d)) None
    else {
      val versions = f.listStatus(d).map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".metadata.json"))
        .flatMap(n => n.stripPrefix("v").stripSuffix(".metadata.json").toIntOption)
      versions.sorted.lastOption
    }
  }

  /** Commit a new snapshot; returns the snapshot version. */
  def write(
      spark: SparkSession,
      df: DataFrame,
      dir: String,
      partitionCols: Seq[String] = Nil,
      lineage: Seq[String] = Nil): Int = {
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir))
    val version = latestVersion(spark, dir).getOrElse(0) + 1
    val snapDir = new Path(dir, s"snap-$version")
    val tmp = new Path(dir, s"snap-$version.tmp")
    f.delete(tmp, true)
    val writer = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(tmp.toString)
    if (!f.rename(tmp, snapDir))
      throw new IllegalStateException(s"snapshot rename failed: $snapDir")

    val rows = ParquetFooters.rowsPerTask(
      spark.sparkContext.hadoopConfiguration, snapDir).map(_._2).sum
    val parent = if (version == 1) "null" else (version - 1).toString
    val json =
      s"""{"format_version":1,"snapshot":$version,"parent":$parent,""" +
        s""""rows":$rows,""" +
        s""""schema":${quote(df.schema.json)},""" +
        s""""partition_spec":${lineageJson(partitionCols)},""" +
        s""""lineage":${lineageJson(lineage)}}"""
    val metaTmp = new Path(dir, s"v$version.metadata.json.tmp")
    val os = f.create(metaTmp, true)
    os.write(json.getBytes("UTF-8"))
    os.close()
    if (!f.rename(metaTmp, new Path(dir, s"v$version.metadata.json")))
      throw new IllegalStateException(s"metadata commit failed: $dir v$version")
    version
  }

  /** Read the latest (or a pinned) committed snapshot. */
  def read(spark: SparkSession, dir: String,
      asOf: Option[Int] = None): DataFrame = {
    val version = asOf.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $dir"))
    spark.read.parquet(new Path(dir, s"snap-$version").toString)
  }

  def metadata(spark: SparkSession, dir: String,
      asOf: Option[Int] = None): String = {
    val version = asOf.orElse(latestVersion(spark, dir)).get
    val p = new Path(dir, s"v$version.metadata.json")
    val in = fs(spark, dir).open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def lineageJson(xs: Seq[String]): String =
    xs.map(quote).mkString("[", ",", "]")
}
