package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Row counts and schemas of parquet directories, read from the part
  * files' footers on the driver: no Spark job, and no re-scan of the
  * data.
  *
  * Each call costs one footer read per file it touches and nothing per
  * file besides:
  *   - the directory is walked with plain `listStatus`, not
  *     `listFiles(dir, true)`: the latter wraps every entry in a
  *     `LocatedFileStatus`, which loads the file's permissions, and the
  *     local file system does that by forking a process per file when
  *     native Hadoop is not loaded;
  *   - every footer is opened with read options built once per call
  *     from the caller's Hadoop configuration: without them parquet
  *     builds its options over a `new Configuration()`, re-parsing the
  *     default XML resources for every file and ignoring the caller's
  *     settings.
  */
object ParquetFooters {

  /** (write task id, rows) for every write task that left a part file
    * under `dir`, subdirectories (a `partitionBy` layout) included,
    * ascending by task id. The id is the `NNNNN` of Spark's
    * `part-NNNNN-...` file name: the partition of the frame that wrote
    * the file. Tasks with no rows usually write no file.
    */
  def rowsPerTask(conf: Configuration, dir: Path): Seq[(Int, Long)] = {
    val options = HadoopReadOptions.builder(conf).build()
    val rows = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    for (st <- files(conf, dir)) {
      val name = st.getPath.getName
      if (name.startsWith("part-")) {
        val task = name.stripPrefix("part-").takeWhile(_.isDigit).toInt
        rows(task) += withReader(conf, options, st)(_.getRecordCount)
      }
    }
    rows.toSeq.sorted
  }

  /** The schema `spark.read.parquet(path)` infers for an unpartitioned
    * parquet file or directory, without the inference's Spark job. As
    * Spark does with `mergeSchema` off, it reads the footer of the
    * first data file in path order (names starting with `_` or `.` are
    * not data, so legacy `_metadata` summary files, which Spark would
    * prefer, are not read) and converts it with the session's parquet
    * settings, preferring the Spark schema a Spark writer recorded in
    * the footer.
    */
  def schema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val first = files(conf, new Path(path))
      .filterNot(st => isHidden(st.getPath.getName))
      .minByOption(_.getPath.toString)
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet data file under $path"))
    val sql = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        sql.parquetReaderRespectUnknownTypeAnnotation)
    val footer = withReader(conf, HadoopReadOptions.builder(conf).build(),
      first)(_.getFooter)
    asRead(ParquetFileFormat.readSchemaFromFooter(
      new Footer(first.getPath, footer), converter))
  }

  /** `t` as Spark's parquet source reads it back: every field, array
    * element and map value nullable.
    */
  def asRead(t: StructType): StructType = nullable(t).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** `path` itself when it is a file, else every file below it */
  private def files(conf: Configuration, path: Path): Seq[FileStatus] = {
    val fs = path.getFileSystem(conf)
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq(st)
    walk(fs.getFileStatus(path))
  }

  private def isHidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  private def withReader[T](conf: Configuration, options: ParquetReadOptions,
      st: FileStatus)(f: ParquetFileReader => T): T = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(st, conf), options)
    try f(reader) finally reader.close()
  }
}
