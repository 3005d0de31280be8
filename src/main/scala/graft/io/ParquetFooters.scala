package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Row counts of a committed parquet directory, read from the part
  * files' footers on the driver: no Spark job, and no re-scan of the
  * data the commit has just written.
  */
object ParquetFooters {

  /** (write task id, rows) for every write task that left a part file
    * under `dir`, subdirectories (a `partitionBy` layout) included,
    * ascending by task id. The id is the `NNNNN` of Spark's
    * `part-NNNNN-...` file name: the partition of the frame that wrote
    * the file. Tasks with no rows usually write no file.
    */
  def rowsPerTask(conf: Configuration, dir: Path): Seq[(Int, Long)] = {
    val files = dir.getFileSystem(conf).listFiles(dir, true)
    val rows = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    while (files.hasNext) {
      val st = files.next()
      val name = st.getPath.getName
      if (name.startsWith("part-")) {
        val task = name.stripPrefix("part-").takeWhile(_.isDigit).toInt
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try rows(task) += reader.getRecordCount finally reader.close()
      }
    }
    rows.toSeq.sorted
  }
}
