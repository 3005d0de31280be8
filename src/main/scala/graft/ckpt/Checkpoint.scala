package graft.ckpt

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.io.ParquetFooters
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Stage-level checkpointing with lineage + per-partition metrics
  * (SURVEY.md §2.9 ST2-ST3, §7.4.6).
  *
  * Semantics (reference analog: load-or-build ANN index,
  * search_pipeline.py:106-109; best-checkpoint save, train.py:94-109):
  *
  *   - each stage owns `<root>/<name>`; if a prior run committed it
  *     (parquet `_SUCCESS` + `_manifest.json` present, with a MATCHING
  *     input fingerprint and a recorded schema) the stage is SKIPPED
  *     and its output is read back with the recorded schema — resume is
  *     therefore per-stage, and within a stage per-partition via
  *     parquet task commits. A manifest whose recorded fingerprint
  *     differs from the caller's (inputs or parameters changed since
  *     the commit), or that records no schema, forces a recompute
  *     instead of silently returning stale data.
  *   - commit protocol: write to `<dir>.tmp`, then atomic rename — a
  *     killed run never leaves a half-visible stage
  *   - every commit writes `_manifest.json` (underscore prefix so
  *     spark.read.parquet ignores it) with the fields `stage`,
  *     `fingerprint` (the caller's input fingerprint), `rows`, `wall_ms`
  *     (compute + parquet commit), `rows_per_sec`, `lineage` (named
  *     inputs), `per_partition` and `schema` (the stage's schema as the
  *     parquet source reads it back, as a JSON object). `per_partition`
  *     holds one `{"partition", "rows"}` entry per write task that left
  *     a part file — the partition of the frame that produced the rows,
  *     i.e. the "triples/partition" metric of the north rule — read
  *     from the part files' footers, as is `rows`.
  *
  * A commit schedules only the jobs of its parquet write, and a resume
  * none: the read-back needs no schema inference and the metrics need
  * no re-scan. Neither plans the read-back frame: the caller's first
  * action does.
  */
object Checkpoint {

  private val mapper = new ObjectMapper()

  /** What one `stage` call did: the committed `rows` and `wallMs` (as
    * in the manifest), or `skipped` with rows -1 and wallMs 0 when the
    * stage was resumed.
    */
  final case class StageStats(
      name: String,
      rows: Long,
      wallMs: Long,
      skipped: Boolean)

  /** Run (or resume) one named stage. `fingerprint` identifies the
    * stage's inputs + parameters (callers hash whatever determines the
    * output); a committed stage is only reused when its recorded
    * fingerprint matches.
    */
  def stage(
      spark: SparkSession,
      root: String,
      name: String,
      lineageInputs: Seq[String],
      fingerprint: String = "")(compute: => DataFrame): (DataFrame, StageStats) = {
    val dir = new Path(root, name)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)

    committedSchema(fs, dir, fingerprint) match {
      case Some(schema) =>
        (spark.read.schema(schema).parquet(dir.toString),
          StageStats(name, -1L, 0L, skipped = true))
      case None =>
        val t0 = System.nanoTime()
        val df = compute
        val tmp = new Path(root, name + ".tmp")
        fs.delete(tmp, true)
        df.write.mode("overwrite").parquet(tmp.toString)
        fs.delete(dir, true)
        if (!fs.rename(tmp, dir))
          throw new IllegalStateException(s"commit rename failed for $name")
        val schema = ParquetFooters.asRead(df.schema)
        val perTask = ParquetFooters.rowsPerTask(conf, dir)
        val total = perTask.map(_._2).sum
        val wallMs = (System.nanoTime() - t0) / 1000000
        val m = mapper.createObjectNode()
          .put("stage", name)
          .put("fingerprint", fingerprint)
          .put("rows", total)
          .put("wall_ms", wallMs)
          .put("rows_per_sec", if (wallMs > 0) total * 1000.0 / wallMs else 0.0)
        val lineage = m.putArray("lineage")
        lineageInputs.foreach(lineage.add)
        val pp = m.putArray("per_partition")
        perTask.foreach { case (p, n) =>
          pp.addObject().put("partition", p).put("rows", n)
        }
        m.set[JsonNode]("schema", mapper.readTree(schema.json))
        val os = fs.create(new Path(dir, "_manifest.json"), true)
        try os.write(mapper.writeValueAsBytes(m)) finally os.close()
        (spark.read.schema(schema).parquet(dir.toString),
          StageStats(name, total, wallMs, skipped = false))
    }
  }

  /** the schema a committed stage recorded, if its fingerprint matches;
    * None when `_SUCCESS` or the manifest is missing, or the manifest is
    * unreadable, records another fingerprint or no schema (all treated
    * as a mismatch -> recompute).
    */
  private def committedSchema(
      fs: FileSystem, dir: Path, fingerprint: String): Option[StructType] =
    try {
      if (!fs.exists(new Path(dir, "_SUCCESS"))) None
      else {
        val in = fs.open(new Path(dir, "_manifest.json"))
        val m = try mapper.readTree(in) finally in.close()
        val schema = m.path("schema")
        if (m.path("fingerprint").asText(null) != fingerprint ||
            !schema.isObject) None
        else Some(DataType.fromJson(schema.toString).asInstanceOf[StructType])
      }
    } catch { case _: Exception => None }
}
