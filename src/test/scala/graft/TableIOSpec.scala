package graft

import graft.gen.TranscriptGen
import graft.io.TableIO
import graft.pipeline.KgPipeline
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class TableIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("snapshot commits: versioning, time travel, metadata") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tableio").toString + "/t"
    val v1 = TableIO.write(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"),
      dir, lineage = Seq("stage_x"))
    val v2 = TableIO.write(spark, Seq((3, "c")).toDF("k", "v"), dir)
    assert(v1 == 1 && v2 == 2)
    assert(TableIO.read(spark, dir).count() == 1) // latest
    assert(TableIO.read(spark, dir, asOf = Some(1)).count() == 2) // travel
    val meta = TableIO.metadata(spark, dir, Some(1))
    assert(meta.contains(""""snapshot":1"""))
    assert(meta.contains(""""parent":null"""))
    assert(meta.contains(""""lineage":["stage_x"]"""))
    assert(TableIO.metadata(spark, dir).contains(""""parent":1"""))
  }

  test("partitioned layout enables partition pruning on read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tableio2").toString + "/e"
    TableIO.write(spark,
      Seq(("a", "uses", "b"), ("b", "calls", "c"), ("c", "uses", "d"))
        .toDF("src", "pred", "dst"),
      dir, partitionCols = Seq("pred"))
    val pruned = TableIO.read(spark, dir).filter($"pred" === "uses")
    assert(pruned.count() == 2)
    // the pushed partition filter must appear in the scan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("pred"), s"no partition pruning in:\n$plan")
  }

  test("pipeline materializes node/edge tables as snapshots") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tableio3").toString
    val turns = TranscriptGen.transcripts(spark, 30, 6, 0, 2).toDF()
    val result = KgPipeline.run(spark, turns, shufflePartitions = 2)
    val (nv, ev) = KgPipeline.materialize(spark, result, dir)
    assert(nv == 1 && ev == 1)
    val edges = TableIO.read(spark, s"$dir/edges")
    assert(edges.count() == result.edges.count())
    assert(edges.columns.toSet == Set("src", "pred", "dst", "support"))
    // second run = second snapshot; first remains readable
    KgPipeline.materialize(spark, result, dir)
    assert(TableIO.read(spark, s"$dir/edges", Some(1)).count() ==
      TableIO.read(spark, s"$dir/edges", Some(2)).count())
  }

  test("KgTableFormat swap surface: parquet binding round-trips through " +
    "the trait; the Iceberg binding satisfies the same interface") {
    import spark.implicits._
    import graft.io.{IcebergTableFormat, KgTableFormat, ParquetSnapshotFormat}
    val dir = Files.createTempDirectory("graft_tableio4").toString
    // call sites are format-generic: same code path either binding
    def commitAndReload(fmt: KgTableFormat, table: String): Long = {
      val snap = fmt.write(spark, Seq((1, "uses"), (2, "calls"))
        .toDF("src", "pred"), table, partitionCols = Seq("pred"),
        lineage = Seq("triples_canonical"))
      assert(fmt.read(spark, table).count() == 2)
      assert(fmt.read(spark, table, asOf = Some(snap)).count() == 2)
      snap
    }
    assert(commitAndReload(ParquetSnapshotFormat, s"$dir/t") == 1L)
    // compile-time conformance: the Iceberg binding (pure Spark
    // DataSourceV2 API, no Iceberg classes) typechecks as KgTableFormat;
    // running it requires the iceberg-spark-runtime jar + catalog conf,
    // absent in this sandbox (documented mapping in KgTableFormat)
    val iceberg: KgTableFormat = new IcebergTableFormat
    assert(iceberg != null)
  }

  test("metadata rows are right for a partitioned table and an empty one") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("graft_tableio5").toString
    def rows(table: String): Long =
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(TableIO.metadata(spark, table)).get("rows").asLong
    val edges = Seq(("a", "uses", "b"), ("b", "calls", "c"),
      ("c", "uses", "d"), ("d", "owns", "e"))
      .toDF("src", "pred", "dst").repartition(3)
    TableIO.write(spark, edges, s"$dir/p", Seq("pred"))
    assert(rows(s"$dir/p") == 4)
    assert(TableIO.read(spark, s"$dir/p").count() == 4)
    val empty = edges.filter(lit(false))
    TableIO.write(spark, empty, s"$dir/e")
    assert(rows(s"$dir/e") == 0)
    assert(TableIO.read(spark, s"$dir/e").count() == 0)
    TableIO.write(spark, empty, s"$dir/ep", Seq("pred"))
    assert(rows(s"$dir/ep") == 0)
  }
}
