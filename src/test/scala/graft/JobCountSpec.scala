package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class JobCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("callSites names the jobs AQE submits for a plan with a shuffle " +
    "by the call site of the action that started them") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val df = spark.range(0, 1000, 1, 4).toDF("id")
      .groupBy((col("id") % 7).as("k")).count()
    val (rows, sites) = JobCount.callSites(spark)(df.collect())
    assert(rows.length == 7)
    assert(sites.size > 1, sites)
    assert(sites.forall(_.startsWith("collect at JobCountSpec.scala:")), sites)
  }
}
