package graft

import graft.plans.Salting
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SaltingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("salted self-join pairs == plain self-join pairs, including a " +
    "degenerate bucket that engages the salt path") {
    import spark.implicits._
    // key "hot" holds 50 ids (> bound 16 -> salted); others are small
    val keys = ((0 until 50).map(i => (f"id_$i%03d", "hot")) ++
      Seq(("id_900", "a"), ("id_901", "a"), ("id_902", "b")))
      .toDF("entity_id", "band")
    val salted = Salting.saltedSelfJoinPairs(keys, "entity_id", "band",
        bucketBound = 16, saltFactor = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val plain = keys.alias("a").join(keys.alias("b"),
        col("a.band") === col("b.band") &&
          col("a.entity_id") < col("b.entity_id"))
      .select(col("a.entity_id"), col("b.entity_id"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(salted == plain)
    assert(salted.size == 50 * 49 / 2 + 1)
  }
}
