package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew salting utilities (SURVEY.md §4.3.2, north rule: "AQE plus
  * salting for hot-conversation skew").
  *
  * Two-phase salted aggregation: a hot grouping key that would pin one
  * reducer is split across `saltBuckets` partial groups keyed by
  * (key, salt = pmod(hash(rowSalt), S)), partially aggregated, then the
  * partials merge in a second (tiny) aggregation on the bare key.
  * AQE's skew-join splitting handles the JOIN side of skew at runtime;
  * this handles the AGGREGATION side, which AQE does not split.
  */
object Salting {

  /** Salted count per key: groupBy(key+salt).count -> groupBy(key).sum.
    * Result is identical to a direct groupBy(key).count by associativity.
    */
  def saltedCount(
      df: DataFrame,
      keys: Seq[Column],
      rowSalt: Column,
      saltBuckets: Int): DataFrame = {
    val salted = df
      .withColumn("__salt", pmod(hash(rowSalt), lit(saltBuckets)))
      .groupBy(keys :+ col("__salt"): _*)
      .agg(count(lit(1)).as("__partial"))
    salted.groupBy(keys: _*)
      .agg(sum(col("__partial")).as("n"))
  }

  /** Salted self-join pair generation over (id, key) rows — the
    * degenerate-bucket treatment for Dedup.lshCandidatePairs' band keys
    * (north rule: "MinHash/LSH … over a salted self-join"). Emits
    * every unordered id pair (src < dst) sharing a key. A key bucket of
    * B rows yields B^2/2 pairs inside ONE join key — one reducer task at
    * cluster scale — so buckets larger than `bucketBound` are split into
    * `saltFactor` cells by pmod(xxhash64(id), S): the A side replicates
    * each row to cell keys (key, salt, j) for all j and the B side to
    * (key, i, salt) for all i, so every (u, v) cell combination joins
    * exactly once across S^2 independent keys of ~(B/S)^2 output each.
    * Small buckets keep salt = 0 with no replication — the default plan
    * (and the result set, asserted in DedupSpec) is unchanged.
    *
    * `keys` is read by three branches (bucket sizes, A side, B side) and
    * is not materialized here: the caller passes a frame that is cheap
    * to re-derive (Dedup's band explode over checkpointed signatures).
    */
  def saltedSelfJoinPairs(
      keys: DataFrame, idCol: String, keyCol: String,
      bucketBound: Int, saltFactor: Int): DataFrame = {
    // oversized buckets only (few keys by construction) -> broadcast
    val bigKeys = keys.groupBy(col(keyCol)).count()
      .filter(col("count") > bucketBound)
      .select(col(keyCol), lit(true).as("__big"))
    val salted = keys.join(broadcast(bigKeys), Seq(keyCol), "left")
      .withColumn("__salt", when(col("__big"),
        pmod(xxhash64(col(idCol)), lit(saltFactor)).cast("int"))
        .otherwise(0))
      .withColumn("__reps", when(col("__big"),
        sequence(lit(0), lit(saltFactor - 1))).otherwise(array(lit(0))))
    val aSide = salted.select(col(idCol), col(keyCol), col("__salt"),
      explode(col("__reps")).as("__j"))
    val bSide = salted.select(col(idCol), col(keyCol), col("__salt"),
      explode(col("__reps")).as("__i"))
    aSide.alias("a").join(bSide.alias("b"),
        col(s"a.$keyCol") === col(s"b.$keyCol") &&
          col("a.__salt") === col("b.__i") &&
          col("a.__j") === col("b.__salt") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("src"), col(s"b.$idCol").as("dst"))
      .distinct()
  }

  /** Salted LONG sum — same shape for any associative+commutative agg. */
  def saltedSum(
      df: DataFrame,
      keys: Seq[Column],
      value: Column,
      rowSalt: Column,
      saltBuckets: Int): DataFrame = {
    val salted = df
      .withColumn("__salt", pmod(hash(rowSalt), lit(saltBuckets)))
      .withColumn("__v", value)
      .groupBy(keys :+ col("__salt"): _*)
      .agg(sum(col("__v")).as("__partial"))
    salted.groupBy(keys: _*)
      .agg(sum(col("__partial")).as("sum"))
  }
}
