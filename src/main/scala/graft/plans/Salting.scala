package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew salting (SURVEY.md §4.3.2, north rule: "AQE plus salting for
  * hot-conversation skew"). One operator remains: the salted self-join
  * behind `q_dedup_lsh_pairs`' degenerate band buckets. AQE's
  * skew-join splitting handles skewed JOIN partitions at runtime, but a
  * self-join key of B rows emits B^2/2 pairs from one reducer, which
  * only salting the key splits.
  */
object Salting {

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
}
