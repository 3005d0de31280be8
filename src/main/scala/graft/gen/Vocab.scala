package graft.gen

import graft.mention.MentionDetect
import graft.schema.Entity

/** Closed entity/predicate vocabulary for the deterministic transcript
  * synthesizer and the candidate index (FIXTURES.md §1-2).
  *
  * The index deliberately contains coreferent duplicate entities (e.g.
  * `ent_spark_a` / `ent_spark_b`) so canonicalization (exact jaccard
  * plus connected components) has real merges to find — mirroring the reference's topic-merge step
  * (reference: src/pipeline/topic_modeling.py:129-151).
  */
object Vocab {

  val entities: IndexedSeq[Entity] = IndexedSeq(
    Entity("ent_spark_a", "apache spark", Seq("spark", "spark engine")),
    Entity("ent_spark_b", "spark engine", Seq("apache spark runtime")),
    Entity("ent_catalyst", "catalyst optimizer", Seq("catalyst")),
    Entity("ent_parquet", "parquet", Seq("parquet files")),
    Entity("ent_iceberg", "iceberg", Seq("iceberg table")),
    Entity("ent_kafka", "kafka", Seq("kafka broker")),
    Entity("ent_alice", "alice", Seq("alice chen")),
    Entity("ent_bob", "bob", Seq("bob marley")),
    Entity("ent_carol", "carol", Seq("carol jones")),
    Entity("ent_scheduler", "scheduler", Seq("task scheduler")),
    Entity("ent_executor", "executor", Seq("spark executor")),
    Entity("ent_shuffle", "shuffle service", Seq("shuffle")),
    Entity("ent_driver", "driver", Seq("driver process")),
    Entity("ent_cluster", "cluster", Seq("compute cluster")),
    Entity("ent_pipeline", "pipeline", Seq("data pipeline")),
    Entity("ent_warehouse", "warehouse", Seq("data warehouse")),
    Entity("ent_dashboard", "dashboard", Seq("metrics dashboard")),
    Entity("ent_airflow", "airflow", Seq("airflow dag")),
    Entity("ent_postgres", "postgres", Seq("postgres database")),
    Entity("ent_redis", "redis", Seq("redis cache")),
  )

  /** All known surfaces (gazetteer), lowercase; 1- and 2-token phrases.
    * Reference analog: TextMatcher entity file
    * (word_sense_multimodal_pipeline.py:187-191).
    */
  val gazetteer: IndexedSeq[String] = MentionDetect.gazetteerOf(entities)

  /** predicate trigger token -> predicate label. */
  val predicates: Map[String, String] = Map(
    "uses" -> "uses",
    "calls" -> "calls",
    "created" -> "created",
    "fixed" -> "fixed",
    "queries" -> "queries",
    "updates" -> "updates",
    "monitors" -> "monitors",
    "restarts" -> "restarts",
  )
  val predicateTokens: IndexedSeq[String] = predicates.keys.toIndexedSeq.sorted

  /** Non-entity filler words (never in gazetteer, never predicates). */
  val fillers: IndexedSeq[String] = IndexedSeq(
    "today", "then", "carefully", "again", "meanwhile", "finally",
    "please", "quickly", "now", "yesterday", "maybe", "so")

  val roles: IndexedSeq[String] = IndexedSeq("user", "assistant", "tool")
  val tools: IndexedSeq[String] = IndexedSeq("search", "bash", "sql", "")

  /** Linking threshold: below this cosine a mention stays unlinked. */
  val minLinkScore = 0.30
}
