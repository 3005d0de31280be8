package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Pluggable lineage-cut strategy for the iterative operators
  * (connected-components rounds, Lloyd's iterations, the jaccard
  * prefix frames, LSH signatures).
  *
  * Why a knob: `localCheckpoint` truncates lineage and stores the
  * blocks ONLY on the executors that computed them — the fastest cut
  * in a single-JVM sandbox, but on a real cluster one executor loss
  * mid-loop makes the job unrecoverable (no lineage left to recompute
  * the lost blocks from). A 100-TB run of an iterative operator must
  * be able to opt into a durable cut without touching operator code:
  *
  *   - [[LineageCut.Local]] (default): `df.localCheckpoint()` —
  *     executor-memory blocks, no fault tolerance beyond the session.
  *     Right for local mode and for short-lived frames on small jobs.
  *   - [[LineageCut.Reliable]]: `df.checkpoint()` — writes the frame
  *     to the SparkContext's checkpoint directory (HDFS/S3 on a
  *     cluster; `spark.sparkContext.setCheckpointDir` must be called
  *     first) and re-reads it from durable storage, surviving any
  *     executor loss. The cost is one write+read of the frame per cut.
  *   - [[LineageCut.Replicated]]: `persist(MEMORY_AND_DISK_2)` plus an
  *     eager materialization — keeps lineage AND stores each block on
  *     two executors, so a single executor loss is served from the
  *     replica (and worst-case recomputes from lineage). Middle ground
  *     when a checkpoint dir is unavailable but lineage is cheap
  *     enough to keep.
  *
  * All three are EAGER (the frame is fully materialized when `cut`
  * returns) so loop-convergence checks and `count()` probes downstream
  * observe identical execution behavior regardless of strategy;
  * results are byte-identical by construction (LineageCutSpec pins
  * Canonicalize.connectedComponents and jaccardPairs equal across all
  * three strategies).
  */
sealed trait LineageCut {
  def cut(df: DataFrame): DataFrame
}

object LineageCut {

  /** `localCheckpoint()`: fastest, not fault-tolerant (sandbox default). */
  case object Local extends LineageCut {
    override def cut(df: DataFrame): DataFrame = df.localCheckpoint()
  }

  /** `checkpoint()` to the context's checkpoint dir: durable, survives
    * executor loss; requires `setCheckpointDir` before the first cut.
    */
  case object Reliable extends LineageCut {
    override def cut(df: DataFrame): DataFrame = df.checkpoint()
  }

  /** 2-replica persist, eagerly materialized; lineage retained. */
  case object Replicated extends LineageCut {
    override def cut(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK_2)
      p.count() // eager, matching the checkpoint strategies
      p
    }
  }

  val Default: LineageCut = Local
}
