package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** The executed plan of every query execution a block completes, in
  * completion order: its actions and the eager lineage cuts
  * (localCheckpoint) inside the operators it calls.
  */
object ExecutedPlans {
  def apply[T](spark: SparkSession)(f: => T): (T, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val r = f
      ListenerBusDrain(spark.sparkContext)
      (r, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
