package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block schedules. The block runs under a
  * fresh job group, so jobs of other threads are not counted.
  */
object JobCount {
  def apply[T](spark: SparkSession)(f: => T): (T, Int) = {
    val (r, sites) = callSites(spark)(f)
    (r, sites.size)
  }

  /** The call site of every job the block schedules, in start order,
    * as the UI names it: the action and the first frame outside Spark,
    * e.g. `collect at Dedup.scala:212`.
    */
  def callSites[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID}"
    val sites = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      // the result stage is created last, so it has the highest id
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = f
      ListenerBusDrain(sc)
      (r, sites.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
