package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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
    * e.g. `collect at Dedup.scala:212`. A job of a SQL execution is
    * named by that execution's description, the call site of the action
    * that started it: the jobs AQE submits for a plan with a shuffle run
    * on its own threads, whose stage names read
    * `$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:…`.
    */
  def callSites[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID}"
    // (SQL execution id, stage name) per job
    val jobs = new ConcurrentLinkedQueue[(Option[String], String)]()
    val descriptions = new ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      // the result stage is created last, so it has the highest id
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add((
            Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY)),
            e.stageInfos.maxBy(_.stageId).name))

      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          descriptions.put(s.executionId.toString, s.description)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    // no job description: an execution's description is then its call site
    sc.setJobGroup(group, null)
    try {
      val r = f
      ListenerBusDrain(sc)
      (r, jobs.asScala.toSeq.map { case (id, stage) =>
        id.flatMap(i => Option(descriptions.get(i))).getOrElse(stage)
      })
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
