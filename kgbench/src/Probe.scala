package kgbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark task metrics summed over the jobs of one job group. */
final case class GroupStats(
    jobs: Int, tasks: Int, runMs: Long, cpuNs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long,
    taskMs: Seq[Long]) {
  /** straggler ratio: slowest task over the median task (run time) */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      val p50 = s((s.size - 1) / 2)
      if (p50 > 0) s.last.toDouble / p50 else s.last.toDouble
    }
}

/** Aggregates the task metrics of every job by its job group
  * (`spark.jobGroup.id`). It only observes events the scheduler posts
  * anyway, so it schedules no Spark job of its own.
  */
final class GroupListener extends SparkListener {
  private final class Acc {
    var jobs = 0; var tasks = 0; var runMs = 0L; var cpuNs = 0L
    var shufW = 0L; var shufR = 0L; var spill = 0L
    val taskMs = ArrayBuffer[Long]()
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()

  private def acc(group: String): Acc =
    accs.computeIfAbsent(group, _ => new Acc)

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { g =>
      val a = acc(g)
      a.synchronized(a.jobs += 1)
      e.stageIds.foreach(stageGroup.put(_, g))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach(stageGroup.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val m = e.taskMetrics
      if (m != null) {
        val a = acc(g)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.shufR += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.taskMs += m.executorRunTime
        }
      }
    }

  def stats(group: String): GroupStats =
    Option(accs.get(group)).map(a => a.synchronized(GroupStats(
      a.jobs, a.tasks, a.runMs, a.cpuNs, a.shufW, a.shufR, a.spill,
      a.taskMs.toList))).getOrElse(GroupStats(0, 0, 0, 0, 0, 0, 0, Nil))
}

object GroupListener {
  private val installed = new java.util.WeakHashMap[SparkContext, GroupListener]()

  /** Registers one listener per SparkContext; a second call returns the
    * listener already installed instead of adding another.
    */
  def setup(sc: SparkContext): GroupListener = installed.synchronized {
    Option(installed.get(sc)).getOrElse {
      val l = new GroupListener
      sc.addSparkListener(l)
      installed.put(sc, l)
      l
    }
  }

  /** Blocks until the listener bus has delivered every posted event, so
    * group stats read after a job are complete.
    */
  def drain(sc: SparkContext): Unit = org.apache.spark.BusDrain(sc)
}

/** One traced interval. Spans live in memory until [[Spans.write]]. */
final case class Span(run: String, name: String, parent: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Spans(run: String) {
  private val buf = ArrayBuffer[Span]()

  def apply[T](name: String, parent: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally buf.synchronized(buf += Span(run, name, parent, t0,
      System.nanoTime()))
  }

  def all: Seq[Span] = buf.synchronized(buf.toList)

  def write(path: String): Unit = {
    val lines = all.map(s =>
      s"""{"run":"${s.run}","name":"${s.name}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
