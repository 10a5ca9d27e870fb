package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Counts the Spark jobs, stages, tasks and shuffle bytes a spec's calls
  * run, by job groups the spec sets (`in`). The listener bus is
  * asynchronous, so every count first runs a marker job in a group of its own and wait until
  * the listener has seen it: the bus delivers events in order, so by
  * then every earlier job of the spec's groups has been seen too. */
final class JobProbe(spark: SparkSession, prefix: String) {
  private val sc = spark.sparkContext
  private val started = mutable.ArrayBuffer.empty[(String, String)] // (group, description)
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val taskCount = mutable.HashMap.empty[String, Int]
  private val shuffleWritten = mutable.HashMap.empty[String, Long]
  private var markers = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(prefix)).foreach { g =>
          JobProbe.this.synchronized {
            started += ((g, e.properties.getProperty("spark.job.description")))
            e.stageIds.foreach(stageGroup(_) = g)
          }
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      JobProbe.this.synchronized {
        stageGroup.get(e.stageId).foreach { g =>
          taskCount(g) = taskCount.getOrElse(g, 0) + 1
          val written = Option(e.taskMetrics).fold(0L)(_.shuffleWriteMetrics.bytesWritten)
          shuffleWritten(g) = shuffleWritten.getOrElse(g, 0L) + written
        }
      }
  }
  sc.addSparkListener(listener)

  /** Run `body` under job group `prefix + group` (whose description is
    * the group id too), then clear the group. */
  def in[T](group: String)(body: => T): T = {
    sc.setJobGroup(prefix + group, prefix + group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  private def settle(): Unit = {
    markers += 1
    val marker = s"marker-$markers"
    in(marker)(spark.range(1).count())
    eventually(timeout(60.seconds), interval(20.millis)) {
      assert(synchronized(started.exists(_._1 == prefix + marker)))
    }
  }

  /** Descriptions of the jobs run under `group`, in start order. */
  def jobs(group: String): Seq[String] = {
    settle()
    synchronized(started.collect { case (g, d) if g == prefix + group => d }.toSeq)
  }

  /** Tasks run under `group`. */
  def tasks(group: String): Int = {
    settle()
    synchronized(taskCount.getOrElse(prefix + group, 0))
  }

  /** Stages of the jobs run under `group`. */
  def stages(group: String): Int = {
    settle()
    synchronized(stageGroup.count(_._2 == prefix + group))
  }

  /** Shuffle bytes written by the tasks run under `group`. */
  def shuffleBytes(group: String): Long = {
    settle()
    synchronized(shuffleWritten.getOrElse(prefix + group, 0L))
  }

  def close(): Unit = sc.removeSparkListener(listener)
}
