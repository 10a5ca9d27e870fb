package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-level counters summed over the jobs of one span. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L
  var inBytes = 0L; var inRecords = 0L
  var shReadBytes = 0L; var shReadRecords = 0L
  var shWriteBytes = 0L; var shWriteRecords = 0L
  var outBytes = 0L; var outRecords = 0L
}

/** Attributes Spark work to spans through the job group each span sets.
  * It only appends to maps on the listener-bus thread; the maps are read
  * once, after `SparkSession.stop` has drained the bus. */
final class GroupListener extends SparkListener {
  val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { g =>
      byGroup.getOrElseUpdate(g, new Counters).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get(e.stageInfo.stageId).foreach(g => byGroup(g).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = byGroup(g)
      c.tasks += 1
      c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
      c.inBytes += m.inputMetrics.bytesRead; c.inRecords += m.inputMetrics.recordsRead
      c.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shReadRecords += m.shuffleReadMetrics.recordsRead
      c.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.outBytes += m.outputMetrics.bytesWritten; c.outRecords += m.outputMetrics.recordsWritten
    }
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long) {
  var endNs = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  var counters = new Counters
  def wallNs: Long = endNs - startNs
}

object Tracer { val GroupPrefix = "perfbench-" }

/** Spans around every call the benchmark makes into an engine layer.
  * Off (`on = false`) a span is the bare call; on, it records name,
  * start, end and parent in memory and sets one Spark job group per span
  * so the listener can attribute jobs, tasks and bytes to it. `active`
  * lets a traced run interleave untraced rounds to measure overhead. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  var active: Boolean = on
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  val t0Ns: Long = System.nanoTime()

  private def setGroup(s: Option[Span]): Unit = s match {
    case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name, interruptOnCancel = false)
    case None => sc.clearJobGroup()
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, System.nanoTime())
      spans += s; stack = s :: stack
      setGroup(Some(s))
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail; setGroup(stack.headOption) }
    }

  /** Attach a count to the innermost open span. */
  def attr(key: String, value: Double): Unit =
    if (active) stack.headOption.foreach(_.attrs(key) = value)

  /** Copy the listener's per-group counters onto the spans. */
  def attach(listener: GroupListener): Unit =
    spans.foreach(s => listener.byGroup.get(Tracer.GroupPrefix + s.id).foreach(s.counters = _))

  /** Span duration minus the part of it that child spans cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L; var reach = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    s.wallNs - covered
  }
}

/** Process and host readings: CPU time of this JVM (all threads, so the
  * local executors, GC and JIT too), host steal from /proc/stat, and the
  * JVM's own GC and JIT totals. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  /** (steal, total) jiffies of the host's aggregate "cpu" line; zeros
    * where /proc/stat cannot be read. */
  def stealJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  def jitSeconds(): Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime / 1000.0 else 0.0
  }

  /** (regular files, bytes) under a directory tree. */
  def dirStats(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        var files = 0L; var bytes = 0L
        s.filter(p => java.nio.file.Files.isRegularFile(p)).forEach { p =>
          files += 1; bytes += java.nio.file.Files.size(p)
        }
        (files, bytes)
      } finally s.close()
    }
  }
}
