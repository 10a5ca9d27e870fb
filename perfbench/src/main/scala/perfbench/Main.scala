package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark driver: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --trace-dir <dir> --t0-ms <epoch ms>`,
  * or `--selftest`.
  *
  * The engine runs in one `local[2]` session: two task slots on a
  * 4-vCPU host leave the driver, GC and JIT a core of their own, which
  * keeps sub-second actions from queueing behind executors. The last
  * stdout line is the result object; the line before it carries the
  * host context (steal, rounds), which is not a metric. */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "ivf_serve" -> IvfServe.run,
    "ingest_waves" -> IngestWaves.run,
    "neardup_cluster" -> NeardupCluster.run)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--selftest")) sys.exit(SelfTest.run())
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = opts("work")
    val spark = SparkSession.builder()
      .master(s"local[${Layers.Slots}]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Layers.Slots)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val listener = new GroupListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(trace, spark.sparkContext)
    val r = new Run(spark, tracer, seed, seconds, work, opts("t0-ms").toLong)
    val steal0 = Host.stealJiffies()
    r.log("session started")
    body(r)
    r.log("checks done")
    val steal1 = Host.stealJiffies()
    r.gcS = Host.gcSeconds()
    r.jitS = Host.jitSeconds()
    spark.stop() // drains the listener bus once
    tracer.attach(listener)
    r.log("session stopped")

    val stealPct =
      if (steal1._2 > steal0._2) 100.0 * (steal1._1 - steal0._1) / (steal1._2 - steal0._2) else 0.0
    val untraced = r.untracedRounds
    val metrics: Seq[(String, String, Double)] =
      if (trace) Layers.metrics(r)
      else Seq(
        ("setup_s", "s", r.setupS),
        ("build_s", "s", r.buildS),
        ("round_s", "s", Stats.median(untraced.map(_.wallS))),
        ("round_cpu_s", "s", Stats.median(untraced.map(_.cpuS))),
        ("recall", "ratio", r.recall))
    val context = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "host_steal_pct" -> stealPct, "rounds" -> r.rounds.size,
      "round_wall_s" -> r.rounds.map(_.wallS).toSeq,
      "problems" -> r.problems.toSeq)
    if (trace) writeTrace(opts("trace-dir"), workload, seed, stealPct, r)
    r.problems.foreach(p => System.err.println(s"CHECK FAILED: $p"))
    println(Json.obj("context" -> Json.Raw(context)))
    println(Json.obj(
      "correct" -> (r.problemCount == 0 && r.rounds.nonEmpty),
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> Json.Raw(metrics.map { case (n, u, v) =>
        Json.str(n) + ": " + Json.obj("value" -> v, "unit" -> u)
      }.mkString("{", ", ", "}"))))
  }

  private def writeTrace(dir: String, workload: String, seed: Long, stealPct: Double, r: Run): Unit = {
    Files.createDirectories(Paths.get(dir))
    val runId = s"$workload-seed$seed-${System.currentTimeMillis()}"
    val t = r.tracer
    val spans = t.spans.map { s =>
      val c = s.counters
      Json.obj(
        "run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.startNs - t.t0Ns) / 1e6, "end_ms" -> (s.endNs - t.t0Ns) / 1e6,
        "self_ms" -> t.selfNs(s) / 1e6,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "executor_run_ms" -> c.runMs, "executor_cpu_ms" -> c.cpuNs / 1e6,
        "input_bytes" -> c.inBytes, "input_records" -> c.inRecords,
        "shuffle_read_bytes" -> c.shReadBytes, "shuffle_read_records" -> c.shReadRecords,
        "shuffle_write_bytes" -> c.shWriteBytes, "shuffle_write_records" -> c.shWriteRecords,
        "output_bytes" -> c.outBytes, "output_records" -> c.outRecords,
        "attrs" -> Json.Raw(s.attrs.map { case (k, v) => Json.str(k) + ": " + Json.num(v) }.mkString("{", ", ", "}")))
    }
    val doc = Json.obj(
      "run_id" -> runId, "workload" -> workload, "seed" -> seed, "host_steal_pct" -> stealPct,
      "rounds" -> r.rounds.map(x => Json.Raw(Json.obj("index" -> x.index, "wall_s" -> x.wallS,
        "cpu_s" -> x.cpuS, "traced" -> x.traced))).toSeq,
      "spans" -> spans.map(Json.Raw(_)).toSeq)
    Files.write(Paths.get(dir, s"$runId.json"), doc.getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
  }

  def obj(kvs: (String, Any)*): String = kvs.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
