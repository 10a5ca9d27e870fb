package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One benchmark run: the session, the tracer, the operation counts, the
  * correctness problems found, and the timed rounds.
  *
  * A workload does its set-up, calls [[setupDone]] just before its first
  * timed operation, then hands its round body to [[rounds]]: warm-up
  * rounds first (untimed), then whole rounds until `seconds` have
  * passed. Each round of one workload makes the same operations, so the
  * share of failed operations does not depend on how long a run is. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Int, val workDir: String, t0Ms: Long) {
  var attempted = 0L
  var failed = 0L
  var problemCount = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  var setupS: Double = Double.NaN
  var buildS: Double = Double.NaN
  var recall: Double = Double.NaN
  var gcS = 0.0
  var jitS = 0.0
  /** Persisted index directories whose size the traced run reports. */
  var indexDirs: Seq[String] = Nil

  final case class Round(index: Int, wallS: Double, cpuS: Double, traced: Boolean)
  val rounds = mutable.ArrayBuffer.empty[Round]

  def setupDone(): Unit = {
    setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    log("setup done")
  }

  /** A progress line on stderr, stamped with seconds since JVM launch. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0Ms) / 1000.0}%7.2f s] $msg")

  /** One call into the engine: counted, and traced as a span when the
    * tracer is on. A failure is counted and rethrown. */
  def op[T](name: String)(body: => T): T = {
    attempted += 1
    try tracer.span(name)(body)
    catch { case NonFatal(e) => failed += 1; throw e }
  }

  def check(ps: List[String]): Unit = {
    problemCount += ps.size
    ps.foreach(p => if (problems.size < 20) problems += p)
  }

  /** (result, wall seconds, process CPU seconds) of `body`. */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = Host.cpuNs(); val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9, (Host.cpuNs() - c0) / 1e9)
  }

  /** Warm-up rounds, then timed rounds until `seconds` have passed and at
    * least two rounds were made (so every median has two samples even on
    * a slow host). A traced run traces rounds in the order untraced,
    * traced, traced, untraced, …, which cancels a steady warm-up trend,
    * and records at least four, so traced and untraced rounds of one
    * process give the tracing overhead. A round whose operation fails is
    * not recorded; its failure is counted by [[op]]. */
  def rounds(warmup: Int)(body: Int => Unit): Unit = {
    val on = tracer.on
    val minRounds = if (on) 4 else 2
    tracer.active = false
    (0 until warmup).foreach(i => attempt(i)(body))
    log(s"warm-up done ($warmup rounds)")
    val end = System.nanoTime() + seconds * 1000000000L
    var i = warmup
    while (System.nanoTime() < end || i - warmup < minRounds) {
      val traced = on && (i - warmup) % 4 % 3 != 0
      tracer.active = traced
      attempt(i)(body).foreach { case (w, c) => rounds += Round(i, w, c, traced) }
      i += 1
    }
    tracer.active = on
    log(s"${rounds.size} timed rounds done")
  }

  private def attempt(i: Int)(body: Int => Unit): Option[(Double, Double)] =
    try {
      val (_, w, c) = timed(tracer.span("round")(body(i)))
      Some((w, c))
    } catch {
      case NonFatal(e) =>
        log(s"round $i failed: $e")
        None
    }

  def untracedRounds: Seq[Round] = rounds.filterNot(_.traced).toSeq
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
