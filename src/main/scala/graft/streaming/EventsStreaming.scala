package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table (SURVEY.md
  * §2.9 — absent from the reference, which is request/response over
  * in-memory state; this is the engine's extension for continuous
  * ingestion).
  *
  * Design: the same logical aggregation as the batch `events_hourly`
  * query, expressed as readStream → watermark → tumbling window →
  * agg. At scale the file source becomes Kafka/queue — the plan shape
  * (watermarked windowed partial aggregation, state store keyed by
  * (window, event_type)) is identical. Late data beyond the watermark
  * is dropped deterministically; the batch query is the ground truth
  * the tests compare against (no late data in replay, so results must
  * match exactly).
  */
object EventsStreaming {

  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming DataFrame of events — same per-generation ts handling
    * as Tables.events (timestamp[us] from round 6; legacy
    * TIMESTAMP(NANOS)-as-long before).
    *
    * The driver testdata is one parquet FILE per table; the streaming
    * file source requires a directory to monitor, so the file is
    * staged (symlinked) into target/ once — in production this
    * directory is the landing zone new files arrive in. */
  /** Stage `target` (absolutized) as symlink `link`, replacing a
    * dangling or wrong-target link — shared by the events and
    * documents stream stages. */
  private[streaming] def stageLink(link: java.nio.file.Path,
                                   target: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, LinkOption}
    val abs = target.toAbsolutePath.normalize
    val live = Files.exists(link, LinkOption.NOFOLLOW_LINKS)
    val healthy = live && (!Files.isSymbolicLink(link) ||
      (Files.exists(link) && Files.readSymbolicLink(link) == abs))
    if (!healthy) {
      if (live) Files.delete(link)
      Files.createSymbolicLink(link, abs)
    }
  }

  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = java.nio.file.Paths.get(graft.StateDir.of("stream-src", sfDir))
    java.nio.file.Files.createDirectories(stage)
    // Absolute target (a relative sfDir would stage a dangling link),
    // and re-link when the existing entry doesn't resolve: exists()
    // follows links, so a dangling link used to read "absent" while
    // createSymbolicLink threw AlreadyExists — a permanently broken
    // stage the file source silently listed as 0 rows.
    stageLink(stage.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    // Probe the footer with batch schema inference (streaming sources
    // need an explicit schema): success = µs generation, throw =
    // legacy nanos. Mirrors Tables.events so the stream and its batch
    // twins see byte-identical timestamps.
    val inferred =
      try Some(spark.read.parquet(stage.toString).schema)
      catch {
        case _: org.apache.spark.SparkException |
             _: org.apache.spark.sql.AnalysisException => None
      }
    inferred match {
      case Some(schema) =>
        spark.readStream.schema(schema).parquet(stage.toString)
          .withColumn("ts", expr("cast(ts as timestamp)"))
      case None =>
        spark.readStream.schema(rawSchema)
          .parquet(stage.toString)
          // integer `div`, not double division — see Tables.events
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }

  /** Hourly tumbling-window aggregate per event type — the streaming
    * twin of RelationalOps.eventsHourly. One-hour watermark bounds
    * state; output matches the batch query on replayed (non-late)
    * data. */
  def eventsHourly(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming sessionization: watermarked `session_window` per user
    * with a 30-minute inactivity gap — stateful session merging in the
    * state store, the streaming twin of RelationalOps.userSessions.
    * Session-window aggregation streams in APPEND mode only: a session
    * row emits once the watermark passes its end (last event + gap), so
    * on a finite replay the trailing sessions — those the watermark
    * never overtakes — are withheld. That is correct append semantics,
    * asserted as such in StreamingSpec. */
  def userSessions(stream: DataFrame, gap: String = "30 minutes",
                   watermarkDelay: String = "1 hour"): DataFrame =
    graft.operators.RelationalOps.sessionize(
      stream.withWatermark("ts", watermarkDelay), gap)

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the streaming member of the dedup family (state-store-backed
    * `dropDuplicates`, the canonical Spark pattern for at-least-once
    * source dedup). */
  def dedupEvents(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "1 hour").dropDuplicates("event_id")

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run a streaming query to completion over the finite replay
    * (Trigger.AvailableNow) into a memory sink; returns the final
    * batch result for comparison against the batch oracle.
    *
    * The state-store partition count is fixed from
    * `spark.sql.shuffle.partitions` when the query first plans, and
    * stateful workloads disable AQE — so every micro-batch churns all
    * state partitions regardless of group count. Size it for the
    * keyspace, not the CPU count: the replay runs with a small
    * dedicated value (GRAFT_STREAM_SHUFFLE, default 8) and the
    * session-wide setting is restored afterwards. A production
    * long-lived job sizes this once, at launch, for its real key
    * cardinality. */
  def runToCompletion(streamed: DataFrame, namePrefix: String,
                      mode: Option[String] = None): DataFrame = {
    val spark = streamed.sparkSession
    val name = s"${namePrefix}_${runSeq.incrementAndGet()}"
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("GRAFT_STREAM_SHUFFLE", "8"))
    try {
      val q = streamed.writeStream
        .format("memory").queryName(name)
        .outputMode(mode.getOrElse(
          if (streamed.isStreaming && hasAggregate(streamed)) "complete" else "append"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
    spark.table(name)
  }

  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty
}
