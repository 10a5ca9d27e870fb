package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.TextAnalytics

/** Streaming document curation — the continuous-ingestion twin of the
  * batch curation surface: documents arrive as files in a landing
  * directory, pass the engine's single quality predicate
  * (TextAnalytics.qualityKeep — shared with the batch queries so the
  * two can never drift), and deduplicate on the normalized-text
  * fingerprint in the state store. New corpus drops then stream into
  * the pipeline instead of triggering full recomputes.
  *
  * State posture: `dropDuplicates` on the fingerprint keeps one state
  * row per DISTINCT kept document, forever — right for a finite
  * replay and for moderate corpora; a production feed attaches an
  * arrival timestamp and uses `dropDuplicatesWithinWatermark` to
  * bound state to the dedup horizon (the same decision the events
  * pipeline makes with its 1-hour watermark, EventsStreaming.scala).
  */
object DocCuration {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming DataFrame of documents (same symlink staging as
    * EventsStreaming.readEvents: the driver testdata is one file; the
    * file source monitors a directory — in production, the landing
    * zone). */
  def readDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = java.nio.file.Paths.get(
      graft.StateDir.of("stream-src-docs", sfDir))
    java.nio.file.Files.createDirectories(stage)
    // absolute + dangling-link repair, see EventsStreaming.stageLink
    EventsStreaming.stageLink(stage.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    spark.readStream.schema(docSchema).parquet(stage.toString)
  }

  /** Quality filter + fingerprint dedup, all narrow until the
    * state-store exchange on md5_norm. Works identically on a batch
    * DataFrame (the filters and fingerprint are plain projections) —
    * tests exploit that to diff stream vs batch. */
  def curateDocuments(stream: DataFrame): DataFrame =
    stream
      .withColumn("sentence", trim(col("text")))
      .where(length(col("sentence")) > 0)
      .where(TextAnalytics.qualityKeep(col("sentence")))
      .withColumn("md5_norm",
        md5(concat_ws(" ", TextAnalytics.tokens(col("sentence")))))
      .dropDuplicates("md5_norm")

  /** The production-posture variant: documents carry an arrival
    * timestamp, and dedup state is BOUNDED to the watermark horizon
    * with `dropDuplicatesWithinWatermark` — a duplicate arriving
    * within `watermarkDelay` of the original is dropped; one arriving
    * after the state expired is admitted again (the explicit
    * correctness/state-size trade a 100 TB feed makes; unbounded
    * dedup is a batch backfill's job). */
  def curateDocumentsBounded(stream: DataFrame,
                             watermarkDelay: String = "1 hour"): DataFrame =
    stream
      .withColumn("sentence", trim(col("text")))
      .where(length(col("sentence")) > 0)
      .where(TextAnalytics.qualityKeep(col("sentence")))
      .withColumn("md5_norm",
        md5(concat_ws(" ", TextAnalytics.tokens(col("sentence")))))
      .withWatermark("arrival_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("md5_norm")

  /** Idempotent batch-keyed parquet append — the curation twin of
    * [[graft.operators.IvfIndex.appendBatch]]'s marker protocol,
    * without the per-list renames (curated rows have no partition
    * identity to merge into, so each micro-batch OWNS one
    * `batch_tag=` directory and commit atomicity is directory-level):
    *
    *  1. a committed marker (BatchFs.markerFor — the shared versioned
    *     `_committed/` layout) turns replay of a fully-committed batch
    *     into a no-op;
    *  2. the batch writes to its own `data/batch_tag=<ns>-<batchId>`
    *     directory with mode=overwrite — a replay after a crash
    *     mid-write deletes the partial files and rewrites, so the
    *     directory is repaired, never doubled;
    *  3. the marker is written LAST: a crash anywhere before it
    *     replays into step 2.
    *
    * Returns rows appended (0 for a replayed committed batch). */
  def appendCuratedBatch(outDir: String, batch: DataFrame, batchId: Long,
                         namespace: String): Long = {
    import java.nio.file.Files
    import graft.operators.BatchFs
    val tag = BatchFs.batchTag(batchId, namespace)
    val marker = BatchFs.markerFor(outDir, batchId, namespace)
    if (Files.exists(marker)) return 0L
    val cached = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = cached.count()
      cached.write.mode("overwrite").parquet(s"$outDir/data/batch_tag=$tag")
      BatchFs.writeMarker(marker, n.toString)
      n
    } finally cached.unpersist(blocking = false)
  }

  /** Start the exactly-once curation sink: quality-filter + dedup the
    * document stream and land the survivors in parquet under `outDir`.
    * foreachBatch is at-least-once (a crash between the write and the
    * offset commit replays the batch); [[appendCuratedBatch]] makes
    * the landing idempotent, so the corpus on disk is exactly-once on
    * top of an at-least-once delivery — the same layering as
    * [[IndexMaintenance.appendStream]]. `checkpointDir` makes the job
    * restartable (file-source offsets commit there); the kill-rerun
    * test pins that a restart lands zero duplicate rows. */
  def curateToParquet(stream: DataFrame, outDir: String,
                      checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val ns = IndexMaintenance.checkpointNamespace(checkpointDir)
    val writer = curateDocuments(stream).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendCuratedBatch(outDir, batch, batchId, ns)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }

  /** The curated corpus as written by [[curateToParquet]] — the
    * batch_tag partition column is sink bookkeeping, not data. */
  def readCurated(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/data").drop("batch_tag")

  /** Registered-query surface: the curated corpus's fingerprint set.
    * WHICH doc of a duplicate group survives depends on arrival order
    * (micro-batch interleaving), but the fingerprint SET is
    * deterministic — that set, sorted, is what the DuckDB oracle
    * reproduces. */
  def curatedFingerprints(spark: SparkSession, sfDir: String): DataFrame =
    EventsStreaming.runToCompletion(
      curateDocuments(readDocuments(spark, sfDir)), "doc_curation")
      .select(col("md5_norm"))
      .orderBy(col("md5_norm").asc)
}
