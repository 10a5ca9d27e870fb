package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * All operators take `(SparkSession, sfDir)` and read through here so
  * scans stay uniform (plain parquet; Catalyst handles predicate
  * pushdown and column pruning).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  /** events.ts layout has varied across driver testdata generations:
    * TIMESTAMP(NANOS) — which Spark's reader rejects outright
    * (PARQUET_TYPE_ILLEGAL) — through round 5, plain timestamp[us]
    * from round 6. Probe the footer via schema inference: if it
    * succeeds, the file is µs (cast any NTZ to session-TZ timestamp —
    * identity on the stored micros under the UTC session TZ, and what
    * DuckDB reads); if inference throws, fall back to the legacy path
    * that reads raw nanos via schema override and truncates.
    *
    * The legacy truncation MUST be integer division (`div`): epoch
    * nanos (~1.7e18) exceed a double's 2^53 exact-integer range, so
    * `floor(ts / 1000)` — double division — lands ±1 µs off the true
    * value on ~half the rows. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    try {
      val df = spark.read.parquet(path)
      df.schema("ts").dataType match {
        case TimestampType => df
        case _ => df.withColumn("ts", expr("cast(ts as timestamp)"))
      }
    } catch {
      case _: org.apache.spark.SparkException | _: AnalysisException =>
        val raw = StructType(Seq(
          StructField("event_id", LongType), StructField("ts", LongType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
        spark.read.schema(raw).parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** The stored embedding of `vecId` — the query vector of every
    * search-by-id entry point (one single-row job). An absent id fails
    * naming the id and `sfDir`. */
  def queryVector(spark: SparkSession, sfDir: String, vecId: Long): Array[Float] =
    embeddings(spark, sfDir).filter(col("vec_id") === vecId)
      .select("embedding").head(1).headOption
      .getOrElse(throw new NoSuchElementException(
        s"vec_id $vecId not found in $sfDir/embeddings.parquet"))
      .getSeq[Float](0).toArray
}
