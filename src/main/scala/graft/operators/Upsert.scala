package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed upsert (CDC merge) into a bucket-partitioned parquet table —
  * the in-place corpus-refresh sink the source/sink family lacked
  * (S3/S5 cover build-and-save; a living training corpus needs
  * update-in-place: re-crawled documents, fixed OCR, takedown
  * deletions). The reference has no analogue (its index is rebuilt
  * from scratch per session, app.py:35-55); this operator is the
  * standard partitioned-merge shape open table formats run, expressed
  * on plain parquet + the repo's staging/swap discipline.
  *
  * Layout: `bucket = pmod(xxhash64(key), nBuckets)` partition dirs —
  * the same static-pruning layout the IVF (list_id) and BM25 (crc32
  * term bucket) indexes use.
  *
  * Scale posture (the whole point): applying a delta
  *  1. hashes the delta's keys to their buckets (narrow map);
  *  2. reads back ONLY those buckets of the base — a partition-pruned
  *     scan (`PartitionFilters: bucket IN (…)`), never a full-table
  *     read;
  *  3. anti-joins base-slice rows whose key the delta replaces, unions
  *     the delta in (delta wins per key), one shuffle on the bucket
  *     column to restore one-file-per-bucket layout;
  *  4. stages the merged buckets to a `.staging` dir and swaps each
  *     bucket directory in (write-to-read-path is illegal in Spark,
  *     and the swap keeps the write amplification at
  *     touched-buckets/total, not a full rewrite).
  * At 100 TB with nBuckets sized so a bucket is a few GB, a 0.1%
  * delta rewrites ~min(nBuckets, |delta keys|) buckets, not the
  * table. Deletions ride the same path: a delta row with
  * `_deleted = true` tombstones its key (dropped during merge, never
  * written).
  *
  * Crash posture: the staging write is atomic-per-run (overwrite of a
  * throwaway dir); the per-bucket directory swap is not transactional
  * across buckets — a crash mid-swap leaves some buckets new, some
  * old, all internally consistent; re-running the SAME upsert is
  * idempotent (merge is a per-key last-writer-wins against keys that
  * are already final). A multi-writer deployment needs a real table
  * format's commit log on top; single-writer pipelines (this repo's
  * scope) need exactly this.
  */
object Upsert {

  private def withBucket(df: DataFrame, keyCol: String, nBuckets: Int): DataFrame =
    df.withColumn("bucket",
      pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)).cast("int"))

  /** Layout metadata (key column, bucket count), persisted next to the
    * data at writeBase time. The underscore prefix hides it from
    * Spark's data-file listing, so `read` never sees it; merges read
    * it back and REFUSE mismatched parameters — a delta hashed with a
    * different bucket count would land keys in buckets searches and
    * future merges never look in (silent duplication). */
  private val MetaDir = "_upsert_meta"

  /** (keyCol, nBuckets) the table at `dir` was written with. */
  def tableMeta(spark: SparkSession, dir: String): (String, Int) = {
    val r = spark.read.parquet(s"$dir/$MetaDir").head()
    (r.getAs[String]("key_col"), r.getAs[Int]("n_buckets"))
  }

  /** Materialize the initial base table, bucket-partitioned,
    * one file per bucket. */
  def writeBase(df: DataFrame, dir: String, keyCol: String = "id",
                nBuckets: Int = 16): Unit = {
    require(nBuckets > 0)
    withBucket(df, keyCol, nBuckets)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((keyCol, nBuckets)).toDF("key_col", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$MetaDir")
  }

  /** Apply a delta using the table's own persisted layout metadata —
    * the entry point that cannot be called with the wrong key or
    * bucket count. */
  def upsert(spark: SparkSession, dir: String, delta: DataFrame): Int = {
    val (keyCol, nBuckets) = tableMeta(spark, dir)
    upsert(spark, dir, delta, keyCol, nBuckets)
  }

  /** Apply a delta: rows whose key exists are replaced, new keys are
    * inserted, and rows carrying boolean `_deleted = true` tombstone
    * their key. Only the delta's buckets are read or rewritten.
    * Returns the number of buckets rewritten. */
  def upsert(spark: SparkSession, dir: String, delta: DataFrame,
             keyCol: String, nBuckets: Int): Int = {
    // refuse parameters that disagree with the table's own layout —
    // hashing a delta with a different bucket count silently lands
    // keys in buckets no future merge or pruned read looks in
    val (metaKey, metaBuckets) =
      try tableMeta(spark, dir)
      catch { case _: Exception => (keyCol, nBuckets) } // pre-meta table
    require(keyCol == metaKey && nBuckets == metaBuckets,
      s"table at $dir was written with key=$metaKey, nBuckets=$metaBuckets; " +
        s"got key=$keyCol, nBuckets=$nBuckets")
    val hasTombstones = delta.columns.contains("_deleted")
    val deltaB = withBucket(delta, keyCol, nBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded driver pull: ≤ nBuckets ints, the same class as the
      // IVF probe-list selection
      val touched = deltaB.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).sorted
      if (touched.isEmpty) return 0
      val base = spark.read.parquet(dir)
        .where(col("bucket").isin(touched.map(Integer.valueOf).toSeq: _*))
      val replacedKeys = deltaB.select(col(keyCol)).distinct()
      val survivors = base.join(replacedKeys, Seq(keyCol), "left_anti")
      val upserts =
        if (hasTombstones) deltaB.filter(!coalesce(col("_deleted"), lit(false)))
          .drop("_deleted")
        else deltaB
      val merged = survivors.unionByName(upserts)
      val staging = s"$dir.staging"
      merged.repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(staging)
      swapBuckets(staging, dir, touched)
      touched.length
    } finally deltaB.unpersist(blocking = false)
  }

  // The registered corpus_upsert lifecycle (base write + one
  // update/insert/tombstone delta), memoized per session×sfDir so
  // Verify and the bench's reps share one generation — the rebuild is
  // individually timed as the bench's `upsert_table` warm entry.
  private val tableCache = JvmCaches.sessionMap[String, String]()

  def upsertTableFor(spark: SparkSession, sfDir: String): String =
    tableCache.getOrElseUpdate(spark, sfDir) {
      val dir = graft.StateDir.of("fixtures", sfDir, "upsert")
      val corpus = graft.sources.Ingest.corpusFromDocuments(spark, sfDir)
      writeBase(corpus, dir, "id", 16)
      val updates = corpus
        .filter(col("id") % 7 === 0 && col("id") % 13 =!= 0)
        .withColumn("sentence", concat(col("sentence"), lit(" [rev2]")))
        .withColumn("_deleted", lit(false))
      val inserts = corpus.filter(col("id") % 11 === 0)
        .select((col("id") + 1000000L).as("id"),
          concat(lit("appended doc "), col("id").cast("string")).as("sentence"))
        .withColumn("_deleted", lit(false))
      val tombstones = corpus.filter(col("id") % 13 === 0)
        .withColumn("_deleted", lit(true))
      // meta-driven entry point: key column and bucket count come from
      // the table's persisted layout metadata
      upsert(spark, dir, updates.unionByName(inserts).unionByName(tombstones))
      dir
    }

  /** Replace each touched live `bucket=<b>` directory with its staged
    * counterpart (delete-then-move per bucket; a delta that empties a
    * bucket entirely leaves no staged dir and deletes the live one). */
  private def swapBuckets(staging: String, dir: String,
                          touched: Array[Int]): Unit = {
    import java.nio.file.{Files, Paths}
    touched.foreach { b =>
      val live = Paths.get(s"$dir/bucket=$b")
      val staged = Paths.get(s"$staging/bucket=$b")
      BatchFs.deleteRecursively(live)
      if (Files.exists(staged)) Files.move(staged, live)
    }
    BatchFs.deleteRecursively(Paths.get(staging))
  }

  /** Read the live table (bucket column dropped — layout detail, not
    * data). */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).drop("bucket")
}
