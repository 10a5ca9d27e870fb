package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Ingest

/** Persisted MinHash-LSH index — incremental near-duplicate detection
  * for a GROWING corpus. Document-level dedup at 100 TB is not a
  * one-shot job: every ingest wave must be checked against everything
  * already accepted, and recomputing the standing corpus's signatures
  * per wave multiplies the pipeline's cost by the number of waves. The
  * fix is the same additive-index pattern as the IVF postings / BM25
  * term index / span-dedup window counts: persist the banded signature
  * rows once, and let each wave (a) PROBE its band keys against the
  * stored bands — an equi-join on (band, key), never a cross product —
  * and (b) APPEND its own rows so the next wave sees it.
  *
  * Layout under `dir/`:
  *   bands/bucket=…/  (band, key, id) — partitioned by
  *                    crc32(band|key) % nBuckets (append locality; a
  *                    probe is an equi-join, not a partition prune,
  *                    because a wave's keys span all buckets)
  *   docs/bucket=…/   (id, tset) — distinct-token sets for the
  *                    Jaccard verify join, crc32(id)-bucketed
  *   meta/            n_buckets
  *
  * Appends are additive (no file rewritten — the span-index contract);
  * [[append]] alone is not crash-idempotent, and [[appendBatch]] wraps
  * it in the BatchFs stage → prefixed-move → marker protocol for
  * at-least-once delivery. The degenerate-bucket cap
  * ([[Dedup.MaxBandBucket]]) applies to INDEX buckets at probe time,
  * counted after a semi-join prune to the wave's keys (pruning keeps
  * whole buckets, so counts equal the full-index counts). */
object MinhashIndex {

  private def bandBucket(nBuckets: Int): Column =
    pmod(crc32(concat_ws("|", col("band"), col("key"))), lit(nBuckets)).cast("int")

  private def docBucket(nBuckets: Int): Column =
    pmod(crc32(col("id").cast("string")), lit(nBuckets)).cast("int")

  private def bandRows(sigs: DataFrame, nBuckets: Int): DataFrame =
    Dedup.lshBands(sigs).withColumn("bucket", bandBucket(nBuckets))

  private def docRows(sigs: DataFrame, nBuckets: Int): DataFrame =
    sigs.select(col("id"), array_distinct(col("toks")).as("tset"))
      .withColumn("bucket", docBucket(nBuckets))

  private def writeBucketed(df: DataFrame, path: String, mode: String): Unit =
    df.repartition(col("bucket"))
      .write.mode(mode).partitionBy("bucket").parquet(path)

  /** Build the index from a corpus (overwrites `dir`). The default
    * bucket count is scale-adaptive ([[LogBuckets]]); appends and
    * probes follow the count stored in `meta`. */
  def save(corpus: DataFrame, dir: String,
           nBuckets: Int = LogBuckets.Adaptive): Unit = {
    val sigs = Dedup.minhashSignaturesCorpus(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try saveFromSigs(sigs, dir, nBuckets)
    finally sigs.unpersist(blocking = false)
  }

  /** [[save]] over an already-persisted signature frame — for callers
    * that feed several consumers from one shingle+hash derivation (the
    * 740 s MinHash postmortem discipline; see
    * [[GraphRank.saveWithEdges]]). The caller owns the persist. */
  private[operators] def saveFromSigs(sigs: DataFrame, dir: String,
                                      nBuckets: Int = LogBuckets.Adaptive): Unit = {
    // band rows are NumBands per signature-bearing doc
    val nb = LogBuckets.resolve(nBuckets, sigs.count() * Dedup.NumBands)
    val spark = sigs.sparkSession
    // the two bucketed writes are independent chains over the (persisted,
    // just-materialized) signature frame — overlap them (guide §2.6);
    // meta stays LAST, preserving the load-fails-loudly crash window
    Overlap.run(spark, Seq(
      () => writeBucketed(bandRows(sigs, nb), s"$dir/bands", "overwrite"),
      () => writeBucketed(docRows(sigs, nb), s"$dir/docs", "overwrite")))
    import spark.implicits._
    Seq(nb).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  private def nBucketsOf(spark: SparkSession, dir: String): Int =
    spark.read.parquet(s"$dir/meta").head.getInt(0)

  /** Append a new wave's band rows + token sets (additive — no existing
    * file is touched). NOT crash-idempotent alone (a replay re-appends
    * both tables); at-least-once callers use [[appendBatch]]. Returns
    * the number of documents appended. */
  def append(spark: SparkSession, dir: String, newDocs: DataFrame): Long =
    BatchFs.withLease(dir, "minhash") { fence =>
      val nBuckets = nBucketsOf(spark, dir)
      val sigs = Dedup.minhashSignaturesCorpus(newDocs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = sigs.count()
      fence()
      writeBucketed(bandRows(sigs, nBuckets), s"$dir/bands", "append")
      writeBucketed(docRows(sigs, nBuckets), s"$dir/docs", "append")
      sigs.unpersist(blocking = false)
      n
    }

  /** Idempotent per-batch append for at-least-once replay — the LSH
    * twin of [[TextSearch.appendTermBatch]]: stage the wave's band and
    * doc rows, move them in under the `b<tag>-` prefix (clearing a
    * crashed attempt's files first), marker written last. A replayed
    * committed batch is a no-op; a crash mid-commit is repaired by the
    * replay. Returns documents appended (0 for a replay). */
  def appendBatch(spark: SparkSession, dir: String, newDocs: DataFrame,
                  batchId: Long, namespace: String = ""): Long =
    BatchFs.appendOnce(dir, "minhash", batchId, namespace, BatchLogs) { staging =>
      val sigs = Dedup.minhashSignaturesCorpus(newDocs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try stageSigs(spark, dir, sigs, staging)
      finally sigs.unpersist(blocking = false)
    }

  /** [[appendBatch]] over an already-persisted signature frame (caller
    * owns the persist — the [[saveFromSigs]] discipline). */
  private[operators] def appendBatchFromSigs(spark: SparkSession, dir: String,
                                             sigs: DataFrame, batchId: Long,
                                             namespace: String = ""): Long =
    BatchFs.appendOnce(dir, "minhash", batchId, namespace, BatchLogs)(
      stageSigs(spark, dir, sigs, _))

  private val BatchLogs = Seq(BatchFs.Log("bands", "bucket="), BatchFs.Log("docs", "bucket="))

  /** Stage a wave's band and doc rows under `staging`; returns the
    * wave's document count (an empty wave stages nothing). */
  private def stageSigs(spark: SparkSession, dir: String, sigs: DataFrame,
                        staging: java.nio.file.Path): Long = {
    val nBuckets = nBucketsOf(spark, dir)
    val n = sigs.count()
    if (n > 0L) {
      writeBucketed(bandRows(sigs, nBuckets), s"$staging/bands", "overwrite")
      writeBucketed(docRows(sigs, nBuckets), s"$staging/docs", "overwrite")
    }
    n
  }

  /** Probe a wave against the index WITHOUT touching its stored
    * signatures: (probe_id, index_id, jaccard) for every stored
    * document sharing ≥1 band key with a probe document and verifying
    * at token-set Jaccard ≥ `minJaccard`. The wave itself is NOT
    * appended (call [[append]] after acting on the verdicts). */
  def probe(spark: SparkSession, dir: String, probeDocs: DataFrame,
            minJaccard: Double = 0.8,
            maxBucket: Int = Dedup.MaxBandBucket): DataFrame =
    probeWithHandle(spark, dir, probeDocs, minJaccard, maxBucket)._1

  /** [[probe]] plus the persisted wave-signature frame, for callers
    * that must release its blocks DETERMINISTICALLY: a long-running
    * [[graft.streaming.IndexMaintenance.dedupStream]] leaves one
    * MEMORY_AND_DISK signature frame behind per micro-batch if release
    * waits on driver GC + ContextCleaner — materialize the verdicts,
    * then `handle.unpersist()`. One-shot callers can keep using
    * [[probe]] and let the cleaner reclaim the blocks. */
  private[graft] def probeWithHandle(spark: SparkSession, dir: String,
                                     probeDocs: DataFrame,
                                     minJaccard: Double = 0.8,
                                     maxBucket: Int = Dedup.MaxBandBucket)
      : (DataFrame, DataFrame) = {
    // the wave's signature pipeline feeds three subtrees (key prune,
    // candidate join, Jaccard verify) — persist it so the shingle +
    // 8-hash derivation runs once (the 740 s MinHash postmortem
    // discipline)
    val sigs = Dedup.minhashSignaturesCorpus(probeDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (probeFromSigs(spark, dir, sigs, minJaccard, maxBucket), sigs)
  }

  /** [[probe]] over an already-persisted signature frame (caller owns
    * the persist and its release). */
  private[operators] def probeFromSigs(spark: SparkSession, dir: String,
                                       sigs: DataFrame,
                                       minJaccard: Double = 0.8,
                                       maxBucket: Int = Dedup.MaxBandBucket)
      : DataFrame = {
    val pBands = Dedup.lshBands(sigs)
    val iBands = spark.read.parquet(s"$dir/bands").select(col("band"), col("key"), col("id"))
    // prune to probed keys first (whole buckets survive, so the cap
    // count below still equals the full-index bucket size)
    val probed = iBands.join(
      pBands.select(col("band"), col("key")).distinct(), Seq("band", "key"), "left_semi")
    val capped = Dedup.capBuckets(probed, maxBucket)
    val cand = pBands.select(col("band"), col("key"), col("id").as("probe_id"))
      .join(capped.select(col("band"), col("key"), col("id").as("index_id")),
        Seq("band", "key"))
      .select(col("probe_id"), col("index_id")).distinct()
    val pSets = sigs.select(col("id").as("probe_id"), array_distinct(col("toks")).as("pset"))
    val iSets = spark.read.parquet(s"$dir/docs")
      .select(col("id").as("index_id"), col("tset").as("iset"))
    cand.join(pSets, Seq("probe_id")).join(iSets, Seq("index_id"))
      .withColumn("jaccard",
        size(array_intersect(col("pset"), col("iset"))).cast("double") /
          size(array_union(col("pset"), col("iset"))))
      .filter(col("jaccard") >= minJaccard)
      .select(col("probe_id"), col("index_id"), col("jaccard"))
  }

  // ---- registered surface -------------------------------------------

  private val indexCache =
    JvmCaches.map[String, String]()

  /** Registered query: index the even-id half of the corpus, probe the
    * odd-id half against it — the "new wave vs standing corpus" shape
    * with a deterministic, SQL-restatable split. */
  def minhashProbeFor(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Ingest.corpusFromDocuments(spark, sfDir)
    val dir = indexCache.getOrElseUpdate(sfDir, {
      val d = "/root/repo/target/minhash-index/" + new java.io.File(sfDir).getName
      save(corpus.filter(col("id") % 2 === 0), d)
      d
    })
    probe(spark, dir, corpus.filter(col("id") % 2 === 1))
      .orderBy(col("probe_id").asc, col("index_id").asc)
  }
}
