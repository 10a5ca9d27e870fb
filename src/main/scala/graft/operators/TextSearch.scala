package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Ingest

/** BM25 full-text ranking over the document corpus — the lexical
  * retrieval twin of the engine's vector search surface (the reference
  * retrieves by embedding distance only, app.py:58-75; a training-data
  * pipeline needs keyword retrieval for curation/inspection too).
  *
  * Execution shape, chosen for 100 TB:
  *  - tokens are exploded and IMMEDIATELY filtered to the query's
  *    terms, so only matching postings ever enter a shuffle — the
  *    moral equivalent of reading just the query terms' posting lists
  *    from an inverted index, not scanning the index;
  *  - corpus stats (N, avgdl) are one broadcast single-row aggregate
  *    (never a global window — see the WindowExec trap in
  *    BASELINE.md);
  *  - per-term document frequencies are a tiny broadcast (≤ one row
  *    per query term);
  *  - the final score sums a FIXED number of per-term contribution
  *    columns in a fixed order, so the result is deterministic
  *    double arithmetic the DuckDB oracle reproduces exactly
  *    (a SUM() over exploded rows would have engine-dependent
  *    accumulation order).
  */
object TextSearch {

  /** Lucene-style BM25: idf = ln((N - df + 0.5)/(df + 0.5) + 1),
    * contribution = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).
    * Returns the top-k documents by score (id ascending tie-break);
    * scores rounded to 6 decimals to absorb ulp-level ln() differences
    * across engines. */
  def bm25Search(spark: SparkSession, sfDir: String,
                 queryTerms: Seq[String] = DefaultQuery,
                 k1: Double = 1.2, b: Double = 0.75, k: Int = 10): DataFrame =
    bm25Corpus(Ingest.corpusFromDocuments(spark, sfDir), queryTerms, k1, b, k)

  val DefaultQuery: Seq[String] = Seq("hash", "join", "window")

  def bm25Corpus(corpus: DataFrame, queryTerms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75, k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      "query terms must be non-empty and distinct")
    val docs = tokenizedDocs(corpus)

    // Corpus-level stats: one row, broadcast to every posting.
    val stats = docs.agg(
      count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))

    // Postings restricted to query terms BEFORE any shuffle: the
    // explode emits one row per token, the filter drops everything but
    // the query's terms in the same narrow stage.
    val tf = docs
      .select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))

    // Document frequency per query term — at most |queryTerms| rows.
    val dfreq = tf.groupBy(col("term")).agg(countDistinct(col("id")).as("df"))

    scoreAndTop(tf, dfreq, stats, queryTerms, k1, b, k)
  }

  private def tokenizedDocs(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("toks", TextAnalytics.tokens(col("sentence")))
      .select(col("id"), col("toks"), size(col("toks")).cast("long").as("dl"))

  /** Shared scoring tail: tf(id, dl, term, tf) × broadcast df × broadcast
    * stats → per-term contributions pivoted into fixed columns and
    * added left-to-right — deterministic summation order, mirrored
    * verbatim by the SQL oracle. */
  private def scoreAndTop(tf: DataFrame, dfreq: DataFrame, stats: DataFrame,
                          queryTerms: Seq[String], k1: Double, b: Double,
                          k: Int): DataFrame = {
    val contrib = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("c",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))

    val perTerm = contrib.groupBy(col("id")).agg(
      max(when(col("term") === queryTerms.head, col("c"))).as(s"c_${queryTerms.head}"),
      queryTerms.tail.map(t =>
        max(when(col("term") === t, col("c"))).as(s"c_$t")): _*)
    val score = queryTerms
      .map(t => coalesce(col(s"c_$t"), lit(0.0)))
      .reduceLeft(_ + _)

    perTerm
      .select(col("id"), round(score, 6).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  // ---- persisted inverted index (lexical twin of IvfIndex.save) -----
  //
  // The ad-hoc path above re-derives postings per query — right for a
  // one-off, wrong for a serving/curation workload that queries the
  // same corpus repeatedly. The persisted layout is parquet partitioned
  // by bucket = crc32(term) % nBuckets: a query's terms hash to at most
  // |terms| buckets, so the postings scan prunes every other partition
  // STATICALLY (same PartitionFilters mechanism the IVF index proves in
  // IvfIndexSpec). df and corpus stats persist alongside so a search
  // reads nothing but its buckets plus two tiny tables.

  /** Inverted-index tables: term postings with their partition bucket,
    * per-term document frequencies, one-row corpus stats (n_docs,
    * avgdl, n_buckets). */
  final case class TermIndex(postings: DataFrame, dfreq: DataFrame,
                             stats: DataFrame)

  /** The ONE bucketed-postings pipeline every build/append path runs:
    * the bucket expression must stay bit-identical across them, or
    * appended postings would land in partitions searches never prune
    * to — sharing the code makes divergence impossible. `bucket` is
    * int, matching parquet partition-directory type inference on load. */
  private def bucketedPostings(toks: DataFrame, nBuckets: Long): DataFrame =
    toks
      .select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("bucket",
        pmod(crc32(col("term")), lit(nBuckets)).cast("int"))

  def buildTermIndex(corpus: DataFrame,
                     nBuckets: Int = LogBuckets.Adaptive): TermIndex = {
    // reference parity with the IVF build: indexing an empty corpus is
    // an error (and an empty partitioned postings write would be an
    // unloadable schema-less directory)
    require(!corpus.isEmpty, "cannot build a term index over an empty corpus")
    // adaptive sizing from the doc count × a nominal distinct-terms-
    // per-doc (postings are one row per (id, term)); appends and
    // term-pruned reads follow the count stored in stats
    val nb = LogBuckets.resolve(nBuckets, corpus.count() * 32L)
    val docs = tokenizedDocs(corpus)
    val postings = bucketedPostings(docs, nb.toLong)
    // one row per (id, term) ⇒ df(term) = row count per term
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"),
      max(lit(nb.toLong)).as("n_buckets"))
    TermIndex(postings, dfreq, stats)
  }

  /** Persist as a directory of parquet tables; postings pre-repartitioned
    * by bucket so each bucket gets one file, not parallelism × nBuckets
    * slivers (the IvfIndex.save lesson). */
  def saveTermIndex(index: TermIndex, dir: String): Unit = {
    // postings and dfreq are independent write chains into disjoint
    // subdirectories — overlap them (guide §2.6); stats stays LAST (it
    // is what loadTermIndex needs to even load, so the crash window
    // keeps failing loudly)
    Overlap.run(index.postings.sparkSession, Seq(
      () => index.postings.repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings"),
      () => index.dfreq.write.mode("overwrite").parquet(s"$dir/dfreq")))
    index.stats.write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Load a saved term index; missing path fails like the reference's
    * index load (FileNotFoundError parity, app.py:127-128). Repairs a
    * half-finished small-table swap first (see [[swapInSmallTable]]),
    * so a kill at ANY point of an append/refresh leaves a loadable
    * index. */
  def loadTermIndex(spark: SparkSession, dir: String): TermIndex = {
    if (!new java.io.File(dir).exists())
      throw new java.io.FileNotFoundException(s"Term index not found: $dir")
    Seq("dfreq", "stats").foreach(repairSmallTable(dir, _))
    TermIndex(
      spark.read.parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/dfreq"),
      spark.read.parquet(s"$dir/stats"))
  }

  /** Crash-recoverable replacement of a small table directory. The
    * delete-then-move it replaces had an unrecoverable window (live
    * gone, tmp not yet moved — and every repair path needs the stats
    * table to even load). Order here: park the live dir aside, move
    * the fully-written tmp in, drop the parked copy. Every crash
    * window leaves live intact OR tmp/old present for
    * [[repairSmallTable]]. */
  private def swapInSmallTable(dir: String, t: String): Unit = {
    import java.nio.file.{Files, Paths}
    val live = Paths.get(s"$dir/$t")
    val tmp = Paths.get(s"$dir/$t.tmp")
    val old = Paths.get(s"$dir/$t.old")
    BatchFs.deleteRecursively(old)
    if (Files.exists(live)) Files.move(live, old)
    Files.move(tmp, live)
    BatchFs.deleteRecursively(old)
  }

  /** If a swap was killed mid-flight, restore: a complete tmp (it is
    * only ever moved AFTER its write finished) wins over the parked
    * old copy; leftovers are dropped once live is healthy. */
  private def repairSmallTable(dir: String, t: String): Unit = {
    import java.nio.file.{Files, Paths}
    val live = Paths.get(s"$dir/$t")
    val tmp = Paths.get(s"$dir/$t.tmp")
    val old = Paths.get(s"$dir/$t.old")
    if (!Files.exists(live)) {
      if (Files.exists(tmp)) Files.move(tmp, live)
      else if (Files.exists(old)) Files.move(old, live)
    }
    if (Files.exists(live)) {
      BatchFs.deleteRecursively(old)
      // a stale tmp (crash DURING its write, live still healthy) is
      // dropped — the next append/refresh rewrites it from scratch
      BatchFs.deleteRecursively(tmp)
    }
  }

  /** Append new documents to a persisted term index — the lexical twin
    * of [[graft.operators.IvfIndex.append]]. "Once" because this entry
    * point is NOT crash-idempotent: postings land via mode("append")
    * before the dfreq/stats swap, so a crash followed by a naive
    * re-run double-appends — call it exactly once per delta, from a
    * non-replaying caller. Replaying callers (streaming sinks,
    * at-least-once schedulers) must use [[appendTermBatch]], whose
    * marker protocol makes replays no-ops. New docs' postings land
    * under their existing crc32 bucket partitions (a parquet append:
    * searches partition-prune exactly as before); dfreq and stats are
    * REWRITTEN by merging the deltas — they are the small tables of the
    * layout (one row per distinct term / one row total), and unlike the
    * IVF index there is no frozen-centroid approximation: BM25 global
    * statistics are EXACT after every append, so search over the
    * appended index equals a fresh build over the union corpus
    * (test-pinned through the round-6 score).
    *
    * Contract: appended doc ids must be disjoint from the indexed ones
    * (same as IVF append — a re-appended id would double its postings).
    * The three writes are not atomic; a crashed append is repaired by
    * re-building (for a streaming sink, wrap this in the
    * [[IvfIndex.appendBatch]] marker protocol the way
    * IndexMaintenance.appendStream does). Returns docs appended. */
  def appendToTermIndexOnce(spark: SparkSession, dir: String,
                        newDocs: DataFrame): Long = {
    val index = loadTermIndex(spark, dir)
    val nBuckets = index.stats.select(col("n_buckets")).head().getLong(0)
    val docs = tokenizedDocs(newDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val delta = docs.agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl")).head()
      val n = delta.getLong(0)
      if (n == 0L) return 0L
      val newPostings = bucketedPostings(docs, nBuckets)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        newPostings.repartition(col("bucket"))
          .write.mode("append").partitionBy("bucket").parquet(s"$dir/postings")
        // merged small tables go to tmp dirs first (they read from the
        // live ones), then swap in
        val mergedDf = index.dfreq.unionByName(
            newPostings.groupBy(col("term")).agg(count(lit(1)).as("df")))
          .groupBy(col("term")).agg(sum(col("df")).as("df"))
        mergedDf.write.mode("overwrite").parquet(s"$dir/dfreq.tmp")
        val oldStats = index.stats.head()
        val oldN = oldStats.getAs[Long]("n_docs")
        val oldAvg = oldStats.getAs[Double]("avgdl")
        val newAvg = (oldN * oldAvg + delta.getLong(1)) / (oldN + n)
        import spark.implicits._
        Seq((oldN + n, newAvg, nBuckets))
          .toDF("n_docs", "avgdl", "n_buckets")
          .write.mode("overwrite").parquet(s"$dir/stats.tmp")
        Seq("dfreq", "stats").foreach(swapInSmallTable(dir, _))
        n
      } finally newPostings.unpersist(blocking = false)
    } finally docs.unpersist(blocking = false)
  }

  /** Idempotent per-batch postings append — the term-index sink for
    * at-least-once replay, mirroring [[IvfIndex.appendBatch]]'s
    * stage → prefixed-move → marker protocol through [[BatchFs]].
    *
    * DELIBERATELY postings-only: df/avgdl stay at their last refreshed
    * values, so BM25 scores served between refreshes use slightly
    * STALE global statistics — the same drift-and-retrain posture as
    * IVF appends against frozen centroids (an incremental df merge
    * cannot be made idempotent under replay without a second commit
    * protocol; deriving stats from the committed postings CAN, which
    * is what [[refreshTermIndexStats]] does). `nBuckets` < 0 reads the
    * bucket count from the persisted stats; a long-running streaming
    * caller resolves it ONCE and passes it down, keeping the per-batch
    * hot path free of a stats read whose answer never changes.
    * Returns docs appended (0 for a replayed committed batch). */
  def appendTermBatch(spark: SparkSession, dir: String, docs: DataFrame,
                      batchId: Long, namespace: String = "",
                      nBuckets: Long = -1L): Long =
    BatchFs.appendOnce(dir, "postings", batchId, namespace,
        Seq(BatchFs.Log("postings", "bucket="))) { staging =>
      val buckets =
        if (nBuckets > 0) nBuckets
        else loadTermIndex(spark, dir).stats
          .select(col("n_buckets")).head().getLong(0)
      val toks = tokenizedDocs(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = toks.count()
        if (n > 0L)
          bucketedPostings(toks, buckets)
            .repartition(col("bucket"))
            .write.mode("overwrite").partitionBy("bucket").parquet(s"$staging/postings")
        n
      } finally toks.unpersist(blocking = false)
    }

  /** Recompute df and corpus stats FROM the live postings — the
    * term-index analogue of [[IvfIndex.retrain]], and the repair step
    * after any crash: derived state is idempotent by construction, so
    * running this at any moment (mid-append-storm, after a kill)
    * converges the small tables to exactly what a fresh build over the
    * current postings would produce. After a refresh, BM25 over the
    * index equals a fresh build over the appended corpus
    * (test-pinned). Cost is one aggregation over postings — scheduled
    * like retraining, not per-batch.
    *
    * Semantics note: stats derived from postings count TOKEN-BEARING
    * docs only. A doc with zero tokens has no postings, can never
    * match a query, and influences BM25 only by marginally inflating
    * the build path's n_docs/avgdl — the current corpus source
    * produces none (verified against the testdata), so build and
    * refresh agree exactly here. */
  def refreshTermIndexStats(spark: SparkSession, dir: String): Unit = {
    val index = loadTermIndex(spark, dir)
    val nBuckets = index.stats.select(col("n_buckets")).head().getLong(0)
    index.postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$dir/dfreq.tmp")
    // one row per (id, term) ⇒ per-doc dl appears once per distinct
    // term; stats need each doc counted once
    val perDoc = index.postings.select(col("id"), col("dl")).distinct()
    perDoc.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"),
        max(lit(nBuckets)).as("n_buckets"))
      .write.mode("overwrite").parquet(s"$dir/stats.tmp")
    Seq("dfreq", "stats").foreach(swapInSmallTable(dir, _))
  }

  /** Driver-side CRC32 identical to Spark's `crc32` expression
    * (java.util.zip.CRC32 over UTF-8 bytes) — lets the query compute
    * its bucket list without touching the cluster. */
  def termBucket(term: String, nBuckets: Long): Long = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.remainderUnsigned(c.getValue, nBuckets)
  }

  /** BM25 against a persisted index: identical scores to [[bm25Corpus]]
    * (same tf/df/stats, same arithmetic), but the postings scan reads
    * ONLY the query terms' hash buckets — partition-pruned at plan
    * time. */
  def bm25Index(spark: SparkSession, index: TermIndex,
                queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
                k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      "query terms must be non-empty and distinct")
    val nBuckets = index.stats.select(col("n_buckets")).head().getLong(0)
    val buckets = queryTerms.map(termBucket(_, nBuckets).toInt).distinct
    val tf = index.postings
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(queryTerms: _*))
      .select(col("id"), col("dl"), col("term"), col("tf"))
    val dfreq = index.dfreq.filter(col("term").isin(queryTerms: _*))
    scoreAndTop(tf, dfreq, index.stats.drop("n_buckets"),
      queryTerms, k1, b, k)
  }

  // Registered-query surface: persisted-index search over the sf
  // corpus. The index build+save is memoized per (JVM, sfDir) — Verify
  // and the bench's reps share one on-disk generation; the SEARCH
  // re-executes every invocation, so the bench times the pruned-scan
  // path, not the build.
  private val termIndexCache = JvmCaches.map[String, String]()

  def persistedTermIndexFor(spark: SparkSession, sfDir: String): TermIndex = {
    val dir = termIndexCache.getOrElseUpdate(sfDir, {
      val d = graft.StateDir.of("term-index", sfDir)
      saveTermIndex(
        buildTermIndex(Ingest.corpusFromDocuments(spark, sfDir)), d)
      d
    })
    loadTermIndex(spark, dir)
  }

  def bm25Persisted(spark: SparkSession, sfDir: String): DataFrame =
    bm25Index(spark, persistedTermIndexFor(spark, sfDir), DefaultQuery)
}
