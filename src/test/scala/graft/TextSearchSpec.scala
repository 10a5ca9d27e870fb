package graft

import graft.operators.TextSearch
import org.apache.spark.sql.functions.{col, crc32, lit, pmod}

/** BM25 lexical retrieval: hand-computed score check plus ranking
  * sanity on a planted corpus. */
class TextSearchSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "hash join window hash"),      // all three terms, tf(hash)=2
    (1L, "hash table scan"),            // one term
    (2L, "sort merge join join join"),  // one term, tf=3
    (3L, "scan filter project"),        // no query terms
    (4L, "window")                      // one term, shortest doc
  ).toDF("id", "sentence")

  test("bm25: docs without query terms are absent; k caps output") {
    val r = TextSearch.bm25Corpus(corpus, Seq("hash", "join", "window"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!r.contains(3L), "doc with no query terms must not appear")
    assert(r.keySet == Set(0L, 1L, 2L, 4L))
    val top2 = TextSearch.bm25Corpus(corpus, Seq("hash", "join", "window"), k = 2)
      .collect()
    assert(top2.length == 2)
  }

  test("bm25: matches a hand-computed Lucene-BM25 score") {
    // Corpus: N=5, dl = [4,3,5,3,1], avgdl = 16/5 = 3.2
    val n = 5.0; val avgdl = 16.0 / 5.0; val k1 = 1.2; val b = 0.75
    def idf(df: Double) = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    def contrib(tf: Double, dl: Double, df: Double) =
      idf(df) * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    // doc 0: hash tf=2 df=2, join tf=1 df=2, window tf=1 df=2, dl=4
    val expected0 =
      contrib(2, 4, 2) + contrib(1, 4, 2) + contrib(1, 4, 2)
    val r = TextSearch.bm25Corpus(corpus, Seq("hash", "join", "window"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(r(0L) - expected0) < 1e-6, s"got ${r(0L)}, want $expected0")
    // doc 0 holds all three terms — it must outrank every single-term doc
    assert(r(0L) > r(1L) && r(0L) > r(2L) && r(0L) > r(4L))
    // more occurrences of a term still score higher than fewer at
    // comparable length: doc 2 (join tf=3, dl=5) vs doc 1 (hash tf=1, dl=3)
    val expected2 = contrib(3, 5, 2)
    assert(math.abs(r(2L) - expected2) < 1e-6)
  }

  test("persisted term index: identical ranking, partition-pruned scan") {
    val dir = tmpDir("term-index-") + "/idx"
    TextSearch.saveTermIndex(TextSearch.buildTermIndex(corpus, nBuckets = 8), dir)
    val idx = TextSearch.loadTermIndex(spark, dir)
    val q = Seq("hash", "join", "window")
    val fromIndex = TextSearch.bm25Index(spark, idx, q)
    val adHoc = TextSearch.bm25Corpus(corpus, q)
    assert(fromIndex.collect().toSeq == adHoc.collect().toSeq,
      "persisted-index search must reproduce the ad-hoc ranking exactly")
    // the postings scan must be pruned to the query terms' buckets —
    // same PartitionFilters mechanism the IVF index proves
    val qBuckets = q.map(TextSearch.termBucket(_, 8L).toInt).distinct
    val pruned = idx.postings.filter(col("bucket").isin(qBuckets: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected a bucket-pruned scan, got:\n$plan")
    val scannedBuckets = pruned.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(scannedBuckets.subsetOf(qBuckets.toSet))
  }

  test("persisted term index writes one file per bucket, not sliver files") {
    val dir = tmpDir("term-files-") + "/idx"
    TextSearch.saveTermIndex(TextSearch.buildTermIndex(corpus, nBuckets = 4), dir)
    val bucketDirs = new java.io.File(s"$dir/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { d =>
      val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts == 1,
        s"${d.getName}: $parts files — pre-repartition(bucket) must give one per bucket")
    }
  }

  test("appendToTermIndexOnce: search after append equals a fresh build over the union") {
    import graft.sources.Ingest
    val corpus = Ingest.corpusFromDocuments(spark, sfSmall)
    val first = corpus.filter(col("id") < 250)
    val rest = corpus.filter(col("id") >= 250)
    val dir = tmpDir("term-append-")
    TextSearch.saveTermIndex(TextSearch.buildTermIndex(first), dir)
    val n = TextSearch.appendToTermIndexOnce(spark, dir, rest)
    assert(n == rest.count())
    val appended = TextSearch.loadTermIndex(spark, dir)
    val fresh = TextSearch.buildTermIndex(corpus)
    // global statistics are EXACT after append (no frozen-centroid
    // analogue): df table identical, stats agree
    val dfA = appended.dfreq.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dfF = fresh.dfreq.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfA == dfF, s"df drift: ${dfA.toSet.diff(dfF.toSet).take(3)}")
    val sA = appended.stats.head(); val sF = fresh.stats.head()
    assert(sA.getAs[Long]("n_docs") == sF.getAs[Long]("n_docs"))
    assert(math.abs(sA.getAs[Double]("avgdl") - sF.getAs[Double]("avgdl")) < 1e-9)
    // end to end: identical ranking through the round-6 score
    val got = TextSearch.bm25Index(spark, appended, TextSearch.DefaultQuery)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = TextSearch.bm25Index(spark, fresh, TextSearch.DefaultQuery)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    // appending nothing is a no-op
    assert(TextSearch.appendToTermIndexOnce(spark, dir, rest.limit(0)) == 0L)
  }

  test("appendTermBatch: replay no-op, pre-marker crash repairs, refresh restores fresh-build parity") {
    import graft.sources.Ingest
    val corpus = Ingest.corpusFromDocuments(spark, sfSmall)
    val first = corpus.filter(col("id") < 250)
    val rest = corpus.filter(col("id") >= 250)
    val dir = tmpDir("term-batch-")
    TextSearch.saveTermIndex(TextSearch.buildTermIndex(first), dir)
    val staleDocs = TextSearch.loadTermIndex(spark, dir).stats
      .head().getAs[Long]("n_docs")
    assert(TextSearch.appendTermBatch(spark, dir, rest, 7L, "t") == rest.count())
    // stats deliberately stale until refresh (the drift-and-retrain posture)
    assert(TextSearch.loadTermIndex(spark, dir).stats
      .head().getAs[Long]("n_docs") == staleDocs)
    // at-least-once replay AFTER the marker: no-op
    assert(TextSearch.appendTermBatch(spark, dir, rest, 7L, "t") == 0L)
    def dupPairs(): Long = TextSearch.loadTermIndex(spark, dir).postings
      .groupBy(col("id"), col("term")).count().filter(col("count") > 1).count()
    assert(dupPairs() == 0L, "replay must not duplicate postings")
    // crash BETWEEN the file moves and the marker: delete the marker
    // and replay — prefixed files are replaced, never doubled
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/_committed/v2/t-7"))
    assert(TextSearch.appendTermBatch(spark, dir, rest, 7L, "t") == rest.count())
    assert(dupPairs() == 0L, "post-crash replay must repair, not duplicate")
    // refresh = the retrain analogue: derived stats converge to a
    // fresh build over the union, and so does the ranking
    TextSearch.refreshTermIndexStats(spark, dir)
    val refreshed = TextSearch.loadTermIndex(spark, dir)
    val fresh = TextSearch.buildTermIndex(corpus)
    assert(refreshed.stats.head().getAs[Long]("n_docs") ==
      fresh.stats.head().getAs[Long]("n_docs"))
    val got = TextSearch.bm25Index(spark, refreshed, TextSearch.DefaultQuery)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = TextSearch.bm25Index(spark, fresh, TextSearch.DefaultQuery)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("appendTermStream restart from checkpoint: resumes at the first unprocessed file") {
    import graft.sources.Ingest
    import graft.streaming.IndexMaintenance
    val corpus = Ingest.corpusFromDocuments(spark, sfSmall)
    val dir = tmpDir("term-stream-")
    TextSearch.saveTermIndex(
      TextSearch.buildTermIndex(corpus.filter(col("id") < 250)), dir)
    val landing = tmpDir("term-stream-landing-")
    val ckpt = tmpDir("term-stream-ckpt-")
    def stage(lo: Long, hi: Long, name: String): Unit = {
      val tmp = tmpDir("term-stream-stage-")
      corpus.filter(col("id") >= lo && col("id") < hi)
        .select("id", "sentence").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet"))
        .forEach(p => java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$landing/$name.parquet")))
    }
    def run(): Unit = {
      val stream = spark.readStream.schema("id LONG, sentence STRING")
        .parquet(landing)
      IndexMaintenance.appendTermStream(stream, dir, Some(ckpt))
        .awaitTermination()
    }
    stage(250, 375, "part0"); run()
    stage(375, 500, "part1"); run()
    run() // nothing new: no-op
    val postings = TextSearch.loadTermIndex(spark, dir).postings
    assert(postings.select("id").distinct().count() == 500)
    assert(postings.groupBy(col("id"), col("term")).count()
      .filter(col("count") > 1).count() == 0L,
      "restart must not re-append committed files")
    TextSearch.refreshTermIndexStats(spark, dir)
    val got = TextSearch.bm25Index(spark, TextSearch.loadTermIndex(spark, dir),
        TextSearch.DefaultQuery)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = TextSearch.bm25Index(spark, TextSearch.buildTermIndex(corpus),
        TextSearch.DefaultQuery)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("appendTermStream compacts its postings log on the in-stream cadence") {
    import graft.sources.Ingest
    import graft.streaming.IndexMaintenance
    val corpus = Ingest.corpusFromDocuments(spark, sfSmall)
    val dir = tmpDir("term-compact-stream-")
    TextSearch.saveTermIndex(
      TextSearch.buildTermIndex(corpus.filter(col("id") < 250)), dir)
    val landing = tmpDir("term-compact-landing-")
    val ckpt = tmpDir("term-compact-ckpt-")
    def stage(lo: Long, hi: Long, name: String): Unit = {
      val tmp = tmpDir("term-compact-stage-")
      corpus.filter(col("id") >= lo && col("id") < hi)
        .select("id", "sentence").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet"))
        .forEach(p => java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$landing/$name.parquet")))
    }
    // 5 waves, one micro-batch each (maxFilesPerTrigger=1); the cadence
    // fires every batch and folds once any bucket exceeds 2 files
    (0 until 5).foreach(i => stage(250 + i * 50, 300 + i * 50, s"w$i"))
    val stream = spark.readStream.schema("id LONG, sentence STRING")
      .option("maxFilesPerTrigger", "1").parquet(landing)
    IndexMaintenance.appendTermStream(stream, dir, Some(ckpt),
      maintainEvery = 1, maxFilesPerPartition = 2).awaitTermination()
    def maxBucketFiles(): Int = {
      val root = java.nio.file.Paths.get(s"$dir/postings")
      graft.operators.BatchFs.children(root)
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("bucket="))
        .map(d => graft.operators.BatchFs.children(d)
          .count(_.getFileName.toString.endsWith(".parquet")))
        .foldLeft(0)(math.max)
    }
    // without compaction a hot bucket carries base + 5 wave files = 6;
    // the cadence folds it back under the bound plus at most the waves
    // landed since the last fold
    assert(maxBucketFiles() <= 3,
      s"stream cadence failed to compact: ${maxBucketFiles()} files in a bucket")
    // a committed batch replayed against the COMPACTED log still no-ops
    // (markers survive the fold)
    val ns = IndexMaintenance.checkpointNamespace(Some(ckpt))
    val w0 = corpus.filter(col("id") >= 250 && col("id") < 300)
      .select("id", "sentence")
    assert(TextSearch.appendTermBatch(spark, dir, w0, 0L, ns) == 0L,
      "committed batch must replay as a no-op after compaction")
    // results bit-identical to a fresh build over the union
    TextSearch.refreshTermIndexStats(spark, dir)
    val got = TextSearch.bm25Index(spark, TextSearch.loadTermIndex(spark, dir),
        TextSearch.DefaultQuery)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = TextSearch.bm25Index(spark, TextSearch.buildTermIndex(corpus),
        TextSearch.DefaultQuery)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, "compacted streamed index must rank identically")
  }

  test("persisted term index: missing directory fails like the reference") {
    intercept[java.io.FileNotFoundException] {
      TextSearch.loadTermIndex(spark, s"${tmpDir("term-index")}/nonexistent")
    }
  }

  test("termBucket matches Spark's crc32 expression") {
    val terms = Seq("hash", "join", "window", "überlang", "123", "")
    val sparkSide = terms.toDF("t")
      .select(pmod(crc32(col("t")), lit(64L)).as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(sparkSide == terms.map(TextSearch.termBucket(_, 64L)))
  }

  test("bm25: no matching term anywhere yields an empty result, not an error") {
    val r = TextSearch.bm25Corpus(corpus, Seq("zzzzunseen"))
    assert(r.collect().isEmpty)
    // ad-hoc search over an empty corpus is empty; INDEXING one is an
    // error (reference parity with the IVF build — and an empty
    // partitioned write would be an unloadable schema-less directory)
    val empty = Seq.empty[(Long, String)].toDF("id", "sentence")
    assert(TextSearch.bm25Corpus(empty, Seq("hash")).collect().isEmpty)
    intercept[IllegalArgumentException] {
      TextSearch.buildTermIndex(empty, nBuckets = 4)
    }
  }

  test("bm25: ordering is score desc with id tie-break") {
    val dup = Seq(
      (10L, "alpha beta"), (11L, "alpha beta"), (12L, "gamma")
    ).toDF("id", "sentence")
    val rows = TextSearch.bm25Corpus(dup, Seq("alpha"))
      .collect().map(r => r.getLong(0))
    // identical docs tie on score; lower id must come first
    assert(rows.toSeq == Seq(10L, 11L))
  }
}
