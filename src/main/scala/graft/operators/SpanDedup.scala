package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Ingest

/** Span-level exact substring deduplication — the "dedup inside the
  * document" pass LLM pipelines run AFTER document-level dedup (Lee et
  * al. 2022, "Deduplicating Training Data Makes Language Models
  * Better", §3.1 EXACTSUBSTR): any token window of length `W` that
  * occurs more than once ANYWHERE in the corpus (another document or
  * another position of the same document) marks its span duplicated;
  * overlapping marked windows merge into maximal spans a downstream
  * pass can cut.
  *
  * The reference paper's construction is a suffix array over the
  * concatenated corpus — inherently single-machine. The Spark-first
  * re-expression avoids both the suffix array and any pair join:
  *
  *  1. slide a W-token window over each document (posexplode of a
  *     transform over token positions — a narrow map, no shuffle);
  *  2. ONE groupBy on the window text counts global occurrences —
  *     a window with count ≥ 2 is duplicated BY DEFINITION, so there
  *     is no pair explosion, no O(dups²) join key, and boilerplate
  *     that appears in a million documents costs exactly one
  *     aggregation row (contrast the pair-join dedup families, which
  *     need [[Dedup.MaxBandBucket]] caps for that shape);
  *  3. marked window starts merge into maximal [start, end) token
  *     spans per document — gaps-and-islands with a per-document
  *     running-max window, the only other shuffle.
  *
  * At 100 TB the group key can swap the raw window text for a 128-bit
  * hash (same plan shape, 16-byte keys); text keys keep the gate
  * oracle-exact (DuckDB reproduces string equality, not engine
  * hashing). Two shuffles total, both partial-aggregable. */
object SpanDedup {

  /** (id, pos, wtext) for every W-token window — tokens joined with
    *  (cannot occur in [a-z0-9]+ tokens, so the joined form is
    * collision-free). Narrow map, no shuffle. */
  private[graft] def windowFrame(corpus: DataFrame, w: Int): DataFrame =
    corpus.select(col("id"), TextAnalytics.tokens(col("sentence")).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("id"),
        posexplode(expr(s"transform(sequence(0, size(toks) - $w), " +
          s"p -> array_join(slice(toks, p + 1, $w), ''))"))
          .as(Seq("pos", "wtext")))

  /** Duplicated-window starts per document: (id, pos) for every
    * position whose W-token window occurs ≥ 2 times corpus-wide. */
  private[graft] def dupWindowStarts(corpus: DataFrame, w: Int): DataFrame = {
    val windows = windowFrame(corpus, w)
    val dupTexts = windows.groupBy(col("wtext"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("wtext"))
    windows.join(dupTexts, Seq("wtext"), "left_semi")
      .select(col("id"), col("pos"))
  }

  /** Maximal duplicated token spans per document:
    * (id, span_start, span_end, n_windows) with [span_start, span_end)
    * in token positions, end exclusive. Overlapping AND abutting
    * windows merge (a window starting exactly where the previous
    * span's coverage ends extends it). */
  def dupSpans(corpus: DataFrame, w: Int = 8): DataFrame =
    spansFromStarts(dupWindowStarts(corpus, w), w)

  /** Gaps-and-islands merge of duplicated-window starts into maximal
    * spans: a new island starts when this window begins past the
    * furthest [pos, pos + w) coverage seen so far in the document. */
  private def spansFromStarts(starts: DataFrame, w: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos").asc)
    val prevMax = max(col("pos") + w).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = starts
      .withColumn("new_island", when(prevMax.isNull || col("pos") > prevMax, 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(byDoc))
    islands.groupBy(col("id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + w).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Registered-query surface over the driver corpus, ordered for the
    * oracle. */
  def dupSpansFor(spark: SparkSession, sfDir: String, w: Int = 8): DataFrame =
    dupSpans(Ingest.corpusFromDocuments(spark, sfDir), w)
      .orderBy(col("id").asc, col("span_start").asc)

  /** Per-document duplication summary — the curation signal (fraction
    * of tokens inside a duplicated span): (id, n_tokens, dup_tokens,
    * dup_fraction). Documents with no duplicated span report 0. */
  def dupStats(corpus: DataFrame, w: Int = 8): DataFrame =
    statsFromSpans(corpus, dupSpans(corpus, w))

  /** Per-document duplication summary for `docs` against the PERSISTED
    * window-count index (which must cover them — the corpus-membership
    * contract [[dupSpansWithIndex]] states): the incremental-scoring
    * twin of [[dupStats]], touching only `docs`' own windows plus the
    * count log. With `docs` ⊆ the indexed corpus the fractions equal
    * the batch pass exactly. */
  def dupStatsWithIndex(spark: SparkSession, dir: String,
                        docs: DataFrame): DataFrame =
    statsFromSpans(docs, dupSpansWithIndex(spark, dir, docs))

  private def statsFromSpans(corpus: DataFrame, spanFrame: DataFrame): DataFrame = {
    val spans = spanFrame
      .groupBy(col("id"))
      .agg(sum(col("span_end") - col("span_start")).as("dup_tokens"))
    corpus.select(col("id"), size(TextAnalytics.tokens(col("sentence"))).cast("long").as("n_tokens"))
      .join(spans, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .as("dup_fraction"))
  }

  // ---- persisted window-count index (maintenance twin) ----------------
  //
  // The substring-dedup analogue of the IVF postings / BM25 term index:
  // the per-window occurrence counts ARE the index, persisted as an
  // ADDITIVE log — (bucket, wtext, occ) rows under crc32(wtext)%nBuckets
  // partition directories, where appends only add delta rows and readers
  // sum per window. Additivity is what makes maintenance trivial: an
  // append never rewrites existing files (contrast the upsert sink,
  // which must merge per key), and a query aggregates log rows exactly
  // like a fresh build would count raw windows.

  private def bucketOf(c: Column, nBuckets: Int): Column =
    pmod(crc32(c), lit(nBuckets)).cast("int")

  /** Build the persisted index from a corpus: window counts bucketed by
    * crc32(wtext) % nBuckets (one file per bucket — the BM25 layout). */
  def saveWindowIndex(corpus: DataFrame, dir: String, w: Int = 8,
                      nBuckets: Int = LogBuckets.Adaptive): Unit = {
    // adaptive sizing from the doc count × a nominal windows-per-doc
    // (the distinct-window log is bounded by total windows); appends
    // follow the count stored in meta
    val nb = LogBuckets.resolve(nBuckets, corpus.count() * 32L)
    val counts = windowFrame(corpus, w)
      .groupBy(col("wtext")).agg(count(lit(1)).as("occ"))
      .select(bucketOf(col("wtext"), nb).as("bucket"), col("wtext"), col("occ"))
    counts.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/counts")
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq((w, nb)).toDF("w", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  private def loadMeta(spark: SparkSession, dir: String): (Int, Int) = {
    val r = spark.read.parquet(s"$dir/meta").head
    (r.getInt(r.fieldIndex("w")), r.getInt(r.fieldIndex("n_buckets")))
  }

  /** Append new documents' window counts as delta rows (additive log —
    * no existing file is touched; readers sum). NOT crash-idempotent on
    * its own: a replayed append double-counts, which can only FLAG MORE
    * spans, but exact parity with a fresh build then needs a rebuild —
    * wrap calls in the BatchFs marker protocol (the appendTermBatch
    * pattern) when driven from an at-least-once source. */
  def appendWindowIndex(spark: SparkSession, dir: String,
                        newDocs: DataFrame): Long = {
    val (w, nBuckets) = loadMeta(spark, dir)
    val counts = windowFrame(newDocs, w)
      .groupBy(col("wtext")).agg(count(lit(1)).as("occ"))
      .select(bucketOf(col("wtext"), nBuckets).as("bucket"), col("wtext"), col("occ"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = counts.count()
    counts.repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/counts")
    counts.unpersist(blocking = false)
    n
  }

  /** Idempotent per-batch append for at-least-once replay — the span
    * twin of [[graft.operators.TextSearch.appendTermBatch]]: stage the
    * wave's window-count deltas, move them in under the `b<tag>-`
    * prefix (clearing a crashed attempt's files first), marker written
    * last. Returns the wave's distinct-window count (0 for a replay). */
  def appendWindowIndexBatch(spark: SparkSession, dir: String,
                             newDocs: DataFrame, batchId: Long,
                             namespace: String = ""): Long =
    BatchFs.appendOnce(dir, "counts", batchId, namespace,
        Seq(BatchFs.Log("counts", "bucket="))) { staging =>
      val (w, nBuckets) = loadMeta(spark, dir)
      val counts = windowFrame(newDocs, w)
        .groupBy(col("wtext")).agg(count(lit(1)).as("occ"))
        .select(bucketOf(col("wtext"), nBuckets).as("bucket"), col("wtext"), col("occ"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = counts.count()
        if (n > 0L)
          counts.repartition(col("bucket"))
            .write.mode("overwrite").partitionBy("bucket").parquet(s"$staging/counts")
        n
      } finally counts.unpersist(blocking = false)
    }


  /** Per-document duplication summary for an INCOMING wave that is NOT
    * yet in the index: a window is duplicated iff its summed log count
    * PLUS the wave's own occurrences reach 2 — exactly the total-count
    * rule a batch pass over (indexed corpus ∪ wave) would apply, so
    * admission-time filtering sees intra-wave duplication and
    * wave-vs-corpus duplication alike without writing anything. */
  def dupStatsIncoming(spark: SparkSession, dir: String,
                       wave: DataFrame): DataFrame = {
    val (w, _) = loadMeta(spark, dir)
    val wins = windowFrame(wave, w)
    val waveCounts = wins.groupBy(col("wtext")).agg(count(lit(1)).as("occ"))
    // only the wave's OWN windows can mark its spans, so the log is
    // pruned to them before the count aggregation — a wave never pays
    // a corpus-wide pass over the window log (at 100 TB the log is
    // corpus-sized, the wave is not)
    val totals = spark.read.parquet(s"$dir/counts")
      .select(col("wtext"), col("occ"))
      .join(waveCounts.select(col("wtext")), Seq("wtext"), "left_semi")
      .unionByName(waveCounts)
      .groupBy(col("wtext")).agg(sum(col("occ")).as("occ"))
    val dupTexts = totals.filter(col("occ") >= 2).select(col("wtext"))
    statsFromSpans(wave, spansFromStarts(
      wins.join(dupTexts, Seq("wtext"), "left_semi")
        .select(col("id"), col("pos")), w))
  }

  /** Duplicated spans for `docs` against the PERSISTED index, which
    * must cover them (the corpus-membership contract every index here
    * shares — BM25 stats, IVF postings): a window is duplicated iff
    * its summed log count ≥ 2. With `docs` = the indexed corpus this
    * equals [[dupSpans]] exactly (test-pinned, incl. after appends). */
  def dupSpansWithIndex(spark: SparkSession, dir: String,
                        docs: DataFrame): DataFrame = {
    val (w, _) = loadMeta(spark, dir)
    val wins = windowFrame(docs, w)
    // prune the log to the queried docs' own windows BEFORE the count
    // aggregation: only those windows can mark spans in `docs`, and a
    // per-wave query must not pay a corpus-wide pass over the log
    val dupTexts = spark.read.parquet(s"$dir/counts")
      .join(wins.select(col("wtext")).distinct(), Seq("wtext"), "left_semi")
      .groupBy(col("wtext")).agg(sum(col("occ")).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("wtext"))
    spansFromStarts(
      wins.join(dupTexts, Seq("wtext"), "left_semi")
        .select(col("id"), col("pos")), w)
  }
}
