package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Ingest

/** Incremental (wave-scoped) curation scoring — the operator a real
  * 100 TB pipeline runs DAILY: score only a NEW ingest wave against
  * persisted model state, never re-deriving anything from the standing
  * corpus. [[CurationScorecard.scorecard]] is the batch anchor (the
  * whole corpus through every signal); this index is its maintenance
  * twin, bundling every signal's persisted, ADDITIVE state under one
  * directory:
  *
  *  - `lm/`    — n-gram count logs ([[NgramLm.saveModel]] layout);
  *  - `nb/`    — NB sufficient-statistic logs ([[NbClassifier.saveModel]]);
  *  - `spans/` — window-count log ([[SpanDedup.saveWindowIndex]]);
  *  - `mins/`  — exact-duplicate min-id log: (sentence → min doc id),
  *    additive under min-merge, so `dedup_kept` for a wave doc needs
  *    only its own sentence's log row;
  *  - `cuts/`  — the corpus NTILE(3) perplexity cut points
  *    ([[ExactRank.Cut]] rows), refreshed on schedule like BM25's
  *    df/avgdl and IVF centroids (cut DRIFT is tolerated between
  *    refreshes; a refresh restores exact-NTILE semantics).
  *
  * Contract (test-pinned): after `build(admitted)` + `appendWave(w)` +
  * `refreshCuts(admitted ∪ w)`, `scoreWave(w)` is BIT-IDENTICAL to the
  * batch scorecard over the full corpus restricted to the wave's ids —
  * every log is exact-integer additive, so per-key sums equal a fresh
  * derivation, and the LM/NB arithmetic is the decimal-rounded chain
  * the batch path uses.
  *
  * 100 TB posture: `appendWave` touches only the wave (one narrow
  * derivation + its count shuffles per log, no standing-corpus
  * recompute); `scoreWave` is the wave's own maps plus equi-joins into
  * the logs (the n-gram/term/sentence join keys prune to the wave's
  * own keys); only `refreshCuts` scans corpus-wide — which is why it
  * is a scheduled maintenance step, not part of the wave cadence. */
object ScorecardIndex {

  /** Pre-meta fallback bucket count for the min-id log (indexes built
    * before `mins_meta` existed). Fresh builds size adaptively
    * ([[LogBuckets]]) and store the count in `mins_meta`. */
  private val DedupBuckets = 64

  private def minsBucketsOf(spark: SparkSession, dir: String): Int =
    try spark.read.parquet(s"$dir/mins_meta").head.getInt(0)
    catch {
      // ONLY the missing-path/pre-meta case falls back (r15 advice: a
      // transient read failure swallowed here would write appends with
      // the wrong modulus into the same partitioned directory — silent
      // layout corruption); anything else rethrows
      case _: org.apache.spark.sql.AnalysisException => DedupBuckets
    }

  private def writeMinsMeta(spark: SparkSession, dir: String, nb: Int): Unit = {
    import spark.implicits._
    Seq(nb).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/mins_meta")
  }

  /** (id, sentence, toks, label) — the shared per-doc derivation every
    * signal consumes (label = the quality heuristic's weak label). */
  private def labeled(docs: DataFrame): DataFrame =
    docs.select(col("id"), col("sentence"),
      TextAnalytics.tokens(col("sentence")).as("toks"),
      TextAnalytics.qualityKeep(col("sentence")).as("label"))

  private def minsDelta(docs: DataFrame, nBuckets: Int): DataFrame =
    docs.groupBy(col("sentence")).agg(min(col("id")).as("min_id"))
      .select(pmod(crc32(col("sentence")), lit(nBuckets)).cast("int").as("bucket"),
        col("sentence"), col("min_id"))

  /** Build the index from the admitted corpus (overwrites `dir`),
    * including an initial cut refresh. The four component logs are
    * independent (distinct paths, own shuffles), and each is a chain
    * of small driver-synchronized jobs — sequential building is
    * latency-bound, not compute-bound, so the chains run concurrently
    * (the Pq.train discipline; results are bit-identical either way).
    * The LM chain carries the cut refresh, which needs the LM logs on
    * disk first; `lab` is materialized BEFORE forking so concurrent
    * first-touch readers don't compute the shared frame twice. */
  def build(spark: SparkSession, dir: String, corpus: DataFrame): Unit = {
    val lab = labeled(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nDocs = lab.count()
      val minsBuckets = LogBuckets.adaptive(nDocs)
      // Every forked chain reads ONLY children of the persisted `lab`
      // (the materialize-before-fork rule): concurrent actions over
      // plans sharing a LIVE unpersisted subtree have produced wrong
      // counts (see NgramLm.saveModel's record), so `corpus` itself
      // must not be re-planned on more than one thread.
      val docs = lab.select(col("id"), col("sentence"))
      import scala.collection.parallel.CollectionConverters._
      Seq(
        () => {
          NgramLm.saveModel(
            NgramLm.train(lab.select(col("id"), col("toks"))
              .filter(size(col("toks")) > 0)), s"$dir/lm")
          refreshCuts(spark, dir, docs,
            preTokenized = Some(lab.select(col("id"), col("toks"))))
        },
        () => NbClassifier.saveModel(
          lab.select(col("id"), col("toks"), col("label")), s"$dir/nb"),
        () => SpanDedup.saveWindowIndex(docs, s"$dir/spans"),
        () => {
          minsDelta(docs, minsBuckets).repartition(col("bucket"))
            .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/mins")
          writeMinsMeta(spark, dir, minsBuckets)
        }
      ).par.foreach(_.apply())
    } finally lab.unpersist(blocking = false)
  }

  /** Append an ingest wave to every additive log — touches ONLY the
    * wave. Cut points deliberately stay stale until the next
    * [[refreshCuts]] (the df/avgdl discipline). Like the other
    * additive appends this is not crash-idempotent alone;
    * at-least-once callers wrap it in the BatchFs marker protocol. */
  def appendWave(spark: SparkSession, dir: String, wave: DataFrame): Unit = {
    val lab = labeled(wave)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      NgramLm.appendModel(spark, s"$dir/lm",
        lab.select(col("id"), col("toks")).filter(size(col("toks")) > 0))
      NbClassifier.appendModel(spark, s"$dir/nb",
        lab.select(col("id"), col("toks"), col("label")))
      SpanDedup.appendWindowIndex(spark, s"$dir/spans", wave)
      minsDelta(wave, minsBucketsOf(spark, dir)).repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(s"$dir/mins")
    } finally lab.unpersist(blocking = false)
  }

  /** Recompute the exact NTILE(3) perplexity cuts over the CURRENT
    * corpus (scored through the persisted LM logs — bit-identical to
    * scoring through a fresh train, the lm_persisted_score contract)
    * and store them. The only corpus-wide pass in this object; run it
    * on the retrain schedule, not per wave. */
  def refreshCuts(spark: SparkSession, dir: String, corpus: DataFrame,
                  preTokenized: Option[DataFrame] = None): Unit = {
    // callers that already hold the corpus's (id, toks) — build()'s
    // persisted `lab` frame — pass it in and skip a full corpus
    // re-tokenization on the LM chain's critical path (bit-identical:
    // it is the same per-row derivation over the same rows)
    val docs = preTokenized.getOrElse(
        corpus.select(col("id"), TextAnalytics.tokens(col("sentence")).as("toks")))
      .filter(size(col("toks")) > 0)
    val scored = NgramLm.score(NgramLm.loadModel(spark, s"$dir/lm"), docs)
      .select(col("id"), col("ppl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = scored.count()
      val cuts = ExactRank.cutsAt(scored, "ppl", "id",
        ExactRank.ntileCutRanks(n, 3), nKnown = Some(n))
      import spark.implicits._
      cuts.map(c => (c.rank, c.value, c.id)).toDF("rank", "value", "id")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/cuts")
    } finally scored.unpersist(blocking = false)
  }

  /** Idempotent per-batch wave admission for at-least-once replay (the
    * streaming cadence): each component log commits through its OWN
    * BatchFs marker (LM under `lm/`, NB under `nb/`, spans under
    * `spans/`, the min-id log under the index root), all keyed by the
    * same (batchId, namespace) — a crash between components is
    * repaired on replay, where already-committed components no-op and
    * the rest finish. Returns the wave row count (0 when every
    * component had already committed). */
  def appendWaveBatch(spark: SparkSession, dir: String, wave: DataFrame,
                      batchId: Long, namespace: String = ""): Long = {
    val lab = labeled(wave)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = lab.count()
      // started sentinel FIRST, before any component's data can land:
      // NgramLm.appendModelBatch commits its uni/bi/tri data files
      // before writing the lm marker, so a crash inside that window
      // leaves wave counts in the log with no marker to witness them —
      // [[waveStarted]] would read false and an incoming-mode replay
      // would re-score the wave against a log already containing part
      // of the wave's own LM counts. The sentinel closes the window:
      // any partially-landed data is preceded by it.
      BatchFs.writeMarker(startedSentinel(dir, batchId, namespace), "")
      NgramLm.appendModelBatch(spark, s"$dir/lm",
        lab.select(col("id"), col("toks")).filter(size(col("toks")) > 0),
        batchId, namespace)
      NbClassifier.appendModelBatch(spark, s"$dir/nb",
        lab.select(col("id"), col("toks"), col("label")), batchId, namespace)
      SpanDedup.appendWindowIndexBatch(spark, s"$dir/spans", wave,
        batchId, namespace)
      // min-id log: same staged-commit protocol, marker under the root
      BatchFs.appendOnce(dir, "mins", batchId, namespace,
          Seq(BatchFs.Log("mins", "bucket="))) { staging =>
        minsDelta(wave, minsBucketsOf(spark, dir)).repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$staging/mins")
        n
      }
    } finally lab.unpersist(blocking = false)
  }

  /** Has this (batchId, namespace) wave fully committed? True once the
    * LAST component marker ([[appendWaveBatch]]'s root marker) exists —
    * the streaming skip gate, mirroring dedupStream's. */
  private[graft] def waveCommitted(dir: String, batchId: Long,
                                   namespace: String): Boolean =
    java.nio.file.Files.exists(BatchFs.markerFor(dir, batchId, namespace))

  /** Path of the started sentinel [[appendWaveBatch]] writes BEFORE
    * its first component commit (underscore-prefixed: invisible to
    * Spark's file listing, same convention as the marker dirs). */
  private[graft] def startedSentinel(dir: String, batchId: Long,
                                     namespace: String): java.nio.file.Path =
    java.nio.file.Paths.get(
      s"$dir/_started/${BatchFs.MarkerSchemeVersion}/" +
        BatchFs.batchTag(batchId, namespace))

  /** Has this wave's admission STARTED — i.e. could ANY component log
    * already contain wave data? True once [[appendWaveBatch]]'s
    * started sentinel exists (written before the first component
    * commit, so every crash point with partially-landed data is
    * covered — including mid-LM-append, where uni/bi/tri data files
    * commit before the lm marker). The streaming score/emit step gates
    * on this, not on [[waveCommitted]]: once a single component log
    * contains the wave, an incoming-mode re-score would count the wave
    * against itself (every ≥W-token doc suddenly "duplicated" by its
    * own admitted windows) and re-emit corrupted verdicts — a
    * partially-admitted replay must only FINISH the admission, never
    * re-score. The lm-marker check remains for indexes whose waves
    * were admitted before the sentinel existed. */
  private[graft] def waveStarted(dir: String, batchId: Long,
                                 namespace: String): Boolean =
    java.nio.file.Files.exists(startedSentinel(dir, batchId, namespace)) ||
      java.nio.file.Files.exists(
        BatchFs.markerFor(s"$dir/lm", batchId, namespace))

  /** Score an INCOMING wave that is NOT yet admitted — the
    * admission-time filter a daily pipeline actually runs. Contract:
    *
    *  - `keep_quality` is the per-doc heuristic (identical to batch);
    *  - `nb_keep` / `ppl` / `ppl_bucket` score against the LAGGING
    *    persisted models and stored cuts (trained on everything
    *    admitted so far — they drift like IVF centroids and BM25
    *    df/avgdl until the next refresh; wave tokens outside the
    *    admitted vocabulary take the smoothed-unseen/OOV paths);
    *  - `dedup_kept` / `dup_fraction` are computed against
    *    admitted ∪ wave VIRTUALLY (the wave's own sentence mins and
    *    window counts fold into the log sums without writing), so
    *    intra-wave duplication and wave-vs-corpus duplication are both
    *    caught, exactly as a batch pass over the union would.
    *
    * Admit the survivors afterwards with [[appendWaveBatch]]. */
  def scoreWaveIncoming(spark: SparkSession, dir: String,
                        wave: DataFrame): DataFrame =
    assembleVerdicts(spark, dir, wave,
      dedup = dedupFor(spark, dir, wave, includeWave = true),
      spans = SpanDedup.dupStatsIncoming(spark, s"$dir/spans", wave)
        .select(col("id"), col("dup_fraction")))

  /** ONE implementation of the verdict table — schema, join chain, and
    * the final_keep formula — shared by both scoring modes, which
    * differ only in their dedup/span input frames (covering-index vs
    * virtual-union). The quality/NB/LM signals are mode-independent:
    * they always score against the persisted model state. A doc whose
    * every token is outside the model vocabulary (possible only under
    * a lagging model) scores null ppl ⇒ null bucket — never the
    * bucket when-chain's fall-through; with a covering index ppl is
    * never null and the guard is a no-op. */
  private def assembleVerdicts(spark: SparkSession, dir: String,
                               wave: DataFrame, dedup: DataFrame,
                               spans: DataFrame): DataFrame = {
    val lab = labeled(wave)
    val quality = lab.select(col("id"), col("label").as("keep_quality"))
    val nb = NbClassifier.score(NbClassifier.loadModel(spark, s"$dir/nb"), lab)
      .select(col("id"), col("nb_keep"))
    val scored = NgramLm.score(NgramLm.loadModel(spark, s"$dir/lm"),
        lab.select(col("id"), col("toks")).filter(size(col("toks")) > 0))
      .select(col("id"), col("ppl"))
    val lm = scored.withColumn("ppl_bucket",
        when(col("ppl").isNotNull,
          ExactRank.bucketCol(col("ppl"), col("id"), loadCuts(spark, dir))))
      .select(col("id"), col("ppl"), col("ppl_bucket"))
    wave.select(col("id"))
      .join(quality, Seq("id"))
      .join(nb, Seq("id"))
      .join(lm, Seq("id"), "left") // zero-token docs have no LM row
      .join(dedup, Seq("id"))
      .join(spans, Seq("id"))
      .withColumn("final_keep",
        col("keep_quality") && col("nb_keep") && col("dedup_kept") &&
          col("dup_fraction") < lit(1.0 / 3.0) &&
          coalesce(col("ppl_bucket") < 3, lit(false)))
      .select(col("id"), col("keep_quality"), col("nb_keep"), col("dedup_kept"),
        col("ppl"), col("ppl_bucket"), col("dup_fraction"), col("final_keep"))
      .orderBy(col("id").asc)
  }

  /** Exact-dup verdicts for the wave from the min-id log, PRUNED to
    * the wave's own sentences before the per-sentence min (a wave must
    * never pay a corpus-wide aggregate of the log — at 100 TB the log
    * is corpus-sized, the wave is not). `includeWave` folds the wave's
    * own per-sentence mins in virtually (incoming mode); the covering
    * mode reads the log alone. */
  private def dedupFor(spark: SparkSession, dir: String, wave: DataFrame,
                       includeWave: Boolean): DataFrame = {
    val logRows = spark.read.parquet(s"$dir/mins")
      .select(col("sentence"), col("min_id"))
      .join(wave.select(col("sentence")).distinct(), Seq("sentence"), "left_semi")
    val rows =
      if (includeWave)
        logRows.unionByName(
          wave.groupBy(col("sentence")).agg(min(col("id")).as("min_id")))
      else logRows
    val mins = rows.groupBy(col("sentence")).agg(min(col("min_id")).as("min_id"))
    wave.select(col("id"), col("sentence"))
      .join(mins, Seq("sentence"), "left")
      .select(col("id"), (col("id") === col("min_id")).as("dedup_kept"))
  }

  // Registered incoming surface: the index is built from the ADMITTED
  // corpus only (everything except the wave), so the model columns
  // genuinely lag and the dedup/span columns exercise the virtual
  // union — the admission-time semantics, deterministically restated
  // by the oracle's split-trained CTE chain.
  private val admittedIndexCache = JvmCaches.map[String, String]()

  private[graft] def admittedIndexFor(spark: SparkSession, sfDir: String): String =
    admittedIndexCache.getOrElseUpdate(sfDir, {
      val d = "/root/repo/target/scorecard-index-admitted/" +
        new java.io.File(sfDir).getName
      build(spark, d, Ingest.corpusFromDocuments(spark, sfDir)
        .filter(pmod(col("id"), lit(5L)) =!= 0L))
      d
    })

  def scorecardIncomingFor(spark: SparkSession, sfDir: String): DataFrame =
    scoreWaveIncoming(spark, admittedIndexFor(spark, sfDir),
      Ingest.corpusFromDocuments(spark, sfDir)
        .filter(pmod(col("id"), lit(5L)) === 0L))

  /** Compaction cadence for the index's seven additive logs (the
    * [[Compaction.maintainLog]] discipline): each wave append adds one
    * file per touched partition per log, so a daily cadence without
    * this grows open-file overhead without bound. Waves here append
    * WITHOUT batch markers (single-writer, exactly-once callers), so
    * every parquet file counts as committed and folds. Returns true if
    * any log compacted. Call on the wave cadence, from the same
    * single-writer window the appends run in. */
  def maintain(spark: SparkSession, dir: String,
               maxFilesPerPartition: Int = 16): Boolean =
    Seq(
      (s"$dir/lm/uni", s"$dir/lm"), (s"$dir/lm/bi", s"$dir/lm"),
      (s"$dir/lm/tri", s"$dir/lm"),
      (s"$dir/nb/terms", s"$dir/nb"), (s"$dir/nb/docs", s"$dir/nb"),
      (s"$dir/spans/counts", s"$dir/spans"), (s"$dir/mins", dir))
      .map { case (data, markerRoot) =>
        Compaction.maintainLog(spark, data, markerRoot, "bucket",
          maxFilesPerPartition)._1
      }.exists(identity)

  private def loadCuts(spark: SparkSession, dir: String): Seq[ExactRank.Cut] =
    spark.read.parquet(s"$dir/cuts").collect()
      .map(r => ExactRank.Cut(r.getLong(r.fieldIndex("rank")),
        r.getDouble(r.fieldIndex("value")), r.getLong(r.fieldIndex("id"))))
      .sortBy(_.rank).toSeq

  /** Score a wave against the persisted state. The index must COVER
    * the wave (append it first — the [[SpanDedup.dupSpansWithIndex]]
    * corpus-membership contract): every signal then equals the batch
    * scorecard's value for those ids. Output schema and semantics are
    * exactly [[CurationScorecard.scorecard]]'s. */
  def scoreWave(spark: SparkSession, dir: String, wave: DataFrame): DataFrame =
    assembleVerdicts(spark, dir, wave,
      dedup = dedupFor(spark, dir, wave, includeWave = false),
      spans = SpanDedup.dupStatsWithIndex(spark, s"$dir/spans", wave)
        .select(col("id"), col("dup_fraction")))

  // Registered surface: the index over the sf corpus is built once per
  // JVM (a persisted artifact — the persistedTermIndexFor discipline),
  // then the wave (every 5th document) is scored against it. The wave
  // is a subset of the indexed corpus, so the batch scorecard oracle
  // filtered to the wave ids restates this EXACTLY.
  private val indexCache = JvmCaches.map[String, String]()

  /** Build-or-fetch the persisted index over the sf corpus (the Bench
    * warm entry, so the one-time build cost is individually timed and
    * the registered query's median measures WAVE scoring only). */
  private[graft] def indexFor(spark: SparkSession, sfDir: String): String =
    indexCache.getOrElseUpdate(sfDir, {
      val d = "/root/repo/target/scorecard-index/" + new java.io.File(sfDir).getName
      build(spark, d, Ingest.corpusFromDocuments(spark, sfDir))
      d
    })

  def scorecardWaveFor(spark: SparkSession, sfDir: String): DataFrame =
    scoreWave(spark, indexFor(spark, sfDir),
      Ingest.corpusFromDocuments(spark, sfDir)
        .filter(pmod(col("id"), lit(5L)) === 0L))
}
