package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Ingest

/** Multinomial Naive-Bayes document classifier — the deterministic,
  * counts-based twin of the fastText-style linear quality classifiers
  * modern pipelines train on weak labels and run over the whole corpus
  * (DCLM / FineWeb-Edu filter with exactly this shape: cheap model,
  * corpus-scale scoring pass). A gradient-trained model needs float
  * accumulation whose value depends on partition order; NB's
  * sufficient statistics are exact integer counts, so training is two
  * partial-aggregable shuffles and every engine computes the identical
  * model — which is what makes a hash-exact DuckDB oracle possible.
  *
  * Model (Laplace-smoothed, log10 domain):
  *   weight(t)  = log10((c_pos(t)+1)/(N_pos+V)) − log10((c_neg(t)+1)/(N_neg+V))
  *   prior      = log10(D_pos / D_neg)
  *   score(doc) = prior + Σ_t tf(doc,t) · weight(t),  keep ⇔ score > 0
  *
  * Determinism: weights and the prior round to 6 decimals and become
  * DECIMAL(18,6) BEFORE any aggregation; tf·weight products and the
  * per-document sum are decimal — exact and order-free — so the only
  * libm call (log10, ≤1 ulp platform spread) dies in the rounding and
  * shuffle order never reaches the result.
  *
  * 100 TB posture: train = one (term) shuffle for class counts + one
  * (id, term) shuffle for tf; score = one equi-join of tf against the
  * vocab weight table (sub-linear in corpus size; broadcast-eligible
  * for bounded vocabularies) — no driver state, no iteration.
  *
  * The registered surface trains on [[TextAnalytics.qualityKeep]] weak
  * labels and self-scores (the classifier distills the heuristic; the
  * `agree` flag audits the fit). [[train]]/[[score]] take any labeled
  * (id, toks, label) frame. Unseen terms at score time get the smoothed
  * unseen-count weight; an all-one-class corpus is a caller error (the
  * prior degenerates). */
object NbClassifier {

  /** Per-term decimal weight column from smoothed class counts. */
  private def wgt(cPos: Column, cNeg: Column, nPos: Column, nNeg: Column, v: Column): Column =
    round(log10((cPos + 1).cast("double") / (nPos + v).cast("double")) -
      log10((cNeg + 1).cast("double") / (nNeg + v).cast("double")), 6)
      .cast(DecimalType(18, 6))

  /** The ONE weight/prior derivation, shared by [[train]] (fresh
    * sufficient statistics) and [[loadModel]] (per-key log sums) — the
    * bit-identity contract between the two is structural, not two
    * hand-synchronized formula copies. `voc` is (w, cpos, cneg),
    * `docCounts` a 1-row (dpos, dneg). */
  private def derive(voc: DataFrame, docCounts: DataFrame): (DataFrame, DataFrame) = {
    val tot = voc.agg(sum(col("cpos")).as("npos"), sum(col("cneg")).as("nneg"),
      count(lit(1)).as("v"))
    val weights = voc.crossJoin(broadcast(tot))
      .select(col("w"),
        wgt(col("cpos"), col("cneg"), col("npos"), col("nneg"), col("v")).as("wgt"))
    val priors = docCounts
      .crossJoin(broadcast(tot))
      .select(
        round(log10(col("dpos").cast("double") / col("dneg").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("prior"),
        wgt(lit(0L), lit(0L), col("npos"), col("nneg"), col("v")).as("w_unseen"))
    (weights, priors)
  }

  /** Trained model from an (id, toks, label) frame:
    * (weights: (w, wgt), priors: 1-row (prior, w_unseen)). */
  def train(labeled: DataFrame): (DataFrame, DataFrame) = {
    val (terms, docs) = stats(labeled)
    derive(terms, docs)
  }

  /** Score an (id, toks, ...) frame against a trained model: appends
    * (n_tokens, log_odds, nb_keep); terms outside the model vocabulary
    * contribute the smoothed unseen weight. */
  def score(model: (DataFrame, DataFrame), docs: DataFrame): DataFrame = {
    val (weights, priors) = model
    val tf = docs.select(col("id"), explode(col("toks")).as("w"))
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf"))
    val docsum = tf.join(weights, Seq("w"), "left")
      .crossJoin(broadcast(priors.select(col("w_unseen"))))
      .groupBy(col("id"))
      .agg(sum(col("tf") * coalesce(col("wgt"), col("w_unseen"))).as("s"))
    docs.join(docsum, Seq("id"), "left")
      .crossJoin(broadcast(priors.select(col("prior"))))
      .withColumn("odds", coalesce(col("s"), lit(0).cast(DecimalType(18, 6))) + col("prior"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("log_odds", col("odds").cast("double"))
      .withColumn("nb_keep", col("odds") > 0)
      .drop("toks", "s", "odds", "prior")
  }

  // ---- persisted additive model (maintenance twin) -------------------
  //
  // What persists is NOT the derived weights but the SUFFICIENT
  // STATISTICS — per-term (cpos, cneg) and the (dpos, dneg) document
  // counts — because those are exact integers and ADDITIVE: an ingest
  // wave appends its own counts as delta rows (the NgramLm/SpanDedup
  // log discipline) and a reader's per-key sums equal a fresh train()
  // over the union, so the derived weights are BIT-identical to
  // retraining from scratch (test-pinned). Persisting weights instead
  // would freeze the denominator (N_pos + V) and break additivity.

  private def bucketOf(c: Column, nBuckets: Int): Column =
    pmod(crc32(c), lit(nBuckets)).cast("int")

  /** The two sufficient-statistic frames of a labeled (id, toks,
    * label) wave: per-term class counts and the 1-row doc counts. */
  private def stats(labeled: DataFrame): (DataFrame, DataFrame) = {
    val ex = labeled.select(col("label"), explode(col("toks")).as("w"))
    val terms = ex.groupBy(col("w")).agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("cpos"),
      sum(when(col("label"), 0L).otherwise(1L)).as("cneg"))
    val docs = labeled.agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("dpos"),
      sum(when(col("label"), 0L).otherwise(1L)).as("dneg"))
    (terms, docs)
  }

  private def writeStats(terms: DataFrame, docs: DataFrame, dir: String,
                         nBuckets: Int, mode: String): Unit = {
    terms.select(bucketOf(col("w"), nBuckets).as("bucket"), col("w"),
        col("cpos"), col("cneg"))
      .repartition(col("bucket"))
      .write.mode(mode).partitionBy("bucket").parquet(s"$dir/terms")
    // the doc-count log shares the bucketed layout (a single bucket —
    // it is one delta row per wave) so the compaction machinery
    // applies to it unchanged
    docs.select(lit(0).as("bucket"), col("dpos"), col("dneg"))
      .coalesce(1)
      .write.mode(mode).partitionBy("bucket").parquet(s"$dir/docs")
  }

  /** Persist a labeled corpus's NB sufficient statistics under `dir`
    * (overwrites). */
  def saveModel(labeled: DataFrame, dir: String,
                nBuckets: Int = LogBuckets.Adaptive): Unit = {
    val (terms, docs) = stats(labeled)
    // adaptive sizing from the labeled-doc count (a cheap proxy for the
    // term-log vocabulary); appends follow the count stored in meta
    val nb = LogBuckets.resolve(nBuckets, labeled.count())
    writeStats(terms, docs, dir, nb, "overwrite")
    val spark = labeled.sparkSession
    import spark.implicits._
    Seq(nb).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Append an ingest wave's statistics as delta rows (additive log —
    * no existing file touched; readers sum). NOT crash-idempotent
    * alone; at-least-once callers use [[appendModelBatch]]. */
  def appendModel(spark: SparkSession, dir: String,
                  labeledWave: DataFrame): Unit = {
    val nBuckets = spark.read.parquet(s"$dir/meta").head.getInt(0)
    val cached = labeledWave
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (terms, docs) = stats(cached)
      writeStats(terms, docs, dir, nBuckets, "append")
    } finally cached.unpersist(blocking = false)
  }

  /** Idempotent per-batch append for at-least-once replay — the NB
    * twin of [[NgramLm.appendModelBatch]]: stage the wave's two stat
    * logs, move them in under the `b<tag>-` prefix (clearing a crashed
    * attempt's files first), marker written last. Returns the wave's
    * labeled-doc count (0 for a replay). */
  def appendModelBatch(spark: SparkSession, dir: String,
                       labeledWave: DataFrame, batchId: Long,
                       namespace: String = ""): Long =
    BatchFs.appendOnce(dir, "stats", batchId, namespace,
        Seq(BatchFs.Log("terms", "bucket="), BatchFs.Log("docs", "bucket="))) { staging =>
      val nBuckets = spark.read.parquet(s"$dir/meta").head.getInt(0)
      val cached = labeledWave
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = cached.count()
        if (n > 0L) {
          val (terms, docs) = stats(cached)
          writeStats(terms, docs, staging.toString, nBuckets, "overwrite")
        }
        n
      } finally cached.unpersist(blocking = false)
    }

  /** Load the persisted model: per-key sums over the additive logs,
    * then the same weight/prior derivation as [[train]] — so scoring
    * against a loaded model is bit-identical to scoring against a
    * fresh train() over the union of all appended waves. */
  def loadModel(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val voc = spark.read.parquet(s"$dir/terms")
      .groupBy(col("w")).agg(sum(col("cpos")).as("cpos"),
        sum(col("cneg")).as("cneg"))
    val docCounts = spark.read.parquet(s"$dir/docs")
      .agg(sum(col("dpos")).as("dpos"), sum(col("dneg")).as("dneg"))
    derive(voc, docCounts)
  }

  /** Registered surface: train on the quality-heuristic weak labels,
    * self-score the corpus, and audit the distillation fit per doc. */
  def nbQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val labeled = Ingest.corpusFromDocuments(spark, sfDir)
      .select(col("id"),
        TextAnalytics.tokens(col("sentence")).as("toks"),
        TextAnalytics.qualityKeep(col("sentence")).as("label"))
    val model = train(labeled)
    score(model, labeled)
      .select(col("id"), col("n_tokens"), col("log_odds"), col("nb_keep"),
        col("label").as("heuristic_keep"),
        (col("nb_keep") === col("label")).as("agree"))
      .orderBy(col("id").asc)
  }
}
