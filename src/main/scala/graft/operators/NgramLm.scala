package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Ingest

/** Distributed n-gram language model with stupid backoff — the
  * model-based document quality signal LLM pipelines run next to the
  * heuristic filters (CCNet, Wenzek et al. 2020 score documents with a
  * KenLM 5-gram and keep/drop by perplexity bucket). Kneser–Ney needs
  * global discount statistics per context; Brants et al. 2007 ("Large
  * Language Models in Machine Translation") showed that at corpus
  * scale the un-normalized *stupid backoff* score
  *
  *   S(w | v u) = c(vuw)/c(vu)           if c(vuw) > 0
  *              = α · S(w | u)           otherwise          (α = 0.4)
  *   S(w | u)   = c(uw)/c(u)             if c(uw) > 0
  *              = α · S(w)               otherwise
  *   S(w)       = c(w)/N
  *
  * matches smoothed models for filtering/ranking purposes while being
  * exactly the shape a distributed engine wants: training is three
  * partial-aggregable groupBy counts (uni/bi/trigrams) and scoring is
  * equi-joins of token positions against the count tables — no
  * normalization pass, no global state beyond one broadcast total.
  *
  * Determinism across engines (the oracle contract): counts are exact
  * integers; every ratio is a double division of exact integers (IEEE-
  * identical in Spark and DuckDB); α factors are double literals; the
  * only libm call is log10, whose ≤1-ulp platform differences are
  * absorbed by rounding the per-token log-score to 6 decimals BEFORE
  * the per-document sum, which is DECIMAL — exact and order-free, so
  * shuffle order never reaches the result.
  *
  * 100 TB posture: training = three map-side-combinable shuffles on the
  * n-gram key (the count tables are the post-aggregation vocabulary —
  * sub-linear in corpus size); scoring shuffles token positions to the
  * count tables' keys (the unigram table is broadcast-eligible long
  * before the others; AQE picks that up at small scale). Self-scoring
  * below is the registered demo; [[score]] takes any (id, toks) frame,
  * so train-on-reference / score-on-candidate decontamination-style
  * splits are the same two calls. */
object NgramLm {

  /** Stupid-backoff discount (Brants et al. 2007 §4, α = 0.4). */
  private val Alpha = 0.4

  /** Trained model: exact n-gram count tables plus the corpus token
    * total kept as a 1-row frame (stays lazy/distributed; broadcast at
    * score time). Keys are space-joined tokens — collision-free since
    * tokens are [a-z0-9]+. */
  final case class Model(uni: DataFrame, bi: DataFrame, tri: DataFrame, total: DataFrame)

  /** (id, toks) with empty token arrays dropped — the trainable/
    * scorable corpus view. */
  private[graft] def tokenized(corpus: DataFrame): DataFrame =
    corpus.select(col("id"), TextAnalytics.tokens(col("sentence")).as("toks"))
      .filter(size(col("toks")) > 0)

  /** N-gram key strings of order `n` per document — narrow map. */
  private def grams(docs: DataFrame, n: Int): DataFrame =
    docs.filter(size(col("toks")) >= n)
      .select(explode(expr(
        s"transform(sequence(0, size(toks) - $n), " +
          s"i -> array_join(slice(toks, i + 1, $n), ' '))")).as("k"))

  /** Train on an (id, toks) frame: three counting shuffles, all
    * map-side combinable. */
  def train(docs: DataFrame): Model = {
    val uni = docs.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val bi = grams(docs, 2).groupBy(col("k")).agg(count(lit(1)).as("c2"))
    val tri = grams(docs, 3).groupBy(col("k")).agg(count(lit(1)).as("c3"))
    val total = docs.select(sum(size(col("toks"))).cast("long").as("n_total"))
    Model(uni, bi, tri, total)
  }

  /** Per-document stupid-backoff score over an (id, toks) frame:
    * (id, n_scored, n_oov, log10_score, ppl) where log10_score is the
    * exact decimal sum of per-token round(log10(S), 6) over IN-VOCAB
    * positions and ppl = round(10^(−log10_score/n_scored), 6).
    *
    * Every position is scored with the longest available context
    * (position 0 → unigram, position 1 → bigram chain). Positions whose
    * token is absent from the model vocabulary score no mass — they are
    * excluded from BOTH the sum and n_scored and reported as `n_oov`
    * instead (a doc that is all-OOV gets null log10_score/ppl), so
    * held-out scoring is total and never silently blends missing
    * positions into the average. Self-trained scoring has n_oov = 0
    * everywhere. Zero-token docs produce no row. */
  def score(model: Model, docs: DataFrame): DataFrame = {
    // (id, w, u, v) + join keys for every token position — narrow map.
    // u/v are the 1- and 2-back context tokens (null off the left edge).
    // sequence(1, 0) counts DOWN (the Bpe.pairCounts trap), so empty
    // token arrays are filtered, not exploded into phantom positions.
    val pos = docs.filter(size(col("toks")) > 0)
      .select(col("id"), explode(expr(
      """transform(sequence(1, size(toks)), i -> named_struct(
        |  'w', toks[i-1],
        |  'u', if(i >= 2, toks[i-2], cast(null as string)),
        |  'v', if(i >= 3, toks[i-3], cast(null as string))))""".stripMargin)).as("p"))
      .select(col("id"), col("p.w").as("w"), col("p.u").as("u"), col("p.v").as("v"))
      .withColumn("k3", when(col("v").isNotNull, concat_ws(" ", col("v"), col("u"), col("w"))))
      .withColumn("kc2", when(col("v").isNotNull, concat_ws(" ", col("v"), col("u"))))
      .withColumn("k2", when(col("u").isNotNull, concat_ws(" ", col("u"), col("w"))))

    val t3 = model.tri.select(col("k").as("t3_k"), col("c3"))
    val bctx = model.bi.select(col("k").as("bc_k"), col("c2").as("c2ctx"))
    val b2 = model.bi.select(col("k").as("b2_k"), col("c2"))
    val uctx = model.uni.select(col("w").as("uc_w"), col("c1").as("c1u"))
    val uw = model.uni.select(col("w").as("uw_w"), col("c1").as("c1w"))

    // c(vuw) > 0 implies c(vu) > 0 and c(uw) > 0 implies c(u) > 0
    // (every n-gram occurrence contains its prefix), so the chosen
    // branch's denominator is never null.
    val joined = pos
      .join(t3, col("k3") === col("t3_k"), "left")
      .join(bctx, col("kc2") === col("bc_k"), "left")
      .join(b2, col("k2") === col("b2_k"), "left")
      .join(uctx, col("u") === col("uc_w"), "left")
      .join(uw, col("w") === col("uw_w"), "left")
      .crossJoin(broadcast(model.total))

    val a = lit(Alpha)
    val sc = when(col("v").isNotNull && col("c3").isNotNull,
        col("c3").cast("double") / col("c2ctx").cast("double"))
      .when(col("u").isNotNull && col("c2").isNotNull,
        when(col("v").isNotNull, a).otherwise(lit(1.0)) *
          col("c2").cast("double") / col("c1u").cast("double"))
      .otherwise(
        when(col("v").isNotNull, a * a)
          .when(col("u").isNotNull, a).otherwise(lit(1.0)) *
          col("c1w").cast("double") / col("n_total").cast("double"))

    // lp is null exactly on OOV positions (the chosen branch's
    // denominator is never null — see above — and every non-OOV branch
    // has a non-null ratio), so count(lp) is the in-vocab position
    // count and sum(lp) skips OOV mass rather than nulling the doc.
    joined
      .select(col("id"), round(log10(sc), 6).cast(DecimalType(18, 6)).as("lp"))
      .groupBy(col("id"))
      .agg(count(col("lp")).as("n_scored"),
        (count(lit(1)) - count(col("lp"))).as("n_oov"),
        sum(col("lp")).as("lp_sum"))
      .select(col("id"), col("n_scored"), col("n_oov"),
        col("lp_sum").cast("double").as("log10_score"),
        round(pow(lit(10.0), -col("lp_sum").cast("double") / col("n_scored")), 6).as("ppl"))
  }

  // ---- persisted additive model (maintenance twin) -------------------
  //
  // N-gram counts are ADDITIVE — the same property the span-dedup
  // window index exploits: persisting the count tables as append-only
  // logs (readers sum per key) makes LM maintenance trivial for a
  // growing corpus. An ingest wave appends its own counts (one narrow
  // derivation + its count shuffles, no standing-corpus recompute) and
  // the next scoring pass sees the updated model. Appends rewrite no
  // file; like the other additive indexes they are not crash-idempotent
  // alone and compose with the BatchFs marker protocol when driven
  // from an at-least-once source.

  private def bucketOf(c: Column, nBuckets: Int): Column =
    pmod(crc32(c), lit(nBuckets)).cast("int")

  private def writeCounts(df: DataFrame, key: String, cnt: String,
                          path: String, nBuckets: Int, mode: String): Unit =
    df.select(bucketOf(col(key), nBuckets).as("bucket"), col(key), col(cnt))
      .repartition(col("bucket"))
      .write.mode(mode).partitionBy("bucket").parquet(path)

  /** Persist a trained model under `dir` (overwrites): uni/bi/tri count
    * logs bucketed by crc32(key) % nBuckets. The token total is NOT
    * stored — it is definitionally Σc1 over the unigram log, so
    * deriving it at load time keeps the persisted state fully additive
    * with no separately-consistent scalar to crash out of sync.
    *
    * The three writes stay SEQUENTIAL by design: the uni/bi/tri frames
    * share one unpersisted parent plan, and concurrent actions over
    * plans sharing live Catalyst subtrees produced wrong counts under
    * suite-level concurrency (observed: a unigram count migrating
    * between adjacent words). Concurrency is safe one level up, where
    * the shared input is persisted and materialized before forking —
    * the [[Pq.train]] / [[ScorecardIndex.build]] discipline. */
  def saveModel(model: Model, dir: String,
                nBuckets: Int = LogBuckets.Adaptive): Unit = {
    // adaptive sizing from the corpus token total (one small agg over
    // the training frame; the tri log, the largest table, holds at most
    // one row per token) — appends follow the count stored in meta
    val nb = LogBuckets.resolve(nBuckets, {
      val r = model.total.head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    })
    writeCounts(model.uni, "w", "c1", s"$dir/uni", nb, "overwrite")
    writeCounts(model.bi, "k", "c2", s"$dir/bi", nb, "overwrite")
    writeCounts(model.tri, "k", "c3", s"$dir/tri", nb, "overwrite")
    val spark = model.uni.sparkSession
    import spark.implicits._
    Seq(nb).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Append an ingest wave's counts as delta rows (additive log — no
    * existing file touched; readers sum). NOT crash-idempotent alone
    * (a replay double-counts); at-least-once callers use
    * [[appendModelBatch]]. Returns the post-append corpus token
    * total. */
  def appendModel(spark: SparkSession, dir: String, newDocs: DataFrame): Long = {
    val nBuckets = spark.read.parquet(s"$dir/meta").head.getInt(0)
    // the three count writes each scan the wave; cache it once
    val cached = newDocs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val m = train(cached)
      writeCounts(m.uni, "w", "c1", s"$dir/uni", nBuckets, "append")
      writeCounts(m.bi, "k", "c2", s"$dir/bi", nBuckets, "append")
      writeCounts(m.tri, "k", "c3", s"$dir/tri", nBuckets, "append")
    } finally cached.unpersist(blocking = false)
    spark.read.parquet(s"$dir/uni")
      .agg(coalesce(sum(col("c1")), lit(0L))).head.getLong(0)
  }

  /** Idempotent per-batch append for at-least-once replay — the LM
    * twin of [[TextSearch.appendTermBatch]]: stage the wave's three
    * count logs, move them in under the `b<tag>-` prefix (clearing a
    * crashed attempt's files first), marker written last. A replayed
    * committed batch is a no-op; a crash mid-commit is repaired by the
    * replay. Returns the wave's token count (0 for a replay). */
  def appendModelBatch(spark: SparkSession, dir: String, newDocs: DataFrame,
                       batchId: Long, namespace: String = ""): Long =
    BatchFs.appendOnce(dir, "counts", batchId, namespace,
        Seq("uni", "bi", "tri").map(BatchFs.Log(_, "bucket="))) { staging =>
      val nBuckets = spark.read.parquet(s"$dir/meta").head.getInt(0)
      // total head + three staged writes each scan the wave; cache it once
      val cached = newDocs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val m = train(cached)
        val waveTokens = {
          val r = m.total.head
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
        if (waveTokens > 0L) {
          writeCounts(m.uni, "w", "c1", s"$staging/uni", nBuckets, "overwrite")
          writeCounts(m.bi, "k", "c2", s"$staging/bi", nBuckets, "overwrite")
          writeCounts(m.tri, "k", "c3", s"$staging/tri", nBuckets, "overwrite")
        }
        waveTokens
      } finally cached.unpersist(blocking = false)
    }


  /** Load the persisted model: per-key sums over the additive logs —
    * exactly what a fresh [[train]] over the union of all waves would
    * count, so [[score]] against a loaded model is bit-identical to
    * scoring against a rebuilt one (test-pinned). The total derives
    * from the unigram log (Σc1 = token count by construction). */
  def loadModel(spark: SparkSession, dir: String): Model = {
    val uni = spark.read.parquet(s"$dir/uni")
      .groupBy(col("w")).agg(sum(col("c1")).as("c1"))
    Model(
      uni = uni,
      bi = spark.read.parquet(s"$dir/bi")
        .groupBy(col("k")).agg(sum(col("c2")).as("c2")),
      tri = spark.read.parquet(s"$dir/tri")
        .groupBy(col("k")).agg(sum(col("c3")).as("c3")),
      total = uni.agg(sum(col("c1")).cast("long").as("n_total")))
  }

  private val modelCache = JvmCaches.map[String, String]()

  /** Registered surface: scoring through the PERSISTED model must
    * reproduce [[scoreCorpus]] exactly — same counts, same arithmetic,
    * different scan (the bm25_persisted pattern). */
  def persistedScore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = tokenized(Ingest.corpusFromDocuments(spark, sfDir))
    val dir = modelCache.getOrElseUpdate(sfDir, {
      val d = graft.StateDir.of("lm-model", sfDir)
      // three count writes scan the corpus; cache it for the build
      val cached = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try saveModel(train(cached), d)
      finally cached.unpersist(blocking = false)
      d
    })
    score(loadModel(spark, dir), docs).orderBy(col("id"))
  }

  /** Registered surface: top-25 trigrams by count — the head of the
    * model the first backoff level consults. */
  def trigramHead(spark: SparkSession, sfDir: String): DataFrame = {
    val m = train(tokenized(Ingest.corpusFromDocuments(spark, sfDir)))
    m.tri.orderBy(col("c3").desc, col("k").asc).limit(25)
  }

  /** Registered surface: the corpus self-scored — per-document
    * perplexity, ordered by id. */
  def scoreCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = tokenized(Ingest.corpusFromDocuments(spark, sfDir))
    score(train(docs), docs).orderBy(col("id"))
  }

  /** Memoized per-scale LM-bucket artifact: the persisted (id, ppl)
    * self-scored frame, its row count, and the EXACT NTILE(3) cut
    * points found by [[ExactRank]]'s sketch-bracket-and-refine — no
    * global sort anywhere. Shared by [[pplBuckets]], the thresholded
    * audit, and CurationScorecard, so the train+score pipeline runs
    * once per JVM per scale (the Clustering.assignCache discipline). */
  private val scoredCutsCache =
    JvmCaches.sessionMap[String, (DataFrame, Long, Seq[ExactRank.Cut])]()

  private[graft] def scoredWithCuts(spark: SparkSession, sfDir: String)
      : (DataFrame, Long, Seq[ExactRank.Cut]) =
    scoredCutsCache.getOrElseUpdate(spark, sfDir) {
      val docs = tokenized(Ingest.corpusFromDocuments(spark, sfDir))
      val scored = score(train(docs), docs).select(col("id"), col("ppl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = scored.count()
      val cuts = ExactRank.cutsAt(scored, "ppl", "id",
        ExactRank.ntileCutRanks(n, 3), nKnown = Some(n))
      (scored, n, cuts)
    }

  /** Registered surface: CCNet-style head/middle/tail perplexity
    * buckets with per-bucket stats; ppl sums stay decimal so shuffle
    * order never shows. The bucket is the EXACT
    * NTILE(3) OVER (ORDER BY ppl, id) value — the oracle restates it
    * with that window verbatim — but it is computed from [[ExactRank]]
    * cut points (aggregate bracketing + a bounded refine), so the plan
    * carries NO unpartitioned window: at 100 TB the corpus is never
    * funnelled through a single sort task. [[pplBucketsThresholded]]
    * remains the sketch-only variant (one aggregate cheaper, buckets
    * approximate within GK rank error). */
  def pplBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val (scored, _, cuts) = scoredWithCuts(spark, sfDir)
    scored.withColumn("bucket",
        ExactRank.bucketCol(col("ppl"), col("id"), cuts))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("ppl")).as("min_ppl"),
        max(col("ppl")).as("max_ppl"),
        sum(col("ppl").cast(DecimalType(18, 6))).cast("double").as("sum_ppl"))
      .orderBy(col("bucket"))
  }

  /** Production bucket assignment at corpus scale: tercile cut points
    * from the mergeable GK sketch (`approx_percentile`, rank error ≤
    * `accuracy`⁻¹) broadcast back, bucket = threshold comparison — a
    * narrow map after one small aggregate, no global row sort. Returns
    * (id, ppl, bucket). Documents within sketch rank-error of a cut
    * point may land one bucket off the exact NTILE (bounded,
    * test-pinned); everything else matches [[pplBuckets]]'s layout. */
  def pplBucketsThresholded(scored: DataFrame, accuracy: Int = 10000): DataFrame =
    bucketizeByCuts(scored, thresholdCutValues(scored, accuracy))

  /** The GK tercile cut values, run ONCE and collected (2 doubles —
    * bounded driver state). GK summary merges are merge-order
    * dependent, so two independent percentile_approx jobs can return
    * different (both valid) cut values; every consumer that needs the
    * SAME cuts the bucket assignment used (the thresholded audit's
    * equality carve-out in particular) must share this collected row,
    * never re-derive it. */
  private[graft] def thresholdCutValues(scored: DataFrame,
                                        accuracy: Int): Seq[Double] = {
    val r = scored.agg(
      percentile_approx(col("ppl"), typedlit(Seq(1.0 / 3.0, 2.0 / 3.0)),
        lit(accuracy)).as("cuts")).head
    if (r.isNullAt(0)) Seq.empty else r.getSeq[Double](0)
  }

  /** Threshold bucket assignment from collected cut values — a narrow
    * when-chain over literals (no join, no shuffle, no window). */
  private def bucketizeByCuts(scored: DataFrame, cuts: Seq[Double]): DataFrame = {
    val bucket =
      if (cuts.size < 2) lit(1L) // empty corpus: no rows to bucket anyway
      else when(col("ppl") <= lit(cuts.head), 1L)
        .when(col("ppl") <= lit(cuts(1)), 2L)
        .otherwise(3L)
    scored.select(col("id"), col("ppl"), bucket.as("bucket"))
  }

  /** Registered surface for the sketch-only scale twin
    * ([[pplBucketsThresholded]]): its GK cut points are
    * engine-specific, so the oracle pins the DETERMINISTIC contract
    * instead (the `value_percentiles_approx` pattern) — one row of
    * exact-count facts plus invariant flags the oracle states literal
    * TRUE:
    *
    *  - `n_docs`: scored-doc count, exact (the oracle recounts it);
    *  - `cut1_ok`/`cut2_ok`: the GK rank guarantee checked with exact
    *    counts — each returned cut value's rank interval
    *    [count(< v)+1, count(≤ v)] overlaps target ± n/accuracy;
    *  - `monotone_ok`: cut1 ≤ cut2 (same sketch, monotone in p);
    *  - `within_one_ok`: every document's thresholded bucket is within
    *    1 of its exact-NTILE bucket, EXCEPT documents whose ppl equals
    *    a GK cut value exactly — a single duplicated value can carry
    *    enough mass to span both rank cuts, and the value-thresholded
    *    bucket then legitimately collapses what the id-tiebroken NTILE
    *    splits. With that carve-out the flag is deterministic once the
    *    tercile width n/3 exceeds the rank error (accuracy > 3): a
    *    strictly-off-cut document moves only if its rank sits between
    *    a GK cut's rank interval and the exact cut rank. */
  def pplBucketsThresholdedAudit(spark: SparkSession, sfDir: String,
                                 accuracy: Int = 10000): DataFrame = {
    val (scored, n, cuts) = scoredWithCuts(spark, sfDir)
    // GK job runs ONCE; b_t and every flag below consume the same
    // collected values. A second percentile_approx job could return a
    // different (equally valid) cut under a different merge order, and
    // the equality carve-out in within_one_ok would then test against
    // cuts that did not produce b_t — a flaky gate on a real cluster.
    val gkCuts = thresholdCutValues(scored, accuracy)
    val (g1, g2) =
      if (gkCuts.size >= 2) (gkCuts.head, gkCuts(1))
      else (Double.NaN, Double.NaN) // empty corpus: flags vacuous
    val t = bucketizeByCuts(scored, gkCuts)
      .select(col("id"), col("bucket").as("b_t"))
    val exact = scored.withColumn("b_x",
      ExactRank.bucketCol(col("ppl"), col("id"), cuts))
    val e = math.max(1L, (n + accuracy - 1) / accuracy)
    val targets = ExactRank.ntileCutRanks(n, 3) match {
      case Seq() => Seq(1L, 1L) // empty corpus: flags vacuous
      case ts    => ts
    }
    val joined = exact.join(t, Seq("id"))
    joined.agg(
      count(lit(1)).as("n_docs"),
      (sum(when(col("ppl") < lit(g1), 1L).otherwise(0L))
        < lit(targets.head + e) &&
       sum(when(col("ppl") <= lit(g1), 1L).otherwise(0L))
        >= lit(targets.head - e)).as("cut1_ok"),
      (sum(when(col("ppl") < lit(g2), 1L).otherwise(0L))
        < lit(targets.last + e) &&
       sum(when(col("ppl") <= lit(g2), 1L).otherwise(0L))
        >= lit(targets.last - e)).as("cut2_ok"),
      min(when(lit(g1) <= lit(g2), 1L)
        .otherwise(0L)).cast("boolean").as("monotone_ok"),
      (min(when(abs(col("b_t") - col("b_x")) <= 1L ||
          col("ppl") === lit(g1) ||
          col("ppl") === lit(g2), 1L).otherwise(0L)) === 1L)
        .as("within_one_ok"))
  }
}
