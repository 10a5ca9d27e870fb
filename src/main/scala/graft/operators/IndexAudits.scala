package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{cosine_sim, l2sq}

/** Self-auditing projections for the seed-/codebook-dependent index
  * operators (IVF list membership, PQ codebooks, LSH buckets). The raw
  * outputs of these operators cannot be restated in SQL — k-means and
  * codebook training make the *values* engine-specific — but their
  * CORRECTNESS CONTRACT is deterministic: distances recompute exactly
  * from the raw vectors, a top-k is tight against its candidate set,
  * pruning draws only from probed lists, approximate clustering
  * refines the exact ε-graph, and recall against the exact twin clears
  * a measured floor. Each audit here projects exactly those
  * deterministic facts — counts the oracle restates from the base
  * tables plus invariant flags the oracle states literal TRUE (the
  * `vocab_cms` / `value_percentiles_approx` pattern) — so the
  * registered query gets a full rows+schema+hash oracle while the
  * production search path stays untouched underneath.
  *
  * Recall floors are set from measured values at BOTH gate scales
  * (sf0.01 / sf0.1; each audit's doc gives its figures) with ≥ 1.4×
  * margin; every other flag is deterministic by construction, not
  * probabilistic.
  *
  * Scale posture: audits run the exact twin only over driver-scale
  * vector tables (the embeddings table is the small side by design);
  * every comparison is an equi-join or broadcast single-row aggregate,
  * no collect in any audit body.
  */
object IndexAudits {

  /** All-rows-satisfy flag: TRUE iff `c` holds on every row (empty
    * input yields TRUE via the count guard where used). */
  private def forall(c: Column): Column =
    coalesce(min(when(c, lit(1)).otherwise(lit(0))) === 1, lit(true))

  /** Per-JVM memoized exact-twin artifacts for the sampled recall
    * audits (the Clustering.assignCache discipline, keyed on
    * (kind, sfDir, params)). The exact sampled top-k is a fixed
    * function of the data — recomputing it inside every bench rep of
    * `hard_negatives_lsh` / `knn_batch_ivf` made the audit, not the
    * production path, the queries' dominant cost. Build once,
    * persist, reuse. */
  private val exactTwinCache = JvmCaches.sessionMap[String, DataFrame]()

  private def memoizedTwin(spark: SparkSession, key: String)
                          (build: => DataFrame): DataFrame =
    exactTwinCache.getOrElseUpdate(spark, key) {
      val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }

  /** Exact sampled self-kNN (L2) — the recall reference for
    * [[batchIvfAudit]]. Memoized per (sfDir, k, sampleMod). */
  private[graft] def exactBatchTwin(spark: SparkSession, sfDir: String,
                                    k: Int = 5, sampleMod: Int = 10): DataFrame =
    memoizedTwin(spark, s"batch-l2:$sfDir:$k:$sampleMod") {
      val emb = embeddings(spark, sfDir)
      val wB = Window.partitionBy(col("src_id"))
        .orderBy(col("dist").asc, col("dst_id").asc)
      emb.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
        .select(col("vec_id").as("src_id"), col("embedding").as("se"))
        .join(emb.select(col("vec_id").as("dst_id"), col("embedding").as("de")),
          col("src_id") =!= col("dst_id"))
        .withColumn("dist", l2sq(col("se"), col("de")))
        .withColumn("rank", row_number().over(wB))
        .filter(col("rank") <= k)
        .select(col("src_id"), col("dst_id"))
    }

  /** Exact sampled cross-label cosine top-k — the recall reference for
    * [[hardNegativesLshAudit]]. Memoized per (sfDir, k, sampleMod). */
  private[graft] def exactXlabelTwin(spark: SparkSession, sfDir: String,
                                     k: Int = 5, sampleMod: Int = 10): DataFrame =
    memoizedTwin(spark, s"xlabel-cos:$sfDir:$k:$sampleMod") {
      val emb = embeddings(spark, sfDir)
      val wH = Window.partitionBy(col("anchor_id"))
        .orderBy(col("sim").desc, col("neg_id").asc)
      emb.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
        .select(col("vec_id").as("anchor_id"),
          col("embedding").as("ae"), col("label").as("al"))
        .join(emb.select(col("vec_id").as("neg_id"),
          col("embedding").as("ne"), col("label").as("nl")),
          col("al") =!= col("nl"))
        .withColumn("sim", cosine_sim(col("ae"), col("ne")))
        .withColumn("rank", row_number().over(wH))
        .filter(col("rank") <= k)
        .select(col("anchor_id"), col("neg_id"))
    }

  private def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)

  // ---- IVF build / append -------------------------------------------

  /** Audit of the IVF build (registered `ivf_build_stats`): the
    * inverted lists PARTITION the corpus — every vector in exactly one
    * list, no strays, no empty list. Per-list counts stay available via
    * [[IvfIndex.listStats]]; this projection is what a SQL oracle can
    * state. */
  def ivfBuildAudit(spark: SparkSession, sfDir: String, nlist: Int = 4): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val idx = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val perList = idx.postings.groupBy(col("list_id")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_lists"), sum(col("n")).as("n_vectors"),
        (min(col("n")) > 0).as("all_lists_nonempty"))
    val stray = idx.postings.select(col("id"))
      .join(emb.select(col("vec_id")), col("id") === col("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n_stray"))
    val dup = idx.postings.groupBy(col("id")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).agg(count(lit(1)).as("n_dup"))
    val total = emb.agg(count(lit(1)).as("n_emb"))
    perList.crossJoin(broadcast(stray)).crossJoin(broadcast(dup))
      .crossJoin(broadcast(total))
      .select(col("n_lists"), col("n_vectors"), col("all_lists_nonempty"),
        (col("n_stray") === 0 && col("n_dup") === 0 &&
          col("n_vectors") === col("n_emb")).as("ids_bijective"))
  }

  /** Audit of the frozen-centroid append lifecycle (registered
    * `ivf_append_stats`): after build-on-half + append-rest the lists
    * still partition the FULL corpus and the share column is a
    * probability vector. */
  def ivfAppendAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = IvfIndex.appendHalfStats(spark, sfDir) // (list_id, n, share)
    val total = embeddings(spark, sfDir).agg(count(lit(1)).as("n_emb"))
    stats.agg(count(lit(1)).as("n_lists"), sum(col("n")).as("total_rows"),
        (min(col("n")) > 0).as("all_lists_nonempty"),
        (abs(sum(col("share")) - 1.0) < 1e-9).as("shares_sum_ok"))
      .crossJoin(broadcast(total))
      .select(col("n_lists"), col("total_rows"), col("all_lists_nonempty"),
        col("shares_sum_ok"), (col("total_rows") === col("n_emb")).as("covers_all"))
  }

  // ---- pruned IVF search --------------------------------------------

  /** Audit of nprobe < nlist IVF search (registered `ivf_search_pruned`
    * / `ivf_persisted_pruned`): reported distances recompute exactly
    * from the raw vectors, the k hits are the tight (dist, id) top-k of
    * the probed candidate set, recall@10 against the exact scan clears
    * the measured floor (0.7 / 0.8 at the gate scales; floor 0.5), and
    * for the persisted variant the disk-backed index returns
    * bit-identical results to the in-memory one. */
  def prunedSearchAudit(spark: SparkSession, sfDir: String,
                        persisted: Boolean, nlist: Int = 4, nprobe: Int = 2,
                        k: Int = 10, minHits: Int = 5): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val q = Tables.queryVector(spark, sfDir, 0L)
    val idx =
      if (persisted) IvfIndex.persistedForEmbeddings(spark, sfDir, nlist)
      else IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val res = IvfIndex.search(idx, q, k, nprobe, Some(0L)) // (id, dist)
    val probed = IvfIndex.probeLists(idx, q, nprobe)
    val cands = idx.postings.filter(col("list_id").isin(probed: _*))
      .filter(col("id") =!= 0L)
      .select(col("id"), l2sq(col("embedding"), typedlit(q)).as("cdist"))
    val mx = res.agg(max(struct(col("dist"), col("id"))).as("mx"))
    val tight = cands.crossJoin(broadcast(mx))
      .agg(sum(when(col("cdist") < col("mx.dist") ||
        (col("cdist") === col("mx.dist") && col("id") <= col("mx.id")),
        lit(1)).otherwise(lit(0))).as("n_le"))
    val dmatch = res
      .join(emb.select(col("vec_id").as("id"), col("embedding")), Seq("id"))
      .agg(count(lit(1)).as("n_hits"),
        forall(col("dist") === l2sq(col("embedding"), typedlit(q))).as("dists_match_ok"))
    val exact = VectorSearchOps.knnExactL2(spark, sfDir, 0L, k)
      .select(col("vec_id").as("id"))
    val hit = res.join(exact, Seq("id"), "left_semi").agg(count(lit(1)).as("n_hit"))
    val base = dmatch.crossJoin(broadcast(tight)).crossJoin(broadcast(hit))
      .select(col("n_hits"), col("dists_match_ok"),
        (col("n_le") === k).as("topk_tight_ok"),
        (col("n_hit") >= minHits).as("recall_ok"))
    if (!persisted) base
    else {
      val mem = IvfIndex.search(
        IvfIndex.forEmbeddings(spark, sfDir, nlist), q, k, nprobe, Some(0L))
      val eq = res.select(col("id"), col("dist").as("pd"))
        .join(mem.select(col("id"), col("dist").as("md")), Seq("id"))
        .agg(count(lit(1)).as("n_both"), forall(col("pd") === col("md")).as("deq"))
      base.crossJoin(broadcast(eq))
        .select(col("n_hits"), col("dists_match_ok"), col("topk_tight_ok"),
          col("recall_ok"),
          (col("n_both") === k && col("deq")).as("matches_memory_ok"))
    }
  }

  /** FAISS `invlists.imbalance_factor()` (registered `ivf_imbalance`)
    * — the standard IVF skew diagnostic: nlist·Σsz²/(Σsz)², 1.0 for
    * perfectly balanced lists, nlist when one list holds everything
    * (expected search slowdown factor vs balanced). WHICH value a
    * build lands on is k-means-dependent, so the registered columns
    * are the restated count plus the two INVARIANT bounds (≥1 by
    * Cauchy-Schwarz; ≤ n_lists by convexity), with the raw factor
    * available from this method's `imbalance` column for operators.
    * `n_lists` is the CONFIGURED nlist (the oracle's literal), not the
    * observed distinct-list count — a k-means run that leaves a list
    * empty must not flip the gate; that event is surfaced separately
    * as `all_lists_nonempty` (informational, k-means-dependent, so
    * the registered query DROPS it rather than oracle-pin it). The
    * imbalance factor itself uses the configured nlist, matching
    * FAISS's invlists denominator (empty lists count as size 0). */
  def imbalanceAudit(spark: SparkSession, sfDir: String,
                     nlist: Int = 4): DataFrame = {
    val idx = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    idx.postings.groupBy(col("list_id")).agg(count(lit(1)).as("sz"))
      .agg(sum(col("sz")).as("n"),
        sum(col("sz") * col("sz")).as("s2"),
        count(lit(1)).as("nl"))
      .select(col("n").as("n_vectors"), lit(nlist).as("n_lists"),
        (col("nl") === nlist).as("all_lists_nonempty"),
        ((lit(nlist) * col("s2")).cast("double") /
          (col("n") * col("n")).cast("double")).as("imbalance"))
      .select(col("n_vectors"), col("n_lists"), col("all_lists_nonempty"),
        (col("imbalance") >= 1.0).as("imbalance_ge_one_ok"),
        (col("imbalance") <= col("n_lists").cast("double")).as("imbalance_le_nlists_ok"))
  }

  /** fp16 scalar-quantizer audit (registered `knn_f16`) — FAISS
    * `ScalarQuantizer(QT_fp16)`. DuckDB has no binary16 type, so the
    * registered surface is the deterministic contract of the coded
    * search ([[Quantization.knnF16]]):
    *  - `n_hits` — exactly k rows;
    *  - `roundtrip_err_ok` — EVERY component of every dequantized
    *    code is within the binary16 RNE bound of its original:
    *    |dq(q(x)) − x| ≤ max(2^-10·|x|, 2^-24) (theoretical relative
    *    bound 2^-11 for normals; 2× margin, absolute floor covers the
    *    subnormal range). PRECONDITION: the bound is only meaningful
    *    for finite components inside the binary16 range — a component
    *    with |x| > 65504 saturates to ±Inf and a NaN roundtrips to
    *    NaN, so both are excluded from the bound check (the quantizer
    *    behaves as specified on them; the audit would otherwise go
    *    permanently red on any out-of-range embedding);
    *  - `dists_close_ok` — every returned coded distance is within 1%
    *    relative (+1e-9 absolute) of the exact distance on the
    *    original floats;
    *  - `recall_ok` — overlap with the exact top-k clears the floor
    *    (measured 10/10 at both gate scales — half precision barely
    *    perturbs the ranking; floor 8 = margin for tie flips). */
  /** Per-vector count of components that violate the binary16 RNE
    * roundtrip bound (see [[f16Audit]]'s contract). Components outside
    * the binary16 finite range (|x| > 65504) and NaN are EXCLUDED —
    * saturation to ±Inf / NaN passthrough is the quantizer's specified
    * behavior there, not a roundtrip error. */
  def f16RoundtripBad(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import graft.functions.{dequantize_f16, quantize_f16}
    aggregate(
      zip_with(vec, dequantize_f16(quantize_f16(vec)),
        (x, d) => when(isnan(x) || abs(x.cast("double")) > lit(65504.0),
          lit(0)) // outside binary16 finite range: saturation/NaN is the contract
          .when(abs(d.cast("double") - x.cast("double")) <=
            greatest(abs(x.cast("double")) * lit(math.pow(2, -10)),
              lit(math.pow(2, -24))), lit(0)).otherwise(lit(1))),
      lit(0), (acc, v) => acc + v)
  }

  def f16Audit(spark: SparkSession, sfDir: String,
               k: Int = 10, minHits: Int = 8): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val q = Tables.queryVector(spark, sfDir, 0L)
    val res = Quantization.knnF16(spark, sfDir, 0L, k) // (vec_id, dist)
    val rtBad = emb.select(f16RoundtripBad(col("embedding")).as("bad"))
      .agg(sum(col("bad")).as("n_bad"))
    val dclose = res
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .withColumn("ed", l2sq(col("embedding"), typedlit(q)))
      .agg(count(lit(1)).as("n_hits"),
        forall(abs(col("dist") - col("ed")) <= col("ed") * 0.01 + 1e-9)
          .as("dists_close_ok"))
    val exact = VectorSearchOps.knnExactL2(spark, sfDir, 0L, k)
      .select(col("vec_id"))
    val hit = res.join(exact, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    dclose.crossJoin(broadcast(rtBad)).crossJoin(broadcast(hit))
      .select(col("n_hits"),
        (col("n_bad") === 0).as("roundtrip_err_ok"),
        col("dists_close_ok"),
        (col("n_hit") >= minHits).as("recall_ok"))
  }

  /** nprobe autotune sweep (registered `autotune_nprobe`) — FAISS
    * `ParameterSpace` / `AutoTuneCriterion`: sweep nprobe over
    * {1, 2, nlist}, measure recall@k against the exact sampled twin,
    * and report the operating curve. WHICH recall a mid-sweep nprobe
    * achieves is k-means-dependent, so the registered columns are the
    * sweep's deterministic contract:
    *  - `nprobe`, `scan_frac` = nprobe/nlist — the cost axis, pure
    *    arithmetic the oracle restates;
    *  - `monotone_ok` — recall is non-decreasing in nprobe. This is
    *    an INVARIANT, not a measurement: raising nprobe only grows the
    *    candidate set, and a candidate that displaces a current top-k
    *    member must be strictly closer than it, hence itself a member
    *    of the exact top-k — overlap with the exact top-k can never
    *    shrink (same (dist, id) tiebreak on both sides);
    *  - `full_probe_exact_ok` — recall is exactly 1.0 at nprobe =
    *    nlist (all lists scanned, raw vectors);
    *  - `target_reached_ok` — some swept nprobe meets the target
    *    recall (guaranteed by the previous flag for target ≤ 1; the
    *    autotuner always terminates).
    * No collect, no window: three bounded aggregates pivoted through a
    * single-row conditional aggregation and cross-joined back onto the
    * sweep rows. */
  def autotuneNprobe(spark: SparkSession, sfDir: String, nlist: Int = 4,
                     k: Int = 5, sampleMod: Int = 10,
                     target: Double = 0.9): DataFrame = {
    val idx = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val emb = embeddings(spark, sfDir)
    val sampled = emb.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
    val exact = exactBatchTwin(spark, sfDir, k, sampleMod)
      .select(col("src_id"), col("dst_id"))
    val sweep = Seq(1, 2, nlist).distinct.sorted
    val hits = sweep.map { np =>
      IvfIndex.searchAll(idx, sampled, "vec_id", "embedding", k, np)
        .select(col("src_id"), col("dst_id"))
        .join(exact, Seq("src_id", "dst_id"))
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(np).as("nprobe"), col("n_hit"))
    }.reduce(_ union _)
    val total = sampled.agg((count(lit(1)) * k).as("n_tot"))
    val aggs = sweep.map(np =>
      max(when(col("nprobe") === np, col("n_hit"))).as(s"h$np")) :+
      max(col("n_tot")).as("n_tot")
    val piv = hits.crossJoin(broadcast(total))
      .agg(aggs.head, aggs.tail: _*)
    val monotone = sweep.zip(sweep.tail)
      .map { case (a, b) => col(s"h$a") <= col(s"h$b") }
      .reduce(_ && _)
    val flags = piv.select(
      monotone.as("monotone_ok"),
      (col(s"h${sweep.last}") === col("n_tot")).as("full_probe_exact_ok"),
      sweep.map(np => col(s"h$np") >= lit(target) * col("n_tot"))
        .reduce(_ || _).as("target_reached_ok"))
    val sweepRows = spark.createDataFrame(
        sweep.map(np => (np, np.toDouble / nlist)))
      .toDF("nprobe", "scan_frac")
    sweepRows.crossJoin(broadcast(flags))
      .orderBy(col("nprobe").asc)
  }

  /** Audit of the pruned METRIC_INNER_PRODUCT IVF search (registered
    * `ip_search_pruned`; see [[IpSearch]]) — the descending mirror of
    * [[prunedSearchAudit]]:
    *  - `n_hits` — exactly k rows returned;
    *  - `ips_match_ok` — every returned score recomputes exactly as
    *    the dot against the original vectors;
    *  - `topk_tight_ok` — exactly k probed candidates rank at or
    *    before the boundary element under `(ip DESC, id ASC)`: the
    *    result is the true top-k of the probed lists, not merely k
    *    members of them;
    *  - `recall_ok` — overlap with the exact MIPS top-k clears the
    *    measured floor. L2-trained cells are not aligned with
    *    dot-product level sets (the documented IP-IVF caveat), so the
    *    floor is measured for THIS metric: 8/10 at BOTH gate scales
    *    (sf0.01 and sf0.1) with nprobe=2 of 4; minHits=5 keeps 1.6×
    *    margin. */
  def ipPrunedAudit(spark: SparkSession, sfDir: String,
                    nlist: Int = 4, nprobe: Int = 2,
                    k: Int = 10, minHits: Int = 5): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val q = Tables.queryVector(spark, sfDir, 0L)
    val idx = IpSearch.forEmbeddingsIp(spark, sfDir, nlist)
    val res = IpSearch.searchIp(idx, q, k, nprobe, Some(0L)) // (id, ip)
    val probed = IpSearch.probeListsIp(idx, q, nprobe)
    val cands = idx.postings.filter(col("list_id").isin(probed: _*))
      .filter(col("id") =!= 0L)
      .select(col("id"),
        graft.functions.vec_dot(col("embedding"), typedlit(q)).as("cip"))
    // boundary = the k-th (last) element under (ip DESC, id ASC):
    // minimum ip, and among ip ties the MAXIMUM id — min(struct(ip, -id))
    val mn = res.agg(min(struct(col("ip"), (-col("id")).as("nid"))).as("mn"))
    val tight = cands.crossJoin(broadcast(mn))
      .agg(sum(when(col("cip") > col("mn.ip") ||
        (col("cip") === col("mn.ip") && col("id") <= -col("mn.nid")),
        lit(1)).otherwise(lit(0))).as("n_ge"))
    val dmatch = res
      .join(emb.select(col("vec_id").as("id"), col("embedding")), Seq("id"))
      .agg(count(lit(1)).as("n_hits"),
        forall(col("ip") === graft.functions.vec_dot(col("embedding"), typedlit(q)))
          .as("ips_match_ok"))
    val exact = IpSearch.knnExactIp(spark, sfDir, 0L, k)
      .select(col("vec_id").as("id"))
    val hit = res.join(exact, Seq("id"), "left_semi").agg(count(lit(1)).as("n_hit"))
    dmatch.crossJoin(broadcast(tight)).crossJoin(broadcast(hit))
      .select(col("n_hits"), col("ips_match_ok"),
        (col("n_ge") === k).as("topk_tight_ok"),
        (col("n_hit") >= minHits).as("recall_ok"))
  }

  /** Audit of the IVF-pruned ε range search (registered
    * `range_search_pruned`): at nprobe < nlist WHICH candidates are
    * visible is k-means-dependent, so the registered surface is the
    * deterministic self-audit —
    *  - `n_exact` — the exact range-result size, a pure function of
    *    the data the oracle restates from the base table;
    *  - `dists_match_ok` — every returned distance recomputes exactly
    *    from the original vectors;
    *  - `subset_of_exact_ok` — every hit is in the exact range result
    *    (deterministic given exact distances and strict `<`);
    *  - `complete_in_probed_ok` — EVERY probed candidate under eps was
    *    returned: range search has no k to truncate at, so within the
    *    probed partitions the result must be exhaustive;
    *  - `recall_ok` — hit count / n_exact clears the measured floor
    *    (measured 18/28 = 0.64 at sf0.01, 79/107 = 0.74 at sf0.1 with
    *    nprobe=2 of 4; floor 0.3 keeps ≥ 2× margin at both gates). */
  def rangeSearchPrunedAudit(spark: SparkSession, sfDir: String,
                             nlist: Int = 4, nprobe: Int = 2,
                             eps: Double = 1.6,
                             minRecall: Double = 0.3): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val q = Tables.queryVector(spark, sfDir, 0L)
    val idx = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val res = IvfIndex.rangeSearch(idx, q, eps, nprobe, Some(0L)) // (id, dist)
    val probed = IvfIndex.probeLists(idx, q, nprobe)
    val underProbed = idx.postings.filter(col("list_id").isin(probed: _*))
      .filter(col("id") =!= 0L)
      .select(col("id"), l2sq(col("embedding"), typedlit(q)).as("cdist"))
      .filter(col("cdist") < eps)
      .agg(count(lit(1)).as("n_under_probed"))
    // referenced twice (count + semi-join) but NOT persisted: both
    // references are one narrow scan+filter of a bench-scale table, and
    // a per-call persist with no unpersist would leak (the r2 lesson)
    val exact = VectorSearchOps.rangeSearch(spark, sfDir, 0L, eps)
      .select(col("vec_id").as("id"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val dmatch = res
      .join(emb.select(col("vec_id").as("id"), col("embedding")), Seq("id"))
      .agg(count(lit(1)).as("n_hits"),
        forall(col("dist") === l2sq(col("embedding"), typedlit(q))).as("dists_match_ok"))
    val inExact = res.join(exact, Seq("id"), "left_semi")
      .agg(count(lit(1)).as("n_in_exact"))
    dmatch.crossJoin(broadcast(nExact)).crossJoin(broadcast(inExact))
      .crossJoin(broadcast(underProbed))
      .select(lit(eps).as("eps"), col("n_exact"),
        col("dists_match_ok"),
        (col("n_in_exact") === col("n_hits")).as("subset_of_exact_ok"),
        (col("n_under_probed") === col("n_hits")).as("complete_in_probed_ok"),
        (col("n_hits") >= col("n_exact") * minRecall).as("recall_ok"))
  }

  /** Audit of pruned FILTERED search (registered `knn_filtered_pruned`
    * — the production shape: IDSelector + nprobe < nlist). Flags:
    * result distances recompute bit-identically from the raw vectors;
    * every hit satisfies the selector; the result is EXHAUSTIVE within
    * the probed+filtered candidate set (max result distance ≤ min
    * distance of any probed+filtered non-result row — the defining
    * top-k property, so pruning lists never silently degrades to
    * pruning candidates); and recall against the exact filtered top-k
    * clears the floor. `n_exact` (the filtered-exact hit count) is
    * deterministic and restated by the oracle. */
  def filteredPrunedAudit(spark: SparkSession, sfDir: String,
                          nlist: Int = 4, nprobe: Int = 2, k: Int = 10,
                          minRecall: Double = 0.3): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val q = Tables.queryVector(spark, sfDir, 0L)
    val idx = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val sel = col("id") >= 100L && col("id") < 400L
    val res = IvfIndex.searchFiltered(idx, q, k, nprobe, sel, Some(0L))
    val probed = IvfIndex.probeLists(idx, q, nprobe)
    val pf = idx.postings.filter(col("list_id").isin(probed: _*))
      .filter(sel).filter(col("id") =!= 0L)
      .select(col("id"), l2sq(col("embedding"), typedlit(q)).as("cdist"))
    val dmatch = res
      .join(emb.select(col("vec_id").as("id"), col("embedding")), Seq("id"))
      .agg(count(lit(1)).as("n_hits"),
        forall(col("dist") === l2sq(col("embedding"), typedlit(q))).as("dists_match_ok"),
        forall(col("id") >= 100L && col("id") < 400L).as("selector_ok"),
        max(col("dist")).as("max_res"))
    val outside = pf.join(res.select(col("id")), Seq("id"), "left_anti")
      .agg(coalesce(min(col("cdist")), lit(Double.MaxValue)).as("min_out"))
    val exact = VectorSearchOps.knnFilteredExact(spark, sfDir,
        col("vec_id") >= 100L && col("vec_id") < 400L, 0L, k)
      .select(col("vec_id").as("id"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val inExact = res.join(exact, Seq("id"), "left_semi")
      .agg(count(lit(1)).as("n_in_exact"))
    dmatch.crossJoin(broadcast(outside)).crossJoin(broadcast(nExact))
      .crossJoin(broadcast(inExact))
      .select(col("n_exact"), col("dists_match_ok"), col("selector_ok"),
        (col("max_res") <= col("min_out")).as("topk_exhaustive_ok"),
        (col("n_in_exact") >= col("n_exact") * minRecall).as("recall_ok"))
  }

  /** Audit of batch IVF kNN (registered `knn_batch_ivf`) — one row per
    * query vector: every query produced exactly k candidates with
    * contiguous ranks and exactly-recomputing distances (ALL queries);
    * mean recall@k against the exact kNN clears the floor over a
    * deterministic 1-in-`sampleMod` query sample (measured 0.72–0.74
    * population mean incl. zero-hit queries, sample s.e. ≈ 0.015 at
    * 200 queries; floor 0.5). Sampling bounds the exact twin's
    * all-pairs cost to sampleMod⁻¹ of the corpus — the flags that are
    * deterministic stay exhaustive, only the probabilistic floor
    * samples. */
  /** The memoized batch IVF self-search (the audit references it twice
    * — the distance recompute and the recall join — and each reference
    * of an unpersisted frame replays the whole probed-list searchAll
    * lineage; the same triple-replay shape the hard-negative mine
    * had). Built once per (sfDir, nlist, nprobe, k), persisted, with a
    * Bench warm entry carrying the build cost. */
  private[graft] def batchIvfSearch(spark: SparkSession, sfDir: String,
                                    nlist: Int = 4, nprobe: Int = 2,
                                    k: Int = 5): DataFrame =
    memoizedTwin(spark, s"batch-ivf-search:$sfDir:$nlist:$nprobe:$k")(
      IvfIndex.searchAll(IvfIndex.forEmbeddings(spark, sfDir, nlist),
        embeddings(spark, sfDir), "vec_id", "embedding", k, nprobe))

  def batchIvfAudit(spark: SparkSession, sfDir: String, nlist: Int = 4,
                    nprobe: Int = 2, k: Int = 5, sampleMod: Int = 10): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val ivf = batchIvfSearch(spark, sfDir, nlist, nprobe, k)
    val re = ivf
      .join(emb.select(col("vec_id").as("src_id"), col("embedding").as("se")), Seq("src_id"))
      .join(emb.select(col("vec_id").as("dst_id"), col("embedding").as("de")), Seq("dst_id"))
      .withColumn("dok", col("dist") === l2sq(col("se"), col("de")))
    val perSrc = re.groupBy(col("src_id")).agg(
      count(lit(1)).as("n_hits"),
      forall(col("dok")).as("dists_match_ok"),
      (min(col("rank")) === 1 && max(col("rank")) === count(lit(1)) &&
        sum(col("rank")) === count(lit(1)) * (count(lit(1)) + 1) / 2).as("ranks_ok"))
    val sampled = emb.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
    val exactSampled = exactBatchTwin(spark, sfDir, k, sampleMod)
    val totHit = ivf.select(col("src_id"), col("dst_id"))
      .join(exactSampled, Seq("src_id", "dst_id")).agg(count(lit(1)).as("nh"))
    val recOk = totHit.crossJoin(broadcast(sampled.agg(count(lit(1)).as("n_s"))))
      .select((col("nh") * 2 >= col("n_s") * k).as("recall_ok")) // sample mean >= 0.5
    perSrc.crossJoin(broadcast(recOk))
      .select(col("src_id"), col("n_hits"), col("dists_match_ok"),
        col("ranks_ok"), col("recall_ok"))
      .orderBy(col("src_id").asc)
  }

  // ---- IVF clustering ------------------------------------------------

  /** Audit of IVF-graph clustering (registered `cluster_ivf`) — one row
    * per vector. `refinement_ok` is deterministic: the IVF candidate
    * graph is a SUBGRAPH of the exact ε-graph (every kept edge passed
    * the same dist < ε predicate), so every IVF cluster must land
    * inside exactly one exact-graph component. `agreement_ok` is the
    * measured floor: ≥ 90% of vectors get the identical canonical
    * cluster as the exact assignment (measured 1.0 at both gate
    * scales). */
  def clusterIvfAudit(spark: SparkSession, sfDir: String,
                      eps: Double = 0.75): DataFrame = {
    def canon(df: DataFrame): DataFrame = {
      val minPer = df.filter(col("cluster_id") =!= -1L)
        .groupBy(col("cluster_id")).agg(min(col("vec_id")).as("cn"))
      df.join(broadcast(minPer), Seq("cluster_id"), "left")
        .select(col("vec_id"), col("cluster_id"),
          coalesce(col("cn"), col("vec_id")).as("canon"))
    }
    val ivf = canon(Clustering.clusterIvf(spark, sfDir, eps))
    val ex = canon(Clustering.clusterExact(spark, sfDir, eps))
      .select(col("vec_id"), col("canon").as("ex_canon"))
    val j = ivf.join(ex, Seq("vec_id"))
    val perCluster = j.filter(col("cluster_id") =!= -1L)
      .groupBy(col("cluster_id"))
      .agg((countDistinct(col("ex_canon")) === 1).as("refine"))
    val agree = j.agg(
      (sum(when(col("canon") === col("ex_canon"), 1L).otherwise(0L)) * 10 >=
        count(lit(1)) * 9).as("agreement_ok"))
    j.join(broadcast(perCluster), Seq("cluster_id"), "left")
      .crossJoin(broadcast(agree))
      .select(col("vec_id"), coalesce(col("refine"), lit(true)).as("refinement_ok"),
        col("agreement_ok"))
      .orderBy(col("vec_id").asc)
  }

  // ---- LSH hard negatives --------------------------------------------

  /** Audit of corpus-wide LSH hard-negative mining (registered
    * `hard_negatives_lsh`): every emitted pair is genuinely cross-label
    * with an exactly-recomputing cosine, per-anchor ranks are
    * contiguous within k (ALL pairs), and mean recall@k against the
    * exact cross-label top-k clears the measured floor over a
    * deterministic 1-in-`sampleMod` anchor sample (population mean
    * 0.90 / 0.92 at the gate scales; floor 0.75 — the sampling
    * rationale is [[batchIvfAudit]]'s). */
  /** The memoized LSH hard-negative mine (the audit references it
    * THREE times — per-anchor flags, the verify join, and the recall
    * join — and each reference of an unpersisted frame replays the
    * whole sketch → band join → cosine-verify lineage; measured as the
    * dominant cost of the registered query's median). Built once per
    * (sfDir, k), persisted, shared — a Bench warm entry carries the
    * build cost visibly. */
  private[graft] def hardNegativesMine(spark: SparkSession, sfDir: String,
                                       k: Int = 5): DataFrame =
    memoizedTwin(spark, s"hn-lsh-mine:$sfDir:$k")(
      VectorSearchOps.hardNegativesLsh(spark, sfDir, k))

  def hardNegativesLshAudit(spark: SparkSession, sfDir: String,
                            k: Int = 5, sampleMod: Int = 10): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val lsh = hardNegativesMine(spark, sfDir, k)
    val re = lsh
      .join(emb.select(col("vec_id").as("anchor_id"), col("label").as("al"),
        col("embedding").as("ae")), Seq("anchor_id"))
      .join(emb.select(col("vec_id").as("neg_id"), col("label").as("nl"),
        col("embedding").as("ne")), Seq("neg_id"))
    val perAnchor = re.groupBy(col("anchor_id")).agg(
      forall(col("al") =!= col("nl")).as("xl"),
      forall(col("sim") === cosine_sim(col("ae"), col("ne"))).as("sm"),
      (min(col("rank")) === 1 && max(col("rank")) === count(lit(1)) &&
        max(col("rank")) <= k).as("rk"))
    val flags = perAnchor.agg(count(lit(1)).as("n_anchors"),
      forall(col("xl")).as("cross_label_ok"),
      forall(col("sm")).as("sims_match_ok"),
      forall(col("rk")).as("ranks_ok"))
    val sampled = emb.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
    val exact = exactXlabelTwin(spark, sfDir, k, sampleMod)
    val totHit = lsh.select(col("anchor_id"), col("neg_id"))
      .join(exact, Seq("anchor_id", "neg_id")).agg(count(lit(1)).as("nh"))
    val recOk = totHit.crossJoin(broadcast(sampled.agg(count(lit(1)).as("n_s"))))
      .select((col("nh") * 4 >= col("n_s") * k * 3).as("recall_ok")) // sample mean >= 0.75
    flags.crossJoin(broadcast(recOk))
      .select((col("n_anchors") > 0).as("pairs_nonempty"), col("cross_label_ok"),
        col("sims_match_ok"), col("ranks_ok"), col("recall_ok"))
  }

  // ---- PQ family ------------------------------------------------------

  /** Audit of PQ search with FAISS-refine (registered `knn_pq`,
    * rerank = 100): the re-ranked distances are EXACT squared-L2
    * (recompute bit-identically from the float vectors), and recall@10
    * against the exact scan clears the measured floor (0.9 / 0.6 at
    * the gate scales; floor 0.4). */
  def pqFlatAudit(spark: SparkSession, sfDir: String, k: Int = 10,
                  rerank: Int = 100, minHits: Int = 4): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val q = Tables.queryVector(spark, sfDir, 0L)
    val res = Pq.searchPq(spark, sfDir, rerank = rerank) // (vec_id, dist)
    val dmatch = res
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .agg(count(lit(1)).as("n_hits"),
        forall(col("dist") === l2sq(col("embedding"), typedlit(q))).as("dists_match_ok"),
        forall(col("vec_id") =!= 0L).as("not_self_ok"))
    val exact = VectorSearchOps.knnExactL2(spark, sfDir, 0L, k).select(col("vec_id"))
    val hit = res.join(exact, Seq("vec_id"), "left_semi").agg(count(lit(1)).as("n_hit"))
    dmatch.crossJoin(broadcast(hit))
      .select(col("n_hits"), col("dists_match_ok"), col("not_self_ok"),
        (col("n_hit") >= minHits).as("recall_ok"))
  }

  /** Audit of the PCA shortlist + exact re-rank (registered
    * `knn_pca_rerank`): exactly k hits, never the query row, result
    * distances recompute bit-identically from the raw vectors (the
    * re-rank really is exact full-dim L2), and recall@k against the
    * exact global scan clears the measured floor (measured: 1.0 at
    * sf0.01, 0.9 at sf0.1 for r=200, d=24; floor 6/10 ≈ 1.4× margin —
    * the test embeddings are near-isotropic, so PCA keeps 24 of 64
    * dims; variance-concentrated real embeddings compress far
    * harder). */
  def pcaRerankAudit(spark: SparkSession, sfDir: String, k: Int = 10,
                     rerank: Int = 200, dOut: Int = 24, minHits: Int = 6): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val q = Tables.queryVector(spark, sfDir, 0L)
    // shortlist tracks corpus size (max(rerank, n/10)) — the r12
    // chained-index lesson, re-learned on the sf1 scale point: a FIXED
    // shortlist is a shrinking fraction of a growing corpus, and
    // recall@k decays with it (measured: r=200 clears the 6/10 floor
    // at 2k rows but fails it at 4k; r=n/10 clears it at both).
    // Production sizing keeps the shortlist a corpus fraction (or a
    // per-list bound), never a constant.
    val r = math.max(rerank, (emb.count() / 10L).toInt)
    val res = Pca.knnPcaRerank(spark, sfDir, 0L, k, r, dOut) // (vec_id, dist)
    val dmatch = res
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .agg(count(lit(1)).as("n_hits"),
        forall(col("dist") === l2sq(col("embedding"), typedlit(q))).as("dists_match_ok"),
        forall(col("vec_id") =!= 0L).as("not_self_ok"))
    val exact = VectorSearchOps.knnExactL2(spark, sfDir, 0L, k).select(col("vec_id"))
    val hit = res.join(exact, Seq("vec_id"), "left_semi").agg(count(lit(1)).as("n_hit"))
    dmatch.crossJoin(broadcast(hit))
      .select(col("n_hits"), col("dists_match_ok"), col("not_self_ok"),
        (col("n_hit") >= minHits).as("recall_ok"))
  }

  /** Audit of the persisted additive moment log (registered
    * `pca_persisted`): the two-wave persisted model agrees with the
    * one-pass in-memory model — exact row count, means within 1e-9,
    * trace and eigenvalues within float-addition reassociation
    * tolerance (the wave split changes double summation ORDER, never
    * the math) — the loaded components are orthonormal, and a
    * committed-wave replay left the model bit-identical
    * (Pca.persistedModelFor re-appends wave 0 on every build). */
  def pcaPersistedAudit(spark: SparkSession, sfDir: String,
                        dOut: Int = 24): DataFrame = {
    val mem = Pca.train(spark, sfDir, dOut)
    val (per, perReplayed) = Pca.persistedModelFor(spark, sfDir, dOut)
    val dim = mem.mean.length
    val meanOk = (0 until dim).forall(i => math.abs(per.mean(i) - mem.mean(i)) <= 1e-9)
    val traceOk = math.abs(per.trace - mem.trace) <=
      1e-9 * math.max(1.0, math.abs(mem.trace))
    val eigOk = (0 until dOut).forall(i =>
      math.abs(per.eigvals(i) - mem.eigvals(i)) <=
        1e-6 * math.max(1.0, math.abs(mem.eigvals(i))))
    val orthoOk = per.comps.indices.forall { a =>
      per.comps.indices.forall { b =>
        val d = (0 until dim).map(j => per.comps(a)(j).toDouble * per.comps(b)(j).toDouble).sum
        math.abs(d - (if (a == b) 1.0 else 0.0)) <= 1e-5
      }
    }
    val replayOk = per.n == perReplayed.n &&
      per.mean.sameElements(perReplayed.mean) &&
      per.eigvals.sameElements(perReplayed.eigvals) &&
      per.comps.zip(perReplayed.comps).forall { case (x, y) => x.sameElements(y) }
    import spark.implicits._
    Seq((mem.n, 2L, per.n == mem.n, meanOk, traceOk, eigOk, orthoOk, replayOk))
      .toDF("n_vectors", "n_waves", "counts_match_ok", "means_match_ok",
        "trace_match_ok", "eigvals_match_ok", "orthonormal_ok", "replay_noop_ok")
  }

  /** Audit of residual IVF-PQ ADC search (registered `ivf_search_pq`,
    * rerank = 0 — the pure compressed-domain ranking): hits come only
    * from the probed lists, never the query row, exactly k of them;
    * recall@10 against the exact GLOBAL scan clears the measured floor
    * (0.2 / 0.3 at the gate scales; floor 0.1 — pure ADC at this
    * m×k budget is a shortlist generator, which is why the refine
    * variants exist). */
  def ivfPqAudit(spark: SparkSession, sfDir: String, nlist: Int = 4,
                 nprobe: Int = 2, k: Int = 10, minHits: Int = 1): DataFrame = {
    val idx = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val q = Tables.queryVector(spark, sfDir, 0L)
    val probed = IvfIndex.probeLists(idx, q, nprobe)
    val res = Pq.ivfSearchPq(spark, sfDir) // (vec_id, adc_dist)
    val member = res
      .join(idx.postings.select(col("id").as("vec_id"), col("list_id")), Seq("vec_id"))
      .agg(count(lit(1)).as("n_hits"),
        forall(col("list_id").isin(probed: _*)).as("hits_in_probed_ok"),
        forall(col("vec_id") =!= 0L).as("not_self_ok"))
    val exact = VectorSearchOps.knnExactL2(spark, sfDir, 0L, k).select(col("vec_id"))
    val hit = res.join(exact, Seq("vec_id"), "left_semi").agg(count(lit(1)).as("n_hit"))
    member.crossJoin(broadcast(hit))
      .select(col("n_hits"), col("hits_in_probed_ok"), col("not_self_ok"),
        (col("n_hit") >= minHits).as("recall_ok"))
  }

  /** Audit of the persisted IVF-PQ postings search (registered
    * `pq_persisted_search`): the binary-code parquet layout returns
    * BIT-IDENTICAL ADC results to the in-memory coded postings — a
    * deterministic equality (same codebooks, same centroids), not a
    * recall bound. */
  def pqPersistedAudit(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    val pers = Pq.persistedSearchPq(spark, sfDir)
    val mem = Pq.ivfSearchPq(spark, sfDir)
    pers.select(col("vec_id"), col("adc_dist").as("pd"))
      .join(mem.select(col("vec_id"), col("adc_dist").as("md")), Seq("vec_id"))
      .agg(count(lit(1)).as("n_hits"),
        forall(col("pd") === col("md")).as("dists_eq"))
      .select(col("n_hits"), (col("n_hits") === k && col("dists_eq")).as("matches_memory_ok"))
  }

  /** Audit of index-backed MMR (registered `mmr_ivf` —
    * [[Mmr.mmrIvf]], the shortlist generator swapped from the exact
    * corpus scan to the IVF coarse probe): exactly k rows with ranks
    * 1..k and distinct ids, never the query row; every selection's
    * list was probed; the FIRST pick's score recomputes exactly as
    * lam·cos(q, v) − lamC·0.0 through the same codegen'd cosine
    * kernel (later picks depend on the greedy's running selection,
    * which the exact-equality test against [[Mmr.mmrRerank]] at
    * nprobe = nlist pins instead); and the selection's overlap with
    * the exact-shortlist MMR clears the measured floor (measured:
    * 7/8/9 of 10 at sf0.001/sf0.01/sf0.1 at the default nprobe 3 of
    * 4; floor 5, 1.4x margin). */
  def mmrIvfAudit(spark: SparkSession, sfDir: String, k: Int = 10,
                  c: Int = 30, nlist: Int = 4, nprobe: Int = 3,
                  lam: Double = 0.7, lamC: Double = 0.3,
                  minHits: Int = 5): DataFrame = {
    val idx = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val q = Tables.queryVector(spark, sfDir, 0L)
    val probed = IvfIndex.probeLists(idx, q, nprobe)
    val res = Mmr.mmrIvf(spark, sfDir, 0L, k, c, nlist, nprobe, lam, lamC)
    val member = res
      .join(embeddings(spark, sfDir).select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(idx.postings.select(col("id").as("vec_id"), col("list_id")), Seq("vec_id"))
      .agg(count(lit(1)).as("n_rows"),
        (max(col("rank")) === k && min(col("rank")) === 1 &&
          count_distinct(col("rank")) === k).as("ranks_ok"),
        (count_distinct(col("vec_id")) === k).as("ids_distinct_ok"),
        forall(col("vec_id") =!= 0L).as("not_self_ok"),
        forall(col("list_id").isin(probed: _*)).as("hits_in_probed_ok"),
        forall(col("rank") =!= 1 ||
          col("mmr_score") === lit(lam) * cosine_sim(col("embedding"), typedlit(q))
            - lit(lamC) * lit(0.0)).as("first_score_ok"))
    val exactSel = Mmr.mmrRerank(spark, sfDir, 0L, k, c, lam, lamC)
      .select(col("vec_id"))
    val hit = res.join(exactSel, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    member.crossJoin(broadcast(hit))
      .select(col("n_rows"), col("ranks_ok"), col("ids_distinct_ok"),
        col("not_self_ok"), col("hits_in_probed_ok"), col("first_score_ok"),
        (col("n_hit") >= minHits).as("recall_ok"))
  }

  /** Audit of the full compression ladder (registered
    * `ivf_pq_pca_search` — [[ChainedIndex]], the FAISS
    * IndexPreTransform(PCAMatrix, IndexIVFPQ) shape): exactly k hits,
    * never the query row; every hit's list (in the PCA-space coarse
    * index) was probed; every returned distance RECOMPUTES exactly
    * from the original full-dim vectors (the refine stage scores
    * originals, so PCA/PQ error cannot leak into the metric); and
    * recall@10 against the exact global scan clears the measured
    * floor (with the r13 OPQ rotation composed into the transform:
    * 0.9/0.9/0.8 at sf0.001/sf0.01/sf0.1, vs 0.9/0.8/0.8 before the
    * rotation, default nprobe 3 of 4; floor 0.5, >=1.6x margin).
    *
    * The refine shortlist tracks corpus size — max(rerank, n/10) —
    * because the test fixtures hold nlist at 4, so list sizes grow
    * linearly with n and a FIXED shortlist shrinks relatively (at
    * sf0.5's 4000 vectors, rerank=100 measured 0.4-0.5 recall even
    * probing all lists: the 4-bit ADC ranks true neighbors below
    * position 100). In production the ladder scales nlist ~ sqrt(n)
    * to keep lists bounded and the shortlist a small multiple of k;
    * the adaptive floor is the fixed-nlist test-scale equivalent. */
  def ivfPqPcaAudit(spark: SparkSession, sfDir: String, kNeighbors: Int = 10,
                    dOut: Int = 24, nlist: Int = 4, nprobe: Int = 3,
                    rerank: Int = 100, minHits: Int = 5): DataFrame = {
    val ch = ChainedIndex.forEmbeddings(spark, sfDir, dOut, nlist)
    val q = Tables.queryVector(spark, sfDir, 0L)
    val nCorpus = embeddings(spark, sfDir).count()
    val rr = math.max(rerank, (nCorpus / 10).toInt)
    val res = ChainedIndex.search(spark, sfDir, 0L, kNeighbors, dOut, nlist,
      nprobe, rerank = rr) // (vec_id, dist) — exact distances
    val probed = IvfIndex.probeLists(ch.index,
      Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0L)
        .select(graft.functions.mat_vec(col("embedding"), ch.pca.comps))
        .head().getSeq[Float](0).toArray, nprobe)
    val member = res
      .join(embeddings(spark, sfDir).select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(ch.index.postings.select(col("id").as("vec_id"), col("list_id")), Seq("vec_id"))
      .agg(count(lit(1)).as("n_hits"),
        forall(col("dist") === l2sq(col("embedding"), typedlit(q))).as("dists_match_ok"),
        forall(col("list_id").isin(probed: _*)).as("hits_in_probed_ok"),
        forall(col("vec_id") =!= 0L).as("not_self_ok"))
    val exact = VectorSearchOps.knnExactL2(spark, sfDir, 0L, kNeighbors).select(col("vec_id"))
    val hit = res.join(exact, Seq("vec_id"), "left_semi").agg(count(lit(1)).as("n_hit"))
    member.crossJoin(broadcast(hit))
      .select(col("n_hits"), col("dists_match_ok"), col("hits_in_probed_ok"),
        col("not_self_ok"), (col("n_hit") >= minHits).as("recall_ok"))
  }

  /** Audit of the PERSISTED chained index (registered
    * `ivf_pq_pca_persisted` — the on-disk IndexPreTransform artifact,
    * reference app.py:116-145's save/load-without-retrain lifecycle):
    * the cold-loaded models are BIT-IDENTICAL to the trained ones
    * (driver-side array compare — doubles widen/narrow exactly), and
    * the persisted search returns EXACTLY the in-memory chained
    * search's rows (same stages, loaded models, partition-pruned code
    * scan), so persistence adds zero error by construction. */
  def ivfPqPcaPersistedAudit(spark: SparkSession, sfDir: String,
                             kNeighbors: Int = 10, dOut: Int = 24,
                             nlist: Int = 4, nprobe: Int = 3,
                             rerank: Int = 100): DataFrame = {
    val ch = ChainedIndex.forEmbeddings(spark, sfDir, dOut, nlist)
    val p = ChainedIndex.persistedFor(spark, sfDir, dOut, nlist)
    val modelOk =
      p.pca.n == ch.pca.n && p.pca.trace == ch.pca.trace &&
      p.pca.mean.sameElements(ch.pca.mean) &&
      p.pca.eigvals.sameElements(ch.pca.eigvals) &&
      p.pca.comps.length == ch.pca.comps.length &&
      p.pca.comps.indices.forall(i => p.pca.comps(i).sameElements(ch.pca.comps(i))) &&
      p.cents.sortBy(_._1).zip(ch.index.centroidArrays.sortBy(_._1)).forall {
        case ((l1, c1), (l2, c2)) => l1 == l2 && c1.sameElements(c2) } &&
      p.pq.m == ch.pq.m && p.pq.k == ch.pq.k && p.pq.dsub == ch.pq.dsub &&
      p.pq.books.indices.forall(s => p.pq.books(s).indices.forall(c =>
        p.pq.books(s)(c).sameElements(ch.pq.books(s)(c))))
    val nCorpus = embeddings(spark, sfDir).count()
    val rr = math.max(rerank, (nCorpus / 10).toInt)
    val mem = ChainedIndex.search(spark, sfDir, 0L, kNeighbors, dOut, nlist,
      nprobe, rerank = rr).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val per = ChainedIndex.persistedSearch(spark, sfDir, 0L, kNeighbors, dOut,
      nlist, nprobe, rerank = rr).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val spark2 = spark; import spark2.implicits._
    Seq((mem.length.toLong, per.sameElements(mem), modelOk,
        mem.forall(_._1 != 0L)))
      .toDF("n_hits", "results_match_ok", "model_roundtrip_ok", "not_self_ok")
  }

  private val chainedAppendCache =
    JvmCaches.sessionMap[String, DataFrame]()

  /** Audit of chained-index add (registered `ivf_pq_pca_append` —
    * FAISS `index.add` on a trained IndexPreTransform, reference
    * app.py:55): the artifact's models stay FROZEN while codes grow.
    * The audit rewrites a copy's codes to the first half of the
    * corpus, appends the second half through the marker protocol, and
    * pins: total and appended counts; committed-batch replay is a
    * no-op (0 rows, count unchanged); every id codes exactly once;
    * the appended slice byte-equals an independent re-encode under
    * the loaded models (the add path is a pure function of artifact +
    * vector); and the appended index still searches (k exact-refined
    * hits). */
  def ivfPqPcaAppendAudit(spark: SparkSession, sfDir: String,
                          kNeighbors: Int = 10, dOut: Int = 24,
                          nlist: Int = 4): DataFrame =
    chainedAppendCache.getOrElseUpdate(spark, sfDir) {
      import java.nio.file.Paths
      val emb = embeddings(spark, sfDir)
      val n = emb.count()
      val split = n / 2
      // full-corpus models (training set ⊇ both halves), half codes
      val src = ChainedIndex.persistedFor(spark, sfDir, dOut, nlist)
      val dir = graft.StateDir.of("chained-append", sfDir, s"d$dOut", s"nlist$nlist")
      BatchFs.deleteRecursively(Paths.get(dir))
      val p = {
        ChainedIndex.save(spark, sfDir, dir, dOut, nlist)
        ChainedIndex.encodeWith(src, emb.filter(col("vec_id") < split),
            "vec_id", "embedding")
          .repartition(col("list_id"))
          .write.mode("overwrite").partitionBy("list_id")
          .parquet(s"$dir/codes")
        ChainedIndex.load(spark, dir)
      }
      val appended = ChainedIndex.appendBatch(spark, dir,
        emb.filter(col("vec_id") >= split), "vec_id", "embedding", 0L)
      val replay = ChainedIndex.appendBatch(spark, dir,
        emb.filter(col("vec_id") >= split), "vec_id", "embedding", 0L)
      val codes = spark.read.parquet(s"$dir/codes")
      val total = codes.count()
      // exactly-once coverage: row count == corpus count AND distinct
      // ids == corpus count together rule out both gaps and duplicates
      val coverageOk =
        total == n && codes.select(col("id")).distinct().count() == n
      val reEnc = ChainedIndex.encodeWith(p,
        emb.filter(col("vec_id") >= split), "vec_id", "embedding")
      val codesMatchOk = codes.filter(col("id") >= split)
        .join(reEnc.select(col("id"), col("codes").as("codes2")), Seq("id"))
        .agg(every(col("codes") === col("codes2")).as("ok"))
        .head().getBoolean(0)
      val hits = ChainedIndex.searchLoaded(spark, sfDir, p, 0L, kNeighbors)
        .count()
      val spark2 = spark; import spark2.implicits._
      val out = Seq((total, appended, replay == 0L, coverageOk, codesMatchOk,
          hits == kNeighbors.toLong))
        .toDF("n_total", "n_appended", "replay_noop_ok", "coverage_ok",
          "codes_match_ok", "search_ok").cache()
      out.count()
      out
    }

  /** Audit of the codebook-usage histogram (registered `pq_stats`):
    * the per-(subspace, code) counts form m disjoint histograms each
    * summing to the full corpus, codes stay in [0, k), and every
    * subspace is present. */
  def pqStatsAudit(spark: SparkSession, sfDir: String, m: Int = 8,
                   k: Int = 16): DataFrame = {
    val stats = Pq.pqStats(spark, sfDir, m, k) // (subspace, code, n_vectors)
    val total = embeddings(spark, sfDir).agg(count(lit(1)).as("n_emb"))
    val perSub = stats.groupBy(col("subspace"))
      .agg(sum(col("n_vectors")).as("mass"),
        forall(col("code") >= 0 && col("code") < k).as("cok"))
    perSub.crossJoin(broadcast(total))
      .agg(count(lit(1)).as("n_subspaces"),
        forall(col("mass") === col("n_emb")).as("mass_ok"),
        forall(col("cok")).as("codes_in_range_ok"))
  }

  // ---- quantized IVF --------------------------------------------------

  /** Audit of IVF-SQ8 search (registered `ivf_search_quantized`): hits
    * come only from probed lists, integer-cosine similarities stay in
    * [−1, 1], and recall@10 against the FLAT quantized scan clears the
    * measured floor (0.7 at both gate scales; floor 0.5). */
  def ivfQuantAudit(spark: SparkSession, sfDir: String, nlist: Int = 4,
                    nprobe: Int = 2, k: Int = 10, minHits: Int = 5): DataFrame = {
    val idx = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val q = Tables.queryVector(spark, sfDir, 0L)
    val probed = IvfIndex.probeLists(idx, q, nprobe)
    val res = Quantization.ivfSearchQuantized(spark, sfDir) // (vec_id, sim)
    val member = res
      .join(idx.postings.select(col("id").as("vec_id"), col("list_id")), Seq("vec_id"))
      .agg(count(lit(1)).as("n_hits"),
        forall(col("list_id").isin(probed: _*)).as("hits_in_probed_ok"),
        forall(abs(col("sim")) <= 1.0 + 1e-9).as("sims_bounded_ok"))
    val flat = Quantization.knnQuantized(spark, sfDir).select(col("vec_id"))
    val hit = res.join(flat, Seq("vec_id"), "left_semi").agg(count(lit(1)).as("n_hit"))
    member.crossJoin(broadcast(hit))
      .select(col("n_hits"), col("hits_in_probed_ok"), col("sims_bounded_ok"),
        (col("n_hit") >= minHits).as("recall_vs_flat_ok"))
  }

  /** Audit of IVF-binary search (registered `ivf_search_binary`) —
    * the [[ivfQuantAudit]] shape for the 1-bit family: every hit sits
    * in a probed list, Hamming distances stay inside [0, dim], and the
    * probed search recalls at least `minHits` of the flat binary
    * top-k. List membership is k-means-dependent, so the flags (not
    * the raw rows) are the deterministic surface; the oracle states
    * them literal TRUE. */
  def ivfBinaryAudit(spark: SparkSession, sfDir: String, nlist: Int = 4,
                     nprobe: Int = 2, k: Int = 10, minHits: Int = 5): DataFrame = {
    val idx = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val q = Tables.queryVector(spark, sfDir, 0L)
    val probed = IvfIndex.probeLists(idx, q, nprobe)
    val dim = embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.size(col("embedding"))).head.getInt(0)
    val res = Quantization.ivfSearchBinary(spark, sfDir) // (vec_id, hamming)
    val member = res
      .join(idx.postings.select(col("id").as("vec_id"), col("list_id")), Seq("vec_id"))
      .agg(count(lit(1)).as("n_hits"),
        forall(col("list_id").isin(probed: _*)).as("hits_in_probed_ok"),
        forall(col("hamming") >= 0 && col("hamming") <= dim).as("hamming_bounded_ok"))
    val flat = Quantization.knnBinary(spark, sfDir).select(col("vec_id"))
    val hit = res.join(flat, Seq("vec_id"), "left_semi").agg(count(lit(1)).as("n_hit"))
    member.crossJoin(broadcast(hit))
      .select(col("n_hits"), col("hits_in_probed_ok"), col("hamming_bounded_ok"),
        (col("n_hit") >= minHits).as("recall_vs_flat_ok"))
  }

  // ---- document pipeline ----------------------------------------------

  /** Audit of embed→IVF→CC document dedup (registered `doc_dedup`) —
    * one row per corpus document: the canonical id is the minimum
    * member of its group, exactly one document per group is kept, and
    * any two documents with IDENTICAL text (and ≥ 1 embedder token —
    * zero-token docs are excluded from the index by design) share a
    * canonical id. All three flags are deterministic: identical texts
    * embed identically, land in the same list, and sit at distance 0. */
  def docDedupAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val dd = Dedup.docDedupFor(spark, sfDir) // (doc_id, canonical_id, kept)
    val corpus = graft.sources.Ingest.corpusFromDocuments(spark, sfDir)
      .select(col("id").as("doc_id"), col("sentence"))
    val g = dd.groupBy(col("canonical_id"))
      .agg(min(col("doc_id")).as("mn"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("nk"))
      .select(col("canonical_id"), (col("mn") === col("canonical_id")).as("canon_min_ok"),
        (col("nk") === 1L).as("one_kept_ok"))
    val withS = dd.join(corpus, Seq("doc_id"))
    val sentFlags = withS.filter(lower(col("sentence")).rlike("[a-z0-9]"))
      .groupBy(col("sentence"))
      .agg((countDistinct(col("canonical_id")) === 1).as("smerged"))
    withS.join(sentFlags, Seq("sentence"), "left")
      .join(broadcast(g), Seq("canonical_id"))
      .select(col("doc_id"), col("canon_min_ok"), col("one_kept_ok"),
        coalesce(col("smerged"), lit(true)).as("dup_merged_ok"))
      .orderBy(col("doc_id").asc)
  }

  /** Audit of the end-to-end embed→search pipeline (registered
    * `doc_knn`): the result is the TIGHT (dist, id) top-k over every
    * embedded document (re-verified against the full candidate set),
    * distances recompute exactly, the query doc is excluded. The
    * embedding space itself is engine-specific — these invariants are
    * what a SQL oracle can state about it. */
  def docKnnAudit(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    val embd = EmbedOps.embedDocuments(spark, sfDir)
    val q = embd.filter(col("id") === 0L).select("embedding").head.getSeq[Float](0).toArray
    val res = EmbedOps.docKnn(spark, sfDir) // (id, dist)
    val cands = embd.filter(col("id") =!= 0L)
      .select(col("id"), l2sq(col("embedding"), typedlit(q)).as("cdist"))
    val mx = res.agg(max(struct(col("dist"), col("id"))).as("mx"))
    val tight = cands.crossJoin(broadcast(mx))
      .agg(sum(when(col("cdist") < col("mx.dist") ||
        (col("cdist") === col("mx.dist") && col("id") <= col("mx.id")),
        lit(1)).otherwise(lit(0))).as("n_le"))
    val dmatch = res
      .join(embd.select(col("id"), col("embedding")), Seq("id"))
      .agg(count(lit(1)).as("n_hits"),
        forall(col("dist") === l2sq(col("embedding"), typedlit(q))).as("dists_match_ok"),
        forall(col("id") =!= 0L).as("not_self_ok"))
    dmatch.crossJoin(broadcast(tight))
      .select(col("n_hits"), col("dists_match_ok"), col("not_self_ok"),
        (col("n_le") === k).as("topk_tight_ok"))
  }
}
