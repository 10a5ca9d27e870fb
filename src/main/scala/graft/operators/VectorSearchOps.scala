package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{cosine_sim, l2sq}

/** Exact (brute-force) vector search operators over the `embeddings`
  * table — the reference's search semantics (app.py:58-75) minus the
  * IVF index: scan, distance, deterministic top-k. With `nprobe =
  * nlist` the reference's IVF-Flat search is exactly this (IVFFlat
  * stores raw vectors), so these operators double as the correctness
  * oracle for the IVF path (SURVEY.md §5.2).
  *
  * Scale posture: a single-query exact kNN is one narrow scan +
  * `TakeOrderedAndProject` — embarrassingly parallel, no shuffle of
  * the big side; the query vector rides into the plan as a broadcast
  * one-row join (so the same code path works for q=1 and q=many
  * without driver-side literals in the plan).
  */
/** Input-size guard for the O(n²) ORACLE-ANCHOR modes (exact all-pairs
  * similarity/clustering/near-dup). These exist to vouch for the
  * bucketed scale twins at oracle scales; above the bound the pair
  * join is not a job anyone should wait for, so the anchor FAILS FAST
  * with a pointer to its registered scale twin instead of launching a
  * quadratic stage that will not finish at 100 TB. The bound is a
  * vector count: 1e5 rows ≈ 5e9 scored pairs — the most a maintenance
  * window should ever spend on an audit anchor, and far below any
  * production corpus. */
object ExactTwinGuard {
  val MaxRows = 100000L

  def check(n: Long, maxRows: Long, op: String, twin: String): Unit =
    require(n <= maxRows,
      s"$op is an O(n^2) oracle anchor capped at $maxRows input rows (got $n); " +
        s"run the registered scale twin `$twin` on corpus-scale data")
}

object VectorSearchOps {

  /** Top-k nearest neighbors (squared L2, ascending) of the vector
    * whose id is `queryId`, excluding the query row itself
    * (reference excludes self by position, app.py:91-93).
    * Deterministic `(dist, vec_id)` tiebreak (SURVEY.md §7.4).
    */
  def knnExactL2(spark: SparkSession, sfDir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    emb.join(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .withColumn("dist", l2sq(col("embedding"), col("q_embedding")))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("dist"))
  }

  /** Per-query ε range search (FAISS `range_search` — the index API
    * the reference's ε-threshold semantics imply: app.py:93/275 apply
    * `dist < threshold` from a single probe, strict `<`, self excluded
    * by position). Returns EVERY vector with squared-L2 distance
    * strictly below `eps`, ascending `(dist, vec_id)` — unbounded by
    * design (range search has no k), but the result is a distributed
    * frame: one narrow scan + filter, no shuffle of the corpus side,
    * so an over-wide ε degrades to a big result, never a big driver. */
  def rangeSearch(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                  eps: Double = 1.6): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    emb.join(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .withColumn("dist", l2sq(col("embedding"), col("q_embedding")))
      .filter(col("dist") < eps)
      .orderBy(col("dist").asc, col("vec_id").asc)
      .select(col("vec_id"), col("dist"))
  }

  /** Batched ε range search — FAISS `range_search` over a BATCH of
    * queries (`xq` with nq rows; FAISS returns a lims/CSR result, here
    * a long frame `(src_id, dst_id, dist)`). The query batch rides in
    * as a broadcast (a search batch is bounded by construction — the
    * registered fixture samples vec_id ≡ 0 mod `sampleMod`); the
    * corpus side is one narrow scan + filter, never shuffled, so the
    * plan is nq-ways-parallel with no exchange. A corpus×corpus ε
    * join is NOT this API — that is the similarity-join family with
    * its bucketed LSH/IVF scale paths. Strict `<`, self excluded,
    * deterministic `(src, dist, dst)` order. */
  def rangeSearchBatch(spark: SparkSession, sfDir: String,
                       eps: Double = 1.6, sampleMod: Int = 50): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val qs = emb.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
      .select(col("vec_id").as("src_id"), col("embedding").as("src_emb"))
    emb.select(col("vec_id").as("dst_id"), col("embedding").as("dst_emb"))
      .join(broadcast(qs))
      .filter(col("src_id") =!= col("dst_id"))
      .withColumn("dist", l2sq(col("src_emb"), col("dst_emb")))
      .filter(col("dist") < eps)
      .select(col("src_id"), col("dst_id"), col("dist"))
      .orderBy(col("src_id").asc, col("dist").asc, col("dst_id").asc)
  }

  /** Filtered exact kNN — the brute-force twin of FAISS's
    * `SearchParameters(sel=IDSelector)` search (see
    * [[IvfIndex.searchFiltered]]): top-k nearest to `queryId` among
    * rows satisfying `pred`, a predicate over the embeddings columns
    * (metadata selector: label/lang; id selector: a range on vec_id).
    * The predicate sits BELOW the distance computation and the top-k,
    * so rejected rows are filtered at the scan (pushed to parquet for
    * plain column predicates) and never ranked. */
  def knnFilteredExact(spark: SparkSession, sfDir: String,
                       pred: Column, queryId: Long = 0L,
                       k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    emb.filter(pred).join(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .withColumn("dist", l2sq(col("embedding"), col("q_embedding")))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("dist"))
  }

  /** Top-k most cosine-similar vectors to `queryId` (descending). */
  def knnExactCosine(spark: SparkSession, sfDir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    emb.join(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .withColumn("sim", cosine_sim(col("embedding"), col("q_embedding")))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("sim"))
  }

  /** Hard-negative mining for contrastive training: for each of the
    * first `nAnchors` vectors, the `k` most cosine-similar vectors
    * with a DIFFERENT label — the pairs a contrastive loss learns the
    * most from. Same scale shape as batch kNN (broadcast anchors ×
    * corpus scan, per-anchor rank window); the label inequality is a
    * pre-window filter, so mismatched pairs never enter the shuffle.
    * At corpus×corpus scale the anchors side swaps for the IVF/LSH
    * candidate generators like every other similarity operator. */
  def hardNegatives(spark: SparkSession, sfDir: String,
                    nAnchors: Int = 20, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sfDir)
    val anchors = emb.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("a_emb"),
        col("label").as("a_label"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("sim").desc, col("neg_id").asc)
    emb.select(col("vec_id").as("neg_id"), col("embedding").as("n_emb"),
        col("label").as("n_label"))
      .join(broadcast(anchors), col("n_label") =!= col("a_label"))
      .withColumn("sim", cosine_sim(col("a_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank").cast("long").as("rank"),
        col("neg_id"), col("sim"))
      .orderBy(col("anchor_id").asc, col("rank").asc)
  }

  /** Corpus-wide hard-negative mining — the scale path for
    * [[hardNegatives]] (whose broadcast-anchors shape caps at a
    * bounded anchor set): EVERY vector is an anchor, candidates come
    * from sign-random-projection band buckets instead of the full
    * cross-label product.
    *
    * Banding is RECALL-oriented — `nBands` × `bitsPerBand` over the
    * same 64-bit hyperplane sketch the dedup family uses, but
    * defaulting to 16×4 instead of dedup's 8×8: hard negatives sit at
    * MODERATE cosine (the most-similar wrong-label item, not a
    * near-duplicate), and for cos ≈ 0.45 a 4-bit band collides with
    * p ≈ 0.18 per band → ≈ 0.96 over 16 bands, where an 8-bit band
    * would miss (p ≈ 0.03/band). Shorter keys mean fatter buckets;
    * [[Dedup.MaxBandBucket]] caps the degenerate ones, and at 100 TB
    * the candidate join stays an equi-join on (band, key) — never a
    * cross product. Approximate recall, exact scoring: every emitted
    * pair's cosine is computed on the real vectors, and the per-anchor
    * top-k window runs on verified similarities only. */
  def hardNegativesLsh(spark: SparkSession, sfDir: String, k: Int = 5,
                       nBands: Int = 16, bitsPerBand: Int = 4,
                       maxBucket: Int = Dedup.MaxBandBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBands * bitsPerBand <= 64, "banding must fit the 64-bit sketch")
    val emb = Tables.embeddings(spark, sfDir)
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val planes = Dedup.hyperplanes(dim)
    val mask = (1L << bitsPerBand) - 1
    val sk = emb.select(col("vec_id").as("id"), col("label"),
      graft.functions.hyperplane_sketch(col("embedding"), planes).as("sk"))
    val rawBands = sk.select(col("id"), col("label"),
        explode(expr(s"transform(sequence(0, ${nBands - 1}), " +
          s"b -> struct(b AS band, CAST(shiftright(sk, $bitsPerBand*b) & $mask AS INT) AS key))")).as("bk"))
      .select(col("id"), col("label"), col("bk.band").as("band"), col("bk.key").as("key"))
    val bands = Dedup.capBuckets(rawBands, maxBucket)
    // directed cross-label candidates: anchor → negative (both
    // directions matter; a label filter inside the join keeps
    // same-label pairs out of the shuffle output)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.label") =!= col("b.label"))
      .select(col("a.id").as("anchor_id"), col("b.id").as("neg_id"))
      .distinct()
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("sim").desc, col("neg_id").asc)
    cand
      .join(vecs.select(col("vec_id").as("anchor_id"), col("embedding").as("a_emb")), "anchor_id")
      .join(vecs.select(col("vec_id").as("neg_id"), col("embedding").as("n_emb")), "neg_id")
      .withColumn("sim", cosine_sim(col("a_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("neg_id"), col("sim"))
      .orderBy(col("anchor_id").asc, col("rank").asc)
  }

  /** Batch exact kNN via the per-query rank window (W1): each of the
    * first `nQueries` vectors gets its k nearest neighbors. The
    * oracle-able twin of IvfIndex.searchAllScan (same window shape, no
    * candidate pruning). */
  def knnBatchExact(spark: SparkSession, sfDir: String,
                    nQueries: Int = 20, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("src_id"), col("embedding").as("src_emb"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("dist").asc, col("dst_id").asc)
    q.join(emb.select(col("vec_id").as("dst_id"), col("embedding").as("dst_emb")),
        col("src_id") =!= col("dst_id"))
      .withColumn("dist", l2sq(col("src_emb"), col("dst_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("src_id"), col("dst_id"), col("dist"), col("rank"))
      .orderBy(col("src_id").asc, col("rank").asc)
  }

  /** ε-threshold all-pairs similarity join, exact mode: every pair
    * (a, b) with a.vec_id < b.vec_id and squared-L2 distance strictly
    * below `eps` (strict `<` matches the reference's edge predicate,
    * app.py:93). The reference's clustering graph is the
    * IVF-restricted approximation of exactly this (app.py:84-94).
    *
    * Scale posture: at 100 TB this cross product is infeasible — the
    * production path is the LSH/IVF-bucketed variant (see dedup /
    * index operators); this exact form is the oracle and the
    * small-side fallback. The O(n^2) pair generation happens
    * distributed (range-join shape), never on the driver.
    */
  def similarityJoinExact(spark: SparkSession, sfDir: String, eps: Double = 1.4,
                          maxRows: Long = ExactTwinGuard.MaxRows): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    ExactTwinGuard.check(emb.count(), maxRows,
      "similarity_join_exact", "neardup_cosine_lsh")
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("dist", l2sq(col("a_emb"), col("b_emb")))
      .filter(col("dist") < eps)
      .select(col("a_id"), col("b_id"), col("dist"))
      .orderBy(col("a_id").asc, col("b_id").asc)
  }

  /** Aggregate surface of the similarity join (pairs + mean distance
    * per a-side id) — exercises agg-over-join and gives the oracle a
    * small, stable result set even at larger ε. */
  def similarityJoinStats(spark: SparkSession, sfDir: String, eps: Double = 1.6,
                          maxRows: Long = ExactTwinGuard.MaxRows): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    ExactTwinGuard.check(emb.count(), maxRows,
      "similarity_join_stats", "neardup_cosine_lsh")
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    // avg over raw doubles is summation-order-dependent across
    // shuffles, and double->decimal casts of computed values round
    // differently per engine; min/max are order-independent and
    // bit-exact, so the oracle hash-compare is stable.
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("dist", l2sq(col("a_emb"), col("b_emb")))
      .filter(col("dist") < eps)
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("dist")).as("min_dist"),
        max(col("dist")).as("max_dist"))
      .orderBy(col("a_id").asc)
  }
}
