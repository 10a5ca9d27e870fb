package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{l2sq, mat_vec, pq_adc_by_list, pq_encode}

/** The composed compression ladder: PCA pre-transform → coarse IVF →
  * residual PQ codes → exact full-dim refine. This is FAISS's actual
  * production index shape, `IndexPreTransform(PCAMatrix, IndexIVFPQ)`
  * (the reference's IndexIVFFlat at app.py:47-48 is the base of the
  * family) — each stage already exists standalone in this repo
  * ([[Pca]], [[IvfIndex]], [[Pq]]); this object chains them so one
  * search touches, in order:
  *
  *   1. dOut floats per query (the PCA projection, a narrow
  *      codegen'd [[graft.functions.MatVec]] map — the CORPUS side is
  *      projected once at build);
  *   2. nlist driver-side centroid distances (coarse probe, in PCA
  *      space);
  *   3. m bytes per candidate in the probed lists only (residual ADC
  *      via per-list LUTs — the scan never reads a float vector);
  *   4. `rerank` full-dimension ORIGINAL vectors, fetched by a
  *      broadcast semi-join and scored with exact squared L2 — so the
  *      returned distances are exact and self-audit recomputable,
  *      while PCA/PQ error only ever costs recall, never correctness
  *      of the reported metric.
  *
  * Scale posture: the projected corpus is dOut/D of the raw bytes
  * (24/64 at the defaults), codes are m bytes per row (32× under the
  * raw floats), ADC scans only nprobe/nlist of those, and the full-dim
  * read is bounded by `rerank` rows per query. All maps are narrow;
  * the only exchanges are the two bounded top-k's and the broadcast
  * refine join.
  *
  * Training order matters and is pinned by [[ChainedIndexSpec]]: PQ
  * codebooks are trained on residuals IN PCA SPACE (project → assign →
  * subtract own centroid), because that is the distribution search
  * scores against — codebooks trained on raw-space residuals would
  * quantize a different variable than the LUTs look up.
  */
object ChainedIndex {

  /** Driver-side handle: the pre-transform (OPQ rotation composed onto
    * the PCA projection — `pca.comps` holds R·C, see
    * [[composeRotation]]), the coarse index over the PROJECTED corpus,
    * the residual codebooks (also transform-space), and the persisted
    * coded postings (list_id, id, codes). */
  final case class Chained(pca: Pca.Model, index: IvfIndex.Index,
                           pq: Pq.Model, coded: DataFrame)

  /** Compose the OPQ-lite rotation onto the PCA components: T = R·C,
    * one dOut×D matrix, so project-and-rotate stays ONE narrow
    * [[graft.functions.MatVec]] map (no extra stage on either the
    * corpus or the query side). Double-accumulate, float-out, fixed
    * iteration order — deterministic, and both sides use the SAME
    * composed matrix, so coarse distances remain bit-reproducible
    * between corpus and query.
    *
    * Why rotate: FAISS's production pre-transform is
    * `OPQMatrix → IVFPQ`. PCA concentrates variance in the leading
    * output dimensions, which is exactly wrong for a product quantizer
    * that splits those dimensions into m independent subspaces — the
    * first subspace gets nearly all the energy and its k codewords
    * saturate. A seeded orthogonal rotation (distance-preserving, so
    * the exact full-dim refine and every audit flag are unchanged)
    * spreads variance evenly across the subspace split — the r7
    * OPQ-lite measurement on the flat path: ADC recall@10 0.635 vs
    * 0.150 at equal budget on anisotropic data. */
  private[graft] def composeRotation(rot: Array[Array[Float]],
                                     comps: Array[Array[Float]]): Array[Array[Float]] = {
    require(rot.length == comps.length,
      s"chained: rotation ${rot.length}x${rot.length} vs ${comps.length} components")
    rot.map { r =>
      val out = new Array[Float](comps(0).length)
      var j = 0
      while (j < out.length) {
        var acc = 0.0; var i = 0
        while (i < r.length) { acc += r(i).toDouble * comps(i)(j).toDouble; i += 1 }
        out(j) = acc.toFloat; j += 1
      }
      out
    }
  }

  private val cache = JvmCaches.sessionMap[(String, Int, Int, Int, Int), Chained]()

  /** Build (memoized per session): PCA model → OPQ rotation composed
    * onto the components → projected corpus → IVF in transform space →
    * residual PQ codebooks → coded postings. The projected frame is
    * persisted only for the duration of the build (the IvfIndex.build
    * training-cache hygiene); what survives is the index's own
    * postings plus the coded frame. */
  def forEmbeddings(spark: SparkSession, sfDir: String, dOut: Int = 24,
                    nlist: Int = 4, m: Int = 8, k: Int = 16): Chained =
    cache.getOrElseUpdate(spark, (sfDir, dOut, nlist, m, k)) {
      require(dOut % m == 0, s"chained: dOut=$dOut not divisible by m=$m")
      val pm0 = Pca.train(spark, sfDir, dOut)
      // the handle carries the COMPOSED transform: every consumer
      // (query projection, save/load, the frozen-model add path)
      // reads pca.comps and stays consistent by construction
      val pm = pm0.copy(comps =
        composeRotation(Pq.rotationMatrix(dOut), pm0.comps))
      val proj = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), mat_vec(col("embedding"), pm.comps).as("p"))
      val index = IvfIndex.build(proj, "vec_id", "p", nlist)
      val pq = Pq.train(Pq.residualFrame(index), "resid", m, k)
      val coded = Pq.residualFrame(index)
        .select(col("list_id"), col("id"), pq_encode(col("resid"), pq.books).as("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      coded.count()
      Chained(pm, index, pq, coded)
    }

  /** Chained search: project → probe → residual ADC over probed codes
    * → exact refine against the ORIGINAL full-dim vectors. Returns
    * (vec_id, dist) with EXACT squared-L2 distances, ascending,
    * vec_id tie-break, query excluded (the [[IvfIndex.scanProbed]]
    * contract, also kept by the refine).
    *
    * Pinned degenerate case ([[ChainedIndexSpec]]): nprobe = nlist and
    * rerank ≥ corpus size reproduces the exact global kNN — the probe
    * prunes nothing and the refine scores every candidate exactly, so
    * PCA and PQ error drop out entirely. */
  def search(spark: SparkSession, sfDir: String, queryId: Long = 0L,
             kNeighbors: Int = 10, dOut: Int = 24, nlist: Int = 4,
             nprobe: Int = 3, m: Int = 8, k: Int = 16,
             rerank: Int = 100): DataFrame = {
    val ch = forEmbeddings(spark, sfDir, dOut, nlist, m, k)
    searchCoded(spark, sfDir, ch.pca, ch.index, ch.pq, ch.coded,
      queryId, kNeighbors, nprobe, rerank)
  }

  /** The search stages shared by the in-memory and the persisted
    * artifact. The query projection is [[Pq.rotateVector]], the
    * driver-side twin of the corpus side's [[graft.functions.MatVec]]
    * (same double-accumulate, float-out order), so coarse distances are
    * bit-reproducible against the index. The probed `coded` lists are
    * ADC-scored by [[IvfIndex.scanProbed]], and the `rerank` shortlist's
    * original vectors, fetched by a broadcast semi-join, are scored
    * exactly. */
  private def searchCoded(spark: SparkSession, sfDir: String, pca: Pca.Model,
                          index: IvfIndex.Index, pq: Pq.Model, coded: DataFrame,
                          queryId: Long, kNeighbors: Int, nprobe: Int,
                          rerank: Int): DataFrame = {
    require(rerank >= kNeighbors, s"chained: rerank=$rerank < k=$kNeighbors")
    val q = Tables.queryVector(spark, sfDir, queryId)
    val qp = Pq.rotateVector(pca.comps, q)
    val probed = IvfIndex.probeLists(index, qp, nprobe)
    val shortlist = IvfIndex.scanProbed(coded, probed,
        pq_adc_by_list(col("list_id"), col("codes"), Pq.residualLuts(pq, index, qp, probed)),
        "adc_dist", IvfIndex.TopK(rerank), excludeId = Some(queryId), idAs = "vec_id")
      .select(col("vec_id"))
    Tables.embeddings(spark, sfDir)
      .join(broadcast(shortlist), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), l2sq(col("embedding"), typedlit(q)).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(kNeighbors)
  }

  /** Recall@k of the chained path against the exact global scan — the
    * quality probe before turning the ladder on. */
  def recall(spark: SparkSession, sfDir: String, queryId: Long = 0L,
             kNeighbors: Int = 10, dOut: Int = 24, nlist: Int = 4,
             nprobe: Int = 3, rerank: Int = 100): Double = {
    val exact = VectorSearchOps.knnExactL2(spark, sfDir, queryId, kNeighbors)
      .collect().map(_.getLong(0)).toSet
    val got = search(spark, sfDir, queryId, kNeighbors, dOut, nlist, nprobe,
      rerank = rerank)
      .collect().map(_.getLong(0)).toSet
    exact.intersect(got).size.toDouble / kNeighbors
  }

  // ---- persisted lifecycle ---------------------------------------------

  /** The cold-loaded artifact: every driver-side model the search path
    * needs (PCA transform, coarse centroids, residual codebooks) plus
    * the path of the binary code postings. */
  final case class Persisted(pca: Pca.Model, cents: Array[(Int, Array[Float])],
                             pq: Pq.Model, codesDir: String) {
    /** An [[IvfIndex.Index]] view over the loaded centroids, so the
      * probe/LUT helpers run unchanged (postings are never touched by
      * the persisted path — the code scan replaces them). */
    lazy val indexView: IvfIndex.Index = {
      val spark = SparkSession.active
      import spark.implicits._
      IvfIndex.Index(
        cents.toSeq.toDF("list_id", "centroid"),
        spark.emptyDataFrame)
    }
  }

  /** Persist the FULL chained artifact — transform, coarse quantizer,
    * codebooks, and binary code postings — the engine's equivalent of
    * the reference's on-disk index file (app.py:116-123 writes
    * `index.faiss`; app.py:134-145 reloads it WITHOUT retraining).
    * A cold session [[load]]s this directory and searches; no training
    * pass runs. Layout:
    *
    *   dir/model/  — one small parquet of (kind, idx, vals) rows:
    *                 the PCA mean/components/eigenvalues, the coarse
    *                 centroids, the PQ codebooks, and the (n, trace,
    *                 m, k, dsub) metadata. All values ride as DOUBLE
    *                 (exact for widened floats), so the loaded model
    *                 is BIT-IDENTICAL to the trained one.
    *   dir/codes/  — (id, codes BINARY) under list_id= partitions:
    *                 the IVFPQ on-disk form, coarse-prunable by the
    *                 directory tree exactly like [[Pq.savePostings]].
    */
  def save(spark: SparkSession, sfDir: String, dir: String, dOut: Int = 24,
           nlist: Int = 4, m: Int = 8, k: Int = 16): Unit = {
    val ch = forEmbeddings(spark, sfDir, dOut, nlist, m, k)
    // load() reconstructs codebooks POSITIONALLY at idx = s*k+c, so a
    // subspace KMeans that converged to fewer than k centers (possible
    // on duplicate-heavy data) would misalign every later subspace's
    // rows in the loaded model. Fail at save time instead of producing
    // an artifact that loads wrong.
    ch.pq.books.zipWithIndex.foreach { case (b, s) =>
      require(b.length == k,
        s"chained save: subspace $s trained ${b.length} centers != k=$k " +
          "(duplicate-heavy subspace data); retrain with smaller k") }
    import spark.implicits._
    val model: Seq[(String, Int, Array[Double])] =
      Seq(("meta", 0, Array(ch.pca.n.toDouble, ch.pca.trace,
            m.toDouble, k.toDouble, ch.pq.dsub.toDouble)),
          ("pca_mean", 0, ch.pca.mean),
          ("pca_eig", 0, ch.pca.eigvals)) ++
      ch.pca.comps.zipWithIndex.toSeq.map { case (r, i) =>
        ("pca_comp", i, r.map(_.toDouble)) } ++
      ch.index.centroidArrays.toSeq.map { case (lid, c) =>
        ("centroid", lid, c.map(_.toDouble)) } ++
      ch.pq.books.zipWithIndex.toSeq.flatMap { case (sub, s) =>
        sub.zipWithIndex.toSeq.map { case (cw, c) =>
          ("book", s * k + c, cw.map(_.toDouble)) } }
    model.toDF("kind", "idx", "vals")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
    Pq.residualFrame(ch.index)
      .select(col("list_id"), col("id"),
        pq_encode(col("resid"), ch.pq.books, asBinary = true).as("codes"))
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$dir/codes")
  }

  /** Reconstruct the driver-side models from `dir/model` — no
    * training, no corpus scan. Doubles narrow back to the exact floats
    * they widened from, so every array equals the trained original. */
  def load(spark: SparkSession, dir: String): Persisted = {
    val rows = spark.read.parquet(s"$dir/model")
      .collect().map(r => (r.getString(0), r.getInt(1),
        r.getSeq[Double](2).toArray))
    def of(kind: String) = rows.filter(_._1 == kind).sortBy(_._2)
    val meta = of("meta").head._3
    val (n, trace, m, k, dsub) = (meta(0), meta(1), meta(2), meta(3), meta(4))
    val mean = of("pca_mean").head._3
    val eig = of("pca_eig").head._3
    val comps = of("pca_comp").map(_._3.map(_.toFloat))
    val cents = of("centroid").map { case (_, lid, v) => lid -> v.map(_.toFloat) }
    val bookRows = of("book")
    val books = Array.tabulate(m.toInt, k.toInt)((s, c) =>
      bookRows(s * k.toInt + c)._3.map(_.toFloat))
    Persisted(Pca.Model(n.toLong, mean, eig, comps, trace), cents,
      Pq.Model(m.toInt, k.toInt, dsub.toInt, books), s"$dir/codes")
  }

  private val persistedCache =
    JvmCaches.map[(String, Int, Int, Int, Int), String]()

  /** Save-once-per-session handle (the [[Pq.persistedSearchPq]]
    * directory discipline) in the [[graft.StateDir]] of the canonical
    * sfDir and the full parameter tuple, so only that input reuses it. */
  def persistedFor(spark: SparkSession, sfDir: String, dOut: Int = 24,
                   nlist: Int = 4, m: Int = 8, k: Int = 16): Persisted = {
    val dir = persistedCache.getOrElseUpdate((sfDir, dOut, nlist, m, k), {
      // "-opq" suffix: r13 composed the rotation into the transform, so
      // a pre-rotation artifact directory must not be reused
      val d = graft.StateDir.of("chained-index", sfDir,
        s"d$dOut", s"nlist$nlist", s"m$m", s"k$k", "opq")
      // a complete on-disk artifact is reused as-is — the whole point
      // of the lifecycle is that a cold session loads WITHOUT a
      // training pass (the registered audit's results_match_ok flag
      // re-validates the dir against an in-memory build every run, so
      // a stale artifact cannot pass silently)
      if (!new java.io.File(s"$d/codes/_SUCCESS").exists())
        save(spark, sfDir, d, dOut, nlist, m, k)
      d
    })
    load(spark, dir)
  }

  /** FAISS `add()` on the persisted chained artifact (the reference
    * adds to a trained index at any time, app.py:55; IndexPreTransform
    * routes add through the same transform chain): project the new
    * vectors with the LOADED transform, assign to the FROZEN coarse
    * centroids, encode residuals with the FROZEN codebooks — no model
    * retrains, every stage a narrow codegen'd map — and commit the
    * codes under the [[IvfIndex.appendBatch]] marker protocol, so an
    * at-least-once replay of a committed batch is a no-op. Returns
    * rows appended (0 for a replayed batch). */
  def appendBatch(spark: SparkSession, dir: String, rows: DataFrame,
                  idCol: String, embCol: String, batchId: Long,
                  namespace: String = ""): Long =
    BatchFs.appendOnce(dir, "codes", batchId, namespace,
        Seq(BatchFs.Log("codes", "list_id="))) { staging =>
      val p = load(spark, dir)
      val coded = encodeWith(p, rows, idCol, embCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = coded.count()
      coded.repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(s"$staging/codes")
      coded.unpersist(blocking = false)
      n
    }

  /** (list_id, id, codes BINARY) for `rows` under a loaded artifact's
    * frozen models — the add-path encoder, and the audit's
    * deterministic re-encode reference. Narrow maps only: mat_vec
    * projection, NearestList assignment, zip_with residual,
    * pq_encode. */
  def encodeWith(p: Persisted, rows: DataFrame,
                 idCol: String, embCol: String): DataFrame = {
    val sorted = p.cents.sortBy(_._1)
    require(sorted.map(_._1).toSeq == (0 until sorted.length),
      "chained append: list ids must be contiguous from 0")
    val cents = sorted.map(_._2)
    rows
      .select(col(idCol).as("id"),
        mat_vec(col(embCol), p.pca.comps).as("proj"))
      .select(col("id"), col("proj"),
        graft.functions.nearest_list(col("proj"), cents).as("list_id"))
      .select(col("list_id"), col("id"),
        pq_encode(
          zip_with(col("proj"),
            element_at(typedlit(cents), col("list_id") + 1),
            (a, b) => a - b),
          p.pq.books, asBinary = true).as("codes"))
  }

  /** Chained search against the PERSISTED artifact: identical stages
    * to [[search]], but every model comes from [[load]] and the ADC
    * scan reads the probed `list_id=` code partitions (never a float,
    * never a posting). Because the
    * loaded models are bit-identical to the trained ones, this returns
    * EXACTLY [[search]]'s rows — the registered audit pins that. */
  def persistedSearch(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                      kNeighbors: Int = 10, dOut: Int = 24, nlist: Int = 4,
                      nprobe: Int = 3, m: Int = 8, k: Int = 16,
                      rerank: Int = 100): DataFrame =
    searchLoaded(spark, sfDir, persistedFor(spark, sfDir, dOut, nlist, m, k),
      queryId, kNeighbors, nprobe, rerank)

  /** The persisted search stages against an already-[[load]]ed handle —
    * lets callers (and the append audit) search ANY artifact
    * directory, not just the session-default one. */
  def searchLoaded(spark: SparkSession, sfDir: String, p: Persisted,
                   queryId: Long = 0L, kNeighbors: Int = 10,
                   nprobe: Int = 3, rerank: Int = 100): DataFrame =
    searchCoded(spark, sfDir, p.pca, p.indexView, p.pq,
      spark.read.parquet(p.codesDir), queryId, kNeighbors, nprobe, rerank)
}
