package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{pq_adc, pq_encode}

/** Product quantization over the embeddings table — the compression
  * step past IVF-Flat (reference app.py:47-56 keeps full float
  * vectors) and past scalar int8 ([[Quantization]]): each vector is
  * stored as `m` byte codes instead of D floats (64-dim → 8 bytes,
  * 32×), and search scores candidates from a per-query lookup table
  * without ever touching the original floats (ADC — Jégou et al.,
  * TPAMI 2011; the FAISS IVFPQ shape).
  *
  * Scale posture: codebooks are trained per-subspace with MLlib
  * k-means on a bounded sample (PQ training needs thousands of rows
  * per centroid, not the corpus); encode is a codegen'd NARROW map
  * ([[graft.functions.PqEncode]] — the m·k·D/m floats ride along as a
  * reference object); search is a narrow ADC scan + top-k
  * (TakeOrderedAndProject), and the IVF-PQ variant additionally prunes
  * to the probed lists first. Nothing here shuffles except the final
  * top-k exchange.
  */
object Pq {

  /** Per-subspace codebooks: `books(s)(j)` = centroid j of subspace s.
    * Driver-tiny (m·k·dsub floats — 8·16·8 = 1 KiB at the defaults). */
  case class Model(m: Int, k: Int, dsub: Int, books: Array[Array[Array[Float]]])

  // Per-JVM model cache: Verify + Bench invoke the pq queries
  // separately; training is the expensive step and is deterministic
  // (seeded), so pay it once (same convention as IvfIndex.indexCache).
  private[graft] val modelCache = JvmCaches.map[(String, Int, Int), Model]()

  /** Train per-subspace codebooks with seeded MLlib k-means. The
    * training frame is persisted once and reused for all `m` fits;
    * above `maxTrainRows` a seeded sample caps training cost (PQ
    * codebooks converge on samples — training on 100 TB would be
    * wasted work, and the sample keeps the fit driver-schedulable). */
  def train(df: DataFrame, embCol: String, m: Int = 8, k: Int = 16,
            seed: Long = 42L, maxTrainRows: Long = 100000L): Model = {
    // codes are stored as bytes and decoded UNSIGNED (& 0xff) by every
    // ADC kernel, so the full byte range is usable — k = 256 is the
    // FAISS nbits=8 default and the max
    require(k <= 256, s"pq: k=$k codes must fit one byte (k <= 256)")
    // one job for both training-frame invariants (row count + vector
    // width) — each was its own job before the r16 trim
    val meta = df.agg(count(lit(1)).as("n"), first(size(col(embCol))).as("dim")).head
    val n = meta.getLong(0)
    val dim = meta.getInt(1)
    require(dim % m == 0, s"pq: dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val sampled =
      if (n > maxTrainRows) df.sample(withReplacement = false,
        maxTrainRows.toDouble / n, seed)
      else df
    // One persisted frame carrying every subvector slice; each of the
    // m fits reads its own column from the same cached data.
    val sliced = sampled.select(
      (0 until m).map(s =>
        array_to_vector(slice(col(embCol), s * dsub + 1, dsub)).as(s"sub_$s")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sliced.count()
    // The m fits are independent (own seed, own feature column) and
    // read the SAME persisted frame, so they run concurrently: each
    // fit is a chain of small driver-synchronized jobs (~10 iters), and
    // sequential fitting is latency-bound, not compute-bound: measured
    // at sf0.1 on local[32], warm codebook training dropped 7.0 s ->
    // 2.0 s (flat, m=8) and 7.4 s -> 3.8 s (residual).
    // Results are bit-identical either way (no shared mutable state).
    import scala.collection.parallel.CollectionConverters._
    val books = (0 until m).par.map { s =>
      new KMeans()
        .setK(k).setSeed(seed + s).setMaxIter(10)
        .setFeaturesCol(s"sub_$s").setPredictionCol("code")
        .fit(sliced)
        .clusterCenters.map(_.toArray.map(_.toFloat))
    }.toArray
    sliced.unpersist(blocking = false)
    Model(m, k, dsub, books)
  }

  def forEmbeddings(spark: SparkSession, sfDir: String,
                    m: Int = 8, k: Int = 16): Model =
    modelCache.getOrElseUpdate((sfDir, m, k), {
      train(Tables.embeddings(spark, sfDir), "embedding", m, k)
    })

  /** (vec_id, codes) — the encoded corpus. A pure narrow map. */
  def encode(df: DataFrame, idCol: String, embCol: String, model: Model): DataFrame =
    df.select(col(idCol).as("vec_id"), pq_encode(col(embCol), model.books).as("codes"))

  // Flat-PQ coded corpus, memoized: searchPq must scan CODES (32×
  // smaller), not re-encode the float corpus per query — same fix as
  // the IVF codedPostings cache.
  private val flatCodedCache = JvmCaches.sessionMap[(String, Int, Int), DataFrame]()

  private[graft] def flatCodedFor(spark: SparkSession, sfDir: String,
                                  m: Int, k: Int): DataFrame =
    flatCodedCache.getOrElseUpdate(spark, (sfDir, m, k)) {
      val model = forEmbeddings(spark, sfDir, m, k)
      val cached = encode(Tables.embeddings(spark, sfDir), "vec_id", "embedding", model)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached.count()
      cached
    }

  /** Per-query ADC lookup table: lut(s)(j) = ||q_s − books(s)(j)||². */
  private[graft] def adcTable(model: Model, q: Array[Float]): Array[Array[Double]] = {
    require(q.length == model.m * model.dsub,
      s"pq: query dim ${q.length} vs model ${model.m * model.dsub}")
    Array.tabulate(model.m) { s =>
      val off = s * model.dsub
      model.books(s).map { c =>
        var acc = 0.0; var i = 0
        while (i < model.dsub) {
          val d = q(off + i).toDouble - c(i); acc += d * d; i += 1
        }
        acc
      }
    }
  }

  /** Flat PQ top-k: encode the corpus, score every code array against
    * the query LUT, take the k smallest approximate distances
    * (ascending, vec_id tie-break; the query row itself excluded, as
    * in the exact-kNN queries).
    *
    * `rerank` > 0 engages the FAISS refine pattern (IndexRefineFlat):
    * the ADC pass keeps a `rerank`-sized shortlist — a
    * TakeOrderedAndProject over the narrow coded scan — and only the
    * shortlist's float vectors are fetched (broadcast semi-join
    * against the shortlist ids) and scored exactly. On data with weak
    * low-dimensional structure pure ADC ranking degrades (distance
    * concentration); the re-rank restores recall while still never
    * reading more than `rerank` full vectors per query. */
  def searchPq(spark: SparkSession, sfDir: String, queryId: Long = 0L,
               kNeighbors: Int = 10, m: Int = 8, k: Int = 16,
               rerank: Int = 0): DataFrame = {
    val model = forEmbeddings(spark, sfDir, m, k)
    val emb = Tables.embeddings(spark, sfDir)
    val q = Tables.queryVector(spark, sfDir, queryId)
    val adc = flatCodedFor(spark, sfDir, m, k)
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), pq_adc(col("codes"), adcTable(model, q)).as("adc_dist"))
    if (rerank <= 0) {
      adc.orderBy(col("adc_dist").asc, col("vec_id").asc).limit(kNeighbors)
    } else {
      val shortlist = adc
        .orderBy(col("adc_dist").asc, col("vec_id").asc)
        .limit(math.max(rerank, kNeighbors))
        .select(col("vec_id"))
      val qRow = emb.filter(col("vec_id") === queryId)
        .select(col("embedding").as("q_embedding"))
      emb.join(broadcast(shortlist), Seq("vec_id"), "left_semi")
        .join(broadcast(qRow))
        .select(col("vec_id"),
          graft.functions.l2sq(col("embedding"), col("q_embedding")).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(kNeighbors)
    }
  }

  // ---- residual IVF-PQ (FAISS IndexIVFPQ semantics) -------------------
  //
  // Codes encode the RESIDUAL r = x − centroid(list(x)), not the raw
  // vector: residuals concentrate around 0 once the coarse quantizer
  // has soaked up the between-list variance, so the same m×k codebook
  // budget spends its centroids on a tighter distribution — the
  // standard construction that makes IVF-PQ recall usable at low
  // nprobe (Jégou et al. 2011, §IV; FAISS `IndexIVFPQ.encode_residual`).
  // Scoring uses per-list query-residual LUTs ([[graft.functions.PqAdcByList]]):
  // ||q − (c_L + decode(codes))||² = Σ_s lut_L(s)(codes(s)).

  /** (list_id, id, resid) — residuals against the index's centroids.
    * A NARROW map: the ≤nlist centroid matrix rides in as an
    * array<array<float>> literal, `element_at` picks the row's own
    * centroid, `zip_with` subtracts — all codegen'd builtins, nothing
    * joins or shuffles. */
  private[graft] def residualFrame(index: IvfIndex.Index): DataFrame = {
    val sorted = index.centroidArrays.sortBy(_._1)
    // the element_at below picks centroids POSITIONALLY (list_id + 1),
    // which is only correct when list ids are contiguous from 0 — true
    // for IvfIndex.build (zipWithIndex) but assert it, so a future
    // index format with gapped ids fails loudly instead of silently
    // computing residuals against the wrong centroid
    require(sorted.map(_._1).toSeq == (0 until sorted.length),
      s"residualFrame: list ids must be contiguous 0..${sorted.length - 1}, " +
        s"got ${sorted.map(_._1).take(10).mkString(",")}…")
    val cents = sorted.map(_._2)
    index.postings.select(col("list_id"), col("id"),
      zip_with(col("embedding"),
        element_at(typedlit(cents), col("list_id") + 1),
        (a, b) => a - b).as("resid"))
  }

  private val residModelCache = JvmCaches.map[(String, Int, Int, Int), Model]()

  /** Codebooks trained on residuals (per (sfDir, nlist) — residuals
    * depend on the coarse quantizer). */
  def residualModelFor(spark: SparkSession, sfDir: String, nlist: Int,
                       m: Int = 8, k: Int = 16): Model =
    residModelCache.getOrElseUpdate((sfDir, nlist, m, k), {
      val index = IvfIndex.forEmbeddings(spark, sfDir, nlist)
      train(residualFrame(index), "resid", m, k)
    })

  // Encoded postings, memoized per mode: the in-memory IVF-PQ search
  // must scan CODES, never floats (the whole point of PQ is the 32×
  // smaller scan; re-encoding per query forfeits it). Schema is
  // (list_id, id, codes) — the embedding column does not exist in the
  // cached frame, so no plan can accidentally read it (plan-asserted
  // in PqSpec).
  private val codedCache =
    JvmCaches.sessionMap[(String, Int, Int, Int, Boolean), DataFrame]()

  private[graft] def codedPostings(spark: SparkSession, sfDir: String,
                                   nlist: Int, m: Int, k: Int,
                                   residual: Boolean): DataFrame =
    codedCache.getOrElseUpdate(spark, (sfDir, nlist, m, k, residual)) {
      val index = IvfIndex.forEmbeddings(spark, sfDir, nlist)
      val coded =
        if (residual) {
          val model = residualModelFor(spark, sfDir, nlist, m, k)
          residualFrame(index).select(col("list_id"), col("id"),
            pq_encode(col("resid"), model.books).as("codes"))
        } else {
          val model = forEmbeddings(spark, sfDir, m, k)
          index.postings.select(col("list_id"), col("id"),
            pq_encode(col("embedding"), model.books).as("codes"))
        }
      val cached = coded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached.count()
      cached
    }

  /** Per-list LUTs for a query: populated only for probed lists,
    * indexed by list_id (empty arrays elsewhere — [[graft.functions.PqAdcByList]]
    * errors loudly if an unprobed list ever reaches scoring). */
  private[graft] def residualLuts(model: Model, index: IvfIndex.Index,
                                  q: Array[Float], probed: Seq[Int]): Array[Array[Array[Double]]] = {
    val cents = index.centroidArrays.toMap
    val nlist = index.centroidArrays.map(_._1).max + 1
    val luts = Array.fill(nlist)(Array.empty[Array[Double]])
    probed.foreach { lid =>
      val c = cents(lid)
      val qr = Array.tabulate(q.length)(i => q(i) - c(i))
      luts(lid) = adcTable(model, qr)
    }
    luts
  }

  /** IVF-PQ: [[IvfIndex.scanProbed]] over the CODE postings of the
    * probed lists, ADC-scored — the scan never touches a float
    * embedding. `residual = true` (default, FAISS IndexIVFPQ) encodes
    * and scores residuals; `residual = false` keeps the raw-vector
    * codes whose nprobe = nlist search equals [[searchPq]] exactly
    * (test-pinned).
    *
    * `rerank > 0` engages the refine pattern on top (FAISS
    * IndexIVFPQR shape): the ADC pass keeps a `rerank`-sized
    * shortlist, and only the shortlist's float vectors — fetched from
    * the PROBED postings via a broadcast shortlist join, so the float
    * read is bounded by rerank, never a list scan — are scored
    * exactly. Coarse-pruning misses stay missed (that is nprobe's
    * trade); re-ranking repairs ADC ordering error within the probed
    * lists. */
  def ivfSearchPq(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                  kNeighbors: Int = 10, nlist: Int = 4, nprobe: Int = 2,
                  m: Int = 8, k: Int = 16,
                  residual: Boolean = true, rerank: Int = 0): DataFrame = {
    val index = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val q = Tables.queryVector(spark, sfDir, queryId)
    val probed = IvfIndex.probeLists(index, q, nprobe)
    def adc(n: Int): DataFrame =
      IvfIndex.scanProbed(codedPostings(spark, sfDir, nlist, m, k, residual),
        probed, ivfAdcScore(spark, sfDir, nlist, index, q, probed, m, k, residual),
        "adc_dist", IvfIndex.TopK(n), excludeId = Some(queryId), idAs = "vec_id")
    if (rerank <= 0) adc(kNeighbors)
    else {
      val shortlist = adc(math.max(rerank, kNeighbors)).select(col("vec_id").as("id"))
      IvfIndex.scanProbed(index.postings, probed,
        graft.functions.l2sq(col("embedding"), typedlit(q)), "dist",
        IvfIndex.TopK(kNeighbors), idAs = "vec_id",
        within = _.join(broadcast(shortlist), Seq("id"), "left_semi"))
    }
  }

  /** The IVF-PQ ADC score of a `codes` column for query `q`: residual
    * codes score against per-list LUTs built for the probed lists only
    * ([[residualLuts]]), raw-vector codes against one flat LUT. */
  private def ivfAdcScore(spark: SparkSession, sfDir: String, nlist: Int,
                          index: IvfIndex.Index, q: Array[Float], probed: Seq[Int],
                          m: Int, k: Int, residual: Boolean): Column =
    if (residual)
      graft.functions.pq_adc_by_list(col("list_id"), col("codes"),
        residualLuts(residualModelFor(spark, sfDir, nlist, m, k), index, q, probed))
    else pq_adc(col("codes"), adcTable(forEmbeddings(spark, sfDir, m, k), q))

  // ---- OPQ-lite: seeded random orthogonal rotation ---------------------

  /** Seeded random orthogonal matrix (Gaussian init + modified
    * Gram-Schmidt, double precision, rows orthonormal). Orthogonality
    * preserves L2 — ||Rx − Rq|| = ||x − q|| — so rotating corpus AND
    * query changes no exact distance, only how PQ's blocked subspace
    * split sees the data: a random rotation spreads per-dimension
    * variance evenly across subspaces, which is most of learned OPQ's
    * win when variance is concentrated in a few dimensions (Ge et al.,
    * CVPR 2013 §4 report random rotation as the strong baseline their
    * learned R improves on). Driver-tiny (dim² floats) and applied as
    * the codegen'd narrow [[graft.functions.MatVec]] map. */
  def rotationMatrix(dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    val m = Array.fill(dim)(Array.fill(dim)(rnd.nextGaussian()))
    var r = 0
    while (r < dim) {
      var p = 0
      while (p < r) {
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += m(r)(i) * m(p)(i); i += 1 }
        i = 0
        while (i < dim) { m(r)(i) -= dot * m(p)(i); i += 1 }
        p += 1
      }
      var n = 0.0
      var i = 0
      while (i < dim) { n += m(r)(i) * m(r)(i); i += 1 }
      require(n > 1e-12, s"rotationMatrix: degenerate row $r")
      val inv = 1.0 / math.sqrt(n)
      i = 0
      while (i < dim) { m(r)(i) *= inv; i += 1 }
      r += 1
    }
    m.map(_.map(_.toFloat))
  }

  /** Rotate a float-array embedding column in place (narrow codegen'd
    * map) — the corpus half of the OPQ-lite transform; apply
    * [[rotateVector]] to queries. */
  def rotate(df: DataFrame, embCol: String,
             rot: Array[Array[Float]]): DataFrame =
    df.withColumn(embCol, graft.functions.mat_vec(col(embCol), rot))

  /** Driver-side twin of the [[graft.functions.MatVec]] kernel (same
    * double-accumulate, float-out order, so query rotation is
    * bit-identical to corpus rotation). */
  def rotateVector(rot: Array[Array[Float]], v: Array[Float]): Array[Float] =
    rot.map { row =>
      var acc = 0.0
      var i = 0
      while (i < row.length) { acc += row(i).toDouble * v(i); i += 1 }
      acc.toFloat
    }

  /** Codebook-usage audit: one row per (subspace, code) with the
    * number of corpus vectors encoding to it — dead codes and
    * one-code-dominates subspaces are how PQ quality problems
    * surface. Distributed: posexplode of the (tiny) code arrays +
    * one group-key shuffle. */
  def pqStats(spark: SparkSession, sfDir: String,
              m: Int = 8, k: Int = 16): DataFrame = {
    val model = forEmbeddings(spark, sfDir, m, k)
    encode(Tables.embeddings(spark, sfDir), "vec_id", "embedding", model)
      .select(posexplode(col("codes")).as(Seq("subspace", "code")))
      // codes are stored as SIGNED bytes but addressed unsigned (the
      // ADC kernels' & 0xff contract) — decode here too, or a k > 128
      // model's codes 128..255 would group/sort as negatives and the
      // dead-code audit would mislabel half the index space
      .select(col("subspace"),
        col("code").cast("int").bitwiseAND(lit(255)).as("code"))
      .groupBy(col("subspace"), col("code"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("subspace").asc, col("code").asc)
  }

  /** Persist IVF-PQ postings: (id, codes) under `list_id=` partition
    * directories, codes as BINARY (m bytes flat, no array header — the
    * on-disk form [[graft.functions.PqAdc]]'s dual-type contract
    * exists for). This is the full FAISS IVFPQ layout as a parquet
    * directory tree: the coarse quantizer prunes partitions, the rows
    * inside are 32× smaller than the float postings; `residual`
    * (default) stores residual codes, the IndexIVFPQ on-disk form. */
  def savePostings(spark: SparkSession, sfDir: String, dir: String,
                   nlist: Int = 4, m: Int = 8, k: Int = 16,
                   residual: Boolean = true): Unit = {
    val index = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val coded =
      if (residual) {
        val model = residualModelFor(spark, sfDir, nlist, m, k)
        residualFrame(index).select(col("list_id"), col("id"),
          pq_encode(col("resid"), model.books, asBinary = true).as("codes"))
      } else {
        val model = forEmbeddings(spark, sfDir, m, k)
        index.postings.select(col("list_id"), col("id"),
          pq_encode(col("embedding"), model.books, asBinary = true).as("codes"))
      }
    coded
      .repartition(col("list_id"))
      .write.mode("overwrite")
      .partitionBy("list_id").parquet(dir)
  }

  private val persistedCache =
    JvmCaches.map[(String, Int, Int, Int, Boolean), String]()

  /** IVF-PQ search over the PERSISTED code postings:
    * [[IvfIndex.scanProbed]] over the `list_id=` partitions (the same
    * plan shape as [[IvfIndex.persistedForEmbeddings]] searches),
    * ADC-scoring the binary codes. Nothing float-typed is read. */
  def persistedSearchPq(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                        kNeighbors: Int = 10, nlist: Int = 4, nprobe: Int = 2,
                        m: Int = 8, k: Int = 16,
                        residual: Boolean = true): DataFrame = {
    val dir = persistedCache.getOrElseUpdate((sfDir, nlist, m, k, residual), {
      val suffix = if (residual) "-res" else ""
      val d = s"/root/repo/target/pq-postings/${new java.io.File(sfDir).getName}-nlist$nlist-m$m-k$k$suffix"
      savePostings(spark, sfDir, d, nlist, m, k, residual)
      d
    })
    val index = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val q = Tables.queryVector(spark, sfDir, queryId)
    val probed = IvfIndex.probeLists(index, q, nprobe)
    IvfIndex.scanProbed(spark.read.parquet(dir), probed,
      ivfAdcScore(spark, sfDir, nlist, index, q, probed, m, k, residual), "adc_dist",
      IvfIndex.TopK(kNeighbors), excludeId = Some(queryId), idAs = "vec_id")
  }

  /** Recall@k of IVF-PQ (either encoding) against the GLOBAL exact
    * kNN — the honest end-to-end number: coarse-pruning misses count
    * against it, exactly as a user measures FAISS. */
  def ivfPqRecall(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                  kNeighbors: Int = 10, nlist: Int = 4, nprobe: Int = 2,
                  residual: Boolean = true, rerank: Int = 0): Double = {
    val exact = VectorSearchOps.knnExactL2(spark, sfDir, queryId, kNeighbors)
      .collect().map(_.getLong(0)).toSet
    val approx = ivfSearchPq(spark, sfDir, queryId, kNeighbors, nlist, nprobe,
        residual = residual, rerank = rerank)
      .collect().map(_.getLong(0)).toSet
    exact.intersect(approx).size.toDouble / kNeighbors
  }

  /** Recall@k of flat PQ against exact L2 — the quality probe a user
    * runs before switching compression on (same shape as
    * [[Quantization.quantizedRecall]]). */
  def pqRecall(spark: SparkSession, sfDir: String, queryId: Long = 0L,
               kNeighbors: Int = 10, rerank: Int = 0): Double = {
    val exact = VectorSearchOps.knnExactL2(spark, sfDir, queryId, kNeighbors)
      .collect().map(_.getLong(0)).toSet
    val approx = searchPq(spark, sfDir, queryId, kNeighbors, rerank = rerank)
      .collect().map(_.getLong(0)).toSet
    exact.intersect(approx).size.toDouble / kNeighbors
  }
}
