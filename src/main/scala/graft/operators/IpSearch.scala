package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{nearest_list_ip, vec_dot}

/** Maximum-inner-product search (MIPS) — FAISS `METRIC_INNER_PRODUCT`,
  * the second of the two metrics every FAISS index constructor accepts
  * (`faiss.IndexFlatIP`, `IndexIVFFlat(quantizer, d, nlist,
  * METRIC_INNER_PRODUCT)`). The reference pins L2
  * (/root/reference/app.py:48 `IndexIVFFlat` defaults to METRIC_L2),
  * but the API surface a reference user holds includes the IP metric —
  * it is how dot-product-trained embedding models (DPR-style
  * retrievers, recommender factorizations) are served.
  *
  * Semantics vs L2: scores sort DESCENDING (bigger dot = closer), and
  * the coarse quantizer of an IP index is an `IndexFlatIP` — database
  * vectors are filed under the MAX-dot centroid, and search probes the
  * top-`nprobe` MAX-dot centroids. Training is unchanged: FAISS's
  * `Clustering` runs plain L2 Lloyd's regardless of the index metric
  * (spherical k-means is opt-in there and out of scope here), so this
  * engine reuses the SAME trained centroids as the L2 family
  * ([[IvfIndex.forEmbeddings]]) and only the add/search-time
  * assignment changes — which is exactly what
  * `IndexIVFFlat(quantizer=IndexFlatIP, ...)` does.
  *
  * Scale posture: identical to the L2 family. Exact MIPS is one narrow
  * scan + TakeOrdered (no shuffle of the corpus side; the query rides
  * in as a broadcast one-row join). The IVF form files postings by a
  * codegen'd narrow-map assignment ([[graft.functions.NearestList]]
  * with `ip = true`) and searches through [[IvfIndex.scanProbed]]
  * (its pruning, exclusion and tie-break contract, score descending).
  *
  * NOTE the known IP-IVF recall caveat (documented in FAISS's own
  * guidelines): L2-trained cells are not aligned with dot-product
  * level sets, so IP recall at small nprobe trails L2 recall on the
  * same data. The registered pruned audit measures the floor rather
  * than assuming L2's.
  */
object IpSearch {

  /** Exact top-k by inner product (descending), excluding the query
    * row itself — the `IndexFlatIP` search contract with the engine's
    * deterministic `(score, vec_id)` tiebreak. */
  def knnExactIp(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                 k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    emb.join(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .withColumn("ip", vec_dot(col("embedding"), col("q_embedding")))
      .orderBy(col("ip").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("ip"))
  }

  /** An IP-metric IVF index over the sf embeddings: the L2 family's
    * trained centroids (same quantizer training — FAISS `Clustering`
    * is metric-independent L2 Lloyd's) with postings re-filed under
    * their MAX-dot centroid (the `IndexFlatIP` coarse assignment).
    * Narrow-map assignment, no join, no shuffle; memoized per
    * (sfDir, nlist) like the L2 builds. */
  def forEmbeddingsIp(spark: SparkSession, sfDir: String,
                      nlist: Int): IvfIndex.Index =
    cache.getOrElseUpdate(spark, (sfDir, nlist)) {
      val base = IvfIndex.forEmbeddings(spark, sfDir, nlist)
      val cents = base.centroidArrays.sortBy(_._1).map(_._2)
      val postings = Tables.embeddings(spark, sfDir)
        .select(nearest_list_ip(col("embedding"), cents).as("list_id"),
          col("vec_id").as("id"), col("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      postings.count()
      IvfIndex.Index(base.centroids, postings)
    }

  private val cache = JvmCaches.sessionMap[(String, Int), IvfIndex.Index]()

  /** Persisted IP index: the SAME directory layout as the L2 family
    * ([[IvfIndex.save]]/[[IvfIndex.load]] unchanged — the metric lives
    * in the assignment and search kernels, not the storage), so the
    * whole persisted lifecycle (partitioned postings, tombstones,
    * leases, merge) carries over. Memoized per (sfDir, nlist). */
  def persistedForEmbeddingsIp(spark: SparkSession, sfDir: String,
                               nlist: Int): IvfIndex.Index =
    persistedCache.getOrElseUpdate(spark, (sfDir, nlist)) {
      val dir = s"/root/repo/target/ivf-ip-index/${new java.io.File(sfDir).getName}-nlist$nlist"
      IvfIndex.save(forEmbeddingsIp(spark, sfDir, nlist), dir)
      IvfIndex.load(spark, dir)
    }

  private val persistedCache = JvmCaches.sessionMap[(String, Int), IvfIndex.Index]()

  /** Top-`nprobe` centroids by inner product (descending, first-max —
    * the IP mirror of [[IvfIndex.probeLists]]; driver-side over the
    * ≤nlist centroid matrix, the same bounded-collect class). */
  def probeListsIp(index: IvfIndex.Index, q: Array[Float],
                   nprobe: Int): Seq[Int] =
    IvfIndex.rankLists(index.centroidArrays, q, nprobe, descending = true) { c =>
      var acc = 0.0; var i = 0
      while (i < c.length) { acc += q(i).toDouble * c(i); i += 1 }
      acc
    }

  /** IVF MIPS search: [[probeListsIp]], then [[IvfIndex.scanProbed]]
    * scoring by dot, descending. Returns (id, ip). `nprobe = nlist`
    * scans every list and — IVFFlat stores raw vectors — reproduces
    * [[knnExactIp]] bit-for-bit. */
  def searchIp(index: IvfIndex.Index, q: Array[Float], k: Int, nprobe: Int,
               excludeId: Option[Long] = None): DataFrame =
    IvfIndex.scanProbed(index.postings, probeListsIp(index, q, nprobe),
      vec_dot(col("embedding"), typedlit(q)), "ip", IvfIndex.TopK(k),
      descending = true, excludeId = excludeId)
}

/** Cosine-metric IVF — the third point of the FAISS metric triangle,
  * built the way FAISS's own guidelines say to serve cosine: NORMALIZE
  * and use the L2/IP machinery (cosine order ≡ L2 order on unit
  * vectors). The quantizer trains on unit vectors (spherical-k-means
  * shape: centroids of unit vectors), assignment and probing run as
  * plain L2 against those centroids, and the inverted lists store the
  * RAW vectors — the emitted score is `cosine_sim` recomputed on the
  * originals with the engine's standard kernel, so `nprobe = nlist`
  * reproduces [[VectorSearchOps.knnExactCosine]] bit-for-bit (same
  * expression, same tie order) rather than a derived `1 - d/2`
  * approximation that would drift in the last ulp.
  *
  * Scale posture: identical to the L2 family — the normalization is a
  * narrow map paid once at build; search is [[IvfIndex.scanProbed]]. */
object CosineIvf {

  private val cache = JvmCaches.sessionMap[(String, Int), IvfIndex.Index]()

  /** Build (memoized): k-means over UNIT vectors for the quantizer and
    * list assignment; postings re-joined to the raw embeddings. */
  def forEmbeddings(spark: SparkSession, sfDir: String,
                    nlist: Int): IvfIndex.Index =
    cache.getOrElseUpdate(spark, (sfDir, nlist)) {
      val emb = Tables.embeddings(spark, sfDir)
      val unit = emb.select(col("vec_id").as("id"),
        transform(col("embedding"),
          x => x.cast("double") / graft.functions.vec_norm(col("embedding")))
          .as("embedding"))
      val idxN = IvfIndex.build(unit, "id", "embedding", nlist)
      val postings = idxN.postings.select("list_id", "id")
        .join(emb.select(col("vec_id").as("id"), col("embedding")), Seq("id"))
        .select(col("list_id"), col("id"), col("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      postings.count()
      idxN.postings.unpersist(blocking = false)
      IvfIndex.Index(idxN.centroids, postings)
    }

  /** Probe by L2 against the unit-trained centroids using the
    * NORMALIZED query (cosine order on the raw query), then score the
    * probed lists' RAW vectors with `cosine_sim`, descending. */
  def search(index: IvfIndex.Index, q: Array[Float], k: Int, nprobe: Int,
             excludeId: Option[Long] = None): DataFrame = {
    val n = {
      var acc = 0.0; var i = 0
      while (i < q.length) { acc += q(i).toDouble * q(i); i += 1 }
      math.sqrt(acc)
    }
    val qUnit = q.map(x => (x / n).toFloat)
    IvfIndex.scanProbed(index.postings, IvfIndex.probeLists(index, qUnit, nprobe),
      graft.functions.cosine_sim(col("embedding"), typedlit(q)), "sim",
      IvfIndex.TopK(k), descending = true, excludeId = excludeId)
  }
}
