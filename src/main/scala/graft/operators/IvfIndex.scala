package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{Vector => MlVector}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.l2sq

/** IVF (inverted-file) ANN index — the reference's core data structure
  * (FAISS `IndexIVFFlat` over an L2 coarse quantizer,
  * /root/reference/app.py:47-56) re-expressed as two DataFrames:
  *
  *  - `centroids(list_id: Int, centroid: Array[Float])` — the trained
  *    coarse quantizer (k-means, app.py:52 `index.train`);
  *  - `postings(list_id: Int, id: Long, embedding: Array[Float])` —
  *    the inverted lists (app.py:55 `index.add`), persisted
  *    `partitionBy("list_id")` so the Parquet directory layout IS the
  *    inverted file and `nprobe` pruning becomes static partition
  *    pruning at the scan (SURVEY.md §1.1, §4.1).
  *
  * Scale posture: train samples/aggregates via MLlib (distributed
  * Lloyd's); assignment is a broadcast nested-loop against ≤`nlist`
  * centroids (tiny). The filtered searches scan only the probed
  * partitions — at 100 TB a query touches `nprobe/nlist` of the data
  * instead of all of it, exactly the reference's pruning ratio.
  * Single-query search ([[search]], [[searchAndReconstruct]],
  * [[rangeSearch]]) and batch search ([[searchAll]]) answer from the
  * index's serving handle ([[IvfServing]]) when its postings fit
  * [[MaxDriverServingBytes]]: the postings packed per list in the
  * driver heap, read once per `Index`, so a single query runs no Spark
  * job and a batch is one narrow map over the queries against a
  * broadcast of the packed lists. Above that bound both keep the pruned
  * scan (for a batch, the equi-join on probed list ids).
  */
object IvfIndex {

  /** Byte bound of the serving handle: postings packed as 8 bytes of id
    * plus `4 · dim` bytes of vector. At or below it a single-query
    * search answers from the packed lists in the driver heap and runs no
    * Spark job; above it the search is the pruned DataFrame scan, which
    * reads `nprobe/nlist` of the postings per query. 32 MiB serves
    * 20,000 × 64 (5.3 MB) and smaller indexes from the driver and keeps
    * 500,000 × 64 (132 MB) on the scan. */
  val MaxDriverServingBytes: Long = 32L << 20

  case class Index(centroids: DataFrame, postings: DataFrame) {
    /** Driver-side centroid matrix for nprobe selection (≤ nlist rows —
      * the reference's coarse quantizer is equally driver-tiny). */
    lazy val centroidArrays: Array[(Int, Array[Float])] =
      centroids.select("list_id", "centroid").collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)

    /** The serving handle ([[IvfServing.open]] under
      * [[MaxDriverServingBytes]]), opened by the first single-query or
      * batch search on this object and kept for its lifetime; None when
      * the index searches by the pruned scan. It reads `postings` as this
      * object sees it, so it shares the file listing a loaded index
      * fixed when it was created and never outlives that generation. Its
      * packed lists, and their broadcast once a [[searchAll]] has made
      * it, stay in memory as long as this object is reachable. */
    @transient private[graft] lazy val serving: Option[IvfServing] =
      IvfServing.open(this, MaxDriverServingBytes)
  }

  /** Train + assign (reference app.py:47-56). `df` must carry
    * (`idCol`: Long, `embCol`: Array[Float]).
    *
    * Above `maxTrainRows` the k-means FIT runs on a seeded sample —
    * the FAISS discipline (Clustering's max_points_per_centroid=256
    * subsamples training input with a warning): centroids converge on
    * thousands of points per list, and Lloyd's over the full corpus at
    * production sizing (nlist ~ √N) is O(N·√N·D) wasted work per
    * iteration. The ASSIGNMENT still covers every row (model.transform
    * over the full frame), so postings are complete regardless. The
    * 200k default ≈ 256 points/centroid at the √N sizing it's meant
    * for, and leaves every gate-scale build (≤ 4k vectors) untouched.
    *
    * Memory hygiene: the training cache (`withVec`) lives only for the
    * duration of fit+transform — postings are materialized, then the
    * training cache is released (round 2 leaked it for the JVM
    * lifetime, degrading every query that ran after a build). */
  def build(df: DataFrame, idCol: String, embCol: String,
            nlist: Int, seed: Long = 42L, maxIter: Int = 20,
            maxTrainRows: Long = 200000L): Index = {
    val spark = df.sparkSession
    // reference parity: building over an empty corpus is an error
    // (app.py:223-228 rejects "no valid sentences"); isEmpty is a
    // limit(1) probe, negligible next to training
    require(!df.isEmpty, "cannot build an IVF index over an empty corpus")
    val withVec = df.select(col(idCol).as("id"), col(embCol).as("embedding"))
      .withColumn("features", array_to_vector(col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = withVec.count()
    val trainFrame =
      if (n > maxTrainRows)
        withVec.sample(withReplacement = false, maxTrainRows.toDouble / n, seed)
      else withVec
    val model = new KMeans()
      .setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features").setPredictionCol("list_id")
      .fit(trainFrame)
    val postings = model.transform(withVec)
      .select(col("list_id"), col("id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    postings.count()
    withVec.unpersist(blocking = false)
    val centroidRows = model.clusterCenters.zipWithIndex.map {
      case (v: MlVector, i) => (i, v.toArray.map(_.toFloat))
    }.toSeq
    val centroids = spark.createDataFrame(centroidRows)
      .toDF("list_id", "centroid")
    Index(centroids, postings)
  }

  /** Persist as a self-contained directory of parquet tables
    * (reference persists index.faiss + sentences.pkl, app.py:116-123;
    * we persist embeddings too so load never re-encodes — declared
    * improvement, SURVEY.md §7.4). */
  def save(index: Index, dir: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    // Repartition by list_id before the partitioned write: without it
    // every shuffle partition emits a sliver into every list directory
    // (parallelism × nlist tiny files), and scan-side file-open
    // overhead dominates pruned searches. One file per list at bench
    // scale; at 100 TB the same write with a higher partition count
    // gives a bounded number of full-size files per list.
    index.postings.repartition(col("list_id"))
      .write.mode("overwrite")
      .partitionBy("list_id").parquet(s"$dir/postings")
  }

  /** Load a saved index (reference app.py:125-147, minus the
    * re-encode). Missing path fails like the reference's
    * FileNotFoundError (app.py:127-128). */
  def load(spark: SparkSession, dir: String): Index = {
    val path = new java.io.File(dir)
    if (!path.exists()) {
      throw new java.io.FileNotFoundException(s"Index directory not found: $dir")
    }
    Index(
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/postings"))
  }

  /** Driver-side nprobe selection: the `nprobe` nearest inverted lists
    * to the query vector (reference coarse quantizer, app.py:69-70).
    * Centroid table is ≤ nlist rows, so this mirrors the reference's
    * driver/library split and lets the postings scan prune partitions
    * statically. Ties keep the smaller list id (first-min). */
  def probeLists(index: Index, q: Array[Float], nprobe: Int): Seq[Int] =
    probeCentroids(index.centroidArrays, q, nprobe)

  /** [[probeLists]] over a centroid matrix: squared L2 by the `l2sq`
    * loop ([[IvfServing.l2]]), so a single search and every row of a
    * served [[searchAll]] probe the same lists. */
  private[graft] def probeCentroids(cents: Array[(Int, Array[Float])], q: Array[Float],
                                    nprobe: Int): Seq[Int] =
    rankLists(cents, q, nprobe, descending = false)(IvfServing.l2(_, 0, q))

  /** The one probe loop behind [[probeLists]] and
    * [[IpSearch.probeListsIp]]: score every centroid, rank by
    * `(score, list_id)` — score ascending, or descending when
    * `descending` — and keep the first `nprobe` list ids. Rejects
    * `nprobe < 1` (it would probe nothing and silently return no rows)
    * and a query whose length is not the centroid dimension (the
    * scoring loop would otherwise truncate or overrun it). */
  private[graft] def rankLists(cents: Array[(Int, Array[Float])], q: Array[Float], nprobe: Int,
                               descending: Boolean)
                              (score: Array[Float] => Double): Seq[Int] = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    cents.headOption.foreach { case (_, c) =>
      require(q.length == c.length,
        s"query has ${q.length} dims but the centroids have ${c.length}")
    }
    cents
      .map { case (lid, c) => (lid, score(c)) }
      .sortBy { case (lid, s) => (if (descending) -s else s, lid) }
      .take(nprobe).map(_._1).toSeq
  }

  /** How [[scanProbed]] and the serving handle cut their ranked
    * candidates: the first `k`, or every candidate scoring strictly
    * below `eps` (range search). */
  private[graft] sealed trait Cut
  private[graft] final case class TopK(k: Int) extends Cut {
    require(k >= 0, s"k must be >= 0, got $k")
  }
  private[graft] final case class Below(eps: Double) extends Cut

  /** The probed-list scan every IVF-family DataFrame search runs (the
    * reference's coarse-probe → scan → top-k, app.py:58-75). Its
    * contract, stated here once (the serving handle behind [[search]],
    * [[searchAndReconstruct]] and [[rangeSearch]] keeps it too):
    *
    *  - pruning: only postings whose `list_id` is in `probed` are read —
    *    on a parquet-backed index a static partition filter, so a query
    *    touches nprobe/nlist of the data;
    *  - `within` (default: nothing) further restricts the probed rows:
    *    an id selector, a metadata or shortlist semi-join, or a
    *    broadcast query-row join whose columns `score` reads;
    *  - exclusion: `excludeId` drops that id (self-exclusion when
    *    searching by a stored vector, app.py:91-93);
    *  - ranking: `score` (named `scoreAs`) ascending for distances,
    *    descending when `descending` (similarities); ties break on
    *    ascending id, so every result is deterministic;
    *  - cut: [[TopK]] keeps the first k (all candidates when fewer
    *    exist), [[Below]] keeps every candidate with `score < eps`.
    *
    * `postings` needs `list_id`, `id` and whatever `score` reads. The
    * result is (`idAs`, `scoreAs`, `keep`…) in rank order. */
  private[graft] def scanProbed(postings: DataFrame, probed: Seq[Int],
                                score: Column, scoreAs: String, cut: Cut,
                                descending: Boolean = false,
                                excludeId: Option[Long] = None,
                                idAs: String = "id", keep: Seq[String] = Nil,
                                within: DataFrame => DataFrame = identity): DataFrame = {
    val base = within(postings.filter(col("list_id").isin(probed: _*)))
    val scored = excludeId.fold(base)(id => base.filter(col("id") =!= id))
      .withColumn(scoreAs, score)
    val order = Seq(
      if (descending) col(scoreAs).desc else col(scoreAs).asc, col("id").asc)
    val ranked = cut match {
      case TopK(k) => scored.orderBy(order: _*).limit(k)
      case Below(eps) => scored.filter(col(scoreAs) < eps).orderBy(order: _*)
    }
    val id = if (idAs == "id") col("id") else col("id").as(idAs)
    ranked.select(id +: col(scoreAs) +: keep.map(col): _*)
  }

  /** IVF search (reference app.py:58-75): [[probeLists]], then the
    * `(dist, id)` top-k of exact squared L2 over the probed lists, with
    * [[scanProbed]]'s contract. Answered from the index's serving handle
    * ([[Index.serving]], opened by the first search on this `Index`)
    * when there is one: the search runs no Spark job and the result is
    * a local DataFrame of (id, dist), `id` a long. Otherwise (postings
    * above [[MaxDriverServingBytes]], or an id that is not a long) it is
    * the [[scanProbed]] plan, with `id` of the index's own type. `k < 0`
    * fails with `IllegalArgumentException`. */
  def search(index: Index, q: Array[Float], k: Int, nprobe: Int,
             excludeId: Option[Long] = None): DataFrame =
    served(index, q, TopK(k), nprobe, excludeId, withVecs = false)

  /** FAISS `search_and_reconstruct`: top-k search that returns the
    * STORED vectors alongside ids and distances — the one-call form a
    * retrieval pipeline uses when the hit payload is needed (rerank by
    * a second model, context assembly) without a second index
    * round-trip. For IVFFlat the stored vector IS the original, so no
    * join back to the source table is needed: it is [[search]] with
    * each hit's stored vector kept. Returns (id, dist, embedding). */
  def searchAndReconstruct(index: Index, q: Array[Float], k: Int, nprobe: Int,
                           excludeId: Option[Long] = None): DataFrame =
    served(index, q, TopK(k), nprobe, excludeId, withVecs = true)

  /** IVF range search (FAISS `IndexIVF.range_search`): the strict
    * `dist < eps` predicate (app.py:93's P3 semantics from a single
    * query) over the probed lists — [[search]] with the top-k replaced
    * by the ε cut, answered the same way. `nprobe =
    * nlist` probes every list and, because IVFFlat stores raw vectors,
    * reproduces [[VectorSearchOps.rangeSearch]] bit-for-bit (the
    * registered `range_search_ivf` contract); `nprobe < nlist` returns a
    * subset whose distances are still exact. */
  def rangeSearch(index: Index, q: Array[Float], eps: Double, nprobe: Int,
                  excludeId: Option[Long] = None): DataFrame =
    served(index, q, Below(eps), nprobe, excludeId, withVecs = false)

  /** One query answered from the index's serving handle, or by the
    * pruned scan when it has none. */
  private def served(index: Index, q: Array[Float], cut: Cut, nprobe: Int,
                     excludeId: Option[Long], withVecs: Boolean): DataFrame = {
    val probed = probeLists(index, q, nprobe)
    index.serving match {
      case Some(h) => IvfServing.frame(index.postings.sparkSession,
        h.hits(q, probed, cut, excludeId, withVecs), withVecs)
      case None => scanProbed(index.postings, probed, l2sq(col("embedding"), typedlit(q)),
        "dist", cut, excludeId = excludeId, keep = if (withVecs) Seq("embedding") else Nil)
    }
  }

  /** Filtered IVF search — FAISS `SearchParameters(sel=IDSelector)`
    * (the search-time subset restriction the reference's stack exposes
    * on every IndexIVF; app.py's driver never sets it, but a curation
    * pipeline searching "nearest within this language / this shard"
    * does constantly). `sel` is a predicate over the postings columns
    * (`id`, `list_id`, `embedding`); an id-range/modulo selector
    * (FAISS `IDSelectorRange`/`IDSelectorArray`) is a plain column
    * predicate on `id` and PUSHES DOWN to the pruned parquet scan —
    * filtered search reads no more bytes than unfiltered. Metadata
    * selectors (label, lang) join the metadata frame onto the
    * candidates BEFORE ranking via [[searchFilteredBy]], so rejected
    * rows never enter the top-k. Distances of survivors are exact;
    * with `nprobe = nlist` the result equals the exact filtered scan
    * bit-for-bit (IVFFlat stores raw vectors). */
  def searchFiltered(index: Index, q: Array[Float], k: Int, nprobe: Int,
                     sel: Column,
                     excludeId: Option[Long] = None): DataFrame =
    scanProbed(index.postings, probeLists(index, q, nprobe),
      l2sq(col("embedding"), typedlit(q)), "dist", TopK(k),
      excludeId = excludeId, within = _.filter(sel))

  /** Metadata-selector variant of [[searchFiltered]]: `meta` carries
    * (`metaIdCol`, attribute columns); candidates from the probed
    * lists semi-join the rows of `meta` that satisfy `pred`. The
    * filtered-meta side is an equi-join on id — broadcastable when the
    * predicate is selective, an ordinary shuffled semi-join otherwise;
    * either way the corpus side stays partition-pruned. */
  def searchFilteredBy(index: Index, q: Array[Float], k: Int, nprobe: Int,
                       meta: DataFrame, metaIdCol: String,
                       pred: Column,
                       excludeId: Option[Long] = None): DataFrame = {
    val keep = meta.filter(pred).select(col(metaIdCol).as("id"))
    scanProbed(index.postings, probeLists(index, q, nprobe),
      l2sq(col("embedding"), typedlit(q)), "dist", TopK(k),
      excludeId = excludeId, within = _.join(keep, Seq("id"), "left_semi"))
  }

  /** Reconstruct stored vectors by id — FAISS `reconstruct`/
    * `reconstruct_batch` (which on an IndexIVF needs a DirectMap; here
    * the posting rows ARE the id→vector map, so reconstruction is an
    * equi-semi-join, distributed and batched by construction). IVFFlat
    * stores raw vectors, so the reconstruction is bit-exact; the
    * quantizing indexes (PQ/SQ) reconstruct via their codebooks in
    * their own modules. Returns (id, list_id, embedding). */
  def reconstruct(index: Index, ids: DataFrame, idCol: String): DataFrame =
    index.postings
      .join(ids.select(col(idCol).as("id")).distinct(), Seq("id"))
      .select(col("id"), col("list_id"), col("embedding"))

  /** Per-query kNN against the index for EVERY vector in `queries`
    * (the reference's batch self-search, app.py:84-85). Returns the lazy
    * frame (src_id, dst_id, dist, rank): `src_id` of the `idCol` type,
    * `dst_id` a long, and each query's nearest `k` postings within its
    * `nprobe` probed lists, itself excluded, ranked `1..k` by
    * `(dist, dst_id)`. Query ids are expected unique.
    *
    * When the index has a serving handle ([[Index.serving]]), the query
    * id is an int or a long and the embedding an array of floats, the
    * postings are not shuffled: one narrow map over the queries answers
    * each row against the handle's broadcast lists, exactly as
    * `search(index, emb, k, nprobe, Some(id))` would. A row whose
    * embedding is null or not of the centroid dimension fails the
    * action with `IllegalArgumentException` naming its `src_id`. Each
    * row is answered on its own, so a repeated id gets one ranking per
    * row there, while [[searchAllScan]] (every other case) pools the
    * candidates of a repeated id into one ranking: the two paths agree
    * only on unique ids, which is why they are expected. `k < 0` and
    * `nprobe < 1` fail with `IllegalArgumentException`. */
  def searchAll(index: Index, queries: DataFrame, idCol: String,
                embCol: String, k: Int, nprobe: Int): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val q = queries.select(col(idCol).as("src_id"), col(embCol).as("src_emb"))
    val (id, emb) = (q.schema("src_id"), q.schema("src_emb"))
    val servable = (id.dataType, emb.dataType) match {
      case (IntegerType | LongType, ArrayType(FloatType, _)) => true
      case _ => false
    }
    (if (servable) index.serving else None) match {
      case Some(h) =>
        val posting = index.postings.schema
        h.searchAll(q, k, nprobe, StructType(Seq(
          id,
          StructField("dst_id", LongType, posting("id").nullable),
          StructField("dist", DoubleType, emb.nullable || posting("embedding").nullable),
          StructField("rank", IntegerType, nullable = false))))
      case None => searchAllScan(index, queries, idCol, embCol, k, nprobe)
    }
  }

  /** [[searchAll]] as a DataFrame plan, for an index without a serving
    * handle: the queries rank the broadcast centroids in a `(cdist,
    * list_id)` window, then equi-join the postings on the probed list
    * ids — the scale-safe bucketed similarity-join shape (no cartesian
    * product) — and rank the candidates per `src_id` in a second
    * window. Repeated query ids share one ranking. */
  private[graft] def searchAllScan(index: Index, queries: DataFrame, idCol: String,
                                   embCol: String, k: Int, nprobe: Int): DataFrame = {
    val cents = index.centroids
    val q = queries.select(col(idCol).as("src_id"), col(embCol).as("src_emb"))
    // rank centroids per query, keep nprobe nearest lists
    val wC = Window.partitionBy(col("src_id"))
      .orderBy(col("cdist").asc, col("list_id").asc)
    val probed = q.join(broadcast(cents))
      .withColumn("cdist", l2sq(col("src_emb"), col("centroid")))
      .withColumn("crank", row_number().over(wC))
      .filter(col("crank") <= nprobe)
      .select(col("src_id"), col("src_emb"), col("list_id"))
    // equi-join probed lists to postings: candidates are only
    // same-bucket pairs — this is the pruning
    val wK = Window.partitionBy(col("src_id"))
      .orderBy(col("dist").asc, col("dst_id").asc)
    probed.join(
        index.postings.select(col("list_id"),
          col("id").as("dst_id"), col("embedding").as("dst_emb")),
        Seq("list_id"))
      .filter(col("src_id") =!= col("dst_id"))
      .withColumn("dist", l2sq(col("src_emb"), col("dst_emb")))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("src_id"), col("dst_id"), col("dist"), col("rank"))
  }

  // ---- streaming index maintenance (SURVEY.md §7.5) -------------------
  //
  // FAISS separates train (centroids frozen) from add (any time,
  // app.py:52-55); the persisted layout inherits that split: appends
  // bucket new vectors against the EXISTING centroids and add parquet
  // files under the matching list_id directories, and a scheduled
  // re-train writes a fresh index generation when drift warrants.
  // Centroids are never mutated in place — readers of the old
  // generation stay correct, and switching generations is an atomic
  // path swap (the pattern object stores make cheap; no file locking).

  /** Centroid-count bound for the driver-side coarse quantizer. Below
    * it, [[assignLists]] collects the centroid matrix and rides it
    * into the codegen'd [[graft.functions.NearestList]] expression — a
    * narrow map, no join, no shuffle. Above it, that collect is the
    * scale-killer this bound exists for: production sizing is
    * nlist ~ √N, so a 10¹¹-vector corpus wants ~3×10⁵ centroids —
    * ~80 MB of floats at dim 64 (far more at 384+) pulled to the
    * driver, serialized into EVERY task's plan, and re-scanned per
    * row. Past the bound the assignment runs as the J2
    * broadcast-join + min-struct plan instead ([[assignListsJoin]]):
    * the matrix ships once per executor as a broadcast table and the
    * per-row argmin is a partial-aggregable min, never a window
    * shuffle. 32768 × 64 dims × 4 B ≈ 8 MB — comfortably inside both
    * plan-size and broadcast budgets. Both paths produce IDENTICAL
    * assignments (strict-less first-minimum tie-break; spec-pinned). */
  val MaxDriverCentroids: Int = 32768

  /** Assign rows to inverted lists against an existing index's
    * centroids — a NARROW map (the centroid matrix rides inside the
    * codegen'd [[graft.functions.NearestList]] expression): no join,
    * no shuffle, arbitrarily parallel. Returns
    * (list_id, id, embedding) in postings schema. Dispatches to the
    * distributed [[assignListsJoin]] plan past [[MaxDriverCentroids]]
    * (`maxDriverCentroids` parameterized so specs can force the join
    * path at test scale). */
  def assignLists(index: Index, df: DataFrame, idCol: String,
                  embCol: String,
                  maxDriverCentroids: Int = MaxDriverCentroids): DataFrame = {
    if (index.centroids.limit(maxDriverCentroids + 1).count() > maxDriverCentroids)
      return assignListsJoin(index, df, idCol, embCol)
    val sorted = index.centroidArrays.sortBy(_._1)
    val lids = sorted.map(_._1)
    val contiguous = lids.zipWithIndex.forall { case (l, i) => l == i }
    val pos = graft.functions.nearest_list(col(embCol), sorted.map(_._2))
    // list ids are contiguous 0..nlist-1 for engine-built indexes
    // (zipWithIndex in build); the element_at remap only materializes
    // for foreign/partial layouts.
    val lid =
      if (contiguous) pos
      else element_at(typedlit(lids), pos + 1)
    df.select(lid.as("list_id"), col(idCol).as("id"),
      col(embCol).as("embedding"))
  }

  /** The distributed coarse quantizer (the J2 shape `searchAllScan`
    * already uses for query×centroid probing): rows × broadcast
    * centroids, squared-L2, per-row argmin — NOT a rank window, so the
    * reduction is partial (map-side combine) and no per-row candidate
    * set ever shuffles whole.
    *
    * The argmin is a `min` over ONE fixed-width DECIMAL(38,0) key,
    * `sortBits(cdist) · 2³² + list_id` ([[graft.functions.DoubleSortBits]]):
    * the round-14 500k-vector decade caught the previous
    * `min(struct(cdist, list_id))` form silently degrading to
    * SortAggregate (struct buffers aren't HashAggregate-mutable),
    * which sorted the full N×nlist expansion — carrying the embedding
    * column via `first(embedding)` to boot — and spilled the disk
    * full. Now the expansion rows are (id, decimal) ONLY (the
    * embedding rejoins by id afterwards), the aggregate is a
    * hash-aggregable partial min, and nothing wider than 24 bytes per
    * candidate ever exists outside codegen.
    *
    * Tie-break: the packed key orders by (cdist, list_id)
    * lexicographically ≡ NearestList's strict-less first-minimum,
    * because build's list ids are position-ordered; distances are the
    * same double-accumulate-over-floats fold on both paths, so
    * assignments are bit-identical (spec-pinned). */
  private[graft] def assignListsJoin(index: Index, df: DataFrame,
                                     idCol: String, embCol: String): DataFrame = {
    val ids = df.select(col(idCol).as("id"), col(embCol).as("embedding"))
    val enc = (graft.functions.double_sort_bits(
        l2sq(col("embedding"), col("centroid")))
        .cast(org.apache.spark.sql.types.DecimalType(20, 0)) *
        lit(4294967296L) + col("list_id")).as("enc")
    val best = ids
      .join(broadcast(index.centroids.select(col("list_id"), col("centroid"))))
      .select(col("id"), enc)
      .groupBy(col("id")).agg(min(col("enc")).as("enc"))
      .select(col("id"),
        pmod(col("enc"), lit(4294967296L)).cast("int").as("list_id"))
    best.join(ids, Seq("id"))
      .select(col("list_id"), col("id"), col("embedding"))
  }

  /** Append vectors to a persisted index directory (the reference's
    * `index.add` after load, app.py:55 — FAISS allows add on a trained
    * index at any time; centroids are NOT retrained). Files land under
    * their list_id partition directories, pre-repartitioned like
    * [[save]] so each append emits one file per touched list, not
    * parallelism × nlist slivers. Returns the appended row count. */
  def append(spark: SparkSession, dir: String, rows: DataFrame,
             idCol: String, embCol: String): Long =
    BatchFs.withLease(dir, "postings") { fence =>
      val index = load(spark, dir)
      val assigned = assignLists(index, rows, idCol, embCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = assigned.count()
      fence()
      assigned.repartition(col("list_id"))
        .write.mode("append").partitionBy("list_id").parquet(s"$dir/postings")
      assigned.unpersist(blocking = false)
      n
    }

  /** Idempotent per-batch append — the sink for at-least-once replay
    * (`foreachBatch` re-delivers a batch whenever a crash lands between
    * the write and the offset commit; plain [[append]] would then
    * duplicate rows). The batch's postings are staged and committed
    * through [[BatchFs.appendOnce]]: a replay of a committed batch is a
    * no-op, and a crash before its marker replays into a clean redo.
    *
    * `namespace` scopes the batchId sequence to one writer (batch ids
    * restart at 0 per checkpoint, so two jobs appending to one index
    * must not share a marker space). Returns rows appended (0 for a
    * replayed committed batch). */
  def appendBatch(spark: SparkSession, dir: String, rows: DataFrame,
                  idCol: String, embCol: String, batchId: Long,
                  namespace: String = ""): Long =
    BatchFs.appendOnce(dir, "postings", batchId, namespace,
        Seq(BatchFs.Log("postings", "list_id="))) { staging =>
      val index = load(spark, dir)
      val assigned = assignLists(index, rows, idCol, embCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = assigned.count()
      assigned.repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(s"$staging/postings")
      assigned.unpersist(blocking = false)
      n
    }

  /** Per-list posting counts plus each list's share of the total —
    * the staleness signal for scheduling re-training (appends against
    * frozen centroids skew list sizes as the data distribution
    * drifts). Driver policy: retrain when `maxShare` exceeds a few
    * multiples of 1/nlist. */
  def listStats(index: Index): DataFrame = {
    val counts = index.postings.groupBy(col("list_id"))
      .agg(count(lit(1)).as("n"))
    // total via a broadcast single-row aggregate, not a global window
    // (a no-partition window funnels rows through one task and warns;
    // harmless at ≤nlist rows but the engine keeps the rule absolute).
    counts.crossJoin(broadcast(counts.agg(sum(col("n")).as("total"))))
      .select(col("list_id"), col("n"),
        (col("n").cast("double") / col("total")).as("share"))
      .orderBy(col("list_id").asc)
  }

  /** Scheduled re-train: rebuild centroids from the CURRENT postings
    * (original + appends) and write a fresh immutable index generation
    * at `dstDir`. The old generation stays valid for in-flight readers;
    * promoting the new one is a path swap by the caller. */
  def retrain(spark: SparkSession, srcDir: String, dstDir: String,
              nlist: Int, seed: Long = 42L, maxIter: Int = 20): Index = {
    val current = spark.read.parquet(s"$srcDir/postings")
    val rebuilt = build(current, "id", "embedding", nlist, seed, maxIter)
    save(rebuilt, dstDir)
    rebuilt.postings.unpersist(blocking = false)
    load(spark, dstDir)
  }

  /** Outcome of one [[maintainIndex]] pass: the measured skew, the
    * threshold it was held against, and whether a new generation was
    * trained and promoted. */
  final case class MaintenanceReport(retrained: Boolean, maxShare: Double,
                                     threshold: Double, nlist: Int)

  /** The §7.5 maintenance loop closed end-to-end: measure drift from
    * [[listStats]], decide, and either leave the append-only index as
    * is or train-and-promote a fresh generation.
    *
    * Decision rule (the documented policy): appends assign against
    * FROZEN centroids, so distribution drift shows up as list-size
    * skew; when the largest list's share exceeds
    * `maxShareFactor / nlist` (a few multiples of the balanced share),
    * quantization quality has degraded enough that probing that list
    * dominates search cost, and a retrain re-balances. Below the
    * threshold a retrain would churn the whole index for no recall
    * benefit — the append-only path stands.
    *
    * Promotion is the Upsert swap posture: the new generation is fully
    * written to a sibling staging dir, the old directory is moved
    * aside, the new one moved in, the old deleted — single-writer
    * maintenance windows assumed; in-flight readers of the old
    * generation on an object store would instead get a manifest
    * pointer flip. Driver state stays bounded: the decision reads ONE
    * aggregate row (max share) and the centroid matrix (≤ nlist). */
  /** Parquet files under `dir`/postings split into (committed,
    * uncommitted-relative-paths): a `b<tag>-` file whose marker is
    * absent belongs to a crashed, not-yet-replayed batch. */
  private def classifyPostings(dir: String)
      : (List[java.nio.file.Path], List[java.nio.file.Path]) = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(s"$dir/postings")
    if (!Files.exists(root)) return (Nil, Nil)
    val committedTags = Compaction.committedTagSet(dir)
    val files = BatchFs.children(root)
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("list_id="))
      .flatMap(d => BatchFs.children(d))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    files.partition { f =>
      Compaction.batchTagOf(f.getFileName.toString).forall(committedTags.contains)
    }
  }

  /** Finish or unwind a [[maintainIndex]] promotion interrupted by a
    * crash. Layout cases: `dir` missing with `dir.prev-gen` present →
    * the fully-written `dir.next-gen` (markers included) promotes, or
    * the prev generation restores; `dir.prev-gen` present next to a
    * live `dir` → re-carry any uncommitted batch files and drop prev;
    * a stray `dir.next-gen` beside a live `dir` with no prev → a
    * re-derivable crashed retrain, discarded. */
  private def recoverPromotion(dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val d = Paths.get(dir)
    val prev = Paths.get(s"$dir.prev-gen")
    val staging = Paths.get(s"$dir.next-gen")
    if (Files.exists(prev)) {
      if (!Files.exists(d)) {
        if (Files.exists(staging)) Files.move(staging, d)
        else { Files.move(prev, d); return }
      }
      carryUncommitted(prev.toString, dir)
      BatchFs.deleteRecursively(prev)
    }
    if (Files.exists(staging)) BatchFs.deleteRecursively(staging)
  }

  /** Move marker-less batch files from the superseded generation's
    * postings into the new one's, same list_id dirs — their replay's
    * clear-and-commit cycle must find them under their batch
    * prefix. (Their list assignment is stale w.r.t. the new centroids,
    * exactly as uncompacted uncommitted data was stale pre-retrain;
    * the replay reassigns against the promoted index.) */
  private def carryUncommitted(fromDir: String, toDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val (_, uncommitted) = classifyPostings(fromDir)
    uncommitted.foreach { f =>
      val rel = Paths.get(s"$fromDir/postings").relativize(f)
      val dst = Paths.get(s"$toDir/postings").resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.move(f, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def maintainIndex(spark: SparkSession, dir: String,
                    maxShareFactor: Double = 3.0, seed: Long = 42L,
                    maxIter: Int = 20): MaintenanceReport = {
    import java.nio.file.Paths
    recoverPromotion(dir) // a crashed prior promotion first
    val index = load(spark, dir)
    val nlist = index.centroidArrays.length
    val threshold = maxShareFactor / nlist
    // one aggregate row to the driver — the whole decision input
    val maxShare = listStats(index)
      .agg(max(col("share"))).head.getDouble(0)
    if (maxShare <= threshold)
      return MaintenanceReport(retrained = false, maxShare, threshold, nlist)
    val staging = s"$dir.next-gen"
    BatchFs.deleteRecursively(Paths.get(staging)) // crashed prior attempt
    // retrain from COMMITTED postings only: folding a marker-less
    // crashed batch's rows into the new generation would double them
    // when the batch replays (its commit would find no b<tag>-
    // files to remove) — those files are carried over instead
    val (committed, _) = classifyPostings(dir)
    if (committed.isEmpty) // nothing durable to train on — stand pat
      return MaintenanceReport(retrained = false, maxShare, threshold, nlist)
    val current = spark.read.option("basePath", s"$dir/postings")
      .parquet(committed.map(_.toString): _*)
    val rebuilt = build(current, "id", "embedding", nlist, seed, maxIter)
    save(rebuilt, staging)
    rebuilt.postings.unpersist(blocking = false)
    // carry the batch markers into the new generation: every
    // marker-committed wave's rows are inside the retrained postings,
    // so a post-promotion replay (offset not yet checkpointed upstream)
    // must still see its marker and no-op — without this, the replay
    // would re-append rows the retrain already folded in
    copyCommitMarkers(dir, staging)
    promoteGeneration(dir, staging)
    MaintenanceReport(retrained = true, maxShare, threshold, nlist)
  }

  /** Copy the `_committed` marker tree of `dir` into a staged
    * generation (see the replay rationale at the [[maintainIndex]]
    * call site). */
  private def copyCommitMarkers(dir: String, staging: String): Unit = {
    import java.nio.file.{Files, Paths}
    val oldMarkers = Paths.get(s"$dir/_committed")
    if (Files.exists(oldMarkers)) {
      val s = Files.walk(oldMarkers)
      try s.forEach { p =>
        val rel = Paths.get(staging).resolve(Paths.get(dir).relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(rel)
        else { Files.createDirectories(rel.getParent); Files.copy(p, rel); () }
      } finally s.close()
    }
  }

  /** Atomically promote a fully-written staged generation over `dir`
    * (move aside → move in → carry crashed uncommitted batch files →
    * drop the superseded generation); [[recoverPromotion]] finishes or
    * unwinds a crash at any point. */
  private def promoteGeneration(dir: String, staging: String): Unit = {
    import java.nio.file.{Files, Paths}
    val prev = Paths.get(s"$dir.prev-gen")
    BatchFs.deleteRecursively(prev)
    Files.move(Paths.get(dir), prev)
    Files.move(Paths.get(staging), Paths.get(dir))
    carryUncommitted(prev.toString, dir)
    BatchFs.deleteRecursively(prev)
  }

  // ---- remove_ids: the deletion half of the lifecycle -----------------

  /** Remove vectors by id from a persisted index — FAISS
    * `IndexIVF.remove_ids(IDSelector)`. FAISS removes EAGERLY (an
    * O(ntotal) rewrite of every inverted list, fine single-node); at
    * 100 TB an eager rewrite per delete call is a scale-killer, so the
    * persisted layout records removals in an append-only tombstone log
    * (`dir/tombstones/`, one `id` column) that [[loadLive]] anti-joins
    * at read time and [[compactTombstones]] folds into a physical
    * rewrite on a maintenance cadence — the deletion-vector posture of
    * the large-table formats, applied to the inverted file. Returns
    * the number of live vectors newly tombstoned (FAISS's n_removed):
    * absent and already-removed ids count zero, so a crash-replayed
    * removal is harmless (the read-side anti-join is idempotent even
    * if the log holds duplicates). Lease-fenced like every other
    * mutating log writer. */
  def removeIds(spark: SparkSession, dir: String, ids: DataFrame,
                idCol: String): Long =
    BatchFs.withLease(dir, "tombstones") { fence =>
      import java.nio.file.{Files, Paths}
      val want = ids.select(col(idCol).as("id")).distinct()
      val index = load(spark, dir)
      val present = want.join(index.postings.select(col("id")), Seq("id"), "left_semi")
      val tombDir = s"$dir/tombstones"
      val newly =
        if (Files.exists(Paths.get(tombDir)))
          present.join(spark.read.parquet(tombDir), Seq("id"), "left_anti")
        else present
      val staged = newly.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = staged.count()
      fence() // abort before touching the log if the lease is gone
      if (n > 0) staged.coalesce(1).write.mode("append").parquet(tombDir)
      staged.unpersist(blocking = false)
      n
    }

  /** Load a persisted index with tombstones applied — the live view
    * every reader should use once removals exist. The tombstone side
    * of the anti-join is small until compaction debt builds (AQE
    * broadcasts it); the postings side keeps partition pruning because
    * `list_id` predicates sit on the scan below the join. The serving
    * handle of the returned index, when it has one, applies the
    * anti-join once, at open. */
  def loadLive(spark: SparkSession, dir: String): Index = {
    import java.nio.file.{Files, Paths}
    val idx = load(spark, dir)
    val tombDir = s"$dir/tombstones"
    if (!Files.exists(Paths.get(tombDir))) idx
    else Index(idx.centroids,
      idx.postings.join(spark.read.parquet(tombDir), Seq("id"), "left_anti"))
  }

  /** Fold the tombstone log into the physical layout: rewrite the
    * COMMITTED postings minus tombstones as a fresh generation under
    * the SAME centroids (no retrain), carry crashed uncommitted batch
    * files, and clear the log only when nothing uncommitted remains (a
    * carried batch's replay re-appends rows whose removal must stay
    * visible, so the log is retained until replays settle). Same
    * single-writer maintenance posture and crash recovery as
    * [[maintainIndex]]; holds the tombstone lease so a concurrent
    * [[removeIds]] cannot append between the log read and the swap.
    * Returns the number of posting rows physically dropped. */
  def compactTombstones(spark: SparkSession, dir: String): Long =
    BatchFs.withLease(dir, "tombstones") { fence =>
      import java.nio.file.{Files, Paths}
      recoverPromotion(dir)
      val tombDir = s"$dir/tombstones"
      val (committed, uncommitted) = classifyPostings(dir)
      if (!Files.exists(Paths.get(tombDir)) || committed.isEmpty) 0L
      else compactTombstonesInner(spark, dir, tombDir, committed, uncommitted, fence)
    }

  private def compactTombstonesInner(spark: SparkSession, dir: String,
                                     tombDir: String,
                                     committed: List[java.nio.file.Path],
                                     uncommitted: List[java.nio.file.Path],
                                     fence: () => Unit): Long = {
      import java.nio.file.{Files, Paths}
      val tombs = spark.read.parquet(tombDir)
      val current = spark.read.option("basePath", s"$dir/postings")
        .parquet(committed.map(_.toString): _*)
      val live = current.join(tombs, Seq("id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dropped = current.count() - live.count()
      val staging = s"$dir.next-gen"
      BatchFs.deleteRecursively(Paths.get(staging))
      load(spark, dir).centroids.write.parquet(s"$staging/centroids")
      live.repartition(col("list_id"))
        .write.partitionBy("list_id").parquet(s"$staging/postings")
      live.unpersist(blocking = false)
      copyCommitMarkers(dir, staging)
      // retain the log in the new generation iff uncommitted batches
      // remain (their replay must still see the removals)
      if (uncommitted.nonEmpty) {
        val src = Paths.get(tombDir)
        val dst = Paths.get(s"$staging/tombstones")
        val s = Files.walk(src)
        try s.forEach { p =>
          val rel = dst.resolve(src.relativize(p).toString)
          if (Files.isDirectory(p)) Files.createDirectories(rel)
          else { Files.createDirectories(rel.getParent); Files.copy(p, rel); () }
        } finally s.close()
      }
      fence()
      promoteGeneration(dir, staging)
      dropped
  }

  // Registered-query surface for the append lifecycle (the §7.5
  // maintenance path as a driver-visible query): build on the first
  // half of the sf embeddings, append the second half against the
  // FROZEN centroids, report per-list stats of the result. Memoized
  // per sfDir — parquet append is not idempotent, so Verify + the
  // bench's three reps must share one generation; the directory is
  // recreated fresh per JVM.
  private val appendStatsCache = JvmCaches.sessionMap[String, DataFrame]()

  def appendHalfStats(spark: SparkSession, sfDir: String,
                      nlist: Int = 4): DataFrame =
    appendStatsCache.getOrElseUpdate(spark, sfDir) {
      val emb = graft.Tables.embeddings(spark, sfDir)
      val split = emb.count() / 2
      val dir = s"/root/repo/target/ivf-append/${new java.io.File(sfDir).getName}-nlist$nlist"
      deleteRecursively(dir)
      val idx = build(emb.filter(col("vec_id") < split),
        "vec_id", "embedding", nlist)
      save(idx, dir)
      idx.postings.unpersist(blocking = false)
      append(spark, dir, emb.filter(col("vec_id") >= split),
        "vec_id", "embedding")
      val out = listStats(load(spark, dir)).cache()
      out.count()
      out
    }

  private def deleteRecursively(dir: String): Unit =
    BatchFs.deleteRecursively(java.nio.file.Paths.get(dir))

  // --- per-JVM index cache so repeated query-entry invocations ---
  // --- (Verify, Bench) don't re-train per call                 ---
  private val cache = JvmCaches.sessionMap[(String, Int), Index]()

  /** Build (or fetch cached) index over the sf embeddings table
    * (postings are already persisted+materialized by [[build]]). */
  def forEmbeddings(spark: SparkSession, sfDir: String, nlist: Int): Index =
    cache.getOrElseUpdate(spark, (sfDir, nlist))(
      build(graft.Tables.embeddings(spark, sfDir), "vec_id", "embedding", nlist))

  /** Search a set of independently-trained shards and merge — FAISS
    * `IndexShards` (`shard = true` sharding: each shard holds a slice
    * of the corpus; a query fans out to every shard and the per-shard
    * top-k lists merge into one global top-k). The 100 TB posture this
    * models: a corpus ingested as N generations/slices, each trained
    * and persisted independently, queried WITHOUT the re-bucketing
    * cost of [[mergeFrom]] — the merge is k·S rows, and each shard
    * searches only its own probed lists. Distances are
    * exact per shard (IVFFlat raw vectors), so with `nprobe = nlist`
    * on every shard the merged result over a shard-PARTITIONED corpus
    * equals the exact global scan bit-for-bit: each shard's top-k is
    * complete for its slice, and the global top-k is a subset of the
    * union of slice top-ks. When every shard has a serving handle the
    * driver merges their hits by `(dist, id)` and no Spark job runs;
    * otherwise the shards' [[search]] frames are unioned and re-ranked. */
  def searchShards(indexes: Seq[Index], q: Array[Float], k: Int, nprobe: Int,
                   excludeId: Option[Long] = None): DataFrame = {
    require(indexes.nonEmpty, "searchShards: no shards")
    val cut = TopK(k)
    val handles = indexes.flatMap(_.serving)
    if (handles.size == indexes.size) {
      val hits = indexes.zip(handles).flatMap { case (ix, h) =>
        h.hits(q, probeLists(ix, q, nprobe), cut, excludeId, withVecs = false) }
      IvfServing.frame(indexes.head.postings.sparkSession,
        IvfServing.merge(hits, cut), withVecs = false)
    } else
      indexes.map(ix => search(ix, q, k, nprobe, excludeId))
        .reduce(_ union _)
        .orderBy(col("dist").asc, col("id").asc)
        .limit(k)
  }

  private val shardCache = JvmCaches.sessionMap[(String, Int, Int), Seq[Index]]()

  /** Two-or-more shard split of the sf embeddings (vec_id mod
    * `nShards`), each shard trained independently — the IndexShards
    * test/registration fixture. Memoized like [[forEmbeddings]]. */
  def shardsForEmbeddings(spark: SparkSession, sfDir: String,
                          nShards: Int = 2, nlist: Int = 2): Seq[Index] =
    shardCache.getOrElseUpdate(spark, (sfDir, nShards, nlist)) {
      val emb = graft.Tables.embeddings(spark, sfDir)
      (0 until nShards).map { s =>
        build(emb.filter(pmod(col("vec_id"), lit(nShards.toLong)) === s.toLong),
          "vec_id", "embedding", nlist)
      }
    }

  /** Merge another persisted index into `dir` — FAISS
    * `IndexIVF.merge_from(other)` (other's vectors move in; other is
    * emptied). FAISS requires the two indexes to share nlist/metric
    * and assumes one trained quantizer; here that is REQUIRED
    * bit-for-bit (differing centroids would silently misfile every
    * moved vector, so the merge fails loudly instead). The merge is
    * pure metadata motion: postings files move per list-partition
    * directory (no data-plane job — both sides already bucketed by the
    * same quantizer), tombstone logs union, and other's commit markers
    * carry so a replay of one of its appended batches no-ops against
    * the merged directory. File-name collisions (same batch tag
    * appended to both sides — two writers sharing a marker namespace)
    * fail loudly rather than clobber. Holds both postings leases for
    * the duration. Returns the number of vectors moved. */
  def mergeFrom(spark: SparkSession, dir: String, otherDir: String): Long =
    BatchFs.withLease(dir, "postings") { fence =>
      BatchFs.withLease(otherDir, "postings") { _ =>
        import java.nio.file.{Files, Paths}
        val a = load(spark, dir)
        val b = load(spark, otherDir)
        val ca = a.centroidArrays.sortBy(_._1)
        val cb = b.centroidArrays.sortBy(_._1)
        require(ca.length == cb.length &&
          ca.zip(cb).forall { case ((la, va), (lb, vb)) =>
            la == lb && va.sameElements(vb) },
          s"merge_from requires bit-identical quantizers: $dir vs $otherDir")
        val moved = b.postings.count()
        fence()
        // postings: move each file under its matching list partition
        val srcRoot = Paths.get(s"$otherDir/postings")
        BatchFs.children(srcRoot)
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("list_id="))
          .foreach { listDir =>
            val dstDir = Paths.get(s"$dir/postings").resolve(listDir.getFileName)
            Files.createDirectories(dstDir)
            BatchFs.children(listDir)
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .foreach { f =>
                val dst = dstDir.resolve(f.getFileName)
                require(!Files.exists(dst),
                  s"merge_from file collision: $dst (marker namespaces shared across writers?)")
                Files.move(f, dst)
              }
          }
        // tombstones: union (removals on either side stay visible)
        val srcTombs = Paths.get(s"$otherDir/tombstones")
        if (Files.exists(srcTombs)) {
          val dstTombs = Paths.get(s"$dir/tombstones")
          Files.createDirectories(dstTombs)
          BatchFs.children(srcTombs)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .foreach { f =>
              var dst = dstTombs.resolve(f.getFileName)
              if (Files.exists(dst))
                dst = dstTombs.resolve(s"merged-${f.getFileName}")
              require(!Files.exists(dst), s"merge_from tombstone collision: $dst")
              Files.move(f, dst)
            }
        }
        // markers: carry so other's batch replays no-op here
        val srcMarkers =
          Paths.get(s"$otherDir/_committed/${BatchFs.MarkerSchemeVersion}")
        if (Files.exists(srcMarkers)) {
          val dstMarkers =
            Paths.get(s"$dir/_committed/${BatchFs.MarkerSchemeVersion}")
          Files.createDirectories(dstMarkers)
          BatchFs.children(srcMarkers).foreach { m =>
            val dst = dstMarkers.resolve(m.getFileName)
            require(!Files.exists(dst),
              s"merge_from marker collision: ${m.getFileName} (use distinct append namespaces)")
            Files.move(m, dst)
          }
        }
        // other is emptied, FAISS-style: its directory stays loadable
        // with zero postings
        BatchFs.children(srcRoot).foreach(BatchFs.deleteRecursively)
        moved
      }
    }

  private val mergeCache = JvmCaches.sessionMap[String, Index]()

  /** merge_from as a registered-query surface: one quantizer trained
    * on the sf corpus, postings split even/odd across two generations,
    * odd merged into even, live view returned. Memoized per sfDir
    * (the merge mutates both directories). */
  def mergedForEmbeddings(spark: SparkSession, sfDir: String,
                          nlist: Int = 4): Index =
    mergeCache.getOrElseUpdate(spark, sfDir) {
      val base = s"/root/repo/target/ivf-merge/${new java.io.File(sfDir).getName}"
      val dirA = s"$base-even"
      val dirB = s"$base-odd"
      deleteRecursively(dirA); deleteRecursively(dirB)
      val full = build(graft.Tables.embeddings(spark, sfDir),
        "vec_id", "embedding", nlist)
      val even = Index(full.centroids, full.postings.filter(col("id") % 2 === 0))
      val odd = Index(full.centroids, full.postings.filter(col("id") % 2 === 1))
      save(even, dirA)
      save(odd, dirB)
      full.postings.unpersist(blocking = false)
      mergeFrom(spark, dirA, dirB)
      loadLive(spark, dirA)
    }

  private val removeCache = JvmCaches.sessionMap[(String, Boolean), Index]()

  /** The remove_ids lifecycle as a registered-query surface: build and
    * save a fresh generation over the sf embeddings, tombstone every
    * vec_id ≡ 3 (mod 10), and return the live view — optionally after
    * folding the log into a physical compaction first. Memoized per
    * (sfDir, compacted): removal mutates the directory, so Verify and
    * the bench's reps must share one generation per JVM. */
  def removedForEmbeddings(spark: SparkSession, sfDir: String,
                           compacted: Boolean, nlist: Int = 4): Index =
    removeCache.getOrElseUpdate(spark, (sfDir, compacted)) {
      val tag = if (compacted) "compacted" else "live"
      val dir =
        s"/root/repo/target/ivf-remove/${new java.io.File(sfDir).getName}-$tag"
      deleteRecursively(dir)
      val emb = graft.Tables.embeddings(spark, sfDir)
      val idx = build(emb, "vec_id", "embedding", nlist)
      save(idx, dir)
      idx.postings.unpersist(blocking = false)
      removeIds(spark, dir, emb.filter(col("vec_id") % 10 === 3), "vec_id")
      if (compacted) compactTombstones(spark, dir)
      loadLive(spark, dir)
    }

  private val persistedCache = JvmCaches.sessionMap[(String, Int), Index]()

  /** The reference's full persistence lifecycle (save → load → search,
    * app.py:116-147) as one memoized step: build the sf index, save it
    * partitionBy(list_id), and return the DISK-backed index — the
    * filtered searches scan the parquet postings with partition
    * pruning, the layout the 100 TB design claims (scaladoc above), and
    * the serving handle of single-query search is read from those
    * files. Unlike [[forEmbeddings]] the postings frame is not cached. */
  def persistedForEmbeddings(spark: SparkSession, sfDir: String, nlist: Int): Index =
    persistedCache.getOrElseUpdate(spark, (sfDir, nlist)) {
      val dir = s"/root/repo/target/ivf-index/${new java.io.File(sfDir).getName}-nlist$nlist"
      save(forEmbeddings(spark, sfDir, nlist), dir)
      load(spark, dir)
    }
}
