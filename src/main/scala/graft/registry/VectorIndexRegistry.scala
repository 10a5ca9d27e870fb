package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import OracleFragments._

/** Vector search + the FAISS index-API surface (SURVEY §2.3-2.6, §2.8 F5): exact kNN, IVF lifecycle, quantizers, metrics, factory strings, shards, filtered search, clustering.
  *
  * One slice of the driver registry (see [[graft.SparkEntry]], which
  * composes all slices): entry text is verbatim from the pre-split
  * SparkEntry, so the oracle gate's evidence carries over unchanged.
  */
private[graft] object VectorIndexRegistry {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- vector search, exact mode (SURVEY §2.3 J1/J4, §2.6 T1, F5) ---
    "knn_exact_l2" -> ((s, d) => VectorSearchOps.knnExactL2(s, d)),
    "knn_exact_cosine" -> ((s, d) => VectorSearchOps.knnExactCosine(s, d)),
    "knn_batch_exact" -> ((s, d) => VectorSearchOps.knnBatchExact(s, d)),
    "label_centroids" -> ((s, d) => VectorOps.centroidsByLabel(s, d)),
    // embedding-space anomaly detection: top-k farthest-from-centroid
    // per label (decimal-sum centroids + the l2sq sequential fold)
    "centroid_outliers" -> ((s, d) => VectorOps.centroidOutliers(s, d)),
    "hard_negatives" -> ((s, d) => VectorSearchOps.hardNegatives(s, d)),
    // corpus-wide LSH-bucketed mining: registered surface is the
    // self-audit (cross-label/cosine/rank invariants + the measured
    // recall floor vs the exact mode, stated literal TRUE by the
    // oracle — the vocab_cms pattern); raw pairs via
    // VectorSearchOps.hardNegativesLsh
    "hard_negatives_lsh" -> ((s, d) => IndexAudits.hardNegativesLshAudit(s, d)),
    "similarity_join_exact" -> ((s, d) => VectorSearchOps.similarityJoinExact(s, d)),
    "similarity_join_stats" -> ((s, d) => VectorSearchOps.similarityJoinStats(s, d)),
    // --- IVF index (SURVEY §2.4 A1/A2, §2.3 J2/J3, §2.6 T4) ---
    // list membership is k-means-dependent; the registered surface is
    // the partition audit (lists cover the corpus bijectively — all
    // deterministic); per-list counts via IvfIndex.listStats
    "ivf_build_stats" -> ((s, d) => IndexAudits.ivfBuildAudit(s, d)),
    // nprobe = nlist probes every list; IVFFlat stores raw vectors, so
    // this must equal the exact scan (reference semantics,
    // app.py:47-48,55) — its oracle is the exact-kNN SQL.
    "ivf_search_full" -> ((s, d) => {
      val q = Tables.queryVector(s, d, 0L)
      IvfIndex.search(IvfIndex.forEmbeddings(s, d, nlist = 4), q,
          k = 10, nprobe = 4, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    }),
    // nprobe < nlist prunes lists: which hits survive is k-means-
    // dependent, so the registered surface is the self-audit (exact
    // distance recompute, tight top-k over the probed candidate set,
    // measured recall floor); raw hits via IvfIndex.search
    "ivf_search_pruned" -> ((s, d) =>
      IndexAudits.prunedSearchAudit(s, d, persisted = false)),
    "knn_batch_ivf" -> ((s, d) => IndexAudits.batchIvfAudit(s, d)),
    // --- streaming index maintenance (SURVEY §7.5): build on half,
    // append the rest against frozen centroids ---
    // (list membership is k-means-dependent; the registered surface is
    // the lifecycle audit — appended lists still partition the full
    // corpus, shares sum to 1; per-list stats via IvfIndex.listStats,
    // argmin assignment pinned by IndexMaintenanceSpec)
    "ivf_append_stats" -> ((s, d) => IndexAudits.ivfAppendAudit(s, d)),
    // --- clustering (SURVEY §2.4 A3, §2.2 P3/P4, app.py:77-114) ---
    "cluster_exact" -> ((s, d) => Clustering.clusterExact(s, d, eps = 1.2)),
    "cluster_sizes" -> ((s, d) =>
      Clustering.clusterSizes(Clustering.clusterExact(s, d, eps = 1.2))),
    // IVF-graph clustering: cluster numbering is k-means-dependent,
    // so the registered surface is the per-vector audit (refinement of
    // the exact ε-graph is deterministic; canonical agreement clears
    // the measured floor); raw assignment via Clustering.clusterIvf
    "cluster_ivf" -> ((s, d) => IndexAudits.clusterIvfAudit(s, d)),
    // --- persisted-index lifecycle (S3/S4, app.py:116-147): search
    // runs against the partitionBy(list_id) parquet layout on disk ---
    "ivf_persisted_search" -> ((s, d) => {
      val q = Tables.queryVector(s, d, 0L)
      IvfIndex.search(IvfIndex.persistedForEmbeddings(s, d, nlist = 4), q,
          k = 10, nprobe = 4, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    }),
    // persisted + pruned: the audit additionally pins that the disk-
    // backed index returns bit-identical results to the in-memory one
    "ivf_persisted_pruned" -> ((s, d) =>
      IndexAudits.prunedSearchAudit(s, d, persisted = true)),
    // --- per-query ε range search (FAISS range_search; the P3 strict-<
    // predicate applied from a single probe, app.py:93/275) ---
    "range_search" -> ((s, d) => VectorSearchOps.rangeSearch(s, d)),
    // nprobe = nlist over the persisted index probes every list, so
    // (IVFFlat stores raw vectors) this equals the exact range search —
    // its oracle is the same all-pairs ε SQL
    "range_search_ivf" -> ((s, d) => {
      val q = Tables.queryVector(s, d, 0L)
      IvfIndex.rangeSearch(IvfIndex.persistedForEmbeddings(s, d, nlist = 4), q,
          eps = 1.6, nprobe = 4, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    }),
    // nprobe < nlist prunes lists: visibility is k-means-dependent, so
    // the registered surface is the self-audit (exact-recompute
    // distances, subset-of-exact, exhaustive-within-probed, recall
    // floor); raw hits via IvfIndex.rangeSearch
    "range_search_pruned" -> ((s, d) => IndexAudits.rangeSearchPrunedAudit(s, d)),
    // batched range search (FAISS range_search over nq queries → the
    // lims/CSR result as a long frame); broadcast query batch, corpus
    // never shuffles
    "range_search_batch" -> ((s, d) => VectorSearchOps.rangeSearchBatch(s, d)),
    // --- METRIC_INNER_PRODUCT (MIPS; FAISS IndexFlatIP / IVFFlat-IP) ---
    // exact top-k by dot product descending, (ip DESC, id ASC) tiebreak
    "knn_ip" -> ((s, d) => IpSearch.knnExactIp(s, d)),
    // IP-metric IVF at nprobe = nlist scans every list (raw vectors),
    // so it equals the exact MIPS scan — same oracle SQL
    "knn_ip_ivf" -> ((s, d) => {
      val q = Tables.queryVector(s, d, 0L)
      IpSearch.searchIp(IpSearch.forEmbeddingsIp(s, d, nlist = 4), q,
          k = 10, nprobe = 4, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    }),
    // pruned IP search: list visibility is k-means-dependent, so the
    // registered surface is the self-audit (exact-recompute scores,
    // top-k tight within probed lists, measured IP recall floor)
    "ip_search_pruned" -> ((s, d) => IndexAudits.ipPrunedAudit(s, d)),
    // persisted IP index (same directory layout as the L2 family —
    // the metric lives in the kernels, not the storage); nprobe =
    // nlist ≡ the exact MIPS scan, same oracle
    "knn_ip_persisted" -> ((s, d) => {
      val q = Tables.queryVector(s, d, 0L)
      IpSearch.searchIp(IpSearch.persistedForEmbeddingsIp(s, d, nlist = 4), q,
          k = 10, nprobe = 4, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    }),
    // --- fp16 scalar quantizer (FAISS SQ QT_fp16): DuckDB has no
    // binary16, so the registered surface is the contract audit ---
    "knn_f16" -> ((s, d) => IndexAudits.f16Audit(s, d)),
    // --- trained per-dim 8-bit SQ (FAISS QT_8bit proper): seedless
    // min/max model, floor(r+0.5) codes, PqAdc LUT search — both
    // hash-exact (the knn_quantized precedent) ---
    "sq8t_stats" -> ((s, d) => Sq8Trained.stats(s, d)),
    "knn_sq8t" -> ((s, d) => Sq8Trained.knn(s, d)),
    // invlists.imbalance_factor: restated count + invariant bounds
    // all_lists_nonempty is k-means-dependent (informational) — the
    // oracle pins only the configured nlist and the two invariants
    "ivf_imbalance" -> ((s, d) => IndexAudits.imbalanceAudit(s, d)
      .drop("all_lists_nonempty")),
    // --- cosine-metric IVF (normalize-and-use-L2, the FAISS cosine
    // recipe): unit-trained quantizer, raw vectors scored by
    // cosine_sim, nprobe = nlist ≡ the exact cosine scan bit-for-bit
    "knn_cosine_ivf" -> ((s, d) => {
      val q = Tables.queryVector(s, d, 0L)
      CosineIvf.search(CosineIvf.forEmbeddings(s, d, nlist = 4), q,
          k = 10, nprobe = 4, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    }),
    // --- search_and_reconstruct: top-k + the stored vectors in one
    // probed scan (bit-exact for IVFFlat; dim/c0/recon-dist projected
    // so the oracle can restate the payload from the parquet) ---
    "search_reconstruct" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, d)
      val q = Tables.queryVector(s, d, 0L)
      val res = IvfIndex.searchAndReconstruct(
        IvfIndex.persistedForEmbeddings(s, d, nlist = 4), q,
        k = 10, nprobe = 4, excludeId = Some(0L))
      res.join(emb.select(col("vec_id").as("id"), col("embedding").as("orig")), Seq("id"))
        .select(col("id").as("vec_id"), col("dist"),
          size(col("embedding")).cast("long").as("dim"),
          col("embedding")(0).cast("double").as("c0"),
          graft.functions.l2sq(col("embedding"), col("orig")).as("recon_dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
    }),
    // --- index_factory (the FAISS constructor-string surface) ---
    // "IVF4,Flat" at nprobe = nlist ≡ the exact scan — the factory
    // string drives the same engine family the constructor form does
    "factory_search" -> ((s, d) =>
      IndexFactory.search(s, d, "IVF4,Flat", queryId = 0L, k = 10, nprobe = 4)),
    // the parser itself under the oracle gate: deterministic
    // (pos, kind, param) rows for a four-component factory string
    "factory_parse" -> ((s, d) => IndexFactory.parseToDf(s, "IDMap,PCA24,IVF4,PQ8")),
    // --- nprobe autotune (FAISS ParameterSpace): the recall/cost curve
    // with its deterministic contract flags (see IndexAudits) ---
    "autotune_nprobe" -> ((s, d) => IndexAudits.autotuneNprobe(s, d)),
    // --- graph-ANN (the HNSW-family answer; see GraphAnn's scaladoc
    // for the distributed-engine adjudication): NN-descent k-NN-graph
    // build audit + multi-seed beam-search audit, both hash-seeded and
    // fully deterministic (no k-means anywhere in the pipeline) ---
    "knn_graph_stats" -> ((s, d) => GraphAnn.graphBuildAudit(s, d)),
    "knn_graph_search" -> ((s, d) => GraphAnn.graphSearchAudit(s, d)),
    // r15: the beam entered from geometry-spread seeds (one per
    // occupied LSH cell — on cluster-pure high-dim graphs recall IS
    // seed coverage; the decade's 0.000 → 1.000 fix), plus the seed
    // determinism/bound contract
    "knn_graph_spread" -> ((s, d) => GraphAnn.graphSpreadAudit(s, d)),
    // r15: persisted serving over the bucket-partitioned adjacency
    // (frontier-bucket PartitionFilters pruning — the r14 verdict's
    // scale fix), engine-compared bit-for-bit against the in-memory
    // beam; batched lockstep serving (ONE pruned scan + ONE distance
    // probe per hop for the whole 32-query batch — the graph twin of
    // knn_batch128); and the incremental closure (append wave under
    // the BatchFs marker/lease protocol + NN-descent repair ≡
    // fresh-build recall parity, replay no-op pinned in-audit)
    "knn_graph_persisted" -> ((s, d) => GraphAnn.graphPersistedAudit(s, d)),
    "knn_graph_batch" -> ((s, d) => GraphAnn.graphBatchAudit(s, d)),
    "knn_graph_append" -> ((s, d) => GraphAnn.graphAppendAudit(s, d)),
    // --- 128-query batch service (the qps/amortization bench entry,
    // r14): ONE searchAll pass serves all 128 probes — one narrow map
    // over the queries against the serving handle's broadcast lists
    // (the 500k twin above the serving bound keeps the centroid rank,
    // candidate equi-join and per-query window) — vs 128 sequential
    // searches. At nprobe = nlist the batch result ≡
    // the exact per-query window, so the entry is hash-exact while
    // Bench times the amortized plan; the 500k-fixture twin measures
    // the amortization factor directly (VECTOR_DECADE artifact). ---
    "knn_batch128" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val idx = IvfIndex.forEmbeddings(s, d, 4)
      IvfIndex.searchAll(idx,
        graft.Tables.embeddings(s, d).filter(col("vec_id") < 128),
        "vec_id", "embedding", k = 10, nprobe = 4)
        .orderBy(col("src_id").asc, col("rank").asc)
    }),
    // --- IndexShards: two independently-trained shards over a
    // vec_id-mod-2 partition of the corpus; per-shard top-k merge at
    // nprobe = nlist ≡ the exact global scan ---
    "sharded_search" -> ((s, d) => {
      val q = Tables.queryVector(s, d, 0L)
      IvfIndex.searchShards(IvfIndex.shardsForEmbeddings(s, d, nShards = 2, nlist = 2),
          q, k = 10, nprobe = 2, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    }),
    // --- filtered search (FAISS SearchParameters.sel / IDSelector) ---
    // exact twin: metadata selector (label) below the top-k
    "knn_filtered" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      VectorSearchOps.knnFilteredExact(s, d, col("label") === 1)
    }),
    // id-range selector (FAISS IDSelectorRange) pushed into the pruned
    // postings scan; nprobe = nlist ≡ the exact filtered scan
    "knn_filtered_ivf" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val q = Tables.queryVector(s, d, 0L)
      IvfIndex.searchFiltered(IvfIndex.persistedForEmbeddings(s, d, nlist = 4),
          q, k = 10, nprobe = 4,
          sel = col("id") >= 100L && col("id") < 400L, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    }),
    // metadata selector via the semi-join path (searchFilteredBy):
    // same contract as knn_filtered at nprobe = nlist
    "knn_filtered_meta" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val q = Tables.queryVector(s, d, 0L)
      IvfIndex.searchFilteredBy(IvfIndex.persistedForEmbeddings(s, d, nlist = 4),
          q, k = 10, nprobe = 4, meta = emb, metaIdCol = "vec_id",
          pred = col("label") === 1, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    }),
    // pruned + filtered (the production shape): deterministic flags +
    // recall floor via the self-audit, like range_search_pruned
    "knn_filtered_pruned" -> ((s, d) => IndexAudits.filteredPrunedAudit(s, d)),
    // --- remove_ids (FAISS IndexIVF.remove_ids): tombstone log +
    // read-side anti-join; nprobe = nlist ≡ exact over survivors ---
    "ivf_remove_search" -> ((s, d) => {
      val q = Tables.queryVector(s, d, 0L)
      IvfIndex.search(IvfIndex.removedForEmbeddings(s, d, compacted = false),
          q, k = 10, nprobe = 4, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    }),
    // same removal folded into a physical compaction (tombstone log
    // cleared, postings rewritten) — identical result by contract
    "ivf_remove_compacted" -> ((s, d) => {
      val q = Tables.queryVector(s, d, 0L)
      IvfIndex.search(IvfIndex.removedForEmbeddings(s, d, compacted = true),
          q, k = 10, nprobe = 4, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    }),
    // --- merge_from (FAISS IndexIVF.merge_from): two generations
    // sharing one quantizer merged by pure file motion; nprobe = nlist
    // over the merged index ≡ exact over the whole corpus ---
    "ivf_merge_search" -> ((s, d) => {
      val q = Tables.queryVector(s, d, 0L)
      IvfIndex.search(IvfIndex.mergedForEmbeddings(s, d),
          q, k = 10, nprobe = 4, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    }),
    // --- reconstruct (FAISS reconstruct_batch): id → stored vector,
    // bit-exact for IVFFlat; dist-to-original restated as 0 ---
    "ivf_reconstruct" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, d)
      val recon = IvfIndex.reconstruct(
        IvfIndex.persistedForEmbeddings(s, d, nlist = 4),
        emb.filter(col("vec_id") < 10L), "vec_id")
      recon.join(emb.select(col("vec_id").as("id"), col("embedding").as("orig")), Seq("id"))
        .select(col("id").as("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          col("embedding")(0).cast("double").as("c0"),
          graft.functions.l2sq(col("embedding"), col("orig")).as("recon_dist"))
        .orderBy(col("vec_id").asc)
    }),
  )

  val oracles: Map[String, String] = Map(

    "knn_exact_l2" ->
      s"""SELECT vec_id, d AS dist FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |ORDER BY d ASC, vec_id ASC LIMIT 10""".stripMargin,
    "knn_exact_cosine" ->
      s"""SELECT vec_id, s AS sim FROM (
         |  SELECT b.vec_id AS vec_id,
         |    ${sqlDot("a.embedding", "b.embedding")} /
         |      (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b.embedding", "b.embedding")})) AS s
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |ORDER BY s DESC, vec_id ASC LIMIT 10""".stripMargin,
    // contrastive hard-negative mining: most-similar cross-label pairs
    "hard_negatives" ->
      s"""WITH p AS (
         |  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
         |    ${sqlDot("a.embedding", "b.embedding")} /
         |      (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b.embedding", "b.embedding")})) AS sim
         |  FROM embeddings a JOIN embeddings b ON b.label <> a.label
         |  WHERE a.vec_id < 20),
         |r AS (
         |  SELECT anchor_id, neg_id, sim,
         |    row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neg_id ASC) AS rank
         |  FROM p)
         |SELECT anchor_id, rank::BIGINT AS rank, neg_id, sim FROM r
         |WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin,
    // decimal-sum mean per (label, component): shuffle-order-proof
    // (float/double sums are not associative; decimal sums are exact).
    // The ABS(v) < 5e-11 zero guard mirrors VectorOps.dec10 — a no-op
    // under HALF_UP that defuses DuckDB's sub-quantum sci-notation
    // parser misrounding ('6.375e-12' → 1E-10)
    "label_centroids" ->
      """SELECT label, pos,
        |  CAST(SUM(CAST(CAST(CASE WHEN ABS(CAST(v AS DOUBLE)) < 5e-11
        |      THEN 0 ELSE CAST(v AS DOUBLE) END AS VARCHAR)
        |    AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS mean
        |FROM (SELECT label, t.i - 1 AS pos, embedding[t.i] AS v
        |      FROM embeddings, range(1, 65) t(i))
        |GROUP BY label, pos
        |ORDER BY label, pos""".stripMargin,
    // per-label farthest-from-centroid outliers: decimal-sum centroids
    // (the label_centroids device) + the sequential double dist² fold
    // (the knn_exact_l2 device) + a rank window tiebroken on vec_id
    "centroid_outliers" ->
      """WITH cent AS (
        |  SELECT label, pos,
        |    CAST(SUM(CAST(CAST(CASE WHEN ABS(CAST(v AS DOUBLE)) < 5e-11
        |        THEN 0 ELSE CAST(v AS DOUBLE) END AS VARCHAR)
        |      AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS mean
        |  FROM (SELECT label, t.i - 1 AS pos, embedding[t.i] AS v
        |        FROM embeddings, range(1, 65) t(i))
        |  GROUP BY label, pos),
        |carr AS (SELECT label, list(mean ORDER BY pos) AS c FROM cent GROUP BY label),
        |d AS (
        |  SELECT e.vec_id, e.label,
        |    list_sum(list_transform(range(1, len(c) + 1), i ->
        |      (CAST(e.embedding[i] AS DOUBLE) - c[i]) *
        |      (CAST(e.embedding[i] AS DOUBLE) - c[i]))) AS dist2
        |  FROM embeddings e JOIN carr ON e.label = carr.label),
        |r AS (
        |  SELECT label, vec_id, dist2,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY dist2 DESC, vec_id ASC) AS rank
        |  FROM d)
        |SELECT label, rank, vec_id, dist2 FROM r
        |WHERE rank <= 10 ORDER BY label, rank""".stripMargin,
    "knn_batch_exact" ->
      s"""SELECT src_id, dst_id, dist, rank FROM (
         |  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         |    ${sqlL2sq("a.embedding", "b.embedding")} AS dist,
         |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${sqlL2sq("a.embedding", "b.embedding")} ASC, b.vec_id ASC) AS rank
         |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 20) t
         |WHERE rank <= 5
         |ORDER BY src_id, rank""".stripMargin,
    "similarity_join_exact" ->
      s"""SELECT a_id, b_id, d AS dist FROM (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t
         |WHERE d < 1.4
         |ORDER BY a_id, b_id""".stripMargin,
    "similarity_join_stats" ->
      s"""SELECT a_id, COUNT(*) AS n_pairs, MIN(d) AS min_dist, MAX(d) AS max_dist
         |FROM (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t
         |WHERE d < 1.6
         |GROUP BY a_id
         |ORDER BY a_id""".stripMargin,
    // nprobe = nlist ≡ exact scan (IVFFlat stores raw vectors): the
    // IVF path's oracle is the brute-force kNN SQL.
    "ivf_search_full" ->
      s"""SELECT vec_id, d AS dist FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |ORDER BY d ASC, vec_id ASC LIMIT 10""".stripMargin,
    // MATERIALIZED on the edge CTEs (here and in every recursive
    // oracle below): DuckDB re-evaluates an inlined CTE on each
    // fixpoint iteration, so the all-pairs ε-mine ran once per
    // reachability step — 291 s → 9.5 s at sf0.1, results identical
    "cluster_exact" ->
      s"""WITH RECURSIVE
         |edges AS MATERIALIZED (
         |  SELECT a.vec_id AS src, b.vec_id AS dst
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE ${sqlL2sq("a.embedding", "b.embedding")} < 1.2),
         |reach(src, node) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src),
         |comp AS (SELECT src AS vid, MIN(node) AS root, COUNT(*) AS csize
         |         FROM reach GROUP BY src),
         |rmap AS (SELECT root, ROW_NUMBER() OVER (ORDER BY root) - 1 AS cid
         |         FROM (SELECT DISTINCT root FROM comp WHERE csize > 1) t)
         |SELECT c.vid AS vec_id, COALESCE(r.cid, -1) AS cluster_id
         |FROM comp c LEFT JOIN rmap r ON c.root = r.root
         |ORDER BY vec_id""".stripMargin,
    "cluster_sizes" ->
      s"""WITH RECURSIVE
         |edges AS MATERIALIZED (
         |  SELECT a.vec_id AS src, b.vec_id AS dst
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE ${sqlL2sq("a.embedding", "b.embedding")} < 1.2),
         |reach(src, node) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src),
         |comp AS (SELECT src AS vid, MIN(node) AS root, COUNT(*) AS csize
         |         FROM reach GROUP BY src),
         |rmap AS (SELECT root, ROW_NUMBER() OVER (ORDER BY root) - 1 AS cid
         |         FROM (SELECT DISTINCT root FROM comp WHERE csize > 1) t)
         |SELECT r.cid AS cluster_id, COUNT(*) AS size
         |FROM comp c JOIN rmap r ON c.root = r.root
         |GROUP BY r.cid
         |ORDER BY size DESC, cluster_id ASC
         |LIMIT 100""".stripMargin,
    // per-query ε range search, exact: the P3 strict-< predicate from a
    // single probe — fully deterministic, hash-exact
    "range_search" ->
      s"""SELECT vec_id, d AS dist FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |WHERE d < 1.6
         |ORDER BY d ASC, vec_id ASC""".stripMargin,
    // nprobe = nlist ≡ exact range search (IVFFlat stores raw vectors)
    "range_search_ivf" ->
      s"""SELECT vec_id, d AS dist FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |WHERE d < 1.6
         |ORDER BY d ASC, vec_id ASC""".stripMargin,
    // pruned range search: n_exact is deterministic (restated below);
    // the flags are invariants the engine must hold (see
    // IndexAudits.rangeSearchPrunedAudit)
    "range_search_pruned" ->
      s"""SELECT CAST(1.6 AS DOUBLE) AS eps, count(*) AS n_exact,
         |  TRUE AS dists_match_ok, TRUE AS subset_of_exact_ok,
         |  TRUE AS complete_in_probed_ok, TRUE AS recall_ok
         |FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |WHERE d < 1.6""".stripMargin,
    // batched range search: all sampled queries' ε balls in one frame
    "range_search_batch" ->
      s"""SELECT src_id, dst_id, d AS dist FROM (
         |  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         |    ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id) t
         |WHERE d < 1.6
         |ORDER BY src_id ASC, d ASC, dst_id ASC""".stripMargin,
    // MIPS (METRIC_INNER_PRODUCT): exact top-k by dot DESC; the IVF
    // form at nprobe = nlist scans every list and equals it exactly
    "knn_ip" ->
      s"""SELECT vec_id, p AS ip FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlDot("a.embedding", "b.embedding")} AS p
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |ORDER BY p DESC, vec_id ASC LIMIT 10""".stripMargin,
    "knn_ip_ivf" ->
      s"""SELECT vec_id, p AS ip FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlDot("a.embedding", "b.embedding")} AS p
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |ORDER BY p DESC, vec_id ASC LIMIT 10""".stripMargin,
    "ip_search_pruned" ->
      """SELECT 10 AS n_hits, TRUE AS ips_match_ok,
        |  TRUE AS topk_tight_ok, TRUE AS recall_ok""".stripMargin,
    "knn_ip_persisted" ->
      s"""SELECT vec_id, p AS ip FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlDot("a.embedding", "b.embedding")} AS p
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |ORDER BY p DESC, vec_id ASC LIMIT 10""".stripMargin,
    // fp16 SQ: binary16 has no DuckDB type; deterministic contract flags
    "knn_f16" ->
      """SELECT 10 AS n_hits, TRUE AS roundtrip_err_ok,
        |  TRUE AS dists_close_ok, TRUE AS recall_ok""".stripMargin,
    // trained QT_8bit: the oracle re-derives the per-dim model and
    // replays the identical floor/decode/square arithmetic
    "sq8t_stats" ->
      s"""WITH dims AS (
         |  SELECT u.i AS i,
         |    min(CAST(e.embedding[u.i] AS DOUBLE)) AS vmin,
         |    max(CAST(e.embedding[u.i] AS DOUBLE)) AS vmax
         |  FROM embeddings e,
         |    LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) u
         |  GROUP BY u.i),
         |model AS (SELECT list(vmin ORDER BY i) AS vm,
         |  list(vmax - vmin ORDER BY i) AS vd FROM dims),
         |codes AS (
         |  SELECT e.vec_id,
         |    list_transform(range(1, len(e.embedding) + 1), i -> ${sq8tCode}) AS c
         |  FROM embeddings e, model m)
         |SELECT vec_id, list_sum(list_transform(c, x -> CAST(x AS BIGINT)))::BIGINT AS code_sum,
         |  CAST(list_min(c) AS BIGINT) AS code_min,
         |  CAST(list_max(c) AS BIGINT) AS code_max
         |FROM codes ORDER BY vec_id""".stripMargin,
    "ivf_imbalance" ->
      """SELECT count(*) AS n_vectors, 4 AS n_lists,
        |  TRUE AS imbalance_ge_one_ok, TRUE AS imbalance_le_nlists_ok
        |FROM embeddings""".stripMargin,
    "knn_sq8t" ->
      s"""WITH dims AS (
         |  SELECT u.i AS i,
         |    min(CAST(e.embedding[u.i] AS DOUBLE)) AS vmin,
         |    max(CAST(e.embedding[u.i] AS DOUBLE)) AS vmax
         |  FROM embeddings e,
         |    LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) u
         |  GROUP BY u.i),
         |model AS (SELECT list(vmin ORDER BY i) AS vm,
         |  list(vmax - vmin ORDER BY i) AS vd FROM dims),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |scored AS (
         |  SELECT e.vec_id AS vec_id,
         |    list_sum(list_transform(range(1, len(e.embedding) + 1), i ->
         |      ${sq8tErr} * ${sq8tErr})) AS d
         |  FROM embeddings e, model m, qv q
         |  WHERE e.vec_id <> 0)
         |SELECT vec_id, d AS dist FROM scored
         |ORDER BY d ASC, vec_id ASC LIMIT 10""".stripMargin,
    // cosine IVF at nprobe = nlist ≡ the exact cosine scan
    "knn_cosine_ivf" ->
      s"""SELECT vec_id, s AS sim FROM (
         |  SELECT b.vec_id AS vec_id,
         |    ${sqlDot("a.embedding", "b.embedding")} /
         |      (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b.embedding", "b.embedding")})) AS s
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |ORDER BY s DESC, vec_id ASC LIMIT 10""".stripMargin,
    // search_and_reconstruct: exact top-k + payload restated from the
    // parquet (recon_dist 0 = the stored vector is the original)
    "search_reconstruct" ->
      s"""SELECT t.vec_id, t.d AS dist, len(e.embedding)::BIGINT AS dim,
         |  CAST(e.embedding[1] AS DOUBLE) AS c0, CAST(0 AS DOUBLE) AS recon_dist
         |FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0
         |  ORDER BY d ASC, b.vec_id ASC LIMIT 10) t
         |JOIN embeddings e ON e.vec_id = t.vec_id
         |ORDER BY dist ASC, t.vec_id ASC""".stripMargin,
    // index_factory: "IVF4,Flat" at nprobe = nlist ≡ exact scan
    "factory_search" ->
      s"""SELECT vec_id, d AS dist FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |ORDER BY d ASC, vec_id ASC LIMIT 10""".stripMargin,
    // the parser's deterministic component rows
    "factory_parse" ->
      """SELECT * FROM (VALUES (0, 'IDMap', 0), (1, 'PCA', 24),
        |  (2, 'IVF', 4), (3, 'PQ', 8)) t(pos, kind, param)
        |ORDER BY pos""".stripMargin,
    // autotune sweep: cost axis is arithmetic; flags are invariants
    // (recall monotone by candidate-set growth; exact at full probe)
    "autotune_nprobe" ->
      """SELECT * FROM (VALUES
        |  (1, CAST(0.25 AS DOUBLE), TRUE, TRUE, TRUE),
        |  (2, CAST(0.5  AS DOUBLE), TRUE, TRUE, TRUE),
        |  (4, CAST(1.0  AS DOUBLE), TRUE, TRUE, TRUE))
        |  t(nprobe, scan_frac, monotone_ok, full_probe_exact_ok, target_reached_ok)
        |ORDER BY nprobe""".stripMargin,
    // graph-ANN build audit: count restated; structure, bit-exact edge
    // distances, and the recall floor vs the exact k-NN graph are the
    // engine-measured deterministic contract (hash-seeded pipeline)
    "knn_graph_stats" ->
      """SELECT count(*) AS n_nodes, 10 AS k, TRUE AS degree_ok,
        |  TRUE AS no_self_loops_ok, TRUE AS dists_exact_ok,
        |  TRUE AS graph_recall_ok
        |FROM embeddings""".stripMargin,
    // graph-ANN beam-search audit: k hits, exact stored distances,
    // recall@10 >= 0.8 vs the exact scan (deterministic, floor-pinned)
    "knn_graph_search" ->
      """SELECT CAST(10 AS BIGINT) AS n_hits, TRUE AS dists_exact_ok,
        |  TRUE AS recall_ok""".stripMargin,
    // geometry-spread entries: single-probe flags + the spreadSeeds
    // determinism and occupied-cell-bound contract (engine-measured)
    "knn_graph_spread" ->
      """SELECT CAST(10 AS BIGINT) AS n_hits, TRUE AS dists_exact_ok,
        |  TRUE AS recall_ok, TRUE AS seeds_deterministic_ok,
        |  TRUE AS seed_count_ok""".stripMargin,
    // persisted bucket-pruned serving: the single-probe flags plus
    // bit-identity with the in-memory beam (engine-compared)
    "knn_graph_persisted" ->
      """SELECT CAST(10 AS BIGINT) AS n_hits, TRUE AS dists_exact_ok,
        |  TRUE AS recall_ok, TRUE AS matches_memory_ok""".stripMargin,
    // batched lockstep serving over the persisted generation: 32
    // probes, every one k-complete, bit-exact distances, mean
    // recall@10 >= 0.8 vs the exact batch twin
    "knn_graph_batch" ->
      """SELECT CAST(32 AS BIGINT) AS n_queries, TRUE AS all_k_ok,
        |  TRUE AS dists_exact_ok, TRUE AS recall_ok""".stripMargin,
    // incremental closure: the repaired post-append generation carries
    // the fresh-build structural invariants and recall floor, the
    // replayed wave was a no-op, and serving over it clears the floor
    "knn_graph_append" ->
      """SELECT count(*) AS n_nodes, TRUE AS degree_ok,
        |  TRUE AS no_self_loops_ok, TRUE AS dists_exact_ok,
        |  TRUE AS graph_recall_ok, TRUE AS replay_noop_ok,
        |  TRUE AS search_recall_ok
        |FROM embeddings""".stripMargin,
    // 128-query batch at nprobe = nlist ≡ the exact per-query window
    "knn_batch128" ->
      s"""SELECT src_id, dst_id, dist, rank FROM (
         |  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         |    ${sqlL2sq("a.embedding", "b.embedding")} AS dist,
         |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${sqlL2sq("a.embedding", "b.embedding")} ASC, b.vec_id ASC) AS rank
         |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 128) t
         |WHERE rank <= 10
         |ORDER BY src_id, rank""".stripMargin,
    // IndexShards at nprobe = nlist over a partitioned corpus ≡ exact
    "sharded_search" ->
      s"""SELECT vec_id, d AS dist FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |ORDER BY d ASC, vec_id ASC LIMIT 10""".stripMargin,
    // filtered search: the selector predicate below the top-k — exact
    // metadata form, id-range IVF form at nprobe = nlist, and the
    // semi-join metadata form (same contract as the exact one)
    "knn_filtered" ->
      s"""SELECT vec_id, d AS dist FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0 AND b.label = 1) t
         |ORDER BY d ASC, vec_id ASC LIMIT 10""".stripMargin,
    "knn_filtered_ivf" ->
      s"""SELECT vec_id, d AS dist FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0
         |    AND b.vec_id >= 100 AND b.vec_id < 400) t
         |ORDER BY d ASC, vec_id ASC LIMIT 10""".stripMargin,
    "knn_filtered_meta" ->
      s"""SELECT vec_id, d AS dist FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0 AND b.label = 1) t
         |ORDER BY d ASC, vec_id ASC LIMIT 10""".stripMargin,
    // pruned filtered search: n_exact is deterministic (the id-range
    // filtered corpus exceeds k at every sf); the flags are engine
    // invariants (see IndexAudits.filteredPrunedAudit)
    "knn_filtered_pruned" ->
      """SELECT LEAST(10, count(*))::BIGINT AS n_exact,
        |  TRUE AS dists_match_ok, TRUE AS selector_ok,
        |  TRUE AS topk_exhaustive_ok, TRUE AS recall_ok
        |FROM embeddings
        |WHERE vec_id >= 100 AND vec_id < 400 AND vec_id <> 0""".stripMargin,
    // remove_ids: search over the survivors — the tombstoned ids
    // (vec_id ≡ 3 mod 10) never appear; compacted form identical
    "ivf_remove_search" ->
      s"""SELECT vec_id, d AS dist FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0 AND b.vec_id % 10 <> 3) t
         |ORDER BY d ASC, vec_id ASC LIMIT 10""".stripMargin,
    "ivf_remove_compacted" ->
      s"""SELECT vec_id, d AS dist FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0 AND b.vec_id % 10 <> 3) t
         |ORDER BY d ASC, vec_id ASC LIMIT 10""".stripMargin,
    // merge_from: the merged index holds every vector exactly once,
    // so nprobe = nlist search ≡ the plain exact kNN
    "ivf_merge_search" ->
      s"""SELECT vec_id, d AS dist FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |ORDER BY d ASC, vec_id ASC LIMIT 10""".stripMargin,
    // reconstruct: IVFFlat stores raw vectors, so the reconstruction
    // is the original embedding bit-for-bit — first component and
    // dist-to-original recomputed by the oracle from the parquet
    "ivf_reconstruct" ->
      """SELECT vec_id, len(embedding)::BIGINT AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS c0,
        |  CAST(0 AS DOUBLE) AS recon_dist
        |FROM embeddings WHERE vec_id < 10 ORDER BY vec_id""".stripMargin,
    // persisted index at nprobe = nlist ≡ exact scan (same contract as
    // ivf_search_full, now via the on-disk partitioned layout).
    "ivf_persisted_search" ->
      s"""SELECT vec_id, d AS dist FROM (
         |  SELECT b.vec_id AS vec_id, ${sqlL2sq("a.embedding", "b.embedding")} AS d
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0) t
         |ORDER BY d ASC, vec_id ASC LIMIT 10""".stripMargin,
    // ---- seed-/codebook-dependent index internals: the registered
    // surfaces are self-audits (IndexAudits) whose columns are either
    // deterministic counts the oracle restates from the base tables or
    // invariant flags the oracle states literal TRUE. Distance/cosine
    // recomputation equality, top-k tightness, probed-list membership,
    // partition bijectivity, and persisted ≡ memory are deterministic
    // by construction; recall floors are measured at both gate scales
    // with ≥ 1.4× margin (see IndexAudits scaladoc).
    "ivf_build_stats" ->
      """SELECT 4 AS n_lists, count(*) AS n_vectors,
        |  TRUE AS all_lists_nonempty, TRUE AS ids_bijective
        |FROM embeddings""".stripMargin,
    "ivf_append_stats" ->
      """SELECT 4 AS n_lists, count(*) AS total_rows,
        |  TRUE AS all_lists_nonempty, TRUE AS shares_sum_ok, TRUE AS covers_all
        |FROM embeddings""".stripMargin,
    "ivf_search_pruned" ->
      """SELECT 10 AS n_hits, TRUE AS dists_match_ok,
        |  TRUE AS topk_tight_ok, TRUE AS recall_ok""".stripMargin,
    "ivf_persisted_pruned" ->
      """SELECT 10 AS n_hits, TRUE AS dists_match_ok, TRUE AS topk_tight_ok,
        |  TRUE AS recall_ok, TRUE AS matches_memory_ok""".stripMargin,
    "knn_batch_ivf" ->
      """SELECT vec_id AS src_id, 5 AS n_hits, TRUE AS dists_match_ok,
        |  TRUE AS ranks_ok, TRUE AS recall_ok
        |FROM embeddings ORDER BY src_id""".stripMargin,
    "cluster_ivf" ->
      """SELECT vec_id, TRUE AS refinement_ok, TRUE AS agreement_ok
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "hard_negatives_lsh" ->
      """SELECT TRUE AS pairs_nonempty, TRUE AS cross_label_ok,
        |  TRUE AS sims_match_ok, TRUE AS ranks_ok, TRUE AS recall_ok""".stripMargin,
  )
}
