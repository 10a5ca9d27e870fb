package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.Ingest

/** PageRank centrality over the near-duplicate graph — an iterative
  * whole-graph operator beyond connected components (the reference has
  * neither; north-star extension per BASELINE.json §graph).
  *
  * Why a curation pipeline wants it: connected components says WHICH
  * docs form a duplicate group; centrality says WHICH MEMBER is the
  * hub. Boilerplate templates (headers, licence blocks, mirrored
  * landing pages) show up as high-centrality nodes of the near-dup
  * graph, and picking the canonical representative by centrality —
  * rather than min-id — keeps the most-connected (most template-like)
  * variant for inspection while flagging the group. The same scores
  * rank "how duplicated is this doc's neighborhood" for mixture
  * debugging.
  *
  * EXACT INTEGER ARITHMETIC, deliberately: ranks are BIGINTs scaled by
  * `Scale` (1e12), damping 0.85 applied as `(85·s) div 100` via an
  * overflow-safe split: with s = 100q + r that equals
  * `85q + (85r) div 100`, whose largest intermediate is 0.85·s — the
  * damped share can never overflow BIGINT unless the sum itself
  * already had. Integer sums are
  * order-independent, so shuffle order can never change a result —
  * the DuckDB oracle unrolls the same five iterations and matches
  * hash-exact, no float-summation-order caveats anywhere. Dangling
  * nodes (degree 0) keep only the teleport term; their mass leaks by
  * design (documented deviation from mass-conserving PageRank — the
  * SCORES ORDER identically for ranking use, and the leak is the price
  * of an order-independent integer formulation).
  *
  * Scale posture (100 TB): edges come from the banded-LSH pair miner
  * ([[Dedup.dedupMinhash]] — bucket-capped equi-join, never a cross
  * product, linear-ish in corpus size), so the graph is sparse by
  * construction. Each iteration is ONE equi-join of the rank table
  * against the persisted (src, dst, deg) edge table plus ONE
  * partial-aggregable integer sum by dst — the canonical distributed
  * PageRank step. Both the edge table AND the node table are persisted
  * once per session×sfDir (a node re-scan per iteration otherwise
  * re-reads the documents parquet `iterations+1` times); rank frames
  * reference their predecessor exactly once, and
  * [[GraphRank.CheckpointEvery]] bounds plan depth with an eager
  * localCheckpoint when the iteration count is raised past it.
  * Nothing is collected to the driver.
  *
  * The INCREMENTAL closure lives in the second half of this object:
  * the symmetrized edge set is itself an additive log (an edge mined
  * once never changes), so a growing corpus appends per-wave edges —
  * cross edges from a [[MinhashIndex.probe]] against the standing
  * index, intra-wave edges from the wave's own mine — under the
  * BatchFs marker protocol, and centrality refreshes from the log
  * without re-mining the standing corpus (the [[MinhashIndex.append]]
  * pattern; degrees are re-derived per retrain like the term index's
  * df/avgdl).
  */
object GraphRank {

  /** Fixed-point scale: ranks are stored as rank·1e12. */
  val Scale: Long = 1000000000000L

  /** Teleport term floor(0.15 · Scale) — exact (15·Scale divisible by 100). */
  val Base: Long = 15L * Scale / 100L

  val Damping = 85L // percent

  val Iterations = 5

  /** Eagerly localCheckpoint the rank frame every N iterations: the
    * iterated plan otherwise deepens linearly and Catalyst re-analyzes
    * the whole chain per action. 5 fixed iterations stay declarative
    * (no checkpoint fires at the default — the registered plan is
    * unchanged); anyone raising `iterations` past this bound gets
    * bounded plan depth automatically. */
  val CheckpointEvery = 8

  // The symmetrized (src, dst, deg) edge table and the node table are
  // each reused once per iteration; memoize them persisted so the
  // banded-LSH mine and the documents scan run once per session×sfDir
  // (the cachedSigs pattern).
  private val edgeCache = JvmCaches.sessionMap[String, (DataFrame, DataFrame)]()

  /** The shared iteration kernel: rank₀ = Scale for every node, then
    * `iterations` rounds of contribute-sum-damp against a persisted
    * (src, dst, deg) edge table. Returns (id, rank) ordered by id. */
  private def rankLoop(nodes: DataFrame, ed: DataFrame, iterations: Int,
                       checkpointEvery: Int = CheckpointEvery): DataFrame = {
    require(iterations >= 1, s"pagerank: iterations $iterations < 1")
    // disjoint column names per side (rid/rank vs src/dst/deg) keep the
    // repeated joins against the same persisted edge table unambiguous
    var ranks = nodes.select(col("id").as("rid")).withColumn("rank", lit(Scale))
    for (i <- 1 to iterations) {
      val contribs = ranks.join(ed, col("rid") === col("src"))
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes.select(col("id").as("rid"))
        .join(contribs, col("rid") === col("dst"), "left")
        .select(col("rid"),
          (lit(Base) + coalesce(
            expr(s"(s div 100) * $Damping + ((s % 100) * $Damping) div 100"),
            lit(0L))).as("rank"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iterations)
        ranks = ranks.localCheckpoint(true)
    }
    ranks.select(col("rid").as("id"), col("rank")).orderBy(col("id").asc)
  }

  /** Exact-integer PageRank over the symmetrized MinHash near-dup
    * graph, mined fresh from the corpus. Returns (id, rank) for every
    * signature-bearing document, rank = fixed-point BIGINT (·1e12),
    * ordered by id. */
  def pagerankDocs(spark: SparkSession, sfDir: String,
                   iterations: Int = Iterations): DataFrame = {
    val (nodes, ed) = edgeCache.getOrElseUpdate(spark, sfDir) {
      val nodes = Dedup.minhashSignatures(spark, sfDir).select(col("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      nodes.count()
      val pairs = Dedup.dedupMinhashPairsFor(spark, sfDir)
        .select(col("a_id"), col("b_id"))
      val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val e = edges.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
      e.count()
      (nodes, e)
    }
    rankLoop(nodes, ed, iterations)
  }

  /** Uncheckpointed twin of the kernel for the determinism spec:
    * proves a checkpoint cadence never changes a rank. */
  private[graft] def pagerankDocsNoCheckpoint(spark: SparkSession, sfDir: String,
                                              iterations: Int): DataFrame = {
    pagerankDocs(spark, sfDir) // ensure caches are built
    val (nodes, ed) = edgeCache.getOrElseUpdate(spark, sfDir)(
      sys.error("edge cache must exist"))
    rankLoop(nodes, ed, iterations, checkpointEvery = 0)
  }

  // ---- persisted incremental edge log -----------------------------------
  //
  // The near-dup graph's edges are IMMUTABLE facts: a pair (a, b) that
  // verified at Jaccard ≥ τ stays verified no matter what arrives
  // later. So the edge set is an additive log, exactly like the
  // MinHash index's band rows — and it lives INSIDE a MinHash index
  // directory (`dir/edges/bucket=…`), because each wave's edges are
  // mined THROUGH that index: cross edges probe the wave against the
  // standing bands, intra edges mine the wave alone, and the union is
  // appended under the BatchFs marker protocol. Degrees and ranks are
  // DERIVED per retrain (one groupBy over the log) — they change with
  // every wave and are never persisted, the df/avgdl discipline.
  //
  // Cap seam, documented: the fresh miner caps (band, key) buckets
  // over the FULL corpus, the incremental path caps index buckets at
  // probe time and wave buckets per wave. Below the cap (every honest
  // bucket at oracle scale — MaxBandBucket = 1000 vs ≤ dozens
  // observed) the two mine IDENTICAL edge sets, spec-pinned; a
  // degenerate key above the cap is dropped by both, differing only in
  // which waves' membership pushed it over.

  private def edgeBucket(nBuckets: Int) =
    pmod(crc32(col("src").cast("string")), lit(nBuckets)).cast("int")

  private def symmetrized(pairs: DataFrame): DataFrame =
    pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))

  /** Build a MinHash index over `corpus0` AND its edge log in one pass
    * (overwrites `dir`): the standing corpus's own near-dup edges are
    * mined fresh and written as base files, the starting point every
    * later wave appends to. */
  def saveWithEdges(corpus0: DataFrame, dir: String,
                    nBuckets: Int = LogBuckets.Adaptive,
                    minJaccard: Double = 0.8,
                    precomputedSigs: Option[DataFrame] = None): Unit = {
    // ONE persisted signature derivation feeds both the index build
    // and the base-edge mine (the 740 s MinHash postmortem discipline
    // — recomputing the shingle+8-hash pipeline per consumer dominated
    // this build's cost before r12). Callers that already hold the
    // corpus's signatures (the session-cached sf-table derivation —
    // signatures are per-row deterministic, so a filtered child of the
    // cached frame is bit-identical to a fresh derivation over the
    // filtered corpus) pass them in and skip the pipeline entirely.
    val own = precomputedSigs.isEmpty
    val sigs = precomputedSigs.getOrElse(
      Dedup.minhashSignaturesCorpus(corpus0).persist(StorageLevel.MEMORY_AND_DISK))
    try {
      // resolve the adaptive bucket count ONCE (the count doubles as
      // the own-sigs materialization) and share it between the index
      // tables and the edge log — appendEdgesBatch reads it back from
      // the index meta, so the two layouts must agree
      val nb = LogBuckets.resolve(nBuckets, sigs.count() * Dedup.NumBands)
      // the index tables and the base edge log are independent chains
      // over the same persisted (materialized by the resolve count)
      // signature frame, into disjoint subdirectories — overlap them
      // (guide §2.6)
      Overlap.run(corpus0.sparkSession, Seq(
        () => MinhashIndex.saveFromSigs(sigs, dir, nb),
        () => symmetrized(
            Dedup.dedupMinhashPairs(sigs, minJaccard, Dedup.MaxBandBucket)
              .select(col("a_id"), col("b_id")))
          .withColumn("bucket", edgeBucket(nb))
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/edges")))
    } finally if (own) sigs.unpersist(blocking = false)
  }

  /** Idempotent per-wave edge append + index admission: the wave's
    * cross edges (probe against the standing index, anti-joined on the
    * wave's own ids so a partially-admitted replay can never match
    * itself) and intra-wave edges (the wave's own mine) land
    * symmetrized under `dir/edges` with the `edges-`-namespaced
    * marker written last, then the wave's band/doc rows are admitted
    * through [[MinhashIndex.appendBatch]] (its own marker). Every
    * crash point replays clean: edge marker present → probe skipped,
    * admission finished; edge marker absent → the probe re-runs
    * correctly whether or not the index admission committed. Returns
    * the number of symmetrized edge rows appended (0 for a replay). */
  def appendEdgesBatch(spark: SparkSession, dir: String, waveDocs: DataFrame,
                       batchId: Long, namespace: String = "",
                       minJaccard: Double = 0.8,
                       precomputedSigs: Option[DataFrame] = None): Long = {
    import java.nio.file.Files
    val edgeNs = if (namespace.isEmpty) "edges" else s"$namespace-edges"
    val marker = BatchFs.markerFor(dir, batchId, edgeNs)
    val idxMarker = BatchFs.markerFor(dir, batchId, namespace)
    if (Files.exists(marker) && Files.exists(idxMarker)) return 0L
    // ONE persisted signature derivation feeds the probe, the
    // intra-wave mine, AND the index admission (pre-r12 each consumer
    // recomputed the shingle+8-hash pipeline — 3 extra passes); a
    // caller holding the wave's signatures already (see
    // [[saveWithEdges]]) skips the pipeline.
    val own = precomputedSigs.isEmpty
    val sigs = precomputedSigs.getOrElse(
      Dedup.minhashSignaturesCorpus(waveDocs).persist(StorageLevel.MEMORY_AND_DISK))
    try {
      if (own) sigs.count()
      // The wave's edge rows (cross probe + intra mine) are computed and
      // MATERIALIZED before the index admission starts, so the probe's
      // standing-bands scan never races admission's file motion; the two
      // staged COMMITS (disjoint directories, separate lease scopes —
      // BatchFs's composite-commit nesting) then overlap (guide §2.6).
      // Crash order between the two markers was already immaterial: edge
      // marker present → probe skipped; absent → the probe re-runs
      // correctly whether or not the admission committed (the anti-join
      // on the wave's own ids keeps a probed-after-admission wave from
      // matching itself).
      val edgeRows: Option[(DataFrame, Long)] =
        if (Files.exists(marker)) None
        else {
          val nBuckets = spark.read.parquet(s"$dir/meta").head.getInt(0)
          val waveIds = waveDocs.select(col("id").as("index_id"))
          val cross = MinhashIndex.probeFromSigs(spark, dir, sigs, minJaccard)
            .join(waveIds, Seq("index_id"), "left_anti")
            .select(col("probe_id").as("a_id"), col("index_id").as("b_id"))
          val intra = Dedup.dedupMinhashPairs(sigs, minJaccard, Dedup.MaxBandBucket)
            .select(col("a_id"), col("b_id"))
          val rows = symmetrized(cross.union(intra))
            .withColumn("bucket", edgeBucket(nBuckets))
            .persist(StorageLevel.MEMORY_AND_DISK)
          Some((rows, rows.count()))
        }
      val appended = Overlap.run(spark, Seq(
        () => edgeRows match {
          case None => 0L
          case Some((rows, n)) =>
            try BatchFs.appendOnce(dir, "edges", batchId, edgeNs,
                Seq(BatchFs.Log("edges", "bucket="))) { staging =>
              if (n > 0L)
                rows.repartition(col("bucket"))
                  .write.mode("overwrite").partitionBy("bucket").parquet(s"$staging/edges")
              n
            } finally rows.unpersist(blocking = false)
        },
        () => MinhashIndex.appendBatchFromSigs(spark, dir, sigs, batchId, namespace)
      )).head
      appended
    } finally if (own) sigs.unpersist(blocking = false)
  }

  /** PageRank from the persisted edge log: degrees re-derived from the
    * symmetrized log (one partial-aggregable count), nodes = every
    * admitted document (the index's `docs` table), same integer
    * kernel. After appending waves w₁…wₙ to a [[saveWithEdges]] base,
    * this equals [[pagerankDocs]] over the concatenated corpus
    * hash-exactly (spec-pinned; cap seam aside, see above). */
  def pagerankFromLog(spark: SparkSession, dir: String,
                      iterations: Int = Iterations): DataFrame = {
    val (nodes, ed) = logCache.getOrElseUpdate(spark, dir) {
      // NOT overlapped (r16 probe, measured negative result): the two
      // materializations are tiny parquet reads and the pool handoff
      // cost more than it saved (rank phase 0.63-0.74 s sequential vs
      // 0.72-1.20 s overlapped, interleaved A/B at sf0.1)
      val nodes = spark.read.parquet(s"$dir/docs").select(col("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      nodes.count()
      val edges = spark.read.parquet(s"$dir/edges").select(col("src"), col("dst"))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val e = edges.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
      e.count()
      (nodes, e)
    }
    rankLoop(nodes, ed, iterations)
  }

  /** Connected components from the same persisted log — the persisted
    * twin of [[Dedup.minhashClusters]]: (id, canonical_id, kept) with
    * a min-id canonical per group, over every admitted document. */
  def ccFromLog(spark: SparkSession, dir: String): DataFrame = {
    val edges = spark.read.parquet(s"$dir/edges").select(col("src"), col("dst"))
    val nodes = spark.read.parquet(s"$dir/docs").select(col("id"))
    Clustering.connectedComponents(nodes, edges)
      .select(col("id"), col("comp").as("canonical_id"),
        (col("id") === col("comp")).as("kept"))
      .orderBy(col("id").asc)
  }

  private val logCache = JvmCaches.sessionMap[String, (DataFrame, DataFrame)]()
  private val persistedDirCache = JvmCaches.map[String, String]()

  /** The two-wave persisted graph over the documents corpus (base =
    * even ids via [[saveWithEdges]], wave 1 = odd ids appended) — the
    * registered `pagerank_persisted` / `cc_persisted` subject. A
    * committed-wave replay is exercised on every build and must append
    * nothing. */
  private[graft] def persistedGraphDir(spark: SparkSession, sfDir: String): String =
    persistedDirCache.getOrElseUpdate(sfDir, {
      val d = graft.StateDir.of("neardup-graph", sfDir)
      val corpus = Ingest.corpusFromDocuments(spark, sfDir)
      // Reuse the session-cached full-corpus signature frame, filtered
      // per half: signatures are per-row deterministic, so the filter
      // commutes with the derivation bit-for-bit, and the two halves'
      // shingle+8-hash pipelines (the dominant build cost) collapse
      // into scans of the already-persisted frame.
      val sigsAll = Dedup.minhashSignatures(spark, sfDir)
      saveWithEdges(corpus.filter(col("id") % 2 === 0), d,
        precomputedSigs = Some(sigsAll.filter(col("id") % 2 === 0)))
      appendEdgesBatch(spark, d, corpus.filter(col("id") % 2 === 1), 1L,
        precomputedSigs = Some(sigsAll.filter(col("id") % 2 === 1)))
      // Stale-log self-heal (the Pca.persistedModelFor discipline): a
      // regenerated fixture at the same path would leave surviving
      // markers no-oping the append over foreign data. Validate the
      // admitted node count against the current corpus's
      // signature-bearing count; wipe and rebuild on mismatch.
      val admitted = spark.read.parquet(s"$d/docs").count()
      if (admitted != Dedup.minhashSignatures(spark, sfDir).count()) {
        BatchFs.deleteRecursively(java.nio.file.Paths.get(d))
        saveWithEdges(corpus.filter(col("id") % 2 === 0), d)
        appendEdgesBatch(spark, d, corpus.filter(col("id") % 2 === 1), 1L)
      }
      val replayed = appendEdgesBatch(spark, d,
        corpus.filter(col("id") % 2 === 1), 1L)
      require(replayed == 0L, "graph: committed wave replay must be a no-op")
      d
    })

  /** Registered query: PageRank from the two-wave persisted edge log —
    * bit-identical to the fresh mine, so the oracle is pagerank_docs'. */
  def pagerankPersistedFor(spark: SparkSession, sfDir: String): DataFrame =
    pagerankFromLog(spark, persistedGraphDir(spark, sfDir))

  /** Registered query: connected components from the persisted log —
    * bit-identical to minhash_clusters' fresh chain. */
  def ccPersistedFor(spark: SparkSession, sfDir: String): DataFrame =
    ccFromLog(spark, persistedGraphDir(spark, sfDir))
}
