package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.functions.l2sq

/** ε-threshold similarity clustering — the reference's second query
  * operator (`find_similarity_clusters`, /root/reference/app.py:77-114):
  * build a similarity graph (edge iff squared-L2 dist < ε, self-pairs
  * excluded), take connected components, number multi-member
  * components, singletons get cluster_id = -1.
  *
  * Deviations (declared, SURVEY.md §7.4): component labels are
  * canonical (min member id, then densely renumbered by that min — the
  * reference numbers by `nx.connected_components` iteration order,
  * which is not deterministic by contract); an exact-graph mode exists
  * alongside the reference's IVF-restricted approximate graph.
  */
object Clustering {

  /** Iterative connected components — min-label propagation with
    * pointer jumping (the published Shiloach–Vishkin / label-propagation
    * family; the same fixpoint `nx.connected_components` computes,
    * app.py:96).
    *
    * Implementation notes (the one justified RDD drop-down in the
    * engine — an iterative fixpoint is the case the DataFrame API
    * cannot express without a driver loop, SURVEY.md §4.3):
    *
    *  - two execution strategies, chosen from the MEASURED edge count:
    *    at or under `driverMaxEdges` a driver-side union-find labels
    *    the edge endpoints and a broadcast join labels the (still
    *    distributed) node table — the per-round scheduling cost of a
    *    distributed fixpoint is never worth paying for a graph that
    *    fits in memory. Above the threshold, the distributed loop:
    *  - edges are symmetrized once, hash-partitioned, and persisted;
    *    every round's propagation join is then CO-PARTITIONED — the
    *    edge table never re-shuffles, only the (small) label table
    *    moves. A DataFrame loop re-shuffles both sides every round.
    *  - the partitioner is sized from the MEASURED symmetrized edge
    *    count (~64k edges per partition, min 2, capped at
    *    defaultParallelism): a candidate graph after dedup/ε filtering
    *    is orders of magnitude smaller than the corpus, and a fixed
    *    32-way loop on a 24k-edge graph spent ~41 s in pure per-task
    *    scheduling overhead (round-3 measurement). At real scale the
    *    count saturates the cap and the loop is fully parallel.
    *  - labels never re-enter a shuffle: neighbor offers are min-reduced
    *    alone (E rows), then merged into labels via a co-partitioned
    *    leftOuterJoin + mapValues (partitioner-preserving). Round 3
    *    unioned labels into the reduce, re-shuffling N extra rows/round.
    *  - pointer jumping (`comp ← label(comp)`) after each propagation
    *    halves remaining chain depth per round, bounding rounds by
    *    O(log diameter) instead of O(diameter).
    *  - superseded label RDDs are unpersisted each round — the loop
    *    holds exactly one labels RDD plus the edge RDD at any time
    *    (round 2 leaked one checkpoint per round, poisoning the bench).
    *  - convergence: labels only ever decrease (min of self + offers,
    *    then jump to a ≤ label), so Σcomp is strictly monotone until
    *    fixpoint; an unchanged Σ (exact BigInt, overflow-free at any
    *    scale) IS convergence — one cheap aggregate on the new labels,
    *    no join against the previous round (round 2 doubled every
    *    round's cost with a join+count convergence check). Hitting the
    *    50-round cap without convergence logs a loud warning — a capped
    *    run must not masquerade as a correct component assignment.
    *
    * `nodes`: one column `id`; `edges`: (`src`, `dst`), undirected
    * interpretation, self-loops and duplicates tolerated. Edge
    * endpoints need NOT appear in `nodes`: both strategies connect
    * components through such phantom ids identically (they carry
    * labels but are excluded from the output, which covers exactly
    * `nodes`). Returns
    * (`id`, `comp`) where comp = min id in the component. The returned
    * DataFrame is backed by the final persisted labels RDD; callers
    * that cache assignments (see [[clusterExact]]) keep it warm
    * intentionally.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          driverMaxEdges: Long = 1000000L): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext

    // Symmetrize; no distinct() — the min-reduce dedups label offers
    // anyway, and skipping it saves a full edge shuffle up front.
    // Materialized unpartitioned first so the execution strategy can be
    // chosen from the real edge count without recomputing the (possibly
    // expensive) edge lineage.
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    val tSetup = System.nanoTime()
    val pairsRdd = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = pairsRdd.count()

    // Bounded driver fast path: a candidate graph at or under
    // `driverMaxEdges` is orders of magnitude below the per-round
    // scheduling cost of a distributed fixpoint — round 3 measured
    // 41 s of pure task overhead for a 24k-edge graph. Union-find on
    // the driver touches ONLY edge endpoints (never the node table,
    // which stays distributed and is labeled by a broadcast join), so
    // driver state is O(edges) — the same bounded-collect class as the
    // ≤nlist centroid pull. Edges are collected as per-partition
    // PRIMITIVE long arrays (16 bytes/edge exact — 16 MB at the 1M
    // default; a boxed Array[(Long, Long)] costs ~6× that in tuple +
    // Long object headers). Beyond the threshold the co-partitioned
    // pointer-jumping loop below engages unchanged.
    if (edgeCount <= driverMaxEdges) {
      val parts = pairsRdd.mapPartitions { it =>
        val srcs = scala.collection.mutable.ArrayBuilder.make[Long]
        val dsts = scala.collection.mutable.ArrayBuilder.make[Long]
        it.foreach { case (s, d) => srcs += s; dsts += d }
        Iterator((srcs.result(), dsts.result()))
      }.collect()
      pairsRdd.unpersist(blocking = false)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      parts.foreach { case (srcs, dsts) =>
        var i = 0
        while (i < srcs.length) {
          val ra = find(srcs(i)); val rb = find(dsts(i))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
          i += 1
        }
      }
      // Snapshot keys before mapping find() over them: find path-
      // compresses (writes parent entries), and mutating a mutable map
      // mid-iteration is undefined by contract even when the current
      // LongMap happens to tolerate value-only updates.
      val ks = parent.keysIterator.toArray
      val moved = ks.iterator
        .map(id => (id, find(id)))
        .filter { case (id, r) => r != id }
        .toSeq
      if (debug) System.err.println(
        f"[cc] driver union-find: edges=$edgeCount moved=${moved.size} " +
          f"${(System.nanoTime() - tSetup) / 1e9}%6.2f s")
      val lbl = moved.toDF("id", "comp")
      return nodes.select(col("id").cast("long").as("id"))
        .join(broadcast(lbl), Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    }

    val nParts = math.max(2L, math.min(sc.defaultParallelism.toLong,
      edgeCount / 32000L + 1L)).toInt
    val part = new HashPartitioner(nParts)
    val sym = pairsRdd
      .flatMap { case (s, d) => Iterator((s, d), (d, s)) }
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()
    pairsRdd.unpersist(blocking = false)

    val nodeIds = nodes.select(col("id").cast("long")).as[Long].rdd
      .map(id => (id, id))
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // The loop labels EDGE ENDPOINTS, not nodes: endpoints absent from
    // `nodes` must still carry labels (the driver path's union-find
    // connects through such phantom ids — the two strategies must
    // agree), and nodes without edges are trivially their own
    // component, so they skip the loop entirely and are labeled by the
    // final co-partitioned left join. Seeding from `sym` preserves its
    // partitioner, so the seed reduceByKey (endpoint dedup) is
    // shuffle-free.
    var labels = sym
      .mapPartitions(_.map { case (s, _) => (s, s) }, preservesPartitioning = true)
      .reduceByKey(part, math.min(_: Long, _: Long))
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (debug) System.err.println(
      f"[cc] setup (sym+labels) parts=$nParts ${(System.nanoTime() - tSetup) / 1e9}%6.2f s")
    var prevSum: BigInt = null
    var iter = 0
    var converged = false
    while (!converged && iter < 50) {
      val t0 = System.nanoTime()
      // Each node offers its label to its neighbors. sym and labels
      // share `part`, so this join moves no edge data; the min-reduce
      // shuffles only the E offer rows (map-side combined).
      val offersMin = sym.join(labels)
        .map { case (_, (dst, comp)) => (dst, comp) }
        .reduceByKey(part, math.min(_: Long, _: Long))
      // Merge offers into labels co-partitioned; mapValues preserves
      // the partitioner, so `merged` needs no shuffle. It feeds both
      // sides of the pointer-jump join — persist it for the round so
      // it is computed once, not twice.
      val merged = labels.leftOuterJoin(offersMin)
        .mapValues { case (l, o) => math.min(l, o.getOrElse(Long.MaxValue)) }
        .persist(StorageLevel.MEMORY_AND_DISK)
      // Pointer jump: follow comp to its own current label. Every comp
      // is a node id (a min over ids), so the inner join is total and
      // keeps exactly one row per id.
      val jumped = merged.map { case (id, comp) => (comp, id) }
        .join(merged)
        .map { case (_, (id, comp2)) => (id, comp2) }
        .partitionBy(part)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val s = jumped.aggregate(BigInt(0))((acc, kv) => acc + kv._2, _ + _)
      merged.unpersist(blocking = false)
      labels.unpersist(blocking = false)
      labels = jumped
      converged = prevSum != null && s == prevSum
      prevSum = s
      iter += 1
      if (debug) System.err.println(
        f"[cc] round $iter%2d sum=$s parts=$nParts ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    if (!converged) System.err.println(
      s"[graft.Clustering] WARNING: connectedComponents hit the $iter-round cap " +
        "WITHOUT converging — component labels may be incomplete; " +
        "downstream canonical ids are unreliable for this run.")
    sym.unpersist(blocking = false)
    // Restrict output to `nodes` (phantom endpoints carried labels
    // through the loop but are not part of the result) and default
    // edge-less nodes to themselves. Both sides share `part`: no
    // shuffle.
    nodeIds.leftOuterJoin(labels)
      .mapValues { case (id, o) => o.getOrElse(id) }
      .toDF("id", "comp")
  }

  /** Components -> cluster assignment (reference app.py:98-112):
    * multi-member components get contiguous ids 0,1,2,… (ordered by
    * min member id — canonical), singletons -1.
    *
    * Renumbering avoids a no-partition global window (which would move
    * every component through one task): the multi-member component ids
    * get a distributed range-partitioned sort + `zipWithIndex`, whose
    * indexes are assigned from per-partition offsets — no single-task
    * stage at any scale.
    */
  def assign(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val comp = connectedComponents(nodes, edges)
    val spark = comp.sparkSession
    import spark.implicits._
    val multi = comp.groupBy("comp").agg(count(lit(1)).as("csize"))
      .filter(col("csize") > 1)
      .select(col("comp"))
      .sort("comp")
      .as[Long].rdd.zipWithIndex()
      .map { case (c, i) => (c, i) }
      .toDF("comp", "cluster_id")
    // Multi-member components are a small fraction of nodes at any ε
    // worth clustering with; broadcast keeps the join-back shuffle-free
    // on the big side. (If cluster count ever outgrows broadcast, drop
    // the hint and let AQE pick a shuffled hash join.)
    comp.join(broadcast(multi), Seq("comp"), "left")
      .select(col("id"), coalesce(col("cluster_id"), lit(-1L)).as("cluster_id"))
  }

  // Per-JVM assignment cache: Verify/Bench call cluster_exact and
  // cluster_sizes as separate queries; recomputing the whole CC loop
  // for the sizes view (round 2 did) doubles the most expensive query.
  // Keyed by a mode string that encodes all clustering parameters;
  // session-keyed so a second SparkSession never receives frames of a
  // stopped context (JvmCaches discipline).
  private[graft] val assignCache =
    JvmCaches.sessionMap[(String, String, Double), DataFrame]()

  /** Exact-graph clustering over the embeddings table: every pair with
    * dist < eps is an edge. O(n²) pair generation — the oracle-able
    * exact mode.
    *
    * ORACLE ANCHOR, not a production path: the all-pairs edge stage
    * will not finish at 100 TB. Route production clustering to
    * [[clusterIvf]] (registered `cluster_ivf`: IVF-bucketed edge
    * candidates, identical CC/singleton/−1 semantics downstream). */
  def clusterExact(spark: SparkSession, sfDir: String, eps: Double = 1.4,
                   maxRows: Long = ExactTwinGuard.MaxRows): DataFrame = {
    val assignment = assignCache.getOrElseUpdate(spark, ("exact", sfDir, eps)) {
      val emb = Tables.embeddings(spark, sfDir)
      ExactTwinGuard.check(emb.count(), maxRows, "cluster_exact", "cluster_ivf")
      val nodes = emb.select(col("vec_id").as("id"))
      val a = emb.select(col("vec_id").as("src"), col("embedding").as("a_emb"))
      val b = emb.select(col("vec_id").as("dst"), col("embedding").as("b_emb"))
      val edges = a.join(b, col("src") < col("dst"))
        .filter(l2sq(col("a_emb"), col("b_emb")) < eps)
        .select(col("src"), col("dst"))
      val out = assign(nodes, edges).cache()
      out.count()
      out
    }
    assignment
      .select(col("id").as("vec_id"), col("cluster_id"))
      .orderBy(col("vec_id").asc)
  }

  /** Reference-parity clustering: the graph is approximate — limited
    * to each vector's k nearest neighbors within nprobe probed lists
    * (app.py:77,84-85 defaults k=10, nprobe=2), edge iff dist < ε
    * strictly with self-pairs excluded (app.py:91-93). The candidates
    * come from [[IvfIndex.searchAll]]: one narrow map against the
    * index's serving handle, or the equi-join on list_id (bucketed — no
    * cartesian) above the serving bound. */
  def clusterIvf(spark: SparkSession, sfDir: String, eps: Double = 0.75,
                 k: Int = 10, nlist: Int = 4, nprobe: Int = 2): DataFrame = {
    // Memoized like clusterExact: Verify and Bench both invoke the
    // registered query, and the searchAll + CC pipeline is the single
    // most expensive thing in the engine — pay it once per JVM.
    val assignment = assignCache.getOrElseUpdate(spark, (s"ivf:k=$k:nlist=$nlist:nprobe=$nprobe", sfDir, eps)) {
      val emb = Tables.embeddings(spark, sfDir)
      val index = IvfIndex.forEmbeddings(spark, sfDir, nlist)
      val knn = IvfIndex.searchAll(index, emb, "vec_id", "embedding", k, nprobe)
      // Materialize the candidate edges once — the CC loop would
      // otherwise replay the whole searchAll lineage per round-0 pass.
      val edges = knn.filter(col("dist") < eps)
        .select(col("src_id").as("src"), col("dst_id").as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      edges.count()
      val nodes = emb.select(col("vec_id").as("id"))
      val out = assign(nodes, edges).cache()
      out.count()
      edges.unpersist(blocking = false)
      out
    }
    assignment
      .select(col("id").as("vec_id"), col("cluster_id"))
      .orderBy(col("vec_id").asc)
  }

  /** Cluster summary (reference UI surface: sizes sorted desc, display
    * cap — app.py:289-295, T2/T3). */
  def clusterSizes(assignments: DataFrame, cap: Int = 100): DataFrame = {
    assignments.filter(col("cluster_id") =!= -1L)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("cluster_id").asc)
      .limit(cap)
  }

  /** Row bound for the single-file CSV export: app.py:283's one
    * downloadable CSV is a UI affordance, and coalesce(1) funnels the
    * whole result through one task — correct reference parity at demo
    * scale, a driver-adjacent bottleneck if pointed at a corpus. Above
    * the bound [[exportCsv]] fails fast and names [[exportCsvParts]],
    * the ExactTwinGuard discipline. 1M assignment rows ≈ tens of MB of
    * CSV — past any browser-download use case. */
  val MaxSingleCsvRows: Long = 1000000L

  /** CSV export of an assignment (reference app.py:283,313-319):
    * single header CSV named by the caller. Guarded — see
    * [[MaxSingleCsvRows]]; corpus-scale exports go through
    * [[exportCsvParts]]. */
  def exportCsv(assignments: DataFrame, path: String,
                maxRows: Long = MaxSingleCsvRows): Unit = {
    val n = assignments.count()
    require(n <= maxRows,
      s"exportCsv writes ONE file through one task and is capped at " +
        s"$maxRows rows (got $n); use exportCsvParts for a partitioned " +
        "corpus-scale export")
    assignments.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)
  }

  /** Corpus-scale CSV export: parallel part files (every writer task
    * emits its own header-less part; one `_header.csv` sidecar carries
    * the column line, so `cat _header.csv part-*` reassembles the
    * reference's single-file shape without ever funneling rows through
    * one task). */
  def exportCsvParts(assignments: DataFrame, path: String): Unit = {
    assignments.write.mode("overwrite").csv(path)
    val header = assignments.columns.mkString(",") + "\n"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_header.csv"),
      header.getBytes("UTF-8"))
    ()
  }
}
