package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.l2sq

/** Graph-ANN — the engine's answer to FAISS's HNSW family, re-expressed
  * for a distributed engine (adjudication recorded in SURVEY.md §2.11):
  * HNSW itself is a sequential pointer-chasing structure (every insert
  * walks the graph built so far; search hops one node at a time through
  * executor-hostile random reads), so a faithful port would serialize on
  * the driver. What distributes is the shape the DiskANN/NSG line of
  * work uses: build a k-NN GRAPH with NN-descent (Dong et al., WWW'11 —
  * bounded iterations of "my neighbors' neighbors are candidate
  * neighbors", each one an equi-join + per-node top-k), persist it as a
  * bucket-partitioned (src, dst, dist) table, and serve queries with
  * MULTI-SEED BEAM search over that table (HNSW's upper layers exist to
  * find good entry points; seeding the beam from several hash-chosen
  * entries buys the same thing without the layer hierarchy).
  *
  * Scale posture:
  *  - init: each node is hashed into `R` virtual buckets of expected
  *    size ~[[InitBucket]] (xxhash64 — no window, no collect, no
  *    sort-by-random); within-bucket pairs seed the graph. Expected
  *    init cost is O(n · R · InitBucket), independent of skew because
  *    bucket ids are hashes of distinct vec_ids.
  *  - NN-descent rounds: undirected adjacency (≤ 2k per node) joined to
  *    itself through the shared middle node — worst-case fan-out (2k)²
  *    per node, cut per round by the EXACT new/old pruning (r15: only
  *    pairs with ≥1 und edge absent from the previous round generate;
  *    see [[descend]]) and cappable by `rho` sampling of the right side
  *    (the standard NN-descent sample rate). Per-node top-k via
  *    slice(array_distinct(array_sort(collect_list(struct(dist, dst)))))
  *    — a partial-aggregable groupBy, never a global window.
  *  - search: each query's beam lives on the driver (≤ ef entries — the
  *    same bounded-collect class as [[IvfIndex.probeLists]]); each hop
  *    is one pruned equi-scan of the graph table + one distance probe,
  *    both isin/broadcast-bounded by B·ef·k. The persisted form is
  *    partitioned by `bucket = pmod(xxhash64(src), nBuckets)` so the
  *    per-hop scan statically prunes to the frontier's buckets
  *    (PartitionFilters — the bm25 postings pattern, TextSearch.scala),
  *    instead of full-scanning the adjacency per hop (the r14 verdict's
  *    one scale gap).
  *  - batched serving: [[searchBeamBatch]] runs B beams in lockstep —
  *    every hop is ONE fused job (pruned adjacency scan + distance
  *    probe via broadcast frontier pairs) shared across all B queries,
  *    so the per-hop job cost amortizes B-ways (the graph twin of the
  *    IVF `knn_batch128` entry).
  *  - incremental: [[appendGraphBatch]] beam-searches each new vector's
  *    neighbor list against the standing graph and appends forward +
  *    back edges under the BatchFs marker/lease protocol (replays are
  *    no-ops); [[repairGraph]] is the retrain analogue — NN-descent
  *    rounds over the appended adjacency, written as a fresh
  *    generation.
  */
object GraphAnn {

  /** Expected members per virtual init bucket. */
  val InitBucket = 8

  /** Hot-bucket cap for the LSH init rounds: a tight cluster can put
    * hundreds of members under one signature; sub-splitting by id-hash
    * caps the within-bucket self-join at ~MaxInitBucket² pairs while
    * keeping every sub-bucket cluster-pure. */
  val MaxInitBucket = 32

  /** Historic fixed bucket count for the persisted adjacency (r15
    * optimization round replaced the default with the scale-adaptive
    * [[LogBuckets]] sizing — a gate-scale 20k-row adjacency paid a
    * 64-directory write for nothing). The 500k decade passes 512
    * explicitly (ef=128 frontiers touch ≤ a quarter of the buckets,
    * and each bucket holds ~1k src lists). */
  val DefaultBuckets = 64

  /** All-rows-satisfy aggregate (the IndexAudits helper, restated). */
  private def forall(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(min(when(c, lit(1)).otherwise(lit(0))) === 1, lit(true))

  /** Build the k-NN graph: (src, dst, dist) rows, at most `k` per src,
    * sorted (dist, dst) ascending within each src. Deterministic — the
    * whole pipeline is hash-seeded (no k-means), so the same corpus
    * always yields the same graph.
    *
    * `buildFactor`: the descent runs on lists of `buildFactor·k`
    * neighbors and truncates to `k` at the end — the standard
    * NN-descent quality lever (high-dimensional corpora plateau on
    * exact-k lists because "neighbor of neighbor" locality weakens;
    * wider working lists restore the gradient). Measured recall vs the
    * exact 10-NN graph on the near-isotropic gate fixtures: at 500
    * rows 0.84 (factor 1) → 0.993 (factor 2); at the 4,000-row sf0.5
    * scale point — caught by the r14 cross-scale sweep, the fourth
    * consecutive scale decade to surface a real seam — factor 2 reads
    * 0.875 vs the 0.9 audit floor while factor 3 reads 0.979 (more
    * ITERATIONS plateau: 8 rounds buy +0.01, a wider list +0.10).
    * Factor 3 is therefore the default; build cost scales as
    * (2·factor·k)² per node per round.
    *
    * `iters` is the complementary lever at HIGH dimension: under the
    * LSH init the descent converges by PROPAGATING within-region edges
    * (more rounds), where the random init converges by DISTILLING a
    * global sample (wider lists) — the d384 decade runs 6 rounds, the
    * 64-dim gates keep width (buildFactor 3) as their lever.
    *
    * `initMode`: `"auto"` (default — probe [[relativeContrast]] and
    * pick), `"random"` (id-hash buckets), or `"lsh"` (hyperplane
    * buckets). The r15 decade measured BOTH fixed choices losing on
    * the other's geometry — random init at dim=384 collapsed to graph
    * recall ~0 (distance concentration: every cross-cluster distance
    * is nearly equal, so "neighbor of neighbor" carries no signal),
    * while LSH init at the 500k 64-dim point dropped converged recall
    * 0.906 → 0.844 (the distance-truncated working lists start
    * orthant-local and the descent never recovers the random init's
    * global diversity). The geometry is measurable, so the init is
    * adaptive, not guessed. */
  def buildGraph(emb: DataFrame, idCol: String = "vec_id",
                 embCol: String = "embedding",
                 k: Int = 10, iters: Int = 6, rho: Double = 1.0,
                 seed: Long = 42L, buildFactor: Int = 3,
                 initMode: String = "auto"): DataFrame = {
    val kb = k * buildFactor
    val base = emb.select(col(idCol).as("id"), col(embCol).as("vec"))
    val n = base.count()
    require(n > 1, "graft graph-ann: need at least two vectors")
    val mode = initMode match {
      case "auto" =>
        if (relativeContrast(base, seed) >= ContrastThreshold) "random" else "lsh"
      case m @ ("random" | "lsh") => m
      case other => throw new IllegalArgumentException(
        s"graft graph-ann: unknown initMode '$other' (auto|random|lsh)")
    }
    val init = initFor(base, n, mode, seed)
    val edges = descend(base, init, kb, iters, rho, seed)
    // truncate the widened working lists to the requested k
    if (kb == k) edges else topKPerSrc(edges, k)
  }

  /** The hash-seeded init edge frame (random id-hash buckets or
    * hyperplane-LSH buckets) — extracted so the kernel-equivalence
    * spec can drive both descent kernels from one identical init. */
  private[graft] def initFor(base: DataFrame, n: Long, mode: String,
                             seed: Long): DataFrame = {
    val nBuckets = math.max(n / InitBucket, 1L)
    val init =
      if (mode == "random") {
        // R = 2 virtual id-hash buckets per node: expected 2·InitBucket
        // co-bucketed candidates each — a GLOBAL random sample, the
        // diversity NN-descent distills when distance contrast exists
        val bucketed = base
          .withColumn("rr", explode(array(lit(0), lit(1))))
          .withColumn("bkt", pmod(xxhash64(col("id"), col("rr"), lit(seed)), lit(nBuckets)))
          .select(col("bkt"), col("id"), col("vec"))
        bucketed.as("a")
          .join(bucketed.as("b"), Seq("bkt"))
          .filter(col("a.id") =!= col("b.id"))
          .select(col("a.id").as("src"), col("b.id").as("dst"),
            l2sq(col("a.vec"), col("b.vec")).as("dist"))
      } else {
        // LOCALITY-SENSITIVE buckets for concentrated geometry: two
        // rounds of seeded hyperplane-LSH (sign random projection,
        // Charikar STOC'02 — fixed seeded planes, deterministic, still
        // zero k-means) seed within-region edges so the descent has a
        // gradient from round one, and one id-hash round keeps every
        // node connected regardless of bucket skew (a singleton LSH
        // bucket would otherwise leave its node with no adjacency list
        // at all). Hot LSH buckets (tight clusters) sub-split by
        // id-hash to cap the within-bucket self-join.
        val dim = base.select(col("vec")).head.getSeq[Float](0).size
        val idRound = base.select(lit(-1L).as("r"),
          pmod(xxhash64(col("id"), lit(seed)), lit(nBuckets)).as("sig"),
          col("id"), col("vec"))
        val bBits = math.max(1, math.min(20,
          math.ceil(math.log(math.max(n.toDouble / InitBucket, 2.0)) / math.log(2.0)).toInt))
        val lshRounds = (0 until 2).map { r =>
          val planes = Dedup.hyperplanes(dim, bBits, seed + 1000L * (r + 1))
          base.select(lit(r.toLong).as("r"),
            graft.functions.hyperplane_sketch(col("vec"), planes).as("sig"),
            col("id"), col("vec"))
        }
        val sigged = (lshRounds :+ idRound).reduce(_.unionByName(_))
        val sizes = sigged.groupBy(col("r"), col("sig")).agg(count(lit(1)).as("bn"))
        val bucketed = sigged.join(sizes, Seq("r", "sig"))
          .withColumn("sub", pmod(xxhash64(col("id"), col("r"), lit(seed)),
            greatest(lit(1L), ceil(col("bn") / lit(MaxInitBucket.toDouble)).cast("long"))))
        val aS = bucketed.select(col("r"), col("sig"), col("sub"),
          col("id").as("aid"), col("vec").as("av"))
        val bS = bucketed.select(col("r"), col("sig"), col("sub"),
          col("id").as("bid"), col("vec").as("bv"))
        aS.join(bS, Seq("r", "sig", "sub"))
          .filter(col("aid") =!= col("bid"))
          .select(col("aid").as("src"), col("bid").as("dst"),
            l2sq(col("av"), col("bv")).as("dist"))
      }
    init
  }

  /** Relative-contrast probe (He et al., CVPR'12's RC statistic,
    * hash-determinized): for 256 hash-chosen probe nodes, the ratio of
    * MEAN to MIN squared-L2 over 64 hash-chosen shared partners,
    * medianed over probes. High RC (≫ 1) means random partners carry a
    * usable distance gradient — NN-descent converges from a random
    * init (and BETTER than from a local one, which costs it the global
    * sample). RC → 1 is distance concentration — the random init is
    * dead and the descent needs locality-sensitive seeding. Cost: two
    * TakeOrdered samples + one 256×64 broadcast cross score — bounded,
    * deterministic, O(1) in corpus size. Measured landscape (256×64
    * hash probe, seed 42): gate embeddings 1.381-1.404, the 64-dim
    * 500k decade fixture 1.393, a 2000×64/400-cluster synthetic 1.403
    * — vs the 384-dim decade fixture 1.136 and its synthetic twin
    * 1.134; a 192-dim/200-cluster mid-point reads 1.219 (LSH side).
    * [[ContrastThreshold]] splits the populations at 1.25 with ≥ 0.11
    * margin on both sides; the split is spec-pinned (GraphInitSpec). */
  private[graft] def relativeContrast(base: DataFrame, seed: Long): Double = {
    val probes = base
      .orderBy(xxhash64(col("id"), lit(seed + 99L)).asc, col("id").asc)
      .limit(256).select(col("id").as("pid"), col("vec").as("pv"))
    val partners = base
      .orderBy(xxhash64(col("id"), lit(seed + 101L)).asc, col("id").asc)
      .limit(64).select(col("id").as("qid"), col("vec").as("qv"))
    val stats = broadcast(probes).crossJoin(broadcast(partners))
      .filter(col("pid") =!= col("qid"))
      .select(col("pid"), l2sq(col("pv"), col("qv")).as("d"))
      .groupBy(col("pid"))
      .agg(avg(col("d")).as("dm"), min(col("d")).as("dn"))
      .filter(col("dn") > 0.0)
      .select((col("dm") / col("dn")).as("rc"))
      .collect().map(_.getDouble(0)).sorted
    if (stats.isEmpty) Double.MaxValue else stats(stats.length / 2)
  }

  /** [[relativeContrast]] decision boundary for the auto init — see
    * the measured landscape in [[relativeContrast]]'s doc. */
  val ContrastThreshold = 1.25

  /** Broadcast the base vector table into the distance joins when it
    * fits an executor (n·dim·4 bytes under ~1.5 GB): the candidate
    * frame is n·(2kb)²·rho rows per round, and shuffling it WIDE (a
    * vector array in tow between the two joins) is what fills local
    * disk at the 500k decade (≈150 GB raw per round at 64-dim) — with
    * the base broadcast, only the 16-byte (src, dst) pairs ever
    * shuffle (≈9 GB). Past the broadcast ceiling the shuffle join is
    * the correct shape (the cluster provisions shuffle disk; a 100 TB
    * corpus never broadcasts its embeddings). */
  private[graft] val BroadcastBaseBytes = 1.5e9

  /** Broadcast ceiling for the und/fresh pair frames inside a descent
    * round (~2·n·kb 16-byte pairs): under it the candidate joins run
    * as broadcast fan-outs (no exchange, no sort); over it — the 500k
    * decade's 30M-pair und and anything bigger — the sort-merge shape
    * is correct and kept. */
  private val UndBroadcastBytes = 2.68e8

  /** The NN-descent loop itself, shared by [[buildGraph]] (hash-bucket
    * init) and [[repairGraph]] (init = the appended adjacency).
    * localCheckpoint per round (the GraphRank discipline): each round's
    * plan references the previous round's twice (adjacency + merge), so
    * uncut lineage grows exponentially in `iters` and OOMs the planner
    * long before any data does. Exactly one checkpointed frame is live
    * at a time; superseded ones are unpersisted. */
  private[graft] def descend(base: DataFrame, init: DataFrame, kb: Int,
                             iters: Int, rho: Double, seed: Long): DataFrame = {
    // one job for both loop invariants (count + any row's width) —
    // each was its own job before the r16 round-sync trim
    val meta = base.agg(count(lit(1)).as("n"),
      first(size(col("vec"))).as("dim")).head
    val n = meta.getLong(0)
    val dim = meta.getInt(1)
    val big = n * dim * 4.0 > BroadcastBaseBytes
    def side(df: DataFrame): DataFrame = if (big) df else broadcast(df)
    var edges = topKPerSrc(init, kb).localCheckpoint(true)
    // NN-descent's standard new/old candidate pruning (Dong et al.,
    // WWW'11 §2.3), EXACT here: a pair generated through middle m whose
    // two und edges both existed in the PREVIOUS round's adjacency was
    // already offered to the merge in an earlier round (induction to
    // round 0, which generates everything), and a rejected pair can
    // never re-enter — per-src the kb-th-best (dist, dst) bar only
    // tightens, so "offered once and rejected" is "rejected forever".
    // Candidate fan-out therefore shrinks with convergence (late rounds
    // re-score only neighborhoods that actually changed) instead of
    // re-paying the full (2kb)² per node per round. Only sound without
    // rho-sampling (a sampled round may never have offered the pair),
    // so rho < 1.0 keeps the full generation. Spec-pinned bit-identical
    // to the unpruned kernel (GraphAnnSpec "new/old-pruned descent").
    //
    // The convergence check stays a direct isEmpty over the
    // checkpointed fresh frame (a take(1)-class job over materialized
    // partitions). An r16 attempt rode |fresh| out of the checkpoint
    // job as a CollectMetrics observation instead — correct and fast
    // in a fresh session, but Observation.get waits on the ASYNC
    // execution-listener bus, and in a long bench session (hundreds of
    // prior queries' events queued) delivery lagged seconds per round:
    // knn_graph_build measured 20 → 30 s in-bench while the isolated
    // probe improved. Reverted; recorded as a negative result in
    // OPTIMIZATION_r16.md.
    // Checkpointed frames carry no size statistics, so the planner
    // falls back to SortMergeJoin for every und/fresh join — two
    // exchanges + two sorts per candidate join on frames that are
    // ~2·n·kb 16-byte pairs. Under [[UndBroadcastBytes]] the und-class
    // frames broadcast instead (guide §3.1 — the explicit hint where
    // estimates are blind), turning each candidate join into a
    // map-side fan-out with NO exchange; past the gate (the 500k
    // decade and beyond) the sort-merge shape is the correct one and
    // is kept.
    val undSmall = 2.0 * n * kb * 16 < UndBroadcastBytes
    def uside(df: DataFrame): DataFrame = if (undSmall) broadcast(df) else df
    var prevUnd: DataFrame = null
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val adj = edges.select(col("src"), col("dst"))
      val und = adj.union(adj.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint(true)
      val freshOpt =
        if (rho >= 1.0 && prevUnd != null) {
          val f = und.join(uside(prevUnd), Seq("src", "dst"), "left_anti")
            .localCheckpoint(true)
          Some((f, if (f.isEmpty) 0L else -1L))
        } else None
      if (freshOpt.exists(_._2 == 0L)) {
        converged = true
        freshOpt.foreach(_._1.unpersist(blocking = false))
        und.unpersist(blocking = false)
      } else {
        val cand = freshOpt match {
          case Some((fresh, _)) =>
            uside(fresh.as("a")).join(und.as("b"), col("a.dst") === col("b.src"))
              .select(col("a.src").as("src"), col("b.dst").as("dst"))
              .unionByName(
                und.as("a").join(uside(fresh.as("b")), col("a.dst") === col("b.src"))
                  .select(col("a.src").as("src"), col("b.dst").as("dst")))
              .filter(col("src") =!= col("dst"))
          case None =>
            val right = if (rho >= 1.0) und
              else und.sample(withReplacement = false, rho, seed + it)
            und.as("a")
              .join(uside(right.as("b")), col("a.dst") === col("b.src"))
              .select(col("a.src").as("src"), col("b.dst").as("dst"))
              .filter(col("src") =!= col("dst"))
        }
        // ONE exchange for the whole candidate flow (r16, guide §2.4 —
        // the min_cost_supplier device): hash(src) satisfies BOTH the
        // (src, dst) dedup's clustering (src ⊆ (src, dst)) and the
        // per-src top-k groupBy, so the fan-out crosses the network
        // once where the r15 shape shuffled it twice (distinct by
        // (src, dst), then groupBy(src) on the scored set). The scored
        // set is then pre-reduced per src BEFORE the merge —
        // top-kb(edges ∪ scored) = top-kb(edges ∪ top-kb-per-src(
        // scored)) exactly — so the final merge groupBy touches
        // ≤ 2·n·kb rows instead of the full candidate set.
        // explicit partition count (the session's configured shuffle
        // parallelism — conf-driven, not a local constant): without
        // it AQE coalesces this exchange to advisory-size partitions,
        // which under-parallelizes the compute-bound dedup + distance
        // + top-k chain that runs on it map-side
        val scored = cand
          .repartition(base.sparkSession.sessionState.conf.numShufflePartitions,
            col("src"))
          .dropDuplicates("src", "dst")
          .join(side(base.select(col("id").as("src"), col("vec").as("sv"))), Seq("src"))
          .join(side(base.select(col("id").as("dst"), col("vec").as("dv"))), Seq("dst"))
          .select(col("src"), col("dst"), l2sq(col("sv"), col("dv")).as("dist"))
        val merged = topKPerSrc(edges.unionByName(topKPerSrc(scored, kb)), kb)
          .localCheckpoint(true)
        edges.unpersist(blocking = false)
        freshOpt.foreach(_._1.unpersist(blocking = false))
        if (prevUnd != null) prevUnd.unpersist(blocking = false)
        prevUnd = und
        edges = merged
        // superseded rounds' shuffle files are deleted only after their
        // dependencies are GC'd driver-side; a 500k round writes tens of
        // GB, and waiting for organic heap-pressure GC overruns local
        // disk — hint the cleaner once per round (no-op at gate scale)
        if (n > 100000L) System.gc()
      }
      it += 1
    }
    if (prevUnd != null) prevUnd.unpersist(blocking = false)
    edges
  }

  /** Per-src smallest-k by (dist, dst) — groupBy + bounded top-k
    * aggregate, no window. Duplicate (dist, dst) pairs (an edge
    * rediscovered in a later round) collapse inside the aggregate. r16:
    * [[graft.functions.TopKPairs]] replaces the collect_list +
    * array_sort + array_distinct + slice formulation (kept in test code
    * as the bit-identity oracle) — the candidate
    * stream is 100-500x longer than k in the heavy descent rounds, and
    * the unbounded per-group list + full sort was ~half the cost of a
    * heavy merge round (probe: 2.0 s vs a 1.1 s aggregation-free floor
    * at sf0.1 round 0). */
  private[graft] def topKPerSrc(edges: DataFrame, k: Int): DataFrame =
    edges.groupBy(col("src"))
      .agg(graft.functions.top_k_pairs(col("dist"), col("dst"), k).as("top"))
      .select(col("src"), explode(col("top")).as("e"))
      .select(col("src"), col("e.dst").as("dst"), col("e.dist").as("dist"))

  /** Deterministic entry points: the `nSeeds` ids with the smallest
    * seeded hash — arbitrary but stable, spread uniformly over the
    * corpus (what HNSW's top layers approximate). One TakeOrdered over
    * the id column; callers cache per graph. */
  def seedIds(graph: DataFrame, nSeeds: Int, seed: Long = 42L): Seq[Long] =
    graph.select(col("src")).distinct()
      .orderBy(xxhash64(col("src"), lit(seed)).asc, col("src").asc)
      .limit(nSeeds)
      .collect().map(_.getLong(0)).toSeq

  /** GEOMETRY-SPREAD entry points — the scale answer to the r15 decade
    * catch: on clustered high-dim corpora the k-NN graph is near
    * cluster-pure (cross-cluster edges lose every top-k truncation),
    * so beam reachability is bounded by SEED COVERAGE — 32 hash seeds
    * against the d384 fixture's 1,000 clusters measured recall@10
    * 0.000 at 100k (the expected ≈ nSeeds²/nClusters coverage, not a
    * build defect). HNSW's upper layers exist precisely to spread
    * entry points over the data's geometry; this is that device in
    * distributed form: two rounds of seeded hyperplane-LSH bucketing
    * (≈ nSeeds/2 buckets each), one representative per bucket (min
    * seeded hash — arbitrary but stable), union. Regions get seeds in
    * proportion to their occupied LSH cells, so every cluster's
    * neighborhood is whp within one beam hop of SOME seed. One
    * groupBy + a ≤ nSeeds collect (the probeLists bounded-driver-state
    * class); deterministic. The seed-probe job scores B·nSeeds pairs —
    * the same class as an IVF coarse scan at nlist ≈ nSeeds.
    *
    * Sizing: on cluster-pure graphs recall IS seed coverage, so nSeeds
    * plays the role IVF's nlist/nprobe plays — sweep it. The 50k/d384
    * decomposition (labels in the fixture): same-label edge fraction
    * 1.000 (fully cluster-pure graph), recall-when-cluster-seeded
    * 1.000 at EVERY seed count, overall recall = coverage: 768 seeds →
    * 0.719, 1,552 → 0.875, 3,126 → 1.000 against ~1,000 clusters —
    * i.e. ~3-4× the cluster granularity saturates. Navigable
    * geometries (the 64-dim corpora) stay fine at tens of seeds. */
  def spreadSeeds(emb: DataFrame, nSeeds: Int, seed: Long = 42L,
                  idCol: String = "vec_id",
                  embCol: String = "embedding"): Seq[Long] = {
    require(nSeeds >= 2, s"graft graph-ann: nSeeds=$nSeeds < 2")
    val base = emb.select(col(idCol).as("id"), col(embCol).as("vec"))
    val dim = base.select(col("vec")).head.getSeq[Float](0).size
    val bits = math.max(1, math.min(20,
      math.ceil(math.log(math.max(nSeeds / 2.0, 2.0)) / math.log(2.0)).toInt))
    val rounds = (0 until 2).map { r =>
      val planes = Dedup.hyperplanes(dim, bits, seed + 7000L * (r + 1))
      base.select(lit(r).as("r"),
        graft.functions.hyperplane_sketch(col("vec"), planes).as("sig"),
        col("id"))
    }
    rounds.reduce(_.unionByName(_))
      .groupBy(col("r"), col("sig"))
      .agg(min(struct(xxhash64(col("id"), lit(seed)).as("h"),
        col("id").as("id"))).as("m"))
      .select(col("m.id").as("id")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
  }

  // ---- beam search (single + batched share one core) ----------------------

  /** Historic batch-size ceiling for the r15 crossJoin-fused hop (its
    * collect was |cand edges| × B rows, so only B ≤ 8 took it). The
    * r16 hop loop fuses EVERY batch size into one job via broadcast
    * (qid, src) frontier pairs — collect bounded by B·ef·k — so the
    * ceiling no longer gates anything; kept for probe scripts that
    * referenced it. */
  val FusedHopBatchMax = 8

  /** Per-query driver-side beam state. `beam` is sorted (dist, id)
    * ascending and capped at the internal width. */
  private final class QState(val qid: Long) {
    var beam: Vector[(Long, Double)] = Vector.empty
    val visited = scala.collection.mutable.Set[Long]()
    val expanded = scala.collection.mutable.Set[Long]()
    var active = true
  }

  /** ONE pruned adjacency scan for the union frontier of every active
    * beam: bucket pruning (when the graph is a persisted bucketed
    * generation) is an `isin` over ≤ nBuckets literals — static
    * PartitionFilters at the parquet scan — and the src restriction is
    * an `isin` for small frontiers or a broadcast semi-join for batch
    * frontiers (an `In` list with thousands of children bloats the
    * plan). Package-private so the spec can assert the pruned plan. */
  private[graft] def hopScan(spark: SparkSession, graph: DataFrame,
                                 frontier: Seq[Long],
                                 bucketOf: Option[Long => Int]): DataFrame = {
    val pruned = bucketOf match {
      case Some(f) =>
        val buckets = frontier.map(f(_)).distinct.map(Int.box)
        graph.filter(col("bucket").isin(buckets: _*))
      case None => graph
    }
    if (frontier.size <= 256)
      pruned.filter(col("src").isin(frontier: _*)).select(col("src"), col("dst"))
    else {
      import spark.implicits._
      pruned.join(broadcast(frontier.toDF("src")), Seq("src"), "left_semi")
        .select(col("src"), col("dst"))
    }
  }

  /** ONE distance probe shared across every active beam: the (qid,
    * cand_id) pairs are driver-built (bounded by B·ef·k), broadcast
    * against one narrow corpus scan, joined to the broadcast query
    * batch, and scored with the codegen'd squared-L2. */
  private def probeDists(spark: SparkSession, emb: DataFrame, qdf: DataFrame,
                         pairs: Seq[(Long, Long)]): Map[(Long, Long), Double] = {
    if (pairs.isEmpty) return Map.empty
    import spark.implicits._
    val pdf = pairs.toDF("qid", "cand_id")
    broadcast(pdf)
      .join(emb.select(col("vec_id").as("cand_id"), col("embedding")), Seq("cand_id"))
      .join(broadcast(qdf), Seq("qid"))
      .select(col("qid"), col("cand_id"), l2sq(col("embedding"), col("qvec")).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
  }

  /** Multi-seed best-first beam search for a BATCH of queries over the
    * k-NN graph, run in lockstep: every hop expands every active
    * query's not-yet-expanded beam members at once via ONE fused
    * pruned-adjacency-scan + distance-probe job shared by the WHOLE
    * batch (the graph twin of `knn_batch128`'s one-pass amortization;
    * driver state bounded by B·ef·k). A query stops when a hop
    * improves nothing for it or `maxHops` generations pass. The
    * single-query [[searchBeam]] is the B=1 special case of this loop,
    * so batch ≡ sequential holds by construction (and is spec-pinned).
    *
    * `excludeSelf`: each query's own qid is dropped from its result
    * (the reference's self-exclusion, app.py:91-93). The internal beam
    * holds ef+1 entries in that case so the exclusion can never shrink
    * the result below k — the r14-advice edge where ef == k and the
    * query id occupied a beam slot returned k−1 rows.
    *
    * `maxHops` must cover the graph's hop-diameter from the seeds
    * (≈ log_k n): the 100k decade grid measured recall@10 0.41 at
    * 6 hops vs 0.75 at 12 with everything else fixed — small corpora
    * stop early via the no-improvement exit either way, so the larger
    * default costs nothing at gate scale.
    *
    * Returns (qid, vec_id, dist, rank) — rank 1..k by (dist, vec_id)
    * ascending per qid. */
  def searchBeamBatch(spark: SparkSession, graph: DataFrame, emb: DataFrame,
                      queries: Seq[(Long, Array[Float])], k: Int, ef: Int = 32,
                      maxHops: Int = 12, seeds: Seq[Long],
                      excludeSelf: Boolean = true,
                      bucketOf: Option[Long => Int] = None): DataFrame = {
    require(queries.nonEmpty, "graph-ann: empty query batch")
    require(queries.map(_._1).distinct.size == queries.size,
      "graph-ann: duplicate qids in batch")
    require(ef >= k, s"graph-ann: ef=$ef < k=$k")
    val efW = if (excludeSelf) ef + 1 else ef
    import spark.implicits._
    val qdf = queries.toDF("qid", "qvec")
    val states = queries.map { case (qid, _) => new QState(qid) }
    // seed generation: score every (query, seed) pair in one probe
    val seedD = probeDists(spark, emb, qdf,
      for { (qid, _) <- queries; s <- seeds } yield (qid, s))
    states.foreach { st =>
      st.beam = seeds.flatMap(s => seedD.get((st.qid, s)).map(d => (s, d)))
        .sortBy { case (id, d) => (d, id) }.take(efW).toVector
      st.visited ++= st.beam.map(_._1)
    }
    var hops = 0
    while (hops < maxHops && states.exists(_.active)) {
      val frontiers = states.filter(_.active).map { st =>
        st -> st.beam.map(_._1).filterNot(st.expanded.contains)
      }
      frontiers.collect { case (st, fr) if fr.isEmpty => st.active = false }
      val live = frontiers.filter(_._2.nonEmpty)
      if (live.nonEmpty) {
        val union = live.flatMap(_._2).distinct
        // EVERY hop is ONE job for every batch size (r16; the r15 shape
        // fused only B ≤ 8 and ran larger batches two-phase — an
        // adjacency-scan job plus a distance-probe job per hop). Two
        // fused shapes, both computing the same l2sq(candidate, query)
        // expression the two-phase probe evaluated, so results are
        // bit-identical (extra (qid, dst) pairs are never looked up):
        //  - small live batches crossJoin the ≤ FusedHopBatchMax live
        //    queries (ONE broadcast per hop; collect |cand edges| × B —
        //    per-hop broadcast latency dominates single-probe audits,
        //    so fewer exchanges beats a tighter row bound here);
        //  - larger batches broadcast the live (qid, src) frontier
        //    pairs, so each adjacency row fans out ONLY to the queries
        //    whose frontier reached it — collect bounded by
        //    Σ_q Σ_{s∈frontier_q} deg(s) ≤ B·ef·k rows, the same
        //    driver bound the two-phase probe had, in half the jobs.
        val scanned = hopScan(spark, graph, union, bucketOf)
          .join(emb.select(col("vec_id").as("dst"), col("embedding")), Seq("dst"))
        val hopRows: Array[org.apache.spark.sql.Row] =
          if (live.size <= FusedHopBatchMax) {
            // driver-built live-only query batch (the r15-advice fix:
            // finished queries' distances were computed and shipped
            // but never looked up)
            val liveQids = live.map(_._1.qid).toSet
            val qdfLive = queries.filter(q => liveQids(q._1)).toDF("qid", "qvec")
            scanned
              .crossJoin(broadcast(qdfLive))
              .select(col("qid"), col("dst"),
                l2sq(col("embedding"), col("qvec")).as("d"))
              .collect()
          } else {
            val pairDf = live.flatMap { case (st, fr) => fr.map(s => (st.qid, s)) }
              .toDF("qid", "src")
            scanned
              .join(broadcast(pairDf), Seq("src"))
              .join(broadcast(qdf), Seq("qid"))
              .select(col("qid"), col("dst"),
                l2sq(col("embedding"), col("qvec")).as("d"))
              .collect()
          }
        val dstsByQid: Map[Long, Array[Long]] = hopRows.groupBy(_.getLong(0))
          .map { case (q, rows) => q -> rows.map(_.getLong(1)).distinct }
        val dmap: Map[(Long, Long), Double] =
          hopRows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        val freshByState = live.map { case (st, fr) =>
          st.expanded ++= fr
          val fresh = dstsByQid.getOrElse(st.qid, Array.empty[Long])
            .filterNot(st.visited.contains)
          st.visited ++= fresh
          (st, fresh)
        }
        freshByState.foreach { case (st, fresh) =>
          val scored = fresh.map(c => (c, dmap((st.qid, c))))
          val worst = if (st.beam.size < efW) Double.MaxValue else st.beam.last._2
          val underfull = st.beam.size < efW
          st.beam = (st.beam ++ scored)
            .sortBy { case (id, d) => (d, id) }.take(efW).toVector
          st.active = scored.exists(_._2 < worst) || underfull
        }
      }
      hops += 1
    }
    val out = states.flatMap { st =>
      st.beam.filterNot { case (id, _) => excludeSelf && id == st.qid }
        .take(k).zipWithIndex
        .map { case ((id, d), i) => (st.qid, id, d, (i + 1).toLong) }
    }
    out.toDF("qid", "vec_id", "dist", "rank")
      .orderBy(col("qid").asc, col("rank").asc)
  }

  /** Single-query beam search — the B=1 case of [[searchBeamBatch]]
    * (one loop, no drift between the serving paths). Returns
    * (vec_id, dist) top-k by (dist, vec_id) ascending. */
  def searchBeam(spark: SparkSession, graph: DataFrame, emb: DataFrame,
                 q: Array[Float], k: Int, ef: Int = 32, maxHops: Int = 12,
                 seeds: Seq[Long], excludeId: Option[Long] = None,
                 bucketOf: Option[Long => Int] = None): DataFrame =
    searchBeamBatch(spark, graph, emb, Seq(excludeId.getOrElse(-1L) -> q),
        k, ef, maxHops, seeds, excludeSelf = excludeId.isDefined, bucketOf)
      .select(col("vec_id"), col("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)

  // ---- persisted form ------------------------------------------------------

  /** A persisted graph generation: the bucket-partitioned adjacency
    * plus its bucket count (from the sibling stats table). */
  final case class GraphIndex(adjacency: DataFrame, nBuckets: Int)

  /** Driver twin of the adjacency's partition-bucket expression —
    * MUST stay bit-identical to [[bucketedAdjacency]]'s column form
    * (pmod(xxhash64(src), nBuckets); Spark's xxhash64 seed is 42), or
    * searches would prune to partitions the writer never used.
    * Spec-pinned against the column expression. */
  def bucketOf(id: Long, nBuckets: Int): Int =
    java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L),
      nBuckets.toLong).toInt

  /** The ONE bucket pipeline every save/append path runs (the
    * TextSearch.bucketedPostings discipline — sharing the code makes
    * writer/reader divergence impossible). `bucket` is int, matching
    * parquet partition-directory type inference on load. */
  private def bucketedAdjacency(graph: DataFrame, nBuckets: Int): DataFrame =
    graph.select(col("src"), col("dst"), col("dist"),
      pmod(xxhash64(col("src")), lit(nBuckets.toLong)).cast("int").as("bucket"))

  /** Persist the graph as a parquet directory: the adjacency
    * partitioned by `bucket = pmod(xxhash64(src), nBuckets)` (so a
    * beam hop statically prunes to its frontier's buckets — the r14
    * verdict's scale fix; `repartition(bucket)` first so each bucket
    * gets one file, not parallelism × nBuckets slivers), plus a
    * one-row stats table carrying the bucket count. */
  def saveGraph(graph: DataFrame, dir: String,
                nBuckets: Int = LogBuckets.Adaptive): Unit = {
    // adaptive default ([[LogBuckets]] — the adjacency has n·k rows);
    // appends and pruned searches follow the stored stats value. The
    // 500k decade passes 512 explicitly (measured frontier pruning).
    val nb = LogBuckets.resolve(nBuckets, graph.count())
    bucketedAdjacency(graph, nb).repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/adjacency")
    graph.sparkSession.range(1).select(lit(nb).as("n_buckets"))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Load a persisted generation; missing path fails like the
    * reference's index load (FileNotFoundError parity, app.py:127-128). */
  def loadGraph(spark: SparkSession, dir: String): GraphIndex = {
    if (!new java.io.File(dir).exists())
      throw new java.io.FileNotFoundException(s"Graph directory not found: $dir")
    val nBuckets = spark.read.parquet(s"$dir/stats")
      .select(col("n_buckets")).head.getInt(0)
    GraphIndex(spark.read.parquet(s"$dir/adjacency"), nBuckets)
  }

  /** Beam search over a persisted generation: identical beam core,
    * with every hop's adjacency scan statically pruned to the
    * frontier's buckets (driver-computed via [[bucketOf]] — the
    * bm25_persisted pattern). Persisted ≡ in-memory results hold by
    * construction (pruning only drops rows the src filter would) and
    * are spec-pinned bit-for-bit. */
  def searchIndex(spark: SparkSession, idx: GraphIndex, emb: DataFrame,
                  q: Array[Float], k: Int, ef: Int = 32, maxHops: Int = 12,
                  seeds: Seq[Long], excludeId: Option[Long] = None): DataFrame =
    searchBeam(spark, idx.adjacency, emb, q, k, ef, maxHops, seeds, excludeId,
      bucketOf = Some(bucketOf(_, idx.nBuckets)))

  /** Batched serving over a persisted generation — ONE fused
    * scan-and-probe job per hop for the whole batch. */
  def searchIndexBatch(spark: SparkSession, idx: GraphIndex, emb: DataFrame,
                       queries: Seq[(Long, Array[Float])], k: Int,
                       ef: Int = 32, maxHops: Int = 12, seeds: Seq[Long],
                       excludeSelf: Boolean = true): DataFrame =
    searchBeamBatch(spark, idx.adjacency, emb, queries, k, ef, maxHops, seeds,
      excludeSelf, bucketOf = Some(bucketOf(_, idx.nBuckets)))

  // ---- incremental append (the IVF append/retrain discipline) -------------

  /** Idempotent per-wave append to a persisted graph — the graph twin
    * of [[IvfIndex.appendBatch]] / [[TextSearch.appendTermBatch]]
    * (stage → prefixed move under the bucket partitions → marker;
    * replays of a committed batch are no-ops; the lease fences
    * concurrent writers).
    *
    * Each new vector's k-NN list among the EXISTING nodes comes from
    * one batched beam search over the standing generation (the wave is
    * the query batch — bounded driver state, like a streaming
    * micro-batch); forward edges (new → found) give the new node its
    * list, back edges (found → new) make it REACHABLE from the
    * standing graph's beams. Until [[repairGraph]] runs, back-edged
    * srcs exceed degree k and intra-wave edges are absent — both are
    * the documented drift-and-repair posture (IVF appends against
    * frozen centroids, same contract), and searches only ever IMPROVE
    * from extra candidate edges. Returns new nodes appended (0 for a
    * replayed committed wave). */
  def appendGraphBatch(spark: SparkSession, dir: String, newRows: DataFrame,
                       emb: DataFrame, k: Int = 10, ef: Int = 32,
                       batchId: Long, namespace: String = "",
                       seeds: Option[Seq[Long]] = None): Long =
    BatchFs.appendOnce(dir, "adjacency", batchId, namespace,
        Seq(BatchFs.Log("adjacency", "bucket="))) { staging =>
      val idx = loadGraph(spark, dir)
      // the wave IS the query batch: bounded by the micro-batch size
      val queries = newRows.select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
      if (queries.nonEmpty) {
        // seed override for concentrated geometry: the wave's k-NN
        // lists are only as good as the beams' entry coverage (pass
        // spreadSeeds sized per the scaladoc there); hash seeds remain
        // the navigable-geometry default
        val entry = seeds.getOrElse(seedIds(idx.adjacency, 16))
        // NOT sub-batched into concurrent sub-waves (r16 probe, measured
        // negative result): splitting the wave changes which queries
        // share a hop once a group's live count drops to the ≤ 8
        // crossJoin shape — that shape scores each live query against
        // the UNION of live frontiers, so batch composition is visible
        // in the appended edge set (probe: sb4 vs sb1 adjacency hashes
        // differ) — and the wall-clock was a wash anyway (mins 2.63 vs
        // 2.84 s, medians 2.91 vs 2.84 s at sf0.1).
        val fwd = searchIndexBatch(spark, idx, emb, queries, k, ef,
            seeds = entry, excludeSelf = false)
          .select(col("qid"), col("vec_id"), col("dist")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        import spark.implicits._
        val edges = (fwd ++ fwd.map { case (s, d, x) => (d, s, x) }).toSeq
          .toDF("src", "dst", "dist")
        bucketedAdjacency(edges, idx.nBuckets).repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$staging/adjacency")
      }
      queries.size.toLong
    }

  /** The retrain analogue: NN-descent rounds initialized from the
    * CURRENT adjacency (original + appended waves) over the full
    * corpus, truncated to k, written as a fresh immutable generation
    * at `dstDir` (the [[IvfIndex.retrain]] posture — the old
    * generation stays valid for in-flight readers; promotion is a path
    * swap by the caller). This is where intra-wave edges appear and
    * back-edged degrees renormalize to exactly k. */
  def repairGraph(spark: SparkSession, srcDir: String, dstDir: String,
                  emb: DataFrame, k: Int = 10, iters: Int = 2,
                  rho: Double = 1.0, seed: Long = 42L,
                  buildFactor: Int = 3): Unit = {
    val idx = loadGraph(spark, srcDir)
    val kb = k * buildFactor
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val edges = descend(base,
      idx.adjacency.select(col("src"), col("dst"), col("dist")),
      kb, iters, rho, seed)
    saveGraph(if (kb == k) edges else topKPerSrc(edges, k), dstDir, idx.nBuckets)
  }

  // ---- memoized sf-table forms + registered audit queries -----------------

  private val graphCache = JvmCaches.sessionMap[(String, Int, Int), DataFrame]()
  private val exactGraphCache = JvmCaches.sessionMap[(String, Int), DataFrame]()
  private val seedCache = JvmCaches.sessionMap[(String, Int, Int), Seq[Long]]()
  private val persistedCache = JvmCaches.sessionMap[String, GraphIndex]()
  // appended lifecycle: (repaired generation, replay-was-noop)
  private val appendedCache = JvmCaches.sessionMap[String, (GraphIndex, Boolean)]()

  def forEmbeddings(spark: SparkSession, sfDir: String,
                    k: Int = 10, iters: Int = 6): DataFrame =
    graphCache.getOrElseUpdate(spark, (sfDir, k, iters)) {
      buildGraph(Tables.embeddings(spark, sfDir), k = k, iters = iters)
    }

  /** The exact k-NN graph twin ([[VectorSearchOps.knnBatchExact]] over
    * every vector), memoized per session×sfDir and persisted:
    * `knn_graph_stats` AND `knn_graph_append` both measure edge
    * overlap against it, and the bench runs each three times — the
    * O(n²) window pass is paid once (its own warm entry,
    * `exact_twin_graph`, the exactBatchTwin discipline) instead of
    * six times. */
  private[graft] def exactGraphTwin(spark: SparkSession, sfDir: String,
                                    k: Int = 10): DataFrame =
    exactGraphCache.getOrElseUpdate(spark, (sfDir, k)) {
      val t = VectorSearchOps.knnBatchExact(spark, sfDir,
          nQueries = Int.MaxValue, k = k)
        .select(col("src_id").as("src"), col("dst_id").as("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t.count()
      t
    }

  def seedsForEmbeddings(spark: SparkSession, sfDir: String,
                         k: Int = 10, iters: Int = 6,
                         nSeeds: Int = 16): Seq[Long] =
    seedCache.getOrElseUpdate(spark, (sfDir, k, iters)) {
      seedIds(forEmbeddings(spark, sfDir, k, iters), nSeeds)
    }

  /** The persisted bucketed generation over the sf embeddings,
    * memoized per (JVM session, sfDir) — Verify and the bench's reps
    * share one on-disk generation; every SEARCH against it re-executes
    * the pruned-scan path (nothing in-memory), so the bench times the
    * serving shape the 100 TB design claims. */
  def persistedGraphFor(spark: SparkSession, sfDir: String): GraphIndex =
    persistedCache.getOrElseUpdate(spark, sfDir) {
      val dir = graft.StateDir.of("graph-ann", sfDir)
      saveGraph(forEmbeddings(spark, sfDir), dir)
      loadGraph(spark, dir)
    }

  /** The full incremental lifecycle over the sf embeddings, memoized:
    * build on the standing 4/5 of the corpus (vec_id % 5 != 0), append
    * the remaining 1/5 as one wave (batchId 0), REPLAY the same wave
    * (must be a no-op — the flag rides into the audit), then repair
    * into a fresh generation. Build uses iters=4 (build QUALITY is
    * [[graphBuildAudit]]'s contract, pinned at the default 6; the
    * lifecycle's contract is append/repair parity). */
  def appendedGraphFor(spark: SparkSession, sfDir: String,
                       k: Int = 10): (GraphIndex, Boolean) =
    appendedCache.getOrElseUpdate(spark, sfDir) {
      val dir = graft.StateDir.of("graph-append", sfDir)
      BatchFs.deleteRecursively(java.nio.file.Paths.get(dir))
      BatchFs.deleteRecursively(java.nio.file.Paths.get(s"$dir-repaired"))
      val emb = Tables.embeddings(spark, sfDir)
      val existing = emb.filter(pmod(col("vec_id"), lit(5L)) =!= 0L)
      val wave = emb.filter(pmod(col("vec_id"), lit(5L)) === 0L)
      saveGraph(buildGraph(existing, k = k, iters = 4), dir)
      val n1 = appendGraphBatch(spark, dir, wave, existing, k = k,
        batchId = 0L, namespace = "audit")
      val n2 = appendGraphBatch(spark, dir, wave, existing, k = k,
        batchId = 0L, namespace = "audit")
      repairGraph(spark, dir, s"$dir-repaired", emb, k = k, iters = 2)
      (loadGraph(spark, s"$dir-repaired"), n1 > 0L && n2 == 0L)
    }

  /** Registered `knn_graph_stats` — the NN-descent build audit. WHICH
    * edges the descent finds is deterministic here (hash-seeded, no
    * k-means) but not SQL-expressible, so the registered columns are
    * the deterministic contract:
    *  - `n_nodes` — every node has an adjacency list (restated count);
    *  - `degree_ok` — out-degree is exactly k everywhere (n > k);
    *  - `no_self_loops_ok`, `sorted_unique_ok` — structural invariants;
    *  - `dists_exact_ok` — every stored edge distance equals the
    *    recomputed squared-L2 of its endpoints bit-for-bit;
    *  - `graph_recall` ≥ [[GraphRecallFloor]] — edge overlap with the
    *    EXACT k-NN graph (engine-side all-pairs twin; the embeddings
    *    tables are ≤ 4k rows at every gate scale, inside the
    *    ExactTwinGuard budget). Measured 1.000 at sf0.001/0.01 and
    *    ≥ 0.98 at sf0.1; floor 0.9 leaves margin. */
  def graphBuildAudit(spark: SparkSession, sfDir: String,
                      k: Int = 10, iters: Int = 6): DataFrame = {
    val g = forEmbeddings(spark, sfDir, k, iters)
    val emb = Tables.embeddings(spark, sfDir)
    val struct1 = g.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"),
        sum(when(col("src") === col("dst"), 1).otherwise(0)).as("selfs"))
      .agg(count(lit(1)).as("n_nodes"),
        (min(col("deg")) === k && max(col("deg")) === k).as("degree_ok"),
        (sum(col("selfs")) === 0).as("no_self_loops_ok"))
    val rec = g
      .join(emb.select(col("vec_id").as("src"), col("embedding").as("sv")), Seq("src"))
      .join(emb.select(col("vec_id").as("dst"), col("embedding").as("dv")), Seq("dst"))
      .agg(forall(col("dist") === l2sq(col("sv"), col("dv"))).as("dists_exact_ok"))
    // exact k-NN graph via the all-pairs twin — an O(n²) oracle anchor,
    // so it carries the shared guard; the scale path IS buildGraph
    ExactTwinGuard.check(emb.count(), ExactTwinGuard.MaxRows,
      "knn_graph_stats", "buildGraph + VECTOR_DECADE artifact")
    val exact = exactGraphTwin(spark, sfDir, k)
    val hit = g.join(exact, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    struct1.crossJoin(broadcast(rec)).crossJoin(broadcast(hit))
      .crossJoin(broadcast(tot))
      .select(col("n_nodes"), lit(k).as("k"), col("degree_ok"),
        col("no_self_loops_ok"), col("dists_exact_ok"),
        (col("n_hit").cast("double") / col("n_exact").cast("double")
          >= GraphRecallFloor).as("graph_recall_ok"))
  }

  val GraphRecallFloor = 0.9
  val SearchRecallFloor = 0.8
  /** Mean-recall floor for the 32-query batch audit — per-query floors
    * belong to the single-probe audits; the batch entry pins the
    * aggregate serving quality (the decade's measure). */
  val BatchRecallFloor = 0.8

  /** Registered `knn_graph_search` — the beam-search audit, mirroring
    * the f16/autotune audit discipline: n_hits restated, stored
    * distances bit-equal to the exact recomputation, and recall@k vs
    * the exact scan above [[SearchRecallFloor]] (deterministic — the
    * graph and the beam are both hash-seeded). */
  def graphSearchAudit(spark: SparkSession, sfDir: String,
                       queryId: Long = 0L, k: Int = 10, ef: Int = 32): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val g = forEmbeddings(spark, sfDir)
    val q = Tables.queryVector(spark, sfDir, queryId)
    val res = searchBeam(spark, g, emb, q, k, ef,
      seeds = seedsForEmbeddings(spark, sfDir), excludeId = Some(queryId))
    searchFlags(spark, sfDir, res, q, queryId, k)
  }

  /** Shared flag frame for the single-probe search audits: n_hits
    * restated, bit-exact distances, recall@k ≥ floor vs the exact
    * scan. */
  private def searchFlags(spark: SparkSession, sfDir: String, res: DataFrame,
                          q: Array[Float], queryId: Long, k: Int): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = VectorSearchOps.knnExactL2(spark, sfDir, queryId, k)
      .select(col("vec_id"))
    val base = res
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .agg(count(lit(1)).as("n_hits"),
        forall(col("dist") === l2sq(col("embedding"), typedlit(q)))
          .as("dists_exact_ok"))
    val hit = res.join(exact, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    base.crossJoin(broadcast(hit))
      .select(col("n_hits"), col("dists_exact_ok"),
        (col("n_hit") >= math.ceil(SearchRecallFloor * k).toLong).as("recall_ok"))
  }

  /** Registered `knn_graph_spread` — the geometry-spread entry audit
    * (the r15 seed-coverage fix's gate surface): the beam entered from
    * [[spreadSeeds]] (one representative per occupied LSH cell — the
    * device that takes the d384 decade point from recall 0.000 to
    * 0.969) instead of hash seeds, carrying the single-probe
    * flags plus the seed contract — two independent derivations equal
    * (determinism) and the occupied-cell count inside the 2-round
    * bound. */
  def graphSpreadAudit(spark: SparkSession, sfDir: String,
                       queryId: Long = 0L, k: Int = 10, ef: Int = 32,
                       nSeeds: Int = 64): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val g = forEmbeddings(spark, sfDir)
    val s1 = spreadSeeds(emb, nSeeds)
    val s2 = spreadSeeds(emb, nSeeds)
    val q = Tables.queryVector(spark, sfDir, queryId)
    val res = searchBeam(spark, g, emb, q, k, ef, seeds = s1,
      excludeId = Some(queryId))
    val bits = math.max(1, math.min(20,
      math.ceil(math.log(math.max(nSeeds / 2.0, 2.0)) / math.log(2.0)).toInt))
    searchFlags(spark, sfDir, res, q, queryId, k)
      .select(col("n_hits"), col("dists_exact_ok"), col("recall_ok"),
        lit(s1 == s2).as("seeds_deterministic_ok"),
        lit(s1.nonEmpty && s1.size <= 2 * (1 << bits)).as("seed_count_ok"))
  }

  /** Registered `knn_graph_persisted` — the persisted serving audit
    * (the r15 scale fix's gate): search the BUCKETED on-disk
    * generation with frontier-bucket pruning, and pin
    *  - the single-probe flags ([[searchFlags]]), and
    *  - `matches_memory_ok` — the pruned persisted search returns
    *    bit-identically what the in-memory beam returns (engine-
    *    compared on the collected rows; also spec-pinned with the
    *    PartitionFilters plan assertion). */
  def graphPersistedAudit(spark: SparkSession, sfDir: String,
                          queryId: Long = 0L, k: Int = 10, ef: Int = 32): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = persistedGraphFor(spark, sfDir)
    val q = Tables.queryVector(spark, sfDir, queryId)
    val seeds = seedsForEmbeddings(spark, sfDir)
    val res = searchIndex(spark, idx, emb, q, k, ef, seeds = seeds,
      excludeId = Some(queryId))
    val mem = searchBeam(spark, forEmbeddings(spark, sfDir), emb, q, k, ef,
      seeds = seeds, excludeId = Some(queryId))
    val same = res.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      mem.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    searchFlags(spark, sfDir, res, q, queryId, k)
      .select(col("n_hits"), col("dists_exact_ok"), col("recall_ok"),
        lit(same).as("matches_memory_ok"))
  }

  /** Registered `knn_graph_batch` — the batched-serving audit over the
    * persisted generation: 32 probes (vec_id < 32) through ONE
    * lockstep beam (2 shared jobs per hop), vs the exact batch twin.
    * Flags: n_queries restated, every query returned exactly k rows,
    * stored distances bit-exact, and MEAN recall@k ≥
    * [[BatchRecallFloor]]. Deterministic end to end. */
  def graphBatchAudit(spark: SparkSession, sfDir: String,
                      nQueries: Int = 32, k: Int = 10, ef: Int = 32): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = persistedGraphFor(spark, sfDir)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    val res = searchIndexBatch(spark, idx, emb, queries, k, ef,
      seeds = seedsForEmbeddings(spark, sfDir), excludeSelf = true)
    val exact = VectorSearchOps.knnBatchExact(spark, sfDir, nQueries, k)
      .select(col("src_id").as("qid"), col("dst_id").as("vec_id"))
    val perQ = res.groupBy(col("qid")).agg(count(lit(1)).as("nk"))
      .agg(count(lit(1)).as("n_queries"),
        (min(col("nk")) === k && max(col("nk")) === k).as("all_k_ok"))
    val qemb = emb.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val cemb = emb.select(col("vec_id"), col("embedding").as("cv"))
    // argument order matches the probe's l2sq(candidate, query) so the
    // bit-equality check compares identical expression shapes
    val exactD = res.join(qemb, Seq("qid")).join(cemb, Seq("vec_id"))
      .agg(forall(col("dist") === l2sq(col("cv"), col("qv"))).as("dists_exact_ok"))
    val hits = res.join(exact, Seq("qid", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    perQ.crossJoin(broadcast(exactD)).crossJoin(broadcast(hits))
      .select(col("n_queries"), col("all_k_ok"), col("dists_exact_ok"),
        (col("n_hit").cast("double") >= lit(BatchRecallFloor * nQueries * k))
          .as("recall_ok"))
  }

  /** Registered `knn_graph_append` — the incremental-closure audit
    * (the IVF append/retrain discipline, graph form): the repaired
    * post-append generation must look like a fresh build —
    *  - `n_nodes` — every corpus node has a list (restated count);
    *  - `degree_ok` / `no_self_loops_ok` / `dists_exact_ok` — the
    *    build audit's structural invariants, on the repaired graph;
    *  - `graph_recall_ok` — edge overlap with the exact k-NN graph
    *    clears the SAME floor as a fresh build (append ≡ fresh-build
    *    recall parity);
    *  - `replay_noop_ok` — re-appending the committed wave returned 0
    *    (the BatchFs marker protocol held);
    *  - `search_recall_ok` — a beam probe over the repaired
    *    generation clears the serving floor. */
  def graphAppendAudit(spark: SparkSession, sfDir: String,
                       queryId: Long = 0L, k: Int = 10, ef: Int = 32): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val (idx, replayOk) = appendedGraphFor(spark, sfDir, k)
    val g = idx.adjacency
    val struct1 = g.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"),
        sum(when(col("src") === col("dst"), 1).otherwise(0)).as("selfs"))
      .agg(count(lit(1)).as("n_nodes"),
        (min(col("deg")) === k && max(col("deg")) === k).as("degree_ok"),
        (sum(col("selfs")) === 0).as("no_self_loops_ok"))
    val rec = g
      .join(emb.select(col("vec_id").as("src"), col("embedding").as("sv")), Seq("src"))
      .join(emb.select(col("vec_id").as("dst"), col("embedding").as("dv")), Seq("dst"))
      .agg(forall(col("dist") === l2sq(col("sv"), col("dv"))).as("dists_exact_ok"))
    ExactTwinGuard.check(emb.count(), ExactTwinGuard.MaxRows,
      "knn_graph_append", "appendGraphBatch + VECTOR_DECADE artifact")
    val exact = exactGraphTwin(spark, sfDir, k)
    val hit = g.join(exact, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    val q = Tables.queryVector(spark, sfDir, queryId)
    val probe = searchIndex(spark, idx, emb, q, k, ef,
      seeds = seedIds(g, 16), excludeId = Some(queryId))
    val exactProbe = VectorSearchOps.knnExactL2(spark, sfDir, queryId, k)
      .select(col("vec_id"))
    val probeHit = probe.join(exactProbe, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_probe_hit"))
    struct1.crossJoin(broadcast(rec)).crossJoin(broadcast(hit))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(probeHit))
      .select(col("n_nodes"), col("degree_ok"), col("no_self_loops_ok"),
        col("dists_exact_ok"),
        (col("n_hit").cast("double") / col("n_exact").cast("double")
          >= GraphRecallFloor).as("graph_recall_ok"),
        lit(replayOk).as("replay_noop_ok"),
        (col("n_probe_hit") >= math.ceil(SearchRecallFloor * k).toLong)
          .as("search_recall_ok"))
  }
}
