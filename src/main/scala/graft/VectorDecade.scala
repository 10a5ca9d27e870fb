package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators._

/** Deterministic large-vector fixture for the index-family scale
  * decade (round-14 evidence task): the sf tables cap embeddings at
  * 4,000 rows so the O(n²) exact-twin oracles stay cheap, which left
  * every production claim about the ANN surface (nlist ~ √N, the
  * distributed coarse-assign path, the recall floors) extrapolated
  * from 4k vectors. This generator writes an `embeddings.parquet` that
  * is shaped like the sf table (vec_id int64, embedding list<float>,
  * label int32) but at 500k × 64-dim, so EVERY index operator runs on
  * it unchanged through the same `Tables.embeddings` path — it is a
  * separate directory precisely so the sf-table twin guards keep
  * protecting the gate corpora.
  *
  * Geometry: a 1,000-center mixture on the unit sphere with bias 0.8
  * (v = normalize(g + 0.8·c)) — within-cluster spread comparable to
  * the between-center distance, the clusterability real embedding
  * corpora show (a near-isotropic cloud is the IVF worst case and
  * models nothing; SIFT/GIST-class corpora partition well, which is
  * why IVF works in production at all). Everything
  * derives from splitmix64 of (vec_id, dim), so the fixture is
  * bit-reproducible on any partitioning and never needs committing.
  */
object DecadeFixture {

  val Dim = 64
  val NCenters = 1000
  val Bias = 0.8f

  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0,1) from a splitmix output (53-bit mantissa). */
  private def unit(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble

  /** Standard normal via Box-Muller from two chained splitmix draws. */
  private def gaussian(seed: Long): Double = {
    val u1 = math.max(unit(splitmix64(seed)), 1e-300)
    val u2 = unit(splitmix64(seed + 0x632BE59BD9B4E019L))
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** The driver-tiny center matrix (NCenters × dim, unit rows). The
    * per-component seed formula is dim-stable: a 64-dim center is the
    * prefix of its 384-dim twin before normalization. */
  def centersFor(dim: Int): Array[Array[Float]] = Array.tabulate(NCenters) { c =>
    val raw = Array.tabulate(dim)(d => gaussian(splitmix64(0xC0FFEEL + c * 1031L + d)))
    val n = math.sqrt(raw.map(x => x * x).sum)
    raw.map(x => (x / n).toFloat)
  }

  def centers: Array[Array[Float]] = centersFor(Dim)

  def rowFor(vecId: Long, cents: Array[Array[Float]], dim: Int): (Long, Array[Float], Int) = {
    val label = ((splitmix64(vecId * 0x9E3779B97F4A7C15L + 17L) >>> 1) % NCenters).toInt
    val c = cents(label)
    val g = Array.tabulate(dim)(d => gaussian(splitmix64(vecId * 8191L + d)))
    val gn = math.sqrt(g.map(x => x * x).sum)
    val v = Array.tabulate(dim)(d => (g(d) / gn + Bias * c(d)))
    val vn = math.sqrt(v.map(x => x * x).sum)
    (vecId, v.map(x => (x / vn).toFloat), label)
  }

  def row(vecId: Long, cents: Array[Array[Float]]): (Long, Array[Float], Int) =
    rowFor(vecId, cents, Dim)

  /** Write `dir`/embeddings.parquet (n rows × dim) if absent; idempotent. */
  def ensureDim(spark: SparkSession, dir: String, n: Long, dim: Int): Unit = {
    val path = new java.io.File(s"$dir/embeddings.parquet")
    // _SUCCESS, not the directory: a failed write must not poison the
    // fixture location into an unreadable half-state
    if (new java.io.File(path, "_SUCCESS").exists()) return
    import spark.implicits._
    val cents = centersFor(dim) // serialized once into the closure
    spark.range(0L, n, 1L, 64)
      .map(id => rowFor(id, cents, dim))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(path.getAbsolutePath)
  }

  def ensure(spark: SparkSession, dir: String, n: Long): Unit =
    ensureDim(spark, dir, n, Dim)
}

/** The round-14 vector-scale decade runner: builds the whole index
  * family at production sizing (nlist ≈ √N) over the 500k fixture and
  * measures recall@10 against the exact scan plus per-query latency,
  * the distributed-vs-driver coarse-assignment identity on real data,
  * and batch-search throughput (queries/sec vs the sequential sum).
  * Emits one JSON artifact (VECTOR_DECADE_r14.json) — the committed
  * evidence that the ANN surface holds past the 4k-vector ceiling.
  *
  * Run: sbt "runMain graft.VectorDecade [fixtureDir] [outJson] [n]"
  */
object VectorDecade {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(s.length / 2)
  }

  private def fmt(d: Double): String = f"$d%.3f"

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("fixtures/vec500k")
    val out = args.lift(1).getOrElse("VECTOR_DECADE_r14.json")
    val n = args.lift(2).map(_.toLong).getOrElse(500000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "48g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (_, tGen) = time(DecadeFixture.ensure(spark, dir, n))
    val emb = Tables.embeddings(spark, dir)
    val total = emb.count()
    val nlist = math.sqrt(total.toDouble).round.toInt
    println(s"fixture: $total vectors, nlist=$nlist (gen ${fmt(tGen)}s)")

    val Q = 32
    val qids: Seq[Long] = (0 until Q).map(i => i.toLong * (total / Q))
    val qvecs: Map[Long, Array[Float]] = emb
      .filter(col("vec_id").isin(qids: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

    // ---- exact ground truth (squared-L2, self excluded) ----------------
    val truthTimes = scala.collection.mutable.ArrayBuffer[Double]()
    val truth: Map[Long, Seq[Long]] = qids.map { qid =>
      val (ids, t) = time(
        VectorSearchOps.knnExactL2(spark, dir, qid, 10)
          .collect().map(_.getLong(0)).toSeq)
      truthTimes += t
      qid -> ids
    }.toMap
    println(s"exact truth done (median ${fmt(median(truthTimes.toSeq))}s/query)")

    val results = scala.collection.mutable.LinkedHashMap[String, Map[String, Double]]()
    results("exact_scan") = Map(
      "latency_s" -> median(truthTimes.toSeq), "recall_at_10" -> 1.0)

    def recallOf(name: String, buildS: Double,
                 run: Long => Seq[Long], queries: Seq[Long] = qids): Unit = {
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      var hits = 0; var slots = 0
      queries.foreach { qid =>
        val (ids, t) = time(run(qid))
        times += t
        val tr = truth(qid).toSet
        hits += ids.count(tr.contains); slots += tr.size
      }
      val rec = hits.toDouble / slots
      results(name) = Map("build_s" -> buildS,
        "latency_s" -> median(times.toSeq), "recall_at_10" -> rec)
      println(f"$name%-22s build=${fmt(buildS)}s  lat=${fmt(median(times.toSeq))}s  recall@10=$rec%.3f")
    }

    // ---- IVF-Flat at nlist = √N ----------------------------------------
    val (index, tBuild) = time(IvfIndex.forEmbeddings(spark, dir, nlist))
    println(s"ivf build ${fmt(tBuild)}s (${index.centroids.count()} lists)")
    Seq(1, 8, 32).foreach { np =>
      recallOf(s"ivf_flat_nprobe$np", if (np == 1) tBuild else 0.0,
        qid => IvfIndex.search(index, qvecs(qid), 10, np, Some(qid))
          .collect().map(_.getLong(0)).toSeq)
    }

    // ---- coarse-assignment identity: driver NearestList vs the ----------
    // ---- distributed broadcast-join argmin, on all 500k real rows -------
    val (drv, tDrv) = time {
      val d = IvfIndex.assignLists(index, emb, "vec_id", "embedding")
      d.persist(); d.count(); d
    }
    val (jn, tJn) = time {
      val j = IvfIndex.assignListsJoin(index, emb, "vec_id", "embedding")
      j.persist(); j.count(); j
    }
    val mismatch = drv.select(col("id"), col("list_id").as("la"))
      .join(jn.select(col("id"), col("list_id").as("lb")), Seq("id"))
      .filter(col("la") =!= col("lb")).count()
    drv.unpersist(blocking = false); jn.unpersist(blocking = false)
    results("coarse_assign") = Map("driver_s" -> tDrv, "join_s" -> tJn,
      "n_rows" -> total.toDouble, "n_mismatch" -> mismatch.toDouble)
    println(s"coarse assign: driver ${fmt(tDrv)}s vs join ${fmt(tJn)}s, mismatch=$mismatch")

    // ---- PQ / IVF-PQ / chained at FAISS nbits=8 -------------------------
    val (_, tPqTrain) = time(Pq.forEmbeddings(spark, dir, m = 8, k = 256))
    recallOf("pq_flat_rerank100", tPqTrain,
      qid => Pq.searchPq(spark, dir, qid, 10, m = 8, k = 256, rerank = 100)
        .collect().map(_.getLong(0)).toSeq)
    val (_, tIvfPqWarm) = time(
      Pq.ivfSearchPq(spark, dir, qids.head, 10, nlist = nlist, nprobe = 32,
        m = 8, k = 256, rerank = 100).collect())
    recallOf("ivf_pq_rerank100", tIvfPqWarm,
      qid => Pq.ivfSearchPq(spark, dir, qid, 10, nlist = nlist, nprobe = 32,
        m = 8, k = 256, rerank = 100).collect().map(_.getLong(0)).toSeq)
    val (_, tChainWarm) = time(
      ChainedIndex.search(spark, dir, qids.head, 10, dOut = 24, nlist = nlist,
        nprobe = 32, m = 8, k = 256, rerank = 200).collect())
    recallOf("pca24_ivf_pq_rerank200", tChainWarm,
      qid => ChainedIndex.search(spark, dir, qid, 10, dOut = 24, nlist = nlist,
        nprobe = 32, m = 8, k = 256, rerank = 200)
        .collect().map(_.getLong(0)).toSeq)
    // dOut=48 twin: the fixture's spectrum is FLAT by construction
    // (isotropic mixture), so PCA24 ≈ a random 24/64 projection and
    // its recall measures spectrum loss, not a code defect — the
    // wider-projection twin pins that the dOut lever recovers recall
    val (_, tChain48Warm) = time(
      ChainedIndex.search(spark, dir, qids.head, 10, dOut = 48, nlist = nlist,
        nprobe = 32, m = 8, k = 256, rerank = 200).collect())
    recallOf("pca48_ivf_pq_rerank200", tChain48Warm,
      qid => ChainedIndex.search(spark, dir, qid, 10, dOut = 48, nlist = nlist,
        nprobe = 32, m = 8, k = 256, rerank = 200)
        .collect().map(_.getLong(0)).toSeq)

    // ---- scalar / binary quantizers (full coded scans) ------------------
    recallOf("f16_scan", 0.0,
      qid => Quantization.knnF16(spark, dir, qid, 10)
        .collect().map(_.getLong(0)).toSeq)
    val (_, tSq8Warm) = time(Sq8Trained.knn(spark, dir, qids.head, 10).collect())
    recallOf("sq8_trained_scan", tSq8Warm,
      qid => Sq8Trained.knn(spark, dir, qid, 10)
        .collect().map(_.getLong(0)).toSeq)
    recallOf("lsh_rerank100", 0.0,
      qid => Quantization.knnBinaryRerank(spark, dir, qid, 10, rerank = 100)
        .collect().map(_.getLong(0)).toSeq)
    // rerank is the 1-bit sketch's scale knob: at 500k a 100-row
    // shortlist under-samples the Hamming ties; 1000 (0.2% of n) is
    // the production-shaped setting
    recallOf("lsh_rerank1000", 0.0,
      qid => Quantization.knnBinaryRerank(spark, dir, qid, 10, rerank = 1000)
        .collect().map(_.getLong(0)).toSeq)

    // ---- IP + cosine metrics (truth = their own exact scans) ------------
    val (ipIndex, tIpBuild) = time(IpSearch.forEmbeddingsIp(spark, dir, nlist))
    val ipTruth: Map[Long, Seq[Long]] = qids.map { qid =>
      qid -> IpSearch.knnExactIp(spark, dir, qid, 10)
        .collect().map(_.getLong(0)).toSeq
    }.toMap
    locally {
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      var hits = 0; var slots = 0
      qids.foreach { qid =>
        val (ids, t) = time(
          IpSearch.searchIp(ipIndex, qvecs(qid), 10, 32, Some(qid))
            .collect().map(_.getLong(0)).toSeq)
        times += t
        val tr = ipTruth(qid).toSet
        hits += ids.count(tr.contains); slots += tr.size
      }
      results("ivf_ip_nprobe32") = Map("build_s" -> tIpBuild,
        "latency_s" -> median(times.toSeq),
        "recall_at_10" -> hits.toDouble / slots)
      println(f"ivf_ip_nprobe32        build=${fmt(tIpBuild)}s  lat=${fmt(median(times.toSeq))}s  recall@10=${hits.toDouble / slots}%.3f")
    }
    val (cosIndex, tCosBuild) = time(CosineIvf.forEmbeddings(spark, dir, nlist))
    locally {
      // nprobe = nlist on CosineIvf IS the exact cosine scan (spec-pinned
      // invariant), so it serves as this metric's ground truth.
      val cosTruth: Map[Long, Seq[Long]] = qids.map { qid =>
        qid -> CosineIvf.search(cosIndex, qvecs(qid), 10, nlist, Some(qid))
          .collect().map(_.getLong(0)).toSeq
      }.toMap
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      var hits = 0; var slots = 0
      qids.foreach { qid =>
        val (ids, t) = time(
          CosineIvf.search(cosIndex, qvecs(qid), 10, 32, Some(qid))
            .collect().map(_.getLong(0)).toSeq)
        times += t
        val tr = cosTruth(qid).toSet
        hits += ids.count(tr.contains); slots += tr.size
      }
      results("ivf_cosine_nprobe32") = Map("build_s" -> tCosBuild,
        "latency_s" -> median(times.toSeq),
        "recall_at_10" -> hits.toDouble / slots)
      println(f"ivf_cosine_nprobe32    build=${fmt(tCosBuild)}s  lat=${fmt(median(times.toSeq))}s  recall@10=${hits.toDouble / slots}%.3f")
    }

    // ---- graph-ANN (HNSW-family) on a 100k slice -------------------------
    // NN-descent's per-round join fan-out is n·(2k·buildFactor)²·rho —
    // the slice keeps the local run inside minutes while still running
    // the graph family two decades past its 4k gate fixtures
    locally {
      val gN = math.min(total, 100000L)
      val slice = emb.filter(col("vec_id") < gN)
      val (graph, tGraph) = time {
        val g = GraphAnn.buildGraph(slice, k = 10, iters = 4, rho = 0.3)
        g.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        g.count(); g
      }
      val gSeeds = GraphAnn.seedIds(graph, 32)
      val gQids = (0 until Q).map(i => i.toLong * (gN / Q))
      val gVecs = slice.filter(col("vec_id").isin(gQids: _*))
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      var hits = 0; var slots = 0
      gQids.foreach { qid =>
        val q = gVecs(qid)
        val exact = slice.filter(col("vec_id") =!= qid)
          .select(col("vec_id"),
            graft.functions.l2sq(col("embedding"), typedlit(q)).as("dd"))
          .orderBy(col("dd").asc, col("vec_id").asc).limit(10)
          .collect().map(_.getLong(0)).toSet
        val (ids, t) = time(
          GraphAnn.searchBeam(spark, graph, slice, q, 10, ef = 128,
            maxHops = 12, seeds = gSeeds, excludeId = Some(qid))
            .collect().map(_.getLong(0)).toSeq)
        times += t
        hits += ids.count(exact.contains); slots += exact.size
      }
      results("graph_ann_100k") = Map("build_s" -> tGraph,
        "n_nodes" -> gN.toDouble,
        "latency_s" -> median(times.toSeq),
        "recall_at_10" -> hits.toDouble / slots)
      println(f"graph_ann_100k         build=${fmt(tGraph)}s  lat=${fmt(median(times.toSeq))}s  recall@10=${hits.toDouble / slots}%.3f")
      graph.unpersist(blocking = false)
    }

    // ---- batch throughput: 128 queries through searchAll ----------------
    val batchIds = (0 until 128).map(i => i.toLong * (total / 128))
    val batchQ = emb.filter(col("vec_id").isin(batchIds: _*))
    val (batchRows, tBatch) = time(
      IvfIndex.searchAll(index, batchQ, "vec_id", "embedding", 10, 32).count())
    val seqLat = results("ivf_flat_nprobe32")("latency_s")
    results("batch_search_128") = Map(
      "batch_s" -> tBatch, "rows" -> batchRows.toDouble,
      "qps_batch" -> 128.0 / tBatch,
      "qps_sequential" -> 1.0 / seqLat,
      "amortization_x" -> (seqLat * 128.0) / tBatch)
    println(f"batch 128q: ${fmt(tBatch)}s = ${128.0 / tBatch}%.1f qps (sequential ${1.0 / seqLat}%.1f qps, ${(seqLat * 128.0) / tBatch}%.1fx)")

    // ---- artifact --------------------------------------------------------
    val json = new StringBuilder
    json ++= "{\n"
    json ++= s"""  "fixture": {"dir": "$dir", "n_vectors": $total, "dim": ${DecadeFixture.Dim}, "n_centers": ${DecadeFixture.NCenters}, "nlist": $nlist, "gen_s": ${fmt(tGen)}},\n"""
    json ++= s"""  "queries_sampled": $Q,\n"""
    json ++= results.map { case (name, m) =>
      s"""  "$name": {${m.map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString(", ")}}"""
    }.mkString(",\n")
    json ++= "\n}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.toString.getBytes("UTF-8"))
    println(s"wrote $out")
    spark.stop()
  }
}

/** Round-15 decade runner — the graph-ANN scale evidence the r14
  * verdict chartered plus the dim=384 geometry point:
  *
  *  1. graph family at the FULL 500k (r14 measured only a 100k slice):
  *     NN-descent build, bucket-partitioned persisted generation
  *     (nBuckets=512), sequential bucket-pruned beam search vs the
  *     UNPRUNED adjacency scan (quantifying the r14 scale gap this
  *     round closes), 128-query lockstep batched serving (target ≥5×
  *     sequential), and an append wave (1,000 new vectors through
  *     [[graft.operators.GraphAnn.appendGraphBatch]]) with
  *     reachability probes over the appended generation.
  *  2. the reference's actual embedding geometry (app.py:20 — MiniLM
  *     is 384-dim) at a 100k slice: every prior recall floor was a
  *     dim=64 artifact; this re-measures IVF/PQ/PCA/SQ/graph recalls
  *     at dim=384 so the floors are re-adjudicated on the geometry the
  *     reference actually serves.
  *
  * Run: sbt "runMain graft.VectorDecadeR15 [out] [n500k] [nD384]"
  */
object VectorDecadeR15 {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(s.length / 2)
  }

  private def fmt(d: Double): String = f"$d%.3f"

  def main(args: Array[String]): Unit = {
    val out = args.lift(0).getOrElse("VECTOR_DECADE_r15.json")
    val n = args.lift(1).map(_.toLong).getOrElse(500000L)
    val nD384 = args.lift(2).map(_.toLong).getOrElse(100000L)
    val dir64 = "fixtures/vec500k"
    val dir384 = "fixtures/vec100k_d384"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "48g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.storage.StorageLevel

    val results = scala.collection.mutable.LinkedHashMap[String, Map[String, Double]]()
    def put(name: String, m: Map[String, Double]): Unit = {
      results(name) = m
      println(name + "  " + m.map { case (k, v) => s"$k=${fmt(v)}" }.mkString("  "))
    }

    // ================= section 1: graph family at 500k × 64-dim ==========
    DecadeFixture.ensure(spark, dir64, n)
    val emb = Tables.embeddings(spark, dir64)
    val total = emb.count()
    println(s"graph section: $total vectors, dim=${DecadeFixture.Dim}")
    val Q = 32
    val qids: Seq[Long] = (0 until Q).map(i => i.toLong * (total / Q))
    val qvecs: Map[Long, Array[Float]] = emb
      .filter(col("vec_id").isin(qids: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val truth: Map[Long, Seq[Long]] = qids.map { qid =>
      qid -> VectorSearchOps.knnExactL2(spark, dir64, qid, 10)
        .collect().map(_.getLong(0)).toSeq
    }.toMap
    println("exact truth done")

    val (graph, tBuild) = time {
      val g = GraphAnn.buildGraph(emb, k = 10, iters = 4, rho = 0.3)
      g.persist(StorageLevel.MEMORY_AND_DISK); g.count(); g
    }
    put("graph_build_500k", Map("build_s" -> tBuild, "n_nodes" -> total.toDouble))

    val graphDir = s"$dir64/graph-ann"
    graft.operators.BatchFs.deleteRecursively(java.nio.file.Paths.get(graphDir))
    val (_, tSave) = time(GraphAnn.saveGraph(graph, graphDir, nBuckets = 512))
    graph.unpersist(blocking = false)
    val idx = GraphAnn.loadGraph(spark, graphDir)
    // geometry-spread entry points (the r15 seed-coverage fix): ~1k
    // seeds over LSH cells; the seed probe is one bounded job per
    // batch, the same cost class as an IVF coarse scan at nlist≈1k
    val (seeds, tSeeds) = time(GraphAnn.spreadSeeds(emb, 1024))
    put("graph_persist_500k", Map("save_s" -> tSave, "n_buckets" -> idx.nBuckets.toDouble,
      "n_seeds" -> seeds.size.toDouble, "seeds_s" -> tSeeds))

    // sequential persisted search, bucket-pruned (ef/maxHops sized for
    // the 500k hop diameter; the 100k grid needed 12 hops, +4 margin)
    val ef = 128; val maxHops = 16
    val seqTimes = scala.collection.mutable.ArrayBuffer[Double]()
    var hits = 0; var slots = 0
    qids.foreach { qid =>
      val (ids, t) = time(
        GraphAnn.searchIndex(spark, idx, emb, qvecs(qid), 10, ef, maxHops,
            seeds = seeds, excludeId = Some(qid))
          .collect().map(_.getLong(0)).toSeq)
      seqTimes += t
      val tr = truth(qid).toSet
      hits += ids.count(tr.contains); slots += tr.size
    }
    val seqLat = median(seqTimes.toSeq)
    put("graph_search_500k_pruned", Map("latency_s" -> seqLat,
      "recall_at_10" -> hits.toDouble / slots, "ef" -> ef.toDouble,
      "max_hops" -> maxHops.toDouble))

    // the r14 gap, quantified: the SAME beam over the UNPRUNED persisted
    // adjacency (every hop a full 5M-row scan) on a query subsample
    locally {
      val sub = qids.take(8)
      val times = sub.map { qid =>
        time(GraphAnn.searchBeam(spark, idx.adjacency, emb, qvecs(qid), 10,
            ef, maxHops, seeds = seeds, excludeId = Some(qid))
          .collect())._2
      }
      put("graph_search_500k_unpruned", Map("latency_s" -> median(times),
        "n_queries" -> sub.size.toDouble))
    }

    // batched lockstep serving: 128 queries, ONE pruned scan + ONE
    // probe per hop shared across the batch
    locally {
      val batchIds = (0 until 128).map(i => i.toLong * (total / 128))
      val batchQ = emb.filter(col("vec_id").isin(batchIds: _*))
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
      val (batchRes, tBatch) = time(
        GraphAnn.searchIndexBatch(spark, idx, emb, batchQ, 10, ef, maxHops,
          seeds = seeds, excludeSelf = true).collect())
      val bHits = batchRes.count { r =>
        truth.get(r.getLong(0)).exists(_.contains(r.getLong(1)))
      }
      val bSlots = batchIds.count(truth.contains) * 10
      put("graph_batch_500k", Map("batch_s" -> tBatch,
        "n_queries" -> 128.0, "qps_batch" -> 128.0 / tBatch,
        "qps_sequential" -> 1.0 / seqLat,
        "amortization_x" -> (seqLat * 128.0) / tBatch,
        "recall_at_10_sampled" -> (if (bSlots > 0) bHits.toDouble / bSlots else -1.0)))
    }

    // append wave: 1,000 new vectors beam their neighbor lists against
    // the standing generation; reachability = each new node is its own
    // nearest neighbor through the appended back edges
    locally {
      import spark.implicits._
      val cents = DecadeFixture.centers
      val wave = (total until total + 1000L).map(id =>
        DecadeFixture.row(id, cents)).toDF("vec_id", "embedding", "label")
      val (nApp, tApp) = time(GraphAnn.appendGraphBatch(spark, graphDir,
        wave, emb, k = 10, ef = ef, batchId = 0L, namespace = "decade"))
      val idx2 = GraphAnn.loadGraph(spark, graphDir)
      val probes = (0 until 8).map(i => total + i * 125L)
      val waveVecs = wave.filter(col("vec_id").isin(probes: _*))
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      val reached = probes.count { pid =>
        GraphAnn.searchIndex(spark, idx2, emb.unionByName(
              wave.select("vec_id", "embedding", "label")), waveVecs(pid),
            k = 1, ef = ef, maxHops = maxHops, seeds = seeds)
          .collect().headOption.exists(_.getLong(0) == pid)
      }
      put("graph_append_500k", Map("append_s" -> tApp,
        "n_appended" -> nApp.toDouble,
        "reachable_probes" -> reached.toDouble, "n_probes" -> probes.size.toDouble))
    }

    // ================= section 2: dim=384 (the reference's geometry) ======
    val (_, tGen384) = time(DecadeFixture.ensureDim(spark, dir384, nD384, 384))
    val emb384 = Tables.embeddings(spark, dir384)
    val n384 = emb384.count()
    val nlist384 = math.sqrt(n384.toDouble).round.toInt
    println(s"d384 section: $n384 vectors, dim=384, nlist=$nlist384 (gen ${fmt(tGen384)}s)")
    val qids384: Seq[Long] = (0 until Q).map(i => i.toLong * (n384 / Q))
    val qvecs384: Map[Long, Array[Float]] = emb384
      .filter(col("vec_id").isin(qids384: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val truth384: Map[Long, Seq[Long]] = qids384.map { qid =>
      qid -> VectorSearchOps.knnExactL2(spark, dir384, qid, 10)
        .collect().map(_.getLong(0)).toSeq
    }.toMap
    println("d384 exact truth done")

    def recall384(name: String, buildS: Double, run: Long => Seq[Long]): Unit = {
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      var h = 0; var s = 0
      qids384.foreach { qid =>
        val (ids, t) = time(run(qid))
        times += t
        val tr = truth384(qid).toSet
        h += ids.count(tr.contains); s += tr.size
      }
      put(name, Map("build_s" -> buildS, "latency_s" -> median(times.toSeq),
        "recall_at_10" -> h.toDouble / s))
    }

    val (index384, tIvf384) = time(IvfIndex.forEmbeddings(spark, dir384, nlist384))
    Seq(1, 8, 32).foreach { np =>
      recall384(s"d384_ivf_flat_nprobe$np", if (np == 1) tIvf384 else 0.0,
        qid => IvfIndex.search(index384, qvecs384(qid), 10, np, Some(qid))
          .collect().map(_.getLong(0)).toSeq)
    }
    val (_, tPq384) = time(Pq.forEmbeddings(spark, dir384, m = 8, k = 256))
    recall384("d384_pq_flat_rerank100", tPq384,
      qid => Pq.searchPq(spark, dir384, qid, 10, m = 8, k = 256, rerank = 100)
        .collect().map(_.getLong(0)).toSeq)
    recall384("d384_ivf_pq_rerank100", 0.0,
      qid => Pq.ivfSearchPq(spark, dir384, qid, 10, nlist = nlist384, nprobe = 32,
        m = 8, k = 256, rerank = 100).collect().map(_.getLong(0)).toSeq)
    // PCA 384→96: the reference-geometry answer to the r14 dOut note —
    // a clustered 384-dim corpus has spectral structure a 64-dim
    // isotropic one does not
    recall384("d384_pca96_ivf_pq_rerank200", 0.0,
      qid => ChainedIndex.search(spark, dir384, qid, 10, dOut = 96,
        nlist = nlist384, nprobe = 32, m = 8, k = 256, rerank = 200)
        .collect().map(_.getLong(0)).toSeq)
    recall384("d384_f16_scan", 0.0,
      qid => Quantization.knnF16(spark, dir384, qid, 10)
        .collect().map(_.getLong(0)).toSeq)
    recall384("d384_sq8_trained_scan", 0.0,
      qid => Sq8Trained.knn(spark, dir384, qid, 10)
        .collect().map(_.getLong(0)).toSeq)
    recall384("d384_lsh_rerank1000", 0.0,
      qid => Quantization.knnBinaryRerank(spark, dir384, qid, 10, rerank = 1000)
        .collect().map(_.getLong(0)).toSeq)

    // graph family at the reference geometry: initMode auto probes the
    // relative contrast and picks the LSH init (concentration — the
    // random init measured graph recall ~0 here); iters=6 because under
    // the LSH init the descent converges by propagating within-region
    // edges (rounds), not by distilling a global sample (width); seeds
    // are geometry-spread — 32 hash seeds against 1,000 clusters
    // measured recall 0.000 (cluster-pure graph, seed-coverage bound)
    locally {
      val (g384, tG) = time {
        val g = GraphAnn.buildGraph(emb384, k = 10, iters = 6, rho = 0.3)
        g.persist(StorageLevel.MEMORY_AND_DISK); g.count(); g
      }
      val gDir = s"$dir384/graph-ann"
      graft.operators.BatchFs.deleteRecursively(java.nio.file.Paths.get(gDir))
      GraphAnn.saveGraph(g384, gDir, nBuckets = 256)
      g384.unpersist(blocking = false)
      val gIdx = GraphAnn.loadGraph(spark, gDir)
      // nSeeds ≈ 4× the fixture's 1,000-cluster granularity: on the
      // fully cluster-pure d384 graph recall IS seed coverage (the 50k
      // decomposition: covered queries recall 1.000 at every seed
      // count; 3,126 seeds → coverage 1.0)
      val gSeeds = GraphAnn.spreadSeeds(emb384, 4096)
      recall384("d384_graph_ann", tG,
        qid => GraphAnn.searchIndex(spark, gIdx, emb384, qvecs384(qid), 10,
            ef = 128, maxHops = 12, seeds = gSeeds, excludeId = Some(qid))
          .collect().map(_.getLong(0)).toSeq)
    }

    // ---- artifact --------------------------------------------------------
    val json = new StringBuilder
    json ++= "{\n"
    json ++= s"""  "fixture_64": {"dir": "$dir64", "n_vectors": $total, "dim": ${DecadeFixture.Dim}, "graph_buckets": 512},\n"""
    json ++= s"""  "fixture_384": {"dir": "$dir384", "n_vectors": $n384, "dim": 384, "nlist": $nlist384},\n"""
    json ++= s"""  "queries_sampled": $Q,\n"""
    json ++= results.map { case (name, m) =>
      s"""  "$name": {${m.map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString(", ")}}"""
    }.mkString(",\n")
    json ++= "\n}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.toString.getBytes("UTF-8"))
    println(s"wrote $out")
    spark.stop()
  }
}
