package perfbench

import scala.collection.mutable
import scala.util.Random
import graft.operators.IvfIndex

/** ivf_serve: read-only serving over a clustered 64-dim corpus.
  *
  * Set-up generates the corpus and a pool of held-out queries from one
  * Gaussian mixture. The one-off timed operation is `IvfIndex.build` plus
  * `save`. Each round then makes `Singles` single-query top-10 searches
  * (closed loop, one client) and one batched `searchAll` of `Batch`
  * held-out queries, interleaved so a slow stretch of the host hits both
  * alike. Nothing is written after the save, so write-path changes
  * should not move this workload. */
object IvfServe {
  val Dim = 64
  val N = 20000
  val Comps = 100
  val Spread = 1.0
  val Sigma = 0.8
  val NList = 32
  val NProbe = 4
  val K = 10
  val MaxIter = 8
  val Pool = 200
  val Batch = 100
  val Singles = 8
  val ExactQueries = 5
  val WarmupRows = 2000
  val QueryIdBase = 1000000L

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val rnd = new Random(r.seed)
    val cs = Gen.centers(rnd, Comps, Dim, Spread)
    val vecs = Gen.sample(rnd, cs, Sigma, N)
    val qs = Gen.sample(rnd, cs, Sigma, Pool)
    val corpus = vecs.indices.map(i => (i.toLong, vecs(i))).toDF("id", "emb")
    val batches = (0 until Pool / Batch).map { b =>
      (b * Batch until (b + 1) * Batch).map(i => (QueryIdBase + i, qs(i))).toDF("id", "emb")
    }
    val dir = s"${r.workDir}/ivf"
    // warm-up: the same build, save, load and search on a slice, so the
    // timed build does not pay for the session's first (cold) plans
    val warmDir = s"${r.workDir}/ivf-warmup"
    val warm = IvfIndex.build(corpus.limit(WarmupRows), "id", "emb", NList, 42L, MaxIter)
    IvfIndex.save(warm, warmDir)
    warm.postings.unpersist()
    IvfIndex.search(IvfIndex.load(spark, warmDir), qs(0), K, NProbe).collect()
    r.setupDone()

    val (_, buildS, _) = r.timed {
      val built = r.op("IvfIndex.build")(IvfIndex.build(corpus, "id", "emb", NList, 42L, MaxIter))
      r.op("IvfIndex.save") { IvfIndex.save(built, dir); Layers.traceDir(r, dir) }
      built.postings.unpersist()
    }
    r.buildS = buildS
    r.log(f"build done ($buildS%.2f s)")
    val index = r.op("IvfIndex.load")(IvfIndex.load(spark, dir))

    val single = mutable.Map.empty[Int, Seq[Exact.Hit]]
    val batched = mutable.Map.empty[Int, Seq[Exact.Hit]]
    r.rounds(warmup = 3) { i =>
      val b = i % batches.size
      (0 until Singles).foreach { j =>
        val qi = b * Batch + (i * Singles + j) % Batch
        single(qi) = r.op("IvfIndex.search")(
          Layers.hits(IvfIndex.search(index, qs(qi), K, NProbe).collect()))
      }
      val rows = r.op("IvfIndex.searchAll")(
        IvfIndex.searchAll(index, batches(b), "id", "emb", K, NProbe).collect())
      rows.groupBy(_.getLong(0)).foreach { case (src, rs) =>
        batched((src - QueryIdBase).toInt) =
          rs.sortBy(_.getInt(3)).map(x => (x.getLong(1), x.getDouble(2))).toSeq
      }
    }

    // nprobe = nlist scans every list, so the answer must be the exact top-10
    val full = (0 until ExactQueries).map(qi =>
      qi -> r.op("IvfIndex.search")(Layers.hits(IvfIndex.search(index, qs(qi), K, NList).collect())))
    val ids = vecs.indices.map(_.toLong).toArray
    val truth = batched.keys.map(qi => qi -> Exact.topK(ids, vecs, qs(qi), K)).toMap
    val vecOf = (id: Long) => vecs(id.toInt)
    (single.toSeq.map { case (qi, h) => (s"search q$qi", qi, h) } ++
      batched.toSeq.map { case (qi, h) => (s"searchAll q$qi", qi, h) }).foreach { case (what, qi, h) =>
      r.check(Exact.checkTopK(what, h, K) ++ Exact.checkDistances(what, h, qs(qi), vecOf))
    }
    full.foreach { case (qi, h) =>
      r.check(Exact.checkSameHits(s"search q$qi nprobe=nlist vs exact", h, Exact.topK(ids, vecs, qs(qi), K)))
    }
    single.foreach { case (qi, h) =>
      batched.get(qi).foreach(b => r.check(Exact.checkSameHits(s"search vs searchAll q$qi", h, b)))
    }
    r.recall = Stats.mean(batched.toSeq.map { case (qi, h) =>
      h.map(_._1).toSet.intersect(truth(qi).map(_._1).toSet).size.toDouble / K
    })

    if (r.tracer.on) Layers.probes(r, vecs, Some(index), corpus, None)
    r.indexDirs = Seq(dir)
  }
}
