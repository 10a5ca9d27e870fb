package perfbench

import scala.collection.mutable
import scala.util.Random
import graft.operators.{IvfIndex, MinhashIndex}

/** ingest_waves: writes beside reads on one persisted index layer.
  *
  * Set-up generates a base of vectors and documents and saves the
  * MinHash index of the documents; the IVF build plus save is the
  * one-off timed operation. Each round is one ingest wave: probe the
  * wave's documents (some are edited copies of indexed ones) against the
  * MinHash index, `appendBatch` the wave into both indexes under a fresh
  * batch id, replay that batch id, `removeIds` as many vectors as were
  * appended, then count and search the live view. The run ends with
  * `compactTombstones`, and a fixed query set must answer the same
  * before and after it. */
object IngestWaves {
  val Dim = 64
  val Base = 4000
  val Comps = 64
  val Spread = 1.0
  val Sigma = 0.8
  val NList = 16
  val NProbe = 2
  val K = 10
  val MaxIter = 8
  val BaseDocs = 1200
  val Vocab = 4000
  val WaveVecs = 100
  val WaveDocs = 60
  val WaveCopies = 12
  val MinJaccard = 0.8
  val Held = 4

  /** Live ids with O(1) add, remove and uniform sampling. */
  private final class LiveSet {
    private val ids = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.HashMap.empty[Long, Int]
    def add(id: Long): Unit = { pos(id) = ids.size; ids += id }
    def remove(id: Long): Unit = {
      val p = pos.remove(id).get; val last = ids.remove(ids.size - 1)
      if (last != id) { ids(p) = last; pos(last) = p }
    }
    def size: Int = ids.size
    def snapshot: Array[Long] = ids.toArray
    def sample(rnd: Random, n: Int): Seq[Long] = rnd.shuffle(ids.indices.toVector).take(n).map(ids)
  }

  private final case class Search(wave: Int, kind: String, q: Array[Float], id: Long, hits: Seq[Exact.Hit])

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val rnd = new Random(r.seed)
    val cs = Gen.centers(rnd, Comps, Dim, Spread)
    val vec = mutable.HashMap.empty[Long, Array[Float]]
    val live = new LiveSet
    Gen.sample(rnd, cs, Sigma, Base).zipWithIndex.foreach { case (v, i) => vec(i.toLong) = v; live.add(i.toLong) }
    var nextVec = Base.toLong
    val vocab = Gen.vocabulary(rnd, Vocab)
    val zipf = new Gen.Zipf(Vocab)
    val texts = mutable.ArrayBuffer.empty[String]
    val toks = mutable.ArrayBuffer.empty[Array[String]]
    def newDoc(t: Array[String]): Long = { toks += t; texts += Gen.text(rnd, t); (texts.size - 1).toLong }
    def freshDoc(): Long = newDoc(Gen.document(rnd, vocab, zipf, 30 + rnd.nextInt(31)))
    (0 until BaseDocs).foreach(_ => freshDoc())
    def docsDf(ids: Seq[Long]) = ids.map(i => (i, texts(i.toInt))).toDF("id", "sentence")
    def vecsDf(ids: Seq[Long]) = ids.map(i => (i, vec(i))).toDF("id", "emb")
    val ivfDir = s"${r.workDir}/ivf"
    val mhDir = s"${r.workDir}/minhash"
    r.op("MinhashIndex.save") { MinhashIndex.save(docsDf(0L until BaseDocs.toLong), mhDir); Layers.traceDir(r, mhDir) }
    r.setupDone()

    val (_, buildS, _) = r.timed {
      val built = r.op("IvfIndex.build")(
        IvfIndex.build(vecsDf(0L until Base.toLong), "id", "emb", NList, 42L, MaxIter))
      r.op("IvfIndex.save") { IvfIndex.save(built, ivfDir); Layers.traceDir(r, ivfDir) }
      built.postings.unpersist()
    }
    r.buildS = buildS
    r.log(f"build done ($buildS%.2f s)")

    val removedAt = mutable.HashMap.empty[Long, Int]
    val searches = mutable.ArrayBuffer.empty[Search]
    val liveAt = mutable.HashMap.empty[Int, Array[Long]]
    val probePairs = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    def search(index: IvfIndex.Index, w: Int, kind: String, q: Array[Float], id: Long): Unit =
      searches += Search(w, kind, q, id,
        r.op("IvfIndex.search")(Layers.hits(IvfIndex.search(index, q, K, NProbe).collect())))

    r.rounds(warmup = 1) { w =>
      val newIds = (0 until WaveVecs).map { _ =>
        val id = nextVec; nextVec += 1
        vec(id) = Gen.around(rnd, cs(rnd.nextInt(Comps)), Sigma); id
      }
      val copies = (0 until WaveCopies).map { _ =>
        val src = toks(rnd.nextInt(toks.size))
        newDoc(Gen.edit(rnd, src, 0.02 + 0.04 * rnd.nextDouble(), vocab, zipf))
      }
      val waveDocs = copies ++ (0 until WaveDocs - WaveCopies).map(_ => freshDoc())
      val gone = live.sample(rnd, WaveVecs)
      val held = Gen.sample(rnd, cs, Sigma, Held)

      probePairs ++= r.op("MinhashIndex.probe") {
        val p = MinhashIndex.probe(spark, mhDir, docsDf(waveDocs), MinJaccard).collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        r.tracer.attr("pairs", p.length.toDouble)
        p
      }
      val appended = r.op("IvfIndex.appendBatch")(Layers.countingFiles(r, ivfDir, WaveVecs)(
        IvfIndex.appendBatch(spark, ivfDir, vecsDf(newIds), "id", "emb", w.toLong)))
      val docsAppended = r.op("MinhashIndex.appendBatch")(Layers.countingFiles(r, mhDir, WaveDocs)(
        MinhashIndex.appendBatch(spark, mhDir, docsDf(waveDocs), w.toLong)))
      val replayed = r.op("IvfIndex.appendBatch.replay")(
        IvfIndex.appendBatch(spark, ivfDir, vecsDf(newIds), "id", "emb", w.toLong))
      val removed = r.op("IvfIndex.removeIds")(IvfIndex.removeIds(spark, ivfDir, gone.toDF("id"), "id"))
      newIds.foreach(live.add)
      gone.foreach { g => live.remove(g); removedAt(g) = w }
      liveAt(w) = live.snapshot
      r.check(Exact.checkCount(s"wave $w IvfIndex.appendBatch rows", appended, WaveVecs) ++
        Exact.checkCount(s"wave $w MinhashIndex.appendBatch docs", docsAppended, WaveDocs) ++
        Exact.checkCount(s"wave $w replayed batch rows", replayed, 0) ++
        Exact.checkCount(s"wave $w removeIds", removed, WaveVecs))

      val liveIndex = r.op("IvfIndex.loadLive")(IvfIndex.loadLive(spark, ivfDir))
      val liveCount = r.op("IvfIndex.loadLive.count")(liveIndex.postings.count())
      r.check(Exact.checkCount(s"wave $w live count", liveCount, live.size))
      if (r.tracer.active) r.tracer.attr("index_files", Host.dirStats(ivfDir)._1.toDouble)
      newIds.take(2).foreach(id => search(liveIndex, w, "self", vec(id), id))
      search(liveIndex, w, "removed", vec(gone.head), gone.head)
      held.foreach(q => search(liveIndex, w, "held", q, -1L))
    }

    val last = removedAt.values.maxOption.getOrElse(0)
    val fixed = Gen.sample(rnd, cs, Sigma, 3)
    val beforeIndex = r.op("IvfIndex.loadLive")(IvfIndex.loadLive(spark, ivfDir))
    fixed.foreach(q => search(beforeIndex, last, "fixed", q, -1L))
    val dropped = r.op("IvfIndex.compactTombstones")(IvfIndex.compactTombstones(spark, ivfDir))
    r.check(Exact.checkCount("compactTombstones rows dropped", dropped, removedAt.size))
    val compacted = r.op("IvfIndex.loadLive")(IvfIndex.loadLive(spark, ivfDir))
    r.check(Exact.checkCount("live count after compactTombstones",
      r.op("IvfIndex.loadLive.count")(compacted.postings.count()), live.size))
    fixed.foreach(q => search(compacted, last, "fixed-compacted", q, -1L))

    val vecOf = (id: Long) => vec(id)
    searches.foreach { s =>
      val what = s"wave ${s.wave} ${s.kind} search"
      val gone = removedAt.collect { case (id, at) if at <= s.wave => id }.toSet
      r.check(Exact.checkTopK(what, s.hits, K) ++ Exact.checkDistances(what, s.hits, s.q, vecOf) ++
        Exact.checkNoRemoved(what, s.hits, gone))
      if (s.kind == "self") r.check(Exact.checkSelfHit(what, s.hits, s.id))
    }
    searches.filter(_.kind == "fixed").zip(searches.filter(_.kind == "fixed-compacted")).foreach { case (b, a) =>
      r.check(Exact.checkSameHits("fixed query before vs after compactTombstones", a.hits, b.hits))
    }
    val tokSet = (id: Long) => Exact.tokens(texts(id.toInt)).toSet
    r.check(Exact.checkPairs("MinhashIndex.probe", probePairs.toSeq, tokSet, MinJaccard))
    r.recall = Stats.mean(searches.filter(_.kind == "held").toSeq.map { s =>
      val ids = liveAt(s.wave)
      val truth = Exact.topK(ids, ids.map(vec), s.q, K).map(_._1).toSet
      s.hits.map(_._1).toSet.intersect(truth).size.toDouble / K
    })

    if (r.tracer.on)
      Layers.probes(r, (0 until Base).map(i => vec(i.toLong)).toArray,
        Some(IvfIndex.load(spark, ivfDir)), vecsDf(0L until Base.toLong), Some(docsDf(0L until BaseDocs.toLong)))
    r.indexDirs = Seq(ivfDir, mhDir)
  }
}
