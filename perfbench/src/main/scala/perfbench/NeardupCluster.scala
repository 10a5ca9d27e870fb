package perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.operators.{Clustering, Dedup, IvfIndex}

/** neardup_cluster: batch curation with no persistence.
  *
  * Each round clusters two generated corpora with planted near
  * duplicates. Vectors: `IvfIndex.build`, `searchAll` of every vector
  * against the index, an ε filter on the distances, then
  * `Clustering.assign` (the reference's ε-clustering). Documents:
  * `Dedup.dedupMinhashCorpus`, then `Clustering.assign` on the verified
  * pairs. Both materialise their edges before clustering, as the engine's
  * own `Clustering.clusterIvf` does. Shuffles and connected components
  * dominate; single-query search and the commit protocol are not used. */
object NeardupCluster {
  val Dim = 64
  val Background = 800
  val Comps = 32
  val Spread = 1.0
  val Sigma = 0.5
  val Groups = 80
  val GroupSigma = 0.04
  val Eps = 1.0
  val NList = 32
  val NProbe = 4
  val K = 10
  val MaxIter = 5
  val Docs = 600
  val Originals = 150
  val Vocab = 4000
  val MinJaccard = 0.8
  /** Standard deviations below the expected planted-pair count that the
    * found count may fall before the text recall check fails. */
  val RecallSlack = 5.0

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val rnd = new Random(r.seed)

    // vectors: a broad background mixture plus tight planted groups of 2..5
    val cs = Gen.centers(rnd, Comps, Dim, Spread)
    val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    vecs ++= Gen.sample(rnd, cs, Sigma, Background)
    val groups = (0 until Groups).map { _ =>
      val center = Gen.around(rnd, cs(rnd.nextInt(Comps)), Sigma)
      (0 until 2 + rnd.nextInt(4)).map { _ => vecs += Gen.around(rnd, center, GroupSigma); (vecs.size - 1).toLong }
    }
    val vecDf = vecs.indices.map(i => (i.toLong, vecs(i))).toDF("id", "emb")
    val vecNodes = vecDf.select(col("id"))

    // documents: fresh ones plus 1 or 2 edited copies of `Originals` of them
    val vocab = Gen.vocabulary(rnd, Vocab)
    val zipf = new Gen.Zipf(Vocab)
    val toks = mutable.ArrayBuffer.fill(Docs)(Gen.document(rnd, vocab, zipf, 30 + rnd.nextInt(31)))
    val planted = rnd.shuffle((0 until Docs).toVector).take(Originals).flatMap { o =>
      (0 until 1 + rnd.nextInt(2)).map { _ =>
        toks += Gen.edit(rnd, toks(o), 0.02 + 0.04 * rnd.nextDouble(), vocab, zipf)
        (o.toLong, (toks.size - 1).toLong)
      }
    }
    val texts = toks.map(t => Gen.text(rnd, t))
    val docDf = texts.indices.map(i => (i.toLong, texts(i))).toDF("id", "sentence")
    val docNodes = docDf.select(col("id"))
    r.setupDone()

    def vectorEdges(index: IvfIndex.Index): DataFrame =
      IvfIndex.searchAll(index, vecDf, "id", "emb", K, NProbe)
        .filter(col("dist") < Eps)
        .select(col("src_id").as("src"), col("dst_id").as("dst"))
    def textEdges(): DataFrame =
      Dedup.dedupMinhashCorpus(docDf, MinJaccard).select(col("a_id").as("src"), col("b_id").as("dst"))
    def materialised(what: String, df: DataFrame): DataFrame = {
      val m = df.persist(StorageLevel.MEMORY_AND_DISK)
      r.tracer.attr(what, m.count().toDouble)
      m
    }
    def assignment(nodes: DataFrame, edges: DataFrame): Map[Long, Long] =
      r.op("Clustering.assign")(Clustering.assign(nodes, edges).collect())
        .map(x => x.getLong(0) -> x.getLong(1)).toMap

    val builds = mutable.ArrayBuffer.empty[(Int, Double)]
    val vAssign = mutable.ArrayBuffer.empty[(Int, Map[Long, Long])]
    val tAssign = mutable.ArrayBuffer.empty[(Int, Map[Long, Long])]
    var lastIndex: IvfIndex.Index = null
    r.rounds(warmup = 1) { i =>
      val (index, buildS, _) = r.timed(r.op("IvfIndex.build")(IvfIndex.build(vecDf, "id", "emb", NList, 42L, MaxIter)))
      builds += i -> buildS
      val edges = r.op("IvfIndex.searchAll")(materialised("edges", vectorEdges(index)))
      vAssign += i -> assignment(vecNodes, edges)
      edges.unpersist()
      index.postings.unpersist()
      lastIndex = index
      val pairs = r.op("Dedup.dedupMinhashCorpus")(materialised("pairs", textEdges()))
      tAssign += i -> assignment(docNodes, pairs)
      pairs.unpersist()
    }
    val timedRounds = r.untracedRounds.map(_.index).toSet
    r.buildS = Stats.median(builds.collect { case (i, s) if timedRounds(i) => s }.toSeq)

    // exact ε-components: all pairs plus union-find
    val vuf = new Exact.UnionFind(vecs.size)
    for (a <- vecs.indices; b <- a + 1 until vecs.size if Exact.l2sq(vecs(a), vecs(b)) < Eps) vuf.union(a, b)
    // exact components of the Jaccard >= threshold graph
    val sets = texts.map(t => Exact.tokens(t).toSet)
    val coded = Exact.sortedCodes(sets.toSeq)
    val tuf = new Exact.UnionFind(sets.size)
    for (a <- coded.indices; b <- a + 1 until coded.size if Exact.jaccardSorted(coded(a), coded(b)) >= MinJaccard)
      tuf.union(a, b)

    val eligible = planted.filter { case (o, c) => Exact.jaccard(sets(o.toInt), sets(c.toInt)) >= MinJaccard }
    val rows = Dedup.NumHashes / Dedup.NumBands
    val ps = eligible.map { case (o, c) =>
      Exact.bandHitProbability(Exact.jaccard(Exact.shingles(toks(o.toInt)), Exact.shingles(toks(c.toInt))),
        Dedup.NumBands, rows)
    }
    val floor = ps.sum - RecallSlack * math.sqrt(ps.map(p => p * (1 - p)).sum)

    vAssign.foreach { case (i, a) =>
      r.check(Exact.checkCount(s"round $i vector assignment rows", a.size, vecs.size) ++
        Exact.checkClusters(s"round $i vectors", a, id => vuf.find(id.toInt).toLong) ++
        Exact.checkGroupsWhole(s"round $i vectors", a, groups))
    }
    val recalls = tAssign.map { case (i, a) =>
      val found = eligible.count { case (o, c) => a.getOrElse(o, -1L) >= 0 && a.get(o) == a.get(c) }
      r.check(Exact.checkCount(s"round $i text assignment rows", a.size, texts.size) ++
        Exact.checkClusters(s"round $i texts", a, id => tuf.find(id.toInt).toLong) ++
        Exact.checkRecallFloor(s"round $i planted text pairs", found, floor, eligible.size))
      found.toDouble / eligible.size
    }
    r.recall = Stats.median(recalls.toSeq)

    if (r.tracer.on) {
      Layers.probes(r, vecs.toArray, Some(lastIndex), vecDf, Some(docDf))
      val index = IvfIndex.build(vecDf, "id", "emb", NList, 42L, MaxIter)
      Seq((vecNodes, vectorEdges(index)), (docNodes, textEdges())).foreach { case (nodes, e) =>
        val edges = e.persist(StorageLevel.MEMORY_AND_DISK)
        val n = edges.count()
        r.op("Clustering.connectedComponents") {
          r.tracer.attr("edges", n.toDouble)
          Clustering.connectedComponents(nodes, edges).count()
        }
        edges.unpersist()
      }
      index.postings.unpersist()
    }
  }
}
