package graft

import org.apache.spark.sql.functions.col
import graft.operators.{CosineIvf, IpSearch, IvfIndex}

/** Pins [[IvfIndex.scanProbed]] — the probed-list scan behind every
  * IVF-family search — against an oracle computed here in plain Scala:
  * collect the postings of the probed lists, score them with the
  * kernels' double arithmetic, sort by `(score, id)`. The corpus has
  * small integer coordinates, so distances tie densely and many vectors
  * are exact duplicates under distinct ids. */
class ProbedScanSpec extends SparkSpec {

  private val nlist = 4
  private val nprobe = 2
  private val qid = 0L

  private lazy val corpus: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(7L)
    val drawn = (0L until 240L).map(id => id -> Array.fill(4)(rnd.nextInt(3).toFloat))
    // exact copies of the query vector under later ids
    drawn ++ (240L until 244L).map(id => id -> drawn.head._2.clone())
  }

  private lazy val built: IvfIndex.Index = {
    import spark.implicits._
    IvfIndex.build(corpus.toDF("id", "embedding"), "id", "embedding", nlist)
  }

  private lazy val loaded: IvfIndex.Index = {
    val dir = tmpDir("probed-scan-")
    IvfIndex.save(built, dir)
    IvfIndex.load(spark, dir)
  }

  private val q: Array[Float] = corpus.find(_._1 == qid).get._2

  /** The probe's centroid distance: float differences, squared in
    * float, summed in double. */
  private def centroidL2(c: Array[Float], q: Array[Float]): Double =
    c.indices.foldLeft(0.0) { (s, i) => val d = c(i) - q(i); s + d * d }

  private def l2(a: Array[Float], b: Array[Float]): Double =
    a.indices.map(i => a(i).toDouble - b(i).toDouble).foldLeft(0.0)((s, d) => s + d * d)

  private def dot(a: Array[Float], b: Array[Float]): Double =
    a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    val (na, nb) = (dot(a, a), dot(b, b))
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (math.sqrt(na) * math.sqrt(nb))
  }

  private val byScore = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)

  /** The probed lists, re-derived: centroids ranked by `(score, list_id)`. */
  private def probedLists(index: IvfIndex.Index, score: Array[Float] => Double,
                          descending: Boolean): Set[Int] =
    index.centroids.collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .map { case (lid, c) => (if (descending) -score(c) else score(c), lid) }
      .sortBy { case (s, lid) => (s, lid.toLong) }(byScore)
      .take(nprobe).map(_._2).toSet

  /** (id, score, vector) of every probed posting that passes `keep`,
    * ranked by `(score, id)`. */
  private def oracle(index: IvfIndex.Index, probed: Set[Int],
                     score: Array[Float] => Double, descending: Boolean,
                     excludeId: Option[Long],
                     keep: Long => Boolean = _ => true): Seq[(Long, Double, Seq[Float])] =
    index.postings.select("list_id", "id", "embedding").collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2)))
      .filter { case (lid, id, _) =>
        probed(lid) && !excludeId.contains(id) && keep(id) }
      .map { case (_, id, v) => (id, score(v.toArray), v) }
      .sortBy { case (id, s, _) => (if (descending) -s else s, id) }(byScore)

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  private def top(o: Seq[(Long, Double, Seq[Float])], k: Int): Seq[(Long, Double)] =
    o.take(k).map { case (id, s, _) => (id, s) }

  private val indexes = Seq("in-memory" -> (() => built), "persisted" -> (() => loaded))

  test("the corpus is tie-dense: duplicate vectors and tied distances exist") {
    val dists = corpus.map { case (_, v) => l2(v, q) }
    assert(corpus.map(_._2.toSeq).distinct.size < corpus.size / 2)
    assert(dists.size - dists.distinct.size > 200)
    assert(corpus.count(_._2.sameElements(q)) > 1, "the query vector has duplicates")
  }

  indexes.foreach { case (name, index) =>
    test(s"$name: L2 search, reconstruct, range and filtered searches equal the oracle") {
      val idx = index()
      val probed = probedLists(idx, c => centroidL2(c, q), descending = false)
      assert(IvfIndex.probeLists(idx, q, nprobe).toSet == probed)
      val all = oracle(idx, probed, v => l2(v, q), descending = false, Some(qid))
      assert(all.size > 10 && all.size < corpus.size, s"${all.size} candidates")
      assert(all.take(11).map(_._2).distinct.size < 11, "ties inside the top 11")
      for (k <- Seq(1, 10, all.size + 50)) {
        assert(hits(IvfIndex.search(idx, q, k, nprobe, Some(qid))) == top(all, k), s"k=$k")
      }
      val withSelf = oracle(idx, probed, v => l2(v, q), descending = false, None)
      val self = withSelf.takeWhile(_._2 == 0.0).map(_._1)
      assert((qid +: (240L until 244L)).forall(self.contains), s"zero-distance ids $self")
      assert(hits(IvfIndex.search(idx, q, 10, nprobe)) == top(withSelf, 10))

      val recon = IvfIndex.searchAndReconstruct(idx, q, 10, nprobe, Some(qid))
        .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Float](2)))
      assert(recon == all.take(10))

      val eps = 3.0
      assert(all.exists(_._2 == eps), "a candidate sits exactly on eps")
      assert(hits(IvfIndex.rangeSearch(idx, q, eps, nprobe, Some(qid))) ==
        top(all.filter(_._2 < eps), all.size))

      val sel = (id: Long) => id % 3 == 0
      assert(hits(IvfIndex.searchFiltered(idx, q, 10, nprobe,
          col("id") % 3 === 0, Some(qid))) ==
        top(all.filter(h => sel(h._1)), 10))
      import spark.implicits._
      val meta = corpus.map { case (id, _) => (id, id % 3 == 0) }.toDF("vec_id", "keep")
      assert(hits(IvfIndex.searchFilteredBy(idx, q, 10, nprobe, meta, "vec_id",
          col("keep"), Some(qid))) ==
        top(all.filter(h => sel(h._1)), 10))
    }

    test(s"$name: inner-product and cosine searches equal the oracle") {
      val idx = index()
      val ipProbed = probedLists(idx, c => dot(q, c), descending = true)
      assert(IpSearch.probeListsIp(idx, q, nprobe).toSet == ipProbed)
      val ip = oracle(idx, ipProbed, v => dot(v, q), descending = true, Some(qid))
      for (k <- Seq(10, ip.size + 50)) {
        assert(hits(IpSearch.searchIp(idx, q, k, nprobe, Some(qid))) == top(ip, k), s"k=$k")
      }

      val n = math.sqrt(dot(q, q))
      val qUnit = q.map(x => (x / n).toFloat)
      val cosProbed = probedLists(idx, c => centroidL2(c, qUnit), descending = false)
      val cos = oracle(idx, cosProbed, v => cosine(v, q), descending = true, Some(qid))
      assert(cos.take(11).map(_._2).distinct.size < 11, "ties inside the top 11")
      for (k <- Seq(10, cos.size + 50)) {
        assert(hits(CosineIvf.search(idx, q, k, nprobe, Some(qid))) == top(cos, k), s"k=$k")
      }
    }
  }

  test("nprobe < 1 fails loudly instead of probing nothing") {
    Seq(0, -1).foreach { bad =>
      val e1 = intercept[IllegalArgumentException](IvfIndex.search(built, q, 10, bad))
      assert(e1.getMessage.contains("nprobe"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](IpSearch.probeListsIp(built, q, bad))
      assert(e2.getMessage.contains("nprobe"), e2.getMessage)
    }
  }

  test("a query of the wrong dimension fails loudly in the probe") {
    Seq(q :+ 1f, q.take(3)).foreach { bad =>
      val e1 = intercept[IllegalArgumentException](IvfIndex.probeLists(built, bad, nprobe))
      assert(e1.getMessage.contains(s"${bad.length} dims"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](IpSearch.searchIp(built, bad, 10, nprobe))
      assert(e2.getMessage.contains(s"${bad.length} dims"), e2.getMessage)
    }
  }

  test("a missing query id names the id and the input directory") {
    assert(Tables.queryVector(spark, sfSmall, 0L).nonEmpty)
    val e = intercept[NoSuchElementException](Tables.queryVector(spark, sfSmall, 987654321L))
    assert(e.getMessage.contains("987654321") && e.getMessage.contains(sfSmall), e.getMessage)
  }
}
