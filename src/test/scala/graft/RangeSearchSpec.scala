package graft

import graft.operators.{IndexAudits, IvfIndex, VectorSearchOps}

/** Per-query ε range search (FAISS `range_search`; the reference's P3
  * strict-< predicate applied from a single probe, app.py:93/275)
  * against a driver-side brute-force oracle: exact form, IVF form at
  * nprobe = nlist (must be identical — IVFFlat stores raw vectors),
  * pruned form (subset with exact distances, exhaustive within the
  * probed lists), and the registered audit's flags. */
class RangeSearchSpec extends SparkSpec {

  private val Eps = 1.6

  private lazy val corpus: Array[(Long, Array[Float])] =
    Tables.embeddings(spark, sfSmall)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** Brute-force range result, (dist, id) ascending. */
  private lazy val exactOracle: Seq[(Long, Double)] = {
    val (qid, q) = corpus(0)
    corpus.filter(_._1 != qid)
      .map { case (id, v) => (id, l2(q, v)) }
      .filter(_._2 < Eps)
      .sortBy { case (id, d) => (d, id) }
      .toSeq
  }

  private lazy val index = IvfIndex.forEmbeddings(spark, sfSmall, nlist = 4)

  test("exact range search matches the brute-force oracle (strict <, self excluded)") {
    val got = VectorSearchOps.rangeSearch(spark, sfSmall, 0L, Eps)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.nonEmpty, "eps must select at least one row at sf0.001")
    assert(got == exactOracle)
    // strict <: shrinking eps to the max returned distance drops it
    val dmax = got.map(_._2).max
    val shrunk = VectorSearchOps.rangeSearch(spark, sfSmall, 0L, dmax)
      .collect().map(_.getLong(0)).toSet
    assert(!got.filter(_._2 == dmax).map(_._1).exists(shrunk.contains))
  }

  test("nprobe = nlist IVF range search equals the exact form bit-for-bit") {
    val (qid, q) = corpus(0)
    val got = IvfIndex.rangeSearch(index, q, Eps, nprobe = 4, excludeId = Some(qid))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == exactOracle)
  }

  test("pruned range search: exact-distance subset, exhaustive within probed lists") {
    val (qid, q) = corpus(0)
    val probed = IvfIndex.probeLists(index, q, 2).toSet
    val assigned = index.postings.select("id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = exactOracle.filter { case (id, _) => probed.contains(assigned(id)) }
    val got = IvfIndex.rangeSearch(index, q, Eps, nprobe = 2, excludeId = Some(qid))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want) // subset of exact AND complete within the probed lists
  }

  test("registered audit flags all hold at the smallest scale") {
    val row = IndexAudits.rangeSearchPrunedAudit(spark, sfSmall).head()
    assert(row.getLong(1) == exactOracle.size) // n_exact
    Seq(2, 3, 4, 5).foreach(i => assert(row.getBoolean(i), s"flag $i"))
  }

  test("batched range search equals the per-query exact range search for every sampled query") {
    val batch = VectorSearchOps.rangeSearchBatch(spark, sfSmall, Eps, sampleMod = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (s, rows) => s -> rows.map(t => (t._2, t._3)).toSeq }
    val sampled = corpus.filter(_._1 % 50 == 0)
    assert(batch.keySet == sampled.map(_._1).filter(id =>
      batch.contains(id)).toSet) // queries with empty balls simply absent
    sampled.foreach { case (qid, _) =>
      val single = VectorSearchOps.rangeSearch(spark, sfSmall, qid, Eps)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch.getOrElse(qid, Seq.empty) == single, s"query $qid batch/single drift")
    }
  }
}
