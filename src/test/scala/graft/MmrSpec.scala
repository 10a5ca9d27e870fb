package graft

import graft.operators.{Mmr, VectorSearchOps}

/** MMR diversity re-rank: greedy contract, determinism, and the
  * diversity behavior itself on a constructed corpus. */
class MmrSpec extends SparkSpec {
  import spark.implicits._

  test("deterministic across runs; ranks are 1..k; ids distinct") {
    val a = Mmr.mmrRerank(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val b = Mmr.mmrRerank(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(a.sameElements(b))
    assert(a.map(_._1).toSeq == (1L to 10L))
    assert(a.map(_._2).distinct.length == 10)
  }

  test("first pick is the cosine top-1 and scores 0.7·sim") {
    val top = VectorSearchOps.knnExactCosine(spark, sfSmall, 0L, 1).collect().head
    val first = Mmr.mmrRerank(spark, sfSmall).collect().head
    assert(first.getLong(1) == top.getLong(0))
    assert(first.getDouble(2) == 0.7 * top.getDouble(1) - 0.3 * 0.0)
  }

  test("every selection comes from the top-c shortlist") {
    val short = VectorSearchOps.knnExactCosine(spark, sfSmall, 0L, 30)
      .collect().map(_.getLong(0)).toSet
    val sel = Mmr.mmrRerank(spark, sfSmall).collect().map(_.getLong(1))
    assert(sel.forall(short.contains))
  }

  test("k capped by shortlist size") {
    val res = Mmr.mmrRerank(spark, sfSmall, k = 10, c = 6).collect()
    assert(res.length == 6)
  }

  test("diversity: a near-duplicate of the first pick is deferred below a distinct result") {
    // query q; a ≈ a' both very similar to q; b distinct but relevant.
    // Plain top-2 = {a, a'}; MMR's second pick must be b.
    val dir = tmpDir("mmr")
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),          // query
      (1L, Array(0.99f, 0.10f, 0.0f, 0.0f)),        // a
      (2L, Array(0.99f, 0.11f, 0.0f, 0.0f)),        // a' ~ duplicate of a
      (3L, Array(0.80f, 0.0f, 0.60f, 0.0f)),        // b: relevant, distinct
      (4L, Array(0.0f, 0.0f, 0.0f, 1.0f)))          // irrelevant
    vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val plain = VectorSearchOps.knnExactCosine(spark, dir, 0L, 2)
      .collect().map(_.getLong(0)).toSet
    assert(plain == Set(1L, 2L))
    val mmr = Mmr.mmrRerank(spark, dir, 0L, k = 3, c = 4, lam = 0.5, lamC = 0.5)
      .collect().map(_.getLong(1))
    assert(mmr(0) == 1L || mmr(0) == 2L)
    assert(mmr(1) == 3L, s"second pick should be the distinct result, got ${mmr.toSeq}")
  }

  test("batch MMR restricted to one query equals the single-query greedy") {
    val single = Mmr.mmrRerank(spark, sfSmall, 0L, k = 5, c = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = Mmr.mmrBatch(spark, sfSmall, nQueries = 3, k = 5, c = 20).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(batch == single)
  }

  test("batch MMR emits k rows per query, each from its own shortlist") {
    val res = Mmr.mmrBatch(spark, sfSmall, nQueries = 4, k = 3, c = 10).collect()
    assert(res.length == 12)
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L))
    byQ.foreach { case (qid, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(rows.forall(_.getLong(2) != qid), "never self")
    }
  }

  test("lam + lamC must sum to 1") {
    intercept[IllegalArgumentException] {
      Mmr.mmrRerank(spark, sfSmall, lam = 0.7, lamC = 0.4)
    }
  }

  test("mmr_ivf with nprobe = nlist reproduces mmr_rerank exactly") {
    // the probe prunes nothing, so the IVF shortlist IS the exact
    // cosine top-c and the greedy sees identical inputs
    val exact = Mmr.mmrRerank(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ivf = Mmr.mmrIvf(spark, sfSmall, nlist = 4, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(ivf.toSeq == exact.toSeq)
  }

  test("mmr_ivf audit flags all hold at the smallest scale") {
    val row = graft.operators.IndexAudits.mmrIvfAudit(spark, sfSmall).collect().head
    assert(row.getLong(0) == 10L)
    (1 to 6).foreach(i => assert(row.getBoolean(i), s"flag $i false: $row"))
  }

  test("greedy: zero-norm shortlist vectors are dropped, argmax scan-order independent") {
    // A zero-norm vector makes cosine() NaN, which poisons the argmax
    // comparisons — the winner would then depend on scan order. The
    // guard drops such rows up front, so any permutation of the
    // shortlist yields the same selection.
    val short = IndexedSeq(
      (1L, 0.9, Array(1.0f, 0.0f)),
      (2L, 0.8, Array(0.0f, 0.0f)),   // zero norm: must never be picked
      (3L, 0.7, Array(0.0f, 1.0f)),
      (4L, Double.NaN, Array(1.0f, 1.0f))) // NaN query-sim: dropped too
    val perms = short.permutations.take(24).toSeq
    val results = perms.map(p => Mmr.greedy(p, k = 3, lam = 0.7, lamC = 0.3))
    assert(results.distinct.size == 1,
      s"selection varies with scan order: ${results.distinct}")
    val ids = results.head.map(_._1)
    assert(ids == IndexedSeq(1L, 3L), s"got $ids")
  }
}
