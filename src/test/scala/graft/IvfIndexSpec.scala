package graft

import org.apache.spark.sql.functions.lit
import graft.operators.IvfIndex

/** IVF index contract vs a driver-side brute-force oracle (SURVEY.md
  * §5.2): exact equality when every list is probed (IVFFlat stores raw
  * vectors — reference app.py:47-48,55), recall@5 at partial probing,
  * and the save → load → search round trip incl. the partition-pruning
  * plan claim (postings partitionBy(list_id) IS the inverted file). */
class IvfIndexSpec extends SparkSpec {

  // 500 × 64-dim corpus, small enough for an in-driver oracle.
  private lazy val corpus: Array[(Long, Array[Float])] =
    Tables.embeddings(spark, sfSmall)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** Brute-force top-k (excluding the query id), (dist, id) tiebreak. */
  private def exactKnn(q: Array[Float], qid: Long, k: Int): Seq[Long] =
    corpus.filter(_._1 != qid)
      .map { case (id, v) => (id, l2(q, v)) }
      .sortBy { case (id, d) => (d, id) }
      .take(k).map(_._1).toSeq

  private lazy val index = IvfIndex.forEmbeddings(spark, sfSmall, nlist = 4)

  test("postings cover the corpus exactly once across lists") {
    val n = corpus.length
    assert(index.postings.count() == n)
    assert(index.postings.select("id").distinct().count() == n)
    assert(index.centroids.count() == 4)
  }

  test("nprobe = nlist search equals brute force exactly") {
    val (qid, q) = corpus(0)
    val got = IvfIndex.search(index, q, k = 10, nprobe = 4, excludeId = Some(qid))
      .collect().map(_.getLong(0)).toSeq
    assert(got == exactKnn(q, qid, 10))
  }

  test("recall@5 staircase: monotone in nprobe, >= 0.7 at 2/4, >= 0.9 at 3/4, = 1.0 at 4/4") {
    val ks = 5
    val queries = corpus.take(50)
    val assigned = index.postings.select("id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def recallAt(nprobe: Int): Double = {
      val hits = queries.map { case (qid, q) =>
        val probed = IvfIndex.probeLists(index, q, nprobe).toSet
        // emulate the engine's pruned search driver-side: scan only
        // vectors whose list was probed
        val pruned = corpus
          .filter { case (id, _) => id != qid && probed.contains(assigned(id)) }
          .map { case (id, v) => (id, l2(q, v)) }
          .sortBy { case (id, d) => (d, id) }.take(ks).map(_._1).toSet
        val exact = exactKnn(q, qid, ks).toSet
        (pruned intersect exact).size.toDouble / ks
      }
      hits.sum / hits.length
    }
    val r = (1 to 4).map(recallAt)
    assert(r.sliding(2).forall(p => p(0) <= p(1) + 1e-12), s"not monotone: $r")
    // measured on sf0.001 (BASELINE.md quality row): 0.76 at nprobe=2 —
    // these embeddings are a label mixture, not well-separated blobs,
    // so partial probing loses borderline cross-list neighbors.
    assert(r(1) >= 0.7, s"recall@5 at nprobe=2 = ${r(1)}")
    assert(r(2) >= 0.9, s"recall@5 at nprobe=3 = ${r(2)}")
    assert(r(3) == 1.0, s"recall@5 at nprobe=nlist = ${r(3)}")
  }

  test("searchAll (batch kNN) agrees with single-vector search at nprobe=nlist") {
    val emb = Tables.embeddings(spark, sfSmall)
    val batch = IvfIndex.searchAll(index, emb.limit(5), "vec_id", "embedding", k = 5, nprobe = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (src, rows) => src -> rows.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }
    corpus.take(5).foreach { case (qid, q) =>
      assert(batch(qid) == exactKnn(q, qid, 5), s"src=$qid")
    }
  }

  test("save -> load -> search round trip is identical; loaded scan partition-prunes") {
    val dir = tmpDir("ivf-")
    IvfIndex.save(index, dir)
    val loaded = IvfIndex.load(spark, dir)
    val (qid, q) = corpus(7)
    val fromMem = IvfIndex.search(index, q, 10, 4, Some(qid)).collect().map(_.getLong(0)).toSeq
    val fromDisk = IvfIndex.search(loaded, q, 10, 4, Some(qid)).collect().map(_.getLong(0)).toSeq
    assert(fromMem == fromDisk)

    // the partition-pruning design claim (IvfIndex scaladoc): an
    // nprobe<nlist search over the loaded postings must push the
    // list_id predicate into PartitionFilters at the parquet scan.
    // Single-query search answers from the serving handle; the filtered
    // search keeps the pruned DataFrame scan.
    val prunedPlan = IvfIndex.searchFiltered(loaded, q, 10, 2, lit(true), Some(qid))
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters: [list_id"),
      s"expected PartitionFilters on list_id in:\n$prunedPlan")

    // the serving-handle claim: a search answered from the packed lists
    // in the driver heap runs no Spark job
    val served = IvfIndex.load(spark, dir)
    assert(served.serving.nonEmpty)
    val probe = new JobProbe(spark, "ivf-index-spec-")
    try {
      probe.in("driver")(IvfIndex.search(served, q, 10, 2, Some(qid)).collect())
      assert(probe.jobs("driver").isEmpty)
    } finally probe.close()
  }

  test("sampled training (maxTrainRows) still assigns every row and stays exact at full probe") {
    // Force the FAISS-style subsampled fit: train k-means on ~100 of
    // the 500 rows. The ASSIGNMENT must still cover the whole corpus
    // exactly once, and nprobe = nlist remains bit-exact vs brute
    // force — IVFFlat at full probe is exact REGARDLESS of where the
    // centroids landed, which is precisely why subsampled training is
    // safe at production scale.
    val emb = Tables.embeddings(spark, sfSmall)
    val sampled = IvfIndex.build(emb, "vec_id", "embedding", nlist = 4,
      maxTrainRows = 100L)
    assert(sampled.postings.count() == corpus.length)
    assert(sampled.postings.select("id").distinct().count() == corpus.length)
    assert(sampled.centroids.count() == 4)
    val (qid, q) = corpus(7)
    val got = IvfIndex.search(sampled, q, k = 10, nprobe = 4, excludeId = Some(qid))
      .collect().map(_.getLong(0)).toSeq
    assert(got == exactKnn(q, qid, 10))
    sampled.postings.unpersist(blocking = false)
  }

  test("building over an empty corpus errors (app.py:223-228 parity)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.build(empty, "vec_id", "embedding", nlist = 2)
    }
    assert(e.getMessage.contains("empty corpus"))
  }

  test("missing index directory fails like the reference's FileNotFoundError") {
    intercept[java.io.FileNotFoundException] {
      IvfIndex.load(spark, s"${tmpDir("ivf-missing")}/does-not-exist")
    }
  }

  test("k larger than corpus returns all available rows (FAISS -1 sentinels never materialize)") {
    val (qid, q) = corpus(3)
    val got = IvfIndex.search(index, q, k = 10000, nprobe = 4, excludeId = Some(qid)).count()
    assert(got == corpus.length - 1)
  }

  test("distributed coarse assignment (join plan) equals the NearestList path exactly") {
    val emb = Tables.embeddings(spark, sfSmall)
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select("id", "list_id").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaExpr = asMap(IvfIndex.assignLists(index, emb, "vec_id", "embedding"))
    val viaJoin = asMap(IvfIndex.assignListsJoin(index, emb, "vec_id", "embedding"))
    assert(viaExpr.size == corpus.length)
    assert(viaJoin == viaExpr)
    // the dispatcher takes the join plan past the centroid bound
    val viaDispatch = asMap(IvfIndex.assignLists(index, emb, "vec_id", "embedding",
      maxDriverCentroids = 1))
    assert(viaDispatch == viaExpr)
  }

  test("join-plan coarse assignment aggregates with HashAggregate, never SortAggregate") {
    // The r14 scale decade caught min(struct(...)) silently degrading
    // to SortAggregate (struct agg buffers aren't hash-mutable) and
    // sorting the whole N×nlist expansion to a disk-full spill. The
    // packed-decimal argmin must keep the plan hash-aggregable.
    val emb = Tables.embeddings(spark, sfSmall)
    val plan = IvfIndex.assignListsJoin(index, emb, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.contains("SortAggregate"), plan.take(2000))
  }
}
