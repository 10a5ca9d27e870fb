package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{GraphAnn, GraphAnnOracles}

/** [[graft.functions.TopKPairs]] (the bounded top-k aggregate behind
  * `GraphAnn.topKPerSrc`) must be bit-identical to the collect_list +
  * array_sort + array_distinct + slice formulation it replaced
  * (`topKPerSrcLegacy`, kept as the oracle): same rows, same values,
  * under duplicates, dist ties, groups under/over k, partial-merge
  * boundaries, and extreme doubles. */
class TopKPairsAggSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2)).toSeq

  private def check(edges: DataFrame, k: Int): Unit = {
    val neu = rows(GraphAnn.topKPerSrc(edges, k))
    val old = rows(GraphAnnOracles.topKPerSrcLegacy(edges, k))
    assert(neu == old, s"top-k aggregate drift at k=$k")
  }

  test("randomized: ties, exact duplicates, groups under and over k") {
    val rnd = new scala.util.Random(4242L)
    import spark.implicits._
    // 200 srcs, group sizes 1..~400, dists drawn from a SMALL value set
    // so dist ties across different dsts and exact (dist, dst) dupes
    // are dense
    val data = (0 until 200).flatMap { src =>
      val sz = 1 + rnd.nextInt(if (src % 7 == 0) 3 else 400)
      (0 until sz).map { _ =>
        (src.toLong, rnd.nextInt(50).toLong, rnd.nextInt(20) * 0.125)
      }
    }
    val df = data.toDF("src", "dst", "dist").repartition(7) // force partial merges
    Seq(1, 3, 10, 30).foreach(check(df, _))
  }

  test("extreme doubles and adjacent representable values") {
    import spark.implicits._
    val tiny = java.lang.Double.MIN_VALUE
    val next = java.lang.Math.nextUp(1.0)
    val df = Seq(
      (1L, 1L, 0.0), (1L, 2L, tiny), (1L, 3L, Double.MaxValue),
      (1L, 4L, 1.0), (1L, 5L, next), (1L, 6L, 1.0), (1L, 4L, 1.0),
      (2L, 1L, 1e308), (2L, 2L, 1e-308), (2L, 3L, 0.0), (2L, 3L, 0.0)
    ).toDF("src", "dst", "dist").repartition(3)
    Seq(1, 2, 4, 16).foreach(check(df, _))
  }

  test("real descent init frame at sfSmall") {
    val emb = Tables.embeddings(spark, sfSmall)
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val init = GraphAnn.initFor(base, base.count(), "random", 42L)
      .localCheckpoint(true)
    Seq(10, 30).foreach(check(init, _))
    init.unpersist(blocking = false)
  }

  test("buffer: reject-at-capacity, duplicate, and merge edge cases") {
    val b = new graft.functions.TopKPairsBuffer(3)
    b.insert(2.0, 20L); b.insert(1.0, 10L); b.insert(3.0, 30L)
    b.insert(3.0, 30L)            // exact duplicate of the worst: rejected
    assert(b.size == 3 && b.dists.toSeq == Seq(1.0, 2.0, 3.0))
    b.insert(4.0, 40L)            // worse than the worst: rejected
    assert(b.dsts.toSeq == Seq(10L, 20L, 30L))
    b.insert(2.0, 19L)            // dist tie, smaller dst: evicts (3.0, 30)
    assert(b.dists.toSeq == Seq(1.0, 2.0, 2.0) && b.dsts.toSeq == Seq(10L, 19L, 20L))
    b.insert(2.0, 19L)            // now a mid-buffer duplicate: rejected
    assert(b.dists.toSeq == Seq(1.0, 2.0, 2.0) && b.dsts.toSeq == Seq(10L, 19L, 20L))
    val c = new graft.functions.TopKPairsBuffer(3)
    c.insert(0.5, 5L); c.insert(2.0, 19L) // overlap with b
    c.mergeFrom(b)
    assert(c.dists.toSeq == Seq(0.5, 1.0, 2.0) && c.dsts.toSeq == Seq(5L, 10L, 19L))
  }
}
