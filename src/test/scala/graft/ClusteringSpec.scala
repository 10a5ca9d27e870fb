package graft

import org.apache.spark.sql.functions._
import graft.operators.Clustering

/** Connected components + assignment semantics vs an in-driver
  * union-find oracle (SURVEY.md §5.2) and the reference's fine-print
  * edge cases (§3: singletons → -1, strict ε, self-pair exclusion). */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side union-find: id -> min id of its component. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map { i =>
      val r = find(i)
      i.toLong -> r.toLong
    }.toMap
  }

  /** `driverMaxEdges = 0` forces the distributed pointer-jumping loop;
    * the default exercises the bounded driver union-find fast path. */
  private def ccResult(n: Int, edges: Seq[(Long, Long)],
                       driverMaxEdges: Long = 1000000L): Map[Long, Long] = {
    val nodes = (0L until n.toLong).toDF("id")
    val edgeDf = edges.toDF("src", "dst")
    Clustering.connectedComponents(nodes, edgeDf, driverMaxEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("CC matches union-find on a seeded random graph (both execution paths)") {
    val rnd = new scala.util.Random(7)
    val n = 300
    val edges = Seq.fill(400)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val oracle = unionFind(n, edges)
    assert(ccResult(n, edges) == oracle, "driver fast path")
    assert(ccResult(n, edges, driverMaxEdges = 0L) == oracle, "distributed loop")
  }

  test("CC equivalence sweep: random graphs, both execution paths vs union-find") {
    // randomized but seeded: 12 graph shapes (sparse, dense, self-loopy,
    // empty-edge) — the driver fast path on every trial, the distributed
    // loop on every third (it pays ~1 s of job overhead per run)
    val rnd = new scala.util.Random(42)
    (1 to 12).foreach { trial =>
      val n = 1 + rnd.nextInt(60)
      val m = rnd.nextInt(3 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val oracle = unionFind(n, edges)
      assert(ccResult(n, edges) == oracle, s"driver path trial=$trial n=$n m=$m")
      if (trial % 3 == 0) {
        assert(ccResult(n, edges, driverMaxEdges = 0L) == oracle,
          s"distributed loop trial=$trial n=$n m=$m")
      }
    }
  }

  test("CC converges on a long path graph within the iteration cap (pointer jumping)") {
    // a 400-node chain has diameter 399: plain min-label propagation
    // would need 399 rounds and blow the 50-round cap; pointer jumping
    // must collapse it in O(log n) rounds. Forced onto the distributed
    // loop — the round cap is exactly what this test exercises.
    val n = 400
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1))
    val got = ccResult(n, edges, driverMaxEdges = 0L)
    assert(got.values.toSet == Set(0L), "single chain must collapse to comp 0")
  }

  test("CC handles self-loops, duplicate and reversed edges, isolated nodes (both paths)") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 1L), (1L, 2L), (4L, 5L))
    val expected = Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L)
    assert(ccResult(6, edges) == expected, "driver fast path")
    assert(ccResult(6, edges, driverMaxEdges = 0L) == expected, "distributed loop")
  }

  test("CC connects through edge endpoints absent from nodes, identically on both paths") {
    // phantom id 10 bridges nodes 0 and 2; phantom id 1 bridges 5 and
    // 6 AND is the component min — both strategies must propagate
    // through phantoms and report the same (possibly-phantom) label,
    // while emitting rows for exactly the node set.
    def cc(nodes: Seq[Long], edges: Seq[(Long, Long)], maxEdges: Long): Map[Long, Long] =
      Clustering.connectedComponents(
          nodes.toDF("id"), edges.toDF("src", "dst"), maxEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodes = Seq(0L, 2L, 3L, 5L, 6L)
    val edges = Seq((0L, 10L), (10L, 2L), (5L, 1L), (1L, 6L))
    val expected = Map(0L -> 0L, 2L -> 0L, 3L -> 3L, 5L -> 1L, 6L -> 1L)
    assert(cc(nodes, edges, 1000000L) == expected, "driver fast path")
    assert(cc(nodes, edges, 0L) == expected, "distributed loop")
  }

  test("assign: multi-member components numbered 0..m-1 by min member; singletons -1") {
    // components: {0,1}, {3,4,5}; singletons: {2}, {6}
    val nodes = (0L to 6L).toDF("id")
    val edges = Seq((0L, 1L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Clustering.assign(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> -1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> -1L))
  }

  test("empty node set: CC and assignment return empty results, no failure") {
    val nodes = Seq.empty[Long].toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Clustering.connectedComponents(nodes, edges).count() == 0)
    assert(Clustering.assign(nodes, edges).count() == 0)
  }

  test("single node: one -1 singleton") {
    val got = Clustering.assign(Seq(7L).toDF("id"),
      Seq.empty[(Long, Long)].toDF("src", "dst")).collect()
    assert(got.toSeq.map(r => (r.getLong(0), r.getLong(1))) == Seq((7L, -1L)))
  }

  test("empty edge set: every node is a -1 singleton") {
    val nodes = (0L until 5L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val got = Clustering.assign(nodes, edges).collect()
    assert(got.length == 5 && got.forall(_.getLong(1) == -1L))
  }

  test("duplicate embeddings (distance 0) cluster together under strict ε") {
    // engine semantics (declared deviation, SURVEY §3 fine print 4):
    // rows are keyed by id, so two identical vectors ARE an ε-edge and
    // form a 2-cluster — this is what makes dedup work downstream.
    val rows = Seq(
      (0L, Array(0f, 0f)), (1L, Array(0f, 0f)),  // exact dup pair
      (2L, Array(10f, 10f)))                     // far away singleton
    val emb = rows.toDF("vec_id", "embedding")
    val nodes = emb.select(col("vec_id").as("id"))
    val a = emb.select(col("vec_id").as("src"), col("embedding").as("a_emb"))
    val b = emb.select(col("vec_id").as("dst"), col("embedding").as("b_emb"))
    val edges = a.join(b, col("src") < col("dst"))
      .filter(graft.functions.l2sq(col("a_emb"), col("b_emb")) < 0.5)
      .select("src", "dst")
    val got = Clustering.assign(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> -1L))
  }

  test("clusterSizes: sizes sorted desc with cluster_id tiebreak, display cap (T2/T3)") {
    val assignments = Seq(
      (0L, 0L), (1L, 0L), (2L, 0L),   // cluster 0, size 3
      (3L, 1L), (4L, 1L),             // cluster 1, size 2
      (5L, 2L), (6L, 2L),             // cluster 2, size 2
      (7L, -1L))
      .toDF("id", "cluster_id")
    val got = Clustering.clusterSizes(assignments, cap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 3L), (1L, 2L)))
  }

  test("end-to-end exact clustering matches a driver-side oracle on sf0.001") {
    val eps = 1.2
    val emb = Tables.embeddings(spark, sfSmall)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    val edges = for {
      (i, vi) <- emb.toSeq; (j, vj) <- emb.toSeq
      if i < j && l2(vi, vj) < eps
    } yield (i, j)
    val oracleComp = unionFind(emb.length, edges)
    val oracleMulti = oracleComp.groupBy(_._2).filter(_._2.size > 1).keys.toSeq.sorted
    val oracleIds = oracleMulti.zipWithIndex.toMap
    val oracle = oracleComp.map { case (id, root) =>
      id -> oracleIds.get(root).map(_.toLong).getOrElse(-1L)
    }
    val got = Clustering.clusterExact(spark, sfSmall, eps)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == oracle)
  }

  test("end-to-end IVF clustering (reference flagship path) matches a driver-side replay on sf0.001") {
    // The reference's literal default flow (app.py:77-114: k=10,
    // nprobe=2, ε=0.75): replay searchAll's exact semantics on the
    // driver — same trained index (seeded k-means, shared JVM cache),
    // same (dist, id) tiebreaks — then union-find + the assign
    // numbering, and require the distributed pipeline to agree row
    // for row.
    val eps = 0.75; val k = 10; val nlist = 4; val nprobe = 2
    val index = graft.operators.IvfIndex.forEmbeddings(spark, sfSmall, nlist)
    val postings = index.postings.select("list_id", "id", "embedding").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
      }
      acc
    }
    val byList = postings.groupBy(_._1).map { case (l, rs) =>
      l -> rs.map(r => (r._2, r._3)).toSeq
    }
    val edges = postings.toSeq.flatMap { case (_, id, v) =>
      val probed = index.centroidArrays
        .map { case (lid, c) => (lid, l2(v, c)) }
        .sortBy { case (lid, d) => (d, lid) }
        .take(nprobe).map(_._1)
      probed.flatMap(l => byList.getOrElse(l, Seq.empty))
        .filter(_._1 != id)
        .map { case (did, dv) => (did, l2(v, dv)) }
        .sortBy { case (did, d) => (d, did) }
        .take(k)
        .collect { case (did, d) if d < eps => (id, did) }
    }
    // union-find over vec ids (LongMap variant of the Int oracle above)
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val ids = postings.map(_._2).toSeq.sorted
    val roots = ids.map(id => id -> find(id)).toMap
    val multi = roots.groupBy(_._2).filter(_._2.size > 1).keys.toSeq.sorted
    val cid = multi.zipWithIndex.toMap
    val oracle = ids.map(id =>
      id -> cid.get(roots(id)).map(_.toLong).getOrElse(-1L)).toMap
    val got = Clustering.clusterIvf(spark, sfSmall, eps, k, nlist, nprobe)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == oracle)
  }
}
