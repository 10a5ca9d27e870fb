package graft

import org.apache.spark.sql.functions._
import graft.operators.{GraphAnn, GraphAnnOracles, VectorSearchOps}

/** Graph-ANN (the HNSW-family answer) contracts: NN-descent graph
  * quality vs the exact k-NN graph, beam-search recall vs the exact
  * scan, determinism of the hash-seeded pipeline, persisted round
  * trip, and the registered audits' flags. */
class GraphAnnSpec extends SparkSpec {

  private lazy val graph = GraphAnn.forEmbeddings(spark, sfSmall)

  test("buildGraph: k edges per node, no self loops, sorted unique dsts") {
    val perSrc = graph.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"),
        countDistinct(col("dst")).as("ndst"),
        sum(when(col("src") === col("dst"), 1).otherwise(0)).as("selfs"))
      .collect()
    assert(perSrc.length == Tables.embeddings(spark, sfSmall).count())
    perSrc.foreach { r =>
      assert(r.getLong(1) == 10L, s"node ${r.getLong(0)} degree ${r.getLong(1)}")
      assert(r.getLong(2) == 10L, "duplicate dst")
      assert(r.getLong(3) == 0L, "self loop")
    }
  }

  test("NN-descent converges to (nearly) the exact k-NN graph at 500 nodes") {
    val exact = VectorSearchOps.knnBatchExact(spark, sfSmall,
        nQueries = Int.MaxValue, k = 10)
      .select(col("src_id").as("src"), col("dst_id").as("dst"))
    val nExact = exact.count()
    val nHit = graph.join(exact, Seq("src", "dst"), "left_semi").count()
    val recall = nHit.toDouble / nExact
    assert(recall >= GraphAnn.GraphRecallFloor,
      s"graph recall $recall below floor ${GraphAnn.GraphRecallFloor}")
  }

  test("new/old-pruned descent ≡ legacy full-generation kernel, bit for bit") {
    // the r15 optimization prunes candidate generation to pairs with at
    // least one fresh und edge (a pair rejected once can never re-enter
    // — the per-src top-kb bar only tightens); the edge SET per round
    // must be unchanged
    val emb = Tables.embeddings(spark, sfSmall)
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val init = GraphAnn.initFor(base, base.count(), "random", 42L)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fused = GraphAnn.descend(base, init, kb = 20, iters = 3, rho = 1.0, seed = 42L)
    val legacy = GraphAnnOracles.descendLegacy(base, init, kb = 20, iters = 3, rho = 1.0, seed = 42L)
    assert(key(fused) == key(legacy), "descent kernel drift")
    fused.unpersist(blocking = false)
    legacy.unpersist(blocking = false)
  }

  test("buildGraph is deterministic (hash-seeded, no k-means)") {
    val again = GraphAnn.buildGraph(Tables.embeddings(spark, sfSmall))
    val a = graph.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = again.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b)
    again.unpersist(blocking = false)
  }

  test("beam search: recall@10 vs the exact scan clears the floor on every probe") {
    val emb = Tables.embeddings(spark, sfSmall)
    val seeds = GraphAnn.seedsForEmbeddings(spark, sfSmall)
    val qids = Seq(0L, 100L, 250L, 499L)
    qids.foreach { qid =>
      val q = emb.filter(col("vec_id") === qid)
        .select("embedding").head.getSeq[Float](0).toArray
      val got = GraphAnn.searchBeam(spark, graph, emb, q, 10, ef = 32,
          seeds = seeds, excludeId = Some(qid))
        .collect().map(_.getLong(0)).toSet
      val exact = VectorSearchOps.knnExactL2(spark, sfSmall, qid, 10)
        .collect().map(_.getLong(0)).toSet
      val overlap = got.count(exact.contains)
      assert(got.size == 10)
      assert(overlap >= 8, s"query $qid recall $overlap/10")
    }
  }

  test("beam search returns exact distances (stored graph never approximates dist)") {
    val emb = Tables.embeddings(spark, sfSmall)
    val q = emb.filter(col("vec_id") === 7L)
      .select("embedding").head.getSeq[Float](0).toArray
    val got = GraphAnn.searchBeam(spark, graph, emb, q, 10, ef = 32,
        seeds = GraphAnn.seedsForEmbeddings(spark, sfSmall), excludeId = Some(7L))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = VectorSearchOps.knnExactL2(spark, sfSmall, 7L, 500)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    got.foreach { case (id, d) =>
      assert(exact(id) == d, s"hit $id distance drift")
    }
  }

  test("save -> load -> bucket-pruned search round trip is identical") {
    val dir = s"${tmpDir("graph-ann-test")}/graph"
    GraphAnn.saveGraph(graph, dir)
    val loaded = GraphAnn.loadGraph(spark, dir)
    assert(loaded.nBuckets ==
      graft.operators.LogBuckets.adaptive(graph.count()))
    val emb = Tables.embeddings(spark, sfSmall)
    val q = emb.filter(col("vec_id") === 3L)
      .select("embedding").head.getSeq[Float](0).toArray
    val seeds = GraphAnn.seedsForEmbeddings(spark, sfSmall)
    val a = GraphAnn.searchBeam(spark, graph, emb, q, 10, 32, seeds = seeds,
      excludeId = Some(3L)).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = GraphAnn.searchIndex(spark, loaded, emb, q, 10, 32, seeds = seeds,
      excludeId = Some(3L)).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
  }

  test("loadGraph on a missing directory fails like the index loaders") {
    intercept[java.io.FileNotFoundException](
      GraphAnn.loadGraph(spark, s"${tmpDir("graph-ann-test")}/nope"))
  }

  test("LSH init keeps NN-descent alive on clustered high-dim geometry") {
    // regression pin for the r15 dim=384 decade catch: a pure id-hash
    // random init gives the descent no gradient under distance
    // concentration (beam recall collapsed to 0.125 at 384-dim while
    // every quantizer family read >= 0.93); the hyperplane-LSH init
    // rounds seed within-cluster edges so the graph converges. This
    // fixture reproduces the geometry small: tight clusters in 192-dim
    // where cross-cluster distances concentrate.
    import spark.implicits._
    val dim = 192; val nClusters = 12; val perCluster = 100
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian().toFloat * 4f))
    val rows = (0 until nClusters * perCluster).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(v => v + rnd.nextGaussian().toFloat * 0.25f).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val g = GraphAnn.buildGraph(emb, k = 10, iters = 4, rho = 0.5)
    val a = emb.select(col("vec_id").as("src"), col("embedding").as("av"))
    val b = emb.select(col("vec_id").as("dst"), col("embedding").as("bv"))
    val exact = a.join(b, col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        graft.functions.l2sq(col("av"), col("bv")).as("dist"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(col("dist"), col("dst"))))
      .filter(col("rk") <= 10).select("src", "dst")
    val nExact = exact.count()
    val nHit = g.join(exact, Seq("src", "dst"), "left_semi").count()
    val recall = nHit.toDouble / nExact
    assert(recall >= 0.85,
      s"clustered high-dim graph recall $recall below 0.85 — init regression")
  }

  test("registered audits: every flag green at test scale") {
    val b = GraphAnn.graphBuildAudit(spark, sfSmall).collect().head
    assert(b.getLong(0) == Tables.embeddings(spark, sfSmall).count())
    assert(b.getInt(1) == 10)
    (2 to 5).foreach(i => assert(b.getBoolean(i), s"build flag $i red"))
    val s = GraphAnn.graphSearchAudit(spark, sfSmall).collect().head
    assert(s.getLong(0) == 10L)
    assert(s.getBoolean(1), "dists_exact_ok red")
    assert(s.getBoolean(2), "recall_ok red")
  }
}
