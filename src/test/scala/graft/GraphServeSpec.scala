package graft

import org.apache.spark.sql.functions._
import graft.operators.{BatchFs, GraphAnn, VectorSearchOps}

/** Round-15 graph-ANN serving contracts: the bucket-partitioned
  * persisted layout (writer bucket ≡ driver bucket, PartitionFilters
  * pruning at the per-hop scan, persisted ≡ in-memory bit-identity),
  * the batched lockstep beam (batch ≡ sequential per query, the
  * ef == k exclusion edge), and the incremental append/repair
  * lifecycle (replay no-op, fresh-build recall parity). */
class GraphServeSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfSmall)
  private lazy val graph = GraphAnn.forEmbeddings(spark, sfSmall)
  private lazy val seeds = GraphAnn.seedsForEmbeddings(spark, sfSmall)
  private lazy val idx = GraphAnn.persistedGraphFor(spark, sfSmall)

  private def qvec(qid: Long): Array[Float] =
    emb.filter(col("vec_id") === qid)
      .select("embedding").head.getSeq[Float](0).toArray

  test("driver bucketOf is bit-identical to the writer's column expression") {
    // the persisted layout is only prunable if the reader derives the
    // SAME bucket the writer stored — the bm25 termBucket discipline
    val nB = 64
    val ids = emb.select(col("vec_id"),
        pmod(xxhash64(col("vec_id")), lit(nB.toLong)).cast("int").as("b"))
      .collect()
    ids.foreach { r =>
      assert(GraphAnn.bucketOf(r.getLong(0), nB) == r.getInt(1),
        s"bucket mismatch for id ${r.getLong(0)}")
    }
  }

  test("saved adjacency is partitioned by bucket and the hop scan prunes statically") {
    // force the lazy persisted build FIRST — on a clean target/ the
    // adjacency directory does not exist until persistedGraphFor runs
    assert(idx.adjacency.columns.toSet == Set("src", "dst", "dist", "bucket"))
    val dirs = new java.io.File(s"${StateDir.of("graph-ann", sfSmall)}/adjacency")
      .listFiles()
    assert(dirs.exists(_.getName.startsWith("bucket=")),
      "expected bucket= partition directories")
    // the frontier's bucket isin must reach the scan as
    // PartitionFilters — the IvfIndex/bm25 assertion, graph form
    val frontier = seeds.take(8)
    val plan = GraphAnn.hopScan(spark, idx.adjacency, frontier,
        Some(GraphAnn.bucketOf(_, idx.nBuckets)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected bucket PartitionFilters in:\n$plan")
  }

  test("persisted bucket-pruned search ≡ in-memory beam, bit for bit") {
    Seq(0L, 123L, 499L).foreach { qid =>
      val q = qvec(qid)
      val a = GraphAnn.searchBeam(spark, graph, emb, q, 10, 32,
          seeds = seeds, excludeId = Some(qid))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = GraphAnn.searchIndex(spark, idx, emb, q, 10, 32,
          seeds = seeds, excludeId = Some(qid))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b, s"persisted/in-memory drift for query $qid")
    }
  }

  test("batched lockstep beam ≡ sequential searchBeam per query") {
    val qids = Seq(0L, 77L, 250L, 499L)
    val batch = GraphAnn.searchIndexBatch(spark, idx, emb,
        qids.map(q => q -> qvec(q)), k = 10, ef = 32, seeds = seeds,
        excludeSelf = true)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }
    qids.foreach { qid =>
      val single = GraphAnn.searchIndex(spark, idx, emb, qvec(qid), 10, 32,
          seeds = seeds, excludeId = Some(qid))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single, s"batch/sequential drift for query $qid")
    }
  }

  test("ef == k with self-exclusion still returns k rows (r14 advice edge)") {
    // the query id always enters the beam at dist 0; the internal ef+1
    // slot keeps the post-exclusion result k-complete
    val got = GraphAnn.searchBeam(spark, graph, emb, qvec(42L), k = 10,
      ef = 10, seeds = seeds, excludeId = Some(42L)).collect()
    assert(got.length == 10)
    assert(!got.map(_.getLong(0)).contains(42L))
  }

  test("append wave: marker protocol makes replays no-ops") {
    val dir = tmpDir("graph-append-replay")
    val existing = emb.filter(pmod(col("vec_id"), lit(5L)) =!= 0L)
    val wave = emb.filter(pmod(col("vec_id"), lit(5L)) === 0L)
    GraphAnn.saveGraph(GraphAnn.buildGraph(existing, iters = 3), dir)
    val before = GraphAnn.loadGraph(spark, dir).adjacency.count()
    val n1 = GraphAnn.appendGraphBatch(spark, dir, wave, existing,
      batchId = 7L, namespace = "spec")
    val afterFirst = GraphAnn.loadGraph(spark, dir).adjacency.count()
    assert(n1 == wave.count())
    // forward + back edges for every appended node
    assert(afterFirst == before + 2 * n1 * 10)
    val n2 = GraphAnn.appendGraphBatch(spark, dir, wave, existing,
      batchId = 7L, namespace = "spec")
    assert(n2 == 0L, "replayed committed wave must be a no-op")
    assert(GraphAnn.loadGraph(spark, dir).adjacency.count() == afterFirst)
  }

  test("append + repair ≡ fresh-build recall parity") {
    val (repaired, replayOk) = GraphAnn.appendedGraphFor(spark, sfSmall)
    assert(replayOk, "replay no-op flag red")
    val g = repaired.adjacency
    // fresh-build structural invariants hold on the repaired generation
    val deg = g.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(min(col("d")), max(col("d")), count(lit(1))).head
    assert(deg.getLong(0) == 10L && deg.getLong(1) == 10L)
    assert(deg.getLong(2) == emb.count(), "every corpus node has a list")
    // recall vs the exact graph clears the SAME floor as a fresh build
    val exact = VectorSearchOps.knnBatchExact(spark, sfSmall,
        nQueries = Int.MaxValue, k = 10)
      .select(col("src_id").as("src"), col("dst_id").as("dst"))
    val recall = g.join(exact, Seq("src", "dst"), "left_semi").count().toDouble /
      exact.count()
    assert(recall >= GraphAnn.GraphRecallFloor,
      s"appended-generation recall $recall below floor")
  }

  test("registered serving audits: every flag green at test scale") {
    val p = GraphAnn.graphPersistedAudit(spark, sfSmall).collect().head
    assert(p.getLong(0) == 10L)
    (1 to 3).foreach(i => assert(p.getBoolean(i), s"persisted flag $i red"))
    val b = GraphAnn.graphBatchAudit(spark, sfSmall).collect().head
    assert(b.getLong(0) == 32L)
    (1 to 3).foreach(i => assert(b.getBoolean(i), s"batch flag $i red"))
    val a = GraphAnn.graphAppendAudit(spark, sfSmall).collect().head
    assert(a.getLong(0) == emb.count())
    (1 to 6).foreach(i => assert(a.getBoolean(i), s"append flag $i red"))
  }

  test("appendGraphBatch on an empty wave commits a zero marker") {
    val dir = tmpDir("graph-append-empty")
    GraphAnn.saveGraph(GraphAnn.buildGraph(
      emb.filter(col("vec_id") < 100L), iters = 2), dir)
    val n = GraphAnn.appendGraphBatch(spark, dir,
      emb.filter(col("vec_id") < 0L), emb.filter(col("vec_id") < 100L),
      batchId = 1L, namespace = "spec-empty")
    assert(n == 0L)
    assert(java.nio.file.Files.exists(
      BatchFs.markerFor(dir, 1L, "spec-empty")))
  }
}
