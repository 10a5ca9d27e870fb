package graft

import graft.operators.IvfIndex

/** The closed §7.5 maintenance loop: [[IvfIndex.maintainIndex]] must
  * leave a balanced append-only index alone, and must train + promote
  * a fresh generation when appends against the frozen centroids skew
  * a list past the max-share threshold. */
class IvfMaintainSpec extends SparkSpec {
  import spark.implicits._

  private def vec(base: Float) = Array.tabulate(8)(i => base + i * 0.01f)

  /** Four tight, well-separated clusters of 40 — balanced nlist=4. */
  private def baseRows: Seq[(Long, Array[Float])] =
    Seq(0f, 10f, 40f, 50f).zipWithIndex.flatMap { case (b, c) =>
      (0L until 40L).map(i => (c * 1000L + i, vec(b + (i % 5) * 0.02f)))
    }

  test("maintainIndex: balanced appends stand, drifted appends retrain+promote") {
    val dir = tmpDir("ivf-maintain-") + "/idx"
    IvfIndex.save(IvfIndex.build(baseRows.toDF("id", "embedding"),
      "id", "embedding", nlist = 4, seed = 42L, maxIter = 10), dir)

    // balanced wave: 20 more per cluster — shares stay ~0.25
    val balanced = Seq(0f, 10f, 40f, 50f).zipWithIndex.flatMap { case (b, c) =>
      (0L until 20L).map(i => (10000L + c * 1000L + i, vec(b + 0.05f)))
    }
    IvfIndex.append(spark, dir, balanced.toDF("id", "embedding"), "id", "embedding")
    val r1 = IvfIndex.maintainIndex(spark, dir)
    assert(!r1.retrained, s"balanced index retrained (maxShare=${r1.maxShare})")
    assert(r1.maxShare <= r1.threshold && r1.nlist == 4)

    // drifted wave: 600 vectors in two new tight clusters (21, 23) that
    // BOTH assign to the frozen centroid near 10 — its list share jumps
    // to (40+20+600)/840 ≈ 0.79 > 0.75
    val drift = Seq(21f, 23f).zipWithIndex.flatMap { case (b, c) =>
      (0L until 300L).map(i => (20000L + c * 1000L + i, vec(b + (i % 5) * 0.02f)))
    }
    IvfIndex.append(spark, dir, drift.toDF("id", "embedding"), "id", "embedding")
    val r2 = IvfIndex.maintainIndex(spark, dir)
    assert(r2.retrained, s"drifted index NOT retrained (maxShare=${r2.maxShare} " +
      s"threshold=${r2.threshold})")
    assert(r2.maxShare > r2.threshold)

    // the promoted generation: same rows, fresh centroids, rebalanced
    // back under the threshold — an immediate second pass is a no-op
    val idx = IvfIndex.load(spark, dir)
    assert(idx.postings.count() == baseRows.size + balanced.size + drift.size)
    assert(idx.centroidArrays.length == 4)
    val r3 = IvfIndex.maintainIndex(spark, dir)
    assert(!r3.retrained, s"fresh generation still skewed (maxShare=${r3.maxShare})")
  }

  test("maintainIndex never folds an uncommitted batch: excluded from retrain, carried, replay-exact") {
    import java.nio.file.Files
    val dir = tmpDir("ivf-uncommitted-") + "/idx"
    IvfIndex.save(IvfIndex.build(baseRows.toDF("id", "embedding"),
      "id", "embedding", nlist = 4, seed = 42L, maxIter = 10), dir)
    // committed drifted wave (markered): (40+520)/740 ≈ 0.76 > 0.75
    // even after the crashed wave dilutes the total
    val drift = (0L until 520L).map(i => (30000L + i, vec(22f))).toDF("id", "embedding")
    IvfIndex.appendBatch(spark, dir, drift, "id", "embedding", 5L, "m")
    // crashed wave: committed files landed, marker write never happened
    val crashed = (0L until 60L).map(i => (40000L + i, vec(41f))).toDF("id", "embedding")
    IvfIndex.appendBatch(spark, dir, crashed, "id", "embedding", 9L, "x")
    Files.delete(graft.operators.BatchFs.markerFor(dir, 9L, "x"))
    val r = IvfIndex.maintainIndex(spark, dir)
    assert(r.retrained)
    // the crashed batch's files were carried (visible), not folded —
    // its replay clears and re-appends them EXACTLY ONCE
    assert(IvfIndex.appendBatch(spark, dir, crashed, "id", "embedding", 9L, "x") == 60L)
    assert(IvfIndex.load(spark, dir).postings.count() ==
      baseRows.size + 520L + 60L)
    // and the replayed rows are now committed + deduplicated by id
    assert(IvfIndex.load(spark, dir).postings
      .select("id").distinct().count() == baseRows.size + 520L + 60L)
  }

  test("maintainIndex carries batch markers into the new generation") {
    import java.nio.file.Files
    val dir = tmpDir("ivf-markers-") + "/idx"
    IvfIndex.save(IvfIndex.build(baseRows.toDF("id", "embedding"),
      "id", "embedding", nlist = 4, seed = 42L, maxIter = 10), dir)
    val drift = (0L until 450L).map(i => (30000L + i, vec(22f)))
      .toDF("id", "embedding")
    val n = IvfIndex.appendBatch(spark, dir, drift, "id", "embedding", 5L, "m")
    assert(n == 450L)
    val r = IvfIndex.maintainIndex(spark, dir)
    assert(r.retrained)
    // a replay of the committed batch against the NEW generation must
    // no-op — its rows are already inside the retrained postings
    assert(Files.exists(graft.operators.BatchFs.markerFor(dir, 5L, "m")))
    assert(IvfIndex.appendBatch(spark, dir, drift, "id", "embedding", 5L, "m") == 0L)
    assert(IvfIndex.load(spark, dir).postings.count() == baseRows.size + 450L)
  }
}
