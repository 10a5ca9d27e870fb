package graft

import org.apache.spark.sql.functions._
import graft.operators.IvfIndex
import graft.streaming.IndexMaintenance

/** Streaming index maintenance (SURVEY.md §7.5): append-only postings
  * against frozen centroids, drift stats, and re-train generations —
  * verified against driver-side argmin/brute-force oracles on the
  * sf0.001 embeddings split in half (build on the first half, append
  * the second). */
class IndexMaintenanceSpec extends SparkSpec {

  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  private lazy val corpus: Array[(Long, Array[Float])] =
    Tables.embeddings(spark, sfSmall)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** Build on vec_id < 250, save to a fresh dir; returns the dir. */
  private def savedHalfIndex(): String = {
    val dir = tmpDir("ivf-maint-")
    val first = Tables.embeddings(spark, sfSmall).filter(col("vec_id") < 250)
    val idx = IvfIndex.build(first, "vec_id", "embedding", nlist = 4)
    IvfIndex.save(idx, dir)
    idx.postings.unpersist(blocking = false)
    dir
  }

  /** Driver argmin over an index's centroids, (dist, list_id) tiebreak. */
  private def expectedList(index: IvfIndex.Index, v: Array[Float]): Int =
    index.centroidArrays
      .map { case (lid, c) => (lid, l2(v, c)) }
      .minBy { case (lid, d) => (d, lid) }._1

  test("nearest_list expression matches driver-side argmin over the corpus") {
    import spark.implicits._
    val cents = Array(
      Array(0f, 0f, 0f), Array(10f, 0f, 0f), Array(0f, 10f, 0f), Array(5f, 5f, 5f))
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(9f, 1f, 0f)),
      (2L, Array(0f, 11f, -1f)), (3L, Array(5f, 5f, 4f)),
      (4L, Array(5f, 0f, 0f))) // tie between cents 0 and 1 → first wins
    val got = vecs.toDF("id", "emb")
      .select(col("id"), graft.functions.nearest_list(col("emb"), cents).as("pos"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def argmin(v: Array[Float]): Int =
      cents.zipWithIndex.map { case (c, j) => (j, l2(v, c)) }
        .minBy { case (j, d) => (d, j) }._1
    vecs.foreach { case (id, v) => assert(got(id) == argmin(v), s"id=$id") }
    assert(got(4L) == 0, "equidistant vector must take the first minimum")
  }

  test("append assignment plans as a narrow map: no Exchange, stays in codegen") {
    val index = IvfIndex.forEmbeddings(spark, sfSmall, nlist = 4)
    val exec = IvfIndex.assignLists(index,
        Tables.embeddings(spark, sfSmall), "vec_id", "embedding")
      .queryExecution.executedPlan
    val plan = exec.toString
    assert(!plan.contains("Exchange"),
      s"append assignment must not shuffle:\n$plan")
    // the `*(n)` prefix in toString IS the codegen marker; check the
    // node type to be explicit
    assert(exec.collectFirst {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.nonEmpty,
      s"nearest_list must stay inside codegen:\n$plan")
  }

  test("append buckets new vectors by frozen centroids; full-probe search sees the union") {
    val dir = savedHalfIndex()
    val rest = Tables.embeddings(spark, sfSmall).filter(col("vec_id") >= 250)
    val n = IvfIndex.append(spark, dir, rest, "vec_id", "embedding")
    assert(n == 250)
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.postings.count() == 500)
    // every appended row landed in its nearest-centroid list
    val got = loaded.postings.filter(col("id") >= 250)
      .select("id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    corpus.filter(_._1 >= 250).foreach { case (id, v) =>
      assert(got(id) == expectedList(loaded, v), s"id=$id")
    }
    // nprobe = nlist search over the appended index ≡ brute force over
    // the full 500 (IVFFlat stores raw vectors; append must not lose
    // or duplicate any)
    val (qid, q) = corpus(300)
    val fromIdx = IvfIndex.search(loaded, q, k = 10, nprobe = 4, excludeId = Some(qid))
      .collect().map(_.getLong(0)).toSeq
    val brute = corpus.filter(_._1 != qid)
      .map { case (id, v) => (id, l2(q, v)) }
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
    assert(fromIdx == brute)
  }

  test("appendStream: micro-batched streaming append converges to the batch result") {
    val dir = savedHalfIndex()
    // stage the second half as a MULTI-FILE parquet landing zone and
    // cap the source at one file per trigger, so the append runs as a
    // sequence of micro-batches (each its own partitioned parquet
    // append), not one big batch
    val landing = tmpDir("ivf-landing-")
    Tables.embeddings(spark, sfSmall).filter(col("vec_id") >= 250)
      .select("vec_id", "embedding")
      .repartition(3)
      .write.mode("overwrite").parquet(landing)
    val stream = spark.readStream
      .schema(Tables.embeddings(spark, sfSmall).select("vec_id", "embedding").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
    val q = IndexMaintenance.appendStream(stream, dir, "vec_id", "embedding")
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      s"expected >=3 data micro-batches, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.postings.count() == 500)
    val got = loaded.postings.filter(col("id") >= 250)
      .select("id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    corpus.filter(_._1 >= 250).foreach { case (id, v) =>
      assert(got(id) == expectedList(loaded, v), s"id=$id")
    }
  }

  test("appendStream restart from checkpoint: resumes at the first unprocessed file, no row twice") {
    val dir = savedHalfIndex()
    val landing = tmpDir("ivf-restart-landing-")
    val ckpt = tmpDir("ivf-restart-ckpt-")
    val schema = Tables.embeddings(spark, sfSmall)
      .select("vec_id", "embedding").schema
    def stage(lo: Long, hi: Long, name: String): Unit = {
      val tmp = tmpDir("ivf-restart-stage-")
      Tables.embeddings(spark, sfSmall)
        .filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet"))
        .forEach(p => java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$landing/$name.parquet")))
    }
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(landing)
      IndexMaintenance.appendStream(stream, dir, "vec_id", "embedding",
        checkpointDir = Some(ckpt)).awaitTermination()
    }
    stage(250, 375, "part0"); run()
    assert(IvfIndex.load(spark, dir).postings.count() == 375)
    // second launch, SAME checkpoint: part0's offsets are committed, so
    // only the newly-landed file is processed — a re-append of part0
    // would show up as duplicate ids below
    stage(375, 500, "part1"); run()
    // third launch with nothing new: a no-op
    run()
    val postings = IvfIndex.load(spark, dir).postings
    assert(postings.count() == 500)
    assert(postings.select("id").distinct().count() == 500,
      "restart must not re-append already-committed files")
  }

  test("appendStream maintenance cadence: drift crossing the share bound promotes a new generation mid-stream") {
    import spark.implicits._
    def vec(base: Float, i: Int): Array[Float] =
      Array(base + (i % 7) * 0.05f, base - (i % 5) * 0.04f,
        (i % 3) * 0.03f, (i % 11) * 0.02f)
    // balanced 2-cluster seed corpus: 20 near 0, 20 near 10
    val seedRows =
      (0 until 20).map(i => (i.toLong, vec(0f, i))) ++
      (20 until 40).map(i => (i.toLong, vec(10f, i)))
    val dir = tmpDir("ivf-drift-")
    val idx = IvfIndex.build(seedRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nlist = 2)
    IvfIndex.save(idx, dir)
    idx.postings.unpersist(blocking = false)
    val before = IvfIndex.load(spark, dir)
      .centroidArrays.map(_._2.toSeq).toSet
    // three waves, ALL near cluster 0: after wave 2 that list holds
    // 100/120 = 0.83 > 1.5/2 = 0.75 — the cadence (every batch) must
    // observe the drift and promote a retrained generation DURING the
    // stream, with wave 3 appending against whatever generation is live
    val landing = tmpDir("ivf-drift-landing-")
    val ckpt = tmpDir("ivf-drift-ckpt-")
    def stage(lo: Int, hi: Int, name: String): Unit = {
      val tmp = tmpDir("ivf-drift-stage-")
      (lo until hi).map(i => (100L + i, vec(0.5f, i)))
        .toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet"))
        .forEach(p => java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$landing/$name.parquet")))
    }
    stage(0, 40, "w0"); stage(40, 80, "w1"); stage(80, 120, "w2")
    val schema = seedRows.toDF("vec_id", "embedding").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    IndexMaintenance.appendStream(stream, dir, "vec_id", "embedding",
      checkpointDir = Some(ckpt),
      maintainEvery = 1, maxFilesPerPartition = 4, maxShareFactor = 1.5)
      .awaitTermination()
    val promoted = IvfIndex.load(spark, dir)
    // the generation changed: retrained centroids replaced the seed's
    assert(promoted.centroidArrays.map(_._2.toSeq).toSet != before,
      "drift crossing the bound must promote a retrained generation")
    // no row lost or duplicated across append → compact → retrain → append
    assert(promoted.postings.count() == 160)
    assert(promoted.postings.select("id").distinct().count() == 160)
    // a batch committed BEFORE the promotion replays as a no-op against
    // the promoted generation (markers were carried forward)
    val ns = IndexMaintenance.checkpointNamespace(Some(ckpt))
    val w0 = (0 until 40).map(i => (100L + i, vec(0.5f, i)))
      .toDF("vec_id", "embedding")
    assert(IvfIndex.appendBatch(spark, dir, w0, "vec_id", "embedding",
      0L, namespace = ns) == 0L,
      "pre-promotion committed batch must replay as a no-op")
    assert(IvfIndex.load(spark, dir).postings.count() == 160)
    // IVFFlat invariant holds across the promotion: full-probe search
    // over the new generation ≡ brute force over all 160 vectors
    val all = seedRows ++ (0 until 120).map(i => (100L + i, vec(0.5f, i)))
    val (qid, q) = all(57)
    val fromIdx = IvfIndex.search(promoted, q, k = 10, nprobe = 2,
        excludeId = Some(qid))
      .collect().map(_.getLong(0)).toSeq
    val brute = all.filter(_._1 != qid)
      .map { case (id, v) => (id, l2(q, v)) }
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
    assert(fromIdx == brute)
  }

  test("appendBatch: replay of a committed batch is a no-op; a crash before the marker repairs") {
    val dir = savedHalfIndex()
    val rest = Tables.embeddings(spark, sfSmall).filter(col("vec_id") >= 250)
    val n1 = IvfIndex.appendBatch(spark, dir, rest, "vec_id", "embedding",
      batchId = 7L, namespace = "t")
    assert(n1 == 250)
    assert(IvfIndex.load(spark, dir).postings.count() == 500)
    // at-least-once replay AFTER the commit marker: no-op
    val n2 = IvfIndex.appendBatch(spark, dir, rest, "vec_id", "embedding",
      batchId = 7L, namespace = "t")
    assert(n2 == 0L, "replay of a committed batch must append nothing")
    assert(IvfIndex.load(spark, dir).postings.count() == 500)
    // crash BETWEEN the file moves and the marker write: delete the
    // marker (the moved files stay) and replay — the prefixed files
    // from the partial commit are replaced, not duplicated
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/_committed/v2/t-7"))
    val n3 = IvfIndex.appendBatch(spark, dir, rest, "vec_id", "embedding",
      batchId = 7L, namespace = "t")
    assert(n3 == 250)
    val postings = IvfIndex.load(spark, dir).postings
    assert(postings.count() == 500,
      "replay after a pre-marker crash must repair, not duplicate")
    assert(postings.select("id").distinct().count() == 500)
  }

  test("listStats: shares sum to 1 over nlist rows; retrain writes a fresh generation") {
    val dir = savedHalfIndex()
    IvfIndex.append(spark, dir,
      Tables.embeddings(spark, sfSmall).filter(col("vec_id") >= 250),
      "vec_id", "embedding")
    val loaded = IvfIndex.load(spark, dir)
    val stats = IvfIndex.listStats(loaded).collect()
    assert(stats.length == 4)
    assert(stats.map(_.getLong(1)).sum == 500L)
    assert(math.abs(stats.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    // retrain over original+appended into a new generation dir
    val gen2 = tmpDir("ivf-gen2-")
    val rebuilt = IvfIndex.retrain(spark, dir, gen2, nlist = 4)
    assert(rebuilt.postings.count() == 500)
    assert(rebuilt.centroids.count() == 4)
    // the new generation serves exact results at full probe
    val (qid, q) = corpus(123)
    val fromIdx = IvfIndex.search(rebuilt, q, k = 5, nprobe = 4, excludeId = Some(qid))
      .collect().map(_.getLong(0)).toSeq
    val brute = corpus.filter(_._1 != qid)
      .map { case (id, v) => (id, l2(q, v)) }
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSeq
    assert(fromIdx == brute)
  }
}
