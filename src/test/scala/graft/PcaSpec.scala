package graft

import graft.operators.{IndexAudits, Pca, VectorSearchOps}
import org.apache.spark.sql.functions._

/** PCA pre-transform: eigensolver correctness, model invariants, and
  * the shortlist + exact re-rank search contract. */
class PcaSpec extends SparkSpec {

  test("jacobiEigen recovers a known 2x2 spectrum") {
    // [[2,1],[1,2]] has eigenvalues 3 (v=(1,1)/√2) and 1 (v=(1,-1)/√2)
    val (vals, vecs) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val sorted = vals.sorted
    assert(math.abs(sorted(0) - 1.0) < 1e-12 && math.abs(sorted(1) - 3.0) < 1e-12)
    // eigenvector columns satisfy A·v = λ·v
    for (k <- 0 until 2) {
      val v = Array(vecs(0)(k), vecs(1)(k))
      val av = Array(2 * v(0) + v(1), v(0) + 2 * v(1))
      assert(math.abs(av(0) - vals(k) * v(0)) < 1e-12)
      assert(math.abs(av(1) - vals(k) * v(1)) < 1e-12)
    }
  }

  test("jacobiEigen on a random symmetric matrix: residual and orthogonality") {
    val rnd = new scala.util.Random(7)
    val n = 12
    val c = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- i until n) {
      val v = rnd.nextGaussian(); c(i)(j) = v; c(j)(i) = v
    }
    val (vals, vecs) = Pca.jacobiEigen(c)
    // A·v = λ·v per column
    for (k <- 0 until n; i <- 0 until n) {
      val av = (0 until n).map(j => c(i)(j) * vecs(j)(k)).sum
      assert(math.abs(av - vals(k) * vecs(i)(k)) < 1e-9, s"residual at ($i,$k)")
    }
    // V orthonormal
    for (a <- 0 until n; b <- 0 until n) {
      val d = (0 until n).map(i => vecs(i)(a) * vecs(i)(b)).sum
      assert(math.abs(d - (if (a == b) 1.0 else 0.0)) < 1e-10)
    }
    // trace preserved
    val trace = (0 until n).map(i => c(i)(i)).sum
    assert(math.abs(vals.sum - trace) < 1e-9)
  }

  test("trained model: orthonormal components, sorted eigenvalues, bounded explained ratio") {
    val m = Pca.train(spark, sfSmall, dOut = 8)
    val dim = m.mean.length
    assert(m.comps.length == 8 && m.comps.forall(_.length == dim))
    for (a <- m.comps.indices; b <- m.comps.indices) {
      val d = (0 until dim).map(j => m.comps(a)(j).toDouble * m.comps(b)(j).toDouble).sum
      assert(math.abs(d - (if (a == b) 1.0 else 0.0)) < 1e-5)
    }
    assert(m.eigvals.sliding(2).forall(w => w.length < 2 || w(0) >= w(1) - 1e-12))
    val explained = m.eigvals.sum / m.trace
    assert(explained > 0.0 && explained <= 1.0 + 1e-12)
    // sign convention: largest-|component| entry is positive
    m.comps.foreach { v =>
      val mx = v.indices.maxBy(r => (math.abs(v(r)), -r))
      assert(v(mx) >= 0f)
    }
  }

  test("full-rank projection preserves pairwise squared L2 (orthogonal invariance)") {
    val m = Pca.train(spark, sfSmall, dOut = 64)
    val rows = Tables.embeddings(spark, sfSmall).limit(5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getSeq[Float](1).toArray)
    def l2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def proj(x: Array[Float]): Array[Double] =
      m.comps.map(row => row.zip(x).map { case (a, b) => a.toDouble * b.toDouble }.sum)
    for (i <- rows.indices; j <- i + 1 until rows.length) {
      val orig = l2(rows(i).map(_.toDouble), rows(j).map(_.toDouble))
      val pr = l2(proj(rows(i)), proj(rows(j)))
      assert(math.abs(orig - pr) < 1e-3 * math.max(1.0, orig),
        s"distance not preserved: $orig vs $pr")
    }
  }

  test("pca_stats flags are all true and decimal means match a direct computation") {
    val rows = Pca.pcaStats(spark, sfSmall).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      assert(r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5) &&
        r.getBoolean(6) && r.getBoolean(7), s"flag false at pos ${r.getLong(0)}")
    }
    val naive = Tables.embeddings(spark, sfSmall)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos").agg(avg(col("v").cast("double")).as("m"))
      .collect().map(r => r.getInt(0).toLong -> r.getDouble(1)).toMap
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - naive(r.getLong(0))) < 1e-9)
    }
  }

  test("knnPcaRerank returns k rows with exact re-rank distances, query excluded") {
    val res = Pca.knnPcaRerank(spark, sfSmall, 0L, k = 10).collect()
    assert(res.length == 10)
    assert(res.forall(_.getLong(0) != 0L))
    val emb = Tables.embeddings(spark, sfSmall)
    val q = emb.filter(col("vec_id") === 0L).select("embedding").head.getSeq[Float](0).toArray
    val byId = emb.filter(col("vec_id").isin(res.map(_.getLong(0)): _*))
      .select(col("vec_id"), graft.functions.l2sq(col("embedding"), typedlit(q)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    res.foreach(r => assert(r.getDouble(1) == byId(r.getLong(0)), "re-rank dist must be the exact L2"))
    // distances ascend
    assert(res.map(_.getDouble(1)).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
  }

  test("rerank = corpus size degrades to the exact top-k") {
    val n = Tables.embeddings(spark, sfSmall).count().toInt
    val full = Pca.knnPcaRerank(spark, sfSmall, 0L, k = 10, rerank = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = VectorSearchOps.knnExactL2(spark, sfSmall, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == exact)
  }

  test("pcaRerankAudit flags hold at the smallest scale") {
    val r = IndexAudits.pcaRerankAudit(spark, sfSmall, minHits = 4).collect().head
    assert(r.getLong(0) == 10L)
    assert(r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3))
  }

  test("moment log: three waves retrain to the one-pass model (reassociation tolerance)") {
    val dir = tmpDir("pca-log")
    val emb = Tables.embeddings(spark, sfSmall)
    for (w <- 0 until 3)
      assert(Pca.appendMomentsBatch(spark, dir, emb.filter(pmod(col("vec_id"), lit(3)) === w), w.toLong) > 0L)
    val fromLog = Pca.trainFromLog(spark, dir, dOut = 8)
    val mem = Pca.train(spark, sfSmall, dOut = 8)
    assert(fromLog.n == mem.n)
    fromLog.mean.zip(mem.mean).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    assert(math.abs(fromLog.trace - mem.trace) < 1e-9 * math.max(1.0, mem.trace))
    fromLog.eigvals.zip(mem.eigvals).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6 * math.max(1.0, math.abs(b)))
    }
  }

  test("moment log: committed-wave replay is a no-op; empty wave commits a zero marker") {
    val dir = tmpDir("pca-replay")
    val emb = Tables.embeddings(spark, sfSmall)
    assert(Pca.appendMomentsBatch(spark, dir, emb, 7L) > 0L)
    val before = Pca.trainFromLog(spark, dir, dOut = 4)
    assert(Pca.appendMomentsBatch(spark, dir, emb, 7L) == 0L)
    val after = Pca.trainFromLog(spark, dir, dOut = 4)
    assert(before.eigvals.sameElements(after.eigvals) &&
      before.mean.sameElements(after.mean) && before.n == after.n)
    // empty wave: marker lands, log is untouched
    assert(Pca.appendMomentsBatch(spark, dir, emb.filter(lit(false)), 8L) == 0L)
    assert(Pca.appendMomentsBatch(spark, dir, emb.filter(lit(false)), 8L) == 0L)
    val still = Pca.trainFromLog(spark, dir, dOut = 4)
    assert(still.eigvals.sameElements(after.eigvals))
  }

  test("moment log: a crashed attempt's stray file is cleared on the committing retry") {
    val dir = tmpDir("pca-crash")
    val emb = Tables.embeddings(spark, sfSmall)
    assert(Pca.appendMomentsBatch(spark, dir, emb.filter(col("vec_id") < 100), 0L) > 0L)
    val clean = Pca.trainFromLog(spark, dir, dOut = 4)
    // simulate a crash: a b1- data file landed but no marker was written
    val live = java.nio.file.Paths.get(s"$dir/moments")
    val stray = live.resolve("b1-part-crashed.parquet")
    val src = graft.operators.BatchFs.children(live)
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(src, stray)
    // the retry clears the stray and commits exactly once
    assert(Pca.appendMomentsBatch(spark, dir, emb.filter(col("vec_id") >= 100), 1L) > 0L)
    val repaired = Pca.trainFromLog(spark, dir, dOut = 4)
    val mem = Pca.train(spark, sfSmall, dOut = 4)
    assert(repaired.n == mem.n, "stray pre-commit file must not double-count")
    repaired.mean.zip(mem.mean).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    assert(!clean.mean.sameElements(repaired.mean) || clean.n != repaired.n)
  }

  test("momentsStream: stream-built log == direct batch appends bit-identically; restart is a no-op") {
    val landing = tmpDir("pca-stream-landing-")
    val ckpt = tmpDir("pca-stream-ckpt-")
    val dirS = tmpDir("pca-stream-log-")
    val dirB = tmpDir("pca-batch-log-")
    val emb = Tables.embeddings(spark, sfSmall).select("vec_id", "embedding")
    val schema = emb.schema
    def stage(lo: Long, hi: Long, name: String): String = {
      val tmp = tmpDir("pca-stream-stage-")
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val dst = s"$landing/$name.parquet"
      java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet"))
        .forEach(p => java.nio.file.Files.move(p, java.nio.file.Paths.get(dst)))
      dst
    }
    def run(): Unit =
      graft.streaming.IndexMaintenance.momentsStream(
        spark.readStream.schema(schema).parquet(landing), dirS,
        checkpointDir = Some(ckpt)).awaitTermination()
    val w0 = stage(0, 250, "part0"); run()
    val w1 = stage(250, 500, "part1"); run()
    run() // nothing new — must append nothing
    val ns = graft.streaming.IndexMaintenance.checkpointNamespace(Some(ckpt))
    // batch twin over the SAME staged files under the SAME namespace:
    // identical rows, identical file order → identical model, bitwise
    assert(Pca.appendMomentsBatch(spark, dirB, spark.read.parquet(w0), 0L, ns) == 250L)
    assert(Pca.appendMomentsBatch(spark, dirB, spark.read.parquet(w1), 1L, ns) == 250L)
    val s = Pca.trainFromLog(spark, dirS, dOut = 8)
    val b = Pca.trainFromLog(spark, dirB, dOut = 8)
    assert(s.n == 500L && s.n == b.n)
    assert(s.mean.sameElements(b.mean) && s.eigvals.sameElements(b.eigvals))
    assert(s.comps.zip(b.comps).forall { case (x, y) => x.sameElements(y) })
    // committed-batch replay through the stream's namespace is a no-op
    assert(Pca.appendMomentsBatch(spark, dirS, spark.read.parquet(w0), 0L, ns) == 0L)
  }

  test("moment-log compaction folds committed rows bit-identically; markers and uncommitted files survive") {
    val dir = tmpDir("pca-compact-")
    val emb = Tables.embeddings(spark, sfSmall)
    for (w <- 0 until 6)
      assert(Pca.appendMomentsBatch(spark, dir,
        emb.filter(pmod(col("vec_id"), lit(6)) === w), w.toLong) > 0L)
    // a crashed attempt's marker-less file must be carried, not folded
    val live = java.nio.file.Paths.get(s"$dir/moments")
    val src = graft.operators.BatchFs.children(live)
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(src, live.resolve("b99-part-crashed.parquet"))
    val before = Pca.trainFromLog(spark, dir, dOut = 8)
    val (nb, na) = Pca.compactMomentLog(spark, dir, maxFiles = 4)
    assert(nb == 7 && na == 2, s"expected 7 -> 2 files, got $nb -> $na")
    val after = Pca.trainFromLog(spark, dir, dOut = 8)
    assert(before.n == after.n && before.mean.sameElements(after.mean) &&
      before.eigvals.sameElements(after.eigvals) &&
      before.comps.zip(after.comps).forall { case (x, y) => x.sameElements(y) },
      "fold must replay trainFromLog's exact addition order")
    // markers survive the fold: a replayed committed wave still no-ops
    assert(Pca.appendMomentsBatch(spark, dir,
      emb.filter(pmod(col("vec_id"), lit(6)) === 3), 3L) == 0L)
    // below the bound, a second pass is a no-op
    assert(Pca.compactMomentLog(spark, dir, maxFiles = 4) == ((2, 2)))
    // and the log keeps accepting appends afterwards
    assert(Pca.appendMomentsBatch(spark, dir,
      emb.filter(col("vec_id") < 60), 100L) == 60L)
    assert(Pca.trainFromLog(spark, dir, dOut = 8).n == after.n + 60L)
  }

  test("moment-log compaction crash recovery: interrupted passes finish or unwind") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("pca-recover-")
    val emb = Tables.embeddings(spark, sfSmall)
    for (w <- 0 until 3)
      assert(Pca.appendMomentsBatch(spark, dir,
        emb.filter(pmod(col("vec_id"), lit(3)) === w), w.toLong) > 0L)
    val clean = Pca.trainFromLog(spark, dir, dOut = 4)
    val live = Paths.get(s"$dir/moments")
    // crash window A: carried file moved into .compact-next, live intact
    val next = Paths.get(s"$dir/moments.compact-next")
    Files.createDirectories(next)
    val stray = live.resolve("b50-part-crashed.parquet")
    Files.copy(graft.operators.BatchFs.children(live)
      .find(_.getFileName.toString.endsWith(".parquet")).get, stray)
    Files.move(stray, next.resolve("b50-part-crashed.parquet"))
    Pca.compactMomentLog(spark, dir, maxFiles = 1000) // recovery only; no fold at this bound
    assert(!Files.exists(next))
    assert(Files.exists(live.resolve("b50-part-crashed.parquet")),
      "carried uncommitted file must return to the live dir")
    Files.delete(live.resolve("b50-part-crashed.parquet"))
    // crash window B: live renamed aside, nothing promoted yet
    Files.move(live, Paths.get(s"$dir/_old-moments"))
    Pca.compactMomentLog(spark, dir, maxFiles = 1000)
    assert(Files.exists(live) && !Files.exists(Paths.get(s"$dir/_old-moments")))
    val recovered = Pca.trainFromLog(spark, dir, dOut = 4)
    assert(recovered.n == clean.n && recovered.mean.sameElements(clean.mean))
  }

  test("dOut bounds are enforced") {
    intercept[IllegalArgumentException] { Pca.train(spark, sfSmall, 0) }
    intercept[IllegalArgumentException] { Pca.train(spark, sfSmall, 65) }
  }
}
