package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{l2sq, mat_vec, CovMoments}

/** PCA pre-transform over the `embeddings` table — the dimensionality
  * half of the compression ladder (FAISS `PCAMatrix` inside an
  * `IndexPreTransform`; the reference searches raw 384-dim floats,
  * app.py:48-55). Training is one distributed moment pass
  * ([[graft.functions.CovMoments]]: the shuffle carries one
  * O(dim²) buffer per partition, never rows) plus a driver-side
  * Jacobi eigensolve of the dim×dim covariance — 64×64 here, well
  * under a millisecond, and bounded by `dim`, not by corpus size, at
  * any scale.
  *
  * Search in PCA space skips the mean shift on purpose: for L2
  * ranking, `|P(x−μ) − P(y−μ)| = |Px − Py|`, so the projection is a
  * pure [[graft.functions.MatVec]] narrow map (codegen'd, no shuffle)
  * and the shortlist scan reads `dOut` floats per row instead of
  * `dim` — a dim/dOut-cheaper first pass (64→24 on the near-isotropic test embeddings; far fewer on real, variance-concentrated ones) that the exact
  * re-rank then repairs, same refine shape as
  * [[Quantization.knnBinaryRerank]].
  *
  * Eigensolve = classic cyclic Jacobi (Golub & Van Loan §8.5):
  * deterministic for a fixed input matrix, eigenpairs sorted by
  * descending eigenvalue, each eigenvector's sign fixed so its
  * largest-magnitude component is positive — so the trained model is
  * a pure function of the data and the audit flags are replayable.
  */
object Pca {

  /** Driver-side trained model: arrays only, O(dim²) bytes. */
  final case class Model(n: Long, mean: Array[Double], eigvals: Array[Double],
                         comps: Array[Array[Float]], trace: Double)

  private val modelCache = JvmCaches.map[(String, Int), Model]()
  private val momentCache = JvmCaches.map[String, (Long, Array[Double], Array[Array[Double]])]()

  /** One distributed moment pass over a frame's `embedding` column →
    * the raw (n, Σx, upper-triangle Σ x_i·x_j). */
  private def momentRow(spark: SparkSession,
                        df: DataFrame): (Long, Array[Double], Array[Double]) = {
    import spark.implicits._
    df.select(col("embedding")).as[Array[Float]].select(CovMoments.toColumn).head()
  }

  /** Raw moments → (mean, population covariance). */
  private def meanCov(n: Long, sums: Array[Double],
                      prods: Array[Double]): (Array[Double], Array[Array[Double]]) = {
    require(n > 1, s"pca: need > 1 vectors, got $n")
    val dim = sums.length
    val mean = sums.map(_ / n)
    val c = Array.ofDim[Double](dim, dim)
    var i = 0; var t = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val v = prods(t) / n - mean(i) * mean(j)
        c(i)(j) = v; c(j)(i) = v
        j += 1; t += 1
      }
      i += 1
    }
    (mean, c)
  }

  /** Covariance → Model: eigensolve, sort desc (index asc on ties),
    * sign-fix each component. */
  private def modelFrom(n: Long, mean: Array[Double], c: Array[Array[Double]],
                        dOut: Int): Model = {
    val dim = mean.length
    require(dOut >= 1 && dOut <= dim, s"pca: dOut $dOut out of range 1..$dim")
    val trace = (0 until dim).map(k => c(k)(k)).sum
    val (evals, evecs) = jacobiEigen(c)
    val order = (0 until dim).sortBy(k => (-evals(k), k))
    val top = order.take(dOut)
    val comps = top.map { k =>
      val v = Array.tabulate(dim)(r => evecs(r)(k))
      val m = v.indices.maxBy(r => (math.abs(v(r)), -r))
      val s = if (v(m) < 0) -1.0 else 1.0
      v.map(x => (x * s).toFloat)
    }.toArray
    Model(n, mean, top.map(evals).toArray, comps, trace)
  }

  /** One moment pass → (n, mean, population covariance). Memoized per
    * sfDir so `train` and the audit's residual check share a single
    * scan. */
  private def moments(spark: SparkSession, sfDir: String): (Long, Array[Double], Array[Array[Double]]) =
    momentCache.getOrElseUpdate(sfDir, {
      val (n, sums, prods) = momentRow(spark, Tables.embeddings(spark, sfDir))
      val (mean, c) = meanCov(n, sums, prods)
      (n, mean, c)
    })

  /** Train the PCA model: one moment pass + driver eigensolve.
    * Memoized per (sfDir, dOut) — the model is driver-side arrays, so
    * it safely outlives any SparkSession. */
  def train(spark: SparkSession, sfDir: String, dOut: Int = 24): Model =
    modelCache.getOrElseUpdate((sfDir, dOut), {
      val (n, mean, c) = moments(spark, sfDir)
      modelFrom(n, mean, c, dOut)
    })

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector columns). Deterministic sweep order;
    * converges quadratically (≤ ~8 sweeps at dim = 64). */
  private[graft] def jacobiEigen(c: Array[Array[Double]],
                                     maxSweeps: Int = 64): (Array[Double], Array[Array[Double]]) = {
    val n = c.length
    val a = Array.tabulate(n, n)((i, j) => c(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offDiag(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) { var j = i + 1; while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var sweep = 0
    while (sweep < maxSweeps && offDiag() > 1e-18) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val tTan =
              if (theta >= 0.0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val cRot = 1.0 / math.sqrt(tTan * tTan + 1.0)
            val sRot = tTan * cRot
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = cRot * akp - sRot * akq
              a(k)(q) = sRot * akp + cRot * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = cRot * apk - sRot * aqk
              a(q)(k) = sRot * apk + cRot * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = cRot * vkp - sRot * vkq
              v(k)(q) = sRot * vkp + cRot * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Registered `pca_stats`: per-dimension mean and population
    * variance through order-proof decimal sums (the `label_centroids`
    * float→double→string→DECIMAL(28,10) route — per-row x² is an
    * exact double, the decimal sum is associative, so the DuckDB
    * oracle hash-matches across any shuffle order), joined with the
    * trained model's replayable invariants: the aggregator-path mean
    * matches the decimal mean per dimension, every kept eigenpair
    * satisfies C·v = λ·v, the components are orthonormal, eigenvalues
    * are sorted and the explained-variance ratio is in (0, 1], and
    * the model's trace matches the decimal variances' sum. */
  def pcaStats(spark: SparkSession, sfDir: String, dOut: Int = 24): DataFrame = {
    val m = train(spark, sfDir, dOut)
    val dim = m.mean.length
    // sub-half-quantum zero guard included — see VectorOps.dec10
    // (the v² column is where the DuckDB sci-notation parser quirk
    // actually fired, at sf0.001)
    val dec = VectorOps.dec10 _
    val perPos = Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("pos").cast("long").as("pos"), col("vf").cast("double").as("v"))
      .groupBy(col("pos"))
      .agg(
        (sum(dec(col("v"))).cast("double") / count(lit(1))).as("mean"),
        ((sum(dec(col("v") * col("v"))).cast("double") / count(lit(1))) -
          (sum(dec(col("v"))).cast("double") / count(lit(1))) *
            (sum(dec(col("v"))).cast("double") / count(lit(1)))).as("var_pop"))
    // driver-verified flags (all O(dim²) arithmetic on the model)
    val cov = moments(spark, sfDir)._3
    val eigenOk = m.comps.indices.forall { r =>
      val vArr = m.comps(r).map(_.toDouble)
      val lam = m.eigvals(r)
      (0 until dim).forall { i =>
        val cv = (0 until dim).map(j => cov(i)(j) * vArr(j)).sum
        math.abs(cv - lam * vArr(i)) <= 1e-6
      }
    }
    val orthoOk = m.comps.indices.forall { a =>
      m.comps.indices.forall { b =>
        val d = (0 until dim).map(j => m.comps(a)(j).toDouble * m.comps(b)(j).toDouble).sum
        math.abs(d - (if (a == b) 1.0 else 0.0)) <= 1e-5
      }
    }
    val sortedOk = m.eigvals.sliding(2).forall(w => w.length < 2 || w(0) >= w(1) - 1e-12) &&
      m.eigvals.forall(_ >= -1e-9)
    val explained = m.eigvals.sum / m.trace
    val explainedOk = explained > 0.0 && explained <= 1.0 + 1e-12
    val traceFlag = perPos.agg(
      (abs(sum(col("var_pop")) - lit(m.trace)) <= lit(1e-6 * math.max(1.0, m.trace)))
        .as("trace_matches_ok"))
    perPos
      .withColumn("mean_match_ok",
        abs(element_at(typedlit(m.mean), (col("pos") + 1).cast("int")) - col("mean")) <= lit(1e-9))
      .crossJoin(broadcast(traceFlag))
      .select(col("pos"), col("mean"), col("var_pop"), col("mean_match_ok"),
        lit(eigenOk).as("eigen_residual_ok"), lit(orthoOk).as("orthonormal_ok"),
        lit(sortedOk && explainedOk).as("eigvals_ok"), col("trace_matches_ok"))
      .orderBy(col("pos").asc)
  }

  /** Corpus projected to PCA space: (vec_id, p) — a narrow codegen'd
    * map, `dOut` floats per row out. */
  def projected(spark: SparkSession, sfDir: String, dOut: Int = 24): DataFrame = {
    val m = train(spark, sfDir, dOut)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), mat_vec(col("embedding"), m.comps).as("p"))
  }

  /** PCA shortlist + exact re-rank (registered through
    * [[IndexAudits.pcaRerankAudit]]): rank in `dOut`-dim PCA space
    * (squared L2 — the mean shift cancels, see object scaladoc), keep
    * a `rerank`-sized shortlist, then score ONLY the shortlist's full
    * vectors with exact squared L2. The full-dim corpus is touched
    * through `rerank` rows per query; everything else reads `dOut`
    * floats per row. The projected query comes from the SAME
    * `mat_vec` kernel as the corpus side (one single-row job), so
    * coarse distances are bit-reproducible. */
  def knnPcaRerank(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                   k: Int = 10, rerank: Int = 200, dOut: Int = 24): DataFrame = {
    val m = train(spark, sfDir, dOut)
    val emb = Tables.embeddings(spark, sfDir)
    val qp = emb.filter(col("vec_id") === queryId)
      .select(mat_vec(col("embedding"), m.comps).as("p"))
      .head().getSeq[Float](0).toArray
    val shortlist = projected(spark, sfDir, dOut)
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), l2sq(col("p"), typedlit(qp)).as("pdist"))
      .orderBy(col("pdist").asc, col("vec_id").asc)
      .limit(math.max(rerank, k))
      .select(col("vec_id"))
    val qRow = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    emb.join(broadcast(shortlist), Seq("vec_id"), "left_semi")
      .join(broadcast(qRow))
      .select(col("vec_id"), l2sq(col("embedding"), col("q_embedding")).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
  }

  // ---- persisted additive moment log ------------------------------------
  //
  // The incremental-training closure for PCA, mirroring the LM count
  // logs (NgramLm.appendModelBatch): covariance moments are ADDITIVE,
  // so a 100 TB pipeline never rescans the corpus to refresh the
  // transform — each ingest wave appends its one (n, Σx, Σx·xᵀ) row
  // under the BatchFs idempotent-commit protocol (b<tag>- prefix,
  // marker last), and retraining is a driver-side sum of wave rows
  // plus the same eigensolve. A replayed committed wave is a no-op; a
  // crash mid-commit is repaired by the replay.

  /** Idempotent per-wave moment append: stages the wave's single
    * moment row, moves it in under the batch prefix, marker last.
    * Returns the wave's row count (0 for a replay or an empty wave). */
  def appendMomentsBatch(spark: SparkSession, dir: String, wave: DataFrame,
                         batchId: Long, namespace: String = ""): Long =
    BatchFs.appendOnce(dir, "moments", batchId, namespace,
        Seq(BatchFs.Log("moments", ""))) { staging =>
      val (n, sums, prods) = momentRow(spark, wave)
      if (n > 0L) {
        import spark.implicits._
        Seq((n, sums.toSeq, prods.toSeq)).toDF("n", "sums", "prods")
          .coalesce(1).write.mode("overwrite").parquet(s"$staging/moments")
      }
      n
    }

  /** Retrain from the log: sum the committed wave rows (one per wave,
    * driver-bounded by wave count) in DETERMINISTIC file-name order —
    * double addition is order-sensitive, and a fixed order makes the
    * loaded model a pure function of the log's contents — then the
    * same eigensolve as [[train]].
    *
    * COMMITTED rows only (r13): a `b<tag>-` file whose marker is
    * absent belongs to a crashed batch that may yet replay — folding
    * it in now would double its rows after the replay commits, and an
    * orphan that never replays would silently contaminate every
    * retrain. This is the same classification [[compactMomentLog]] and
    * the [[Compaction]] family apply; it also makes the compacted
    * fold's left-to-right addition order trivially identical to the
    * uncompacted one (uncommitted files never enter either fold). */
  def trainFromLog(spark: SparkSession, dir: String, dOut: Int = 24): Model = {
    val committedTags = Compaction.committedTagSet(dir)
    val rows = spark.read.parquet(s"$dir/moments")
      .select(input_file_name().as("f"), col("n"), col("sums"), col("prods"))
      .collect()
      .filter { r =>
        val name = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
        Compaction.batchTagOf(name).forall(committedTags.contains)
      }
      .sortBy(_.getString(0))
    require(rows.nonEmpty, s"pca: empty moment log at $dir")
    var n = 0L
    val sums = rows.head.getSeq[Double](2).toArray.map(_ => 0.0)
    val prods = rows.head.getSeq[Double](3).toArray.map(_ => 0.0)
    rows.foreach { r =>
      n += r.getLong(1)
      val s = r.getSeq[Double](2); val p = r.getSeq[Double](3)
      var i = 0
      while (i < sums.length) { sums(i) += s(i); i += 1 }
      i = 0
      while (i < prods.length) { prods(i) += p(i); i += 1 }
    }
    val (mean, c) = meanCov(n, sums, prods)
    modelFrom(n, mean, c, dOut)
  }

  // ---- moment-log compaction --------------------------------------------
  //
  // One file per wave forever is the same unbounded-file-count failure
  // the bucket logs have ([[Compaction]]); the fold here is cheaper
  // still because moment rows are ADDITIVE: the committed rows sum to
  // ONE row. Bit-identity is preserved deliberately — the fold sums in
  // trainFromLog's exact file-name order and the compacted file's name
  // (`a-compact.parquet`) sorts BEFORE every `b<tag>-` batch file, so
  // trainFromLog over [compacted, later waves…] replays the identical
  // left-to-right double additions as over the uncompacted log
  // (spec-pinned). Uncommitted (marker-less) files are carried
  // verbatim — their batch may yet replay, and the replay's clear
  // step must still find them under their prefix. Markers survive, so
  // a batch replayed after compaction still no-ops.

  /** Finish or unwind an interrupted moment-log compaction. Crash
    * layout → action (mirrors [[Compaction]]'s per-partition swap with
    * the flat log as the single "partition"):
    *  - `_old-moments` + live present → swap completed; drop the
    *    set-aside dir;
    *  - `_old-moments` + live missing → promote the fully-built
    *    `.compact-next` dir (compacted row + carried files, all placed
    *    before any rename), else restore the set-aside dir;
    *  - `.compact-next` + live intact → return carried batch files to
    *    the live dir (the compacted row is a discardable
    *    re-derivation) and discard the dir. */
  private def recoverMomentCompact(dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val live = Paths.get(s"$dir/moments")
    val old = Paths.get(s"$dir/_old-moments")
    val next = Paths.get(s"$dir/moments.compact-next")
    if (Files.exists(old)) {
      if (Files.exists(live)) BatchFs.deleteRecursively(old)
      else if (Files.exists(next)) { Files.move(next, live); BatchFs.deleteRecursively(old) }
      else Files.move(old, live)
    }
    if (Files.exists(next)) {
      if (Files.exists(live))
        BatchFs.children(next)
          .filter(f => Compaction.batchTagOf(f.getFileName.toString).isDefined)
          .foreach(f => Files.move(f, live.resolve(f.getFileName),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING))
      BatchFs.deleteRecursively(next)
    }
    BatchFs.deleteRecursively(Paths.get(s"$dir/moments.compact-staging"))
  }

  /** Fold the moment log's committed rows into one when the committed
    * file count exceeds `maxFiles` (the [[Compaction.maintainLog]]
    * measure-then-decide shape; the decision input is a directory
    * listing). Crash-recovering — every entry first finishes or
    * unwinds an interrupted pass — and idempotent. Returns
    * (files before, files after). */
  def compactMomentLog(spark: SparkSession, dir: String,
                       maxFiles: Int = 16): (Int, Int) = {
    import java.nio.file.{Files, Paths}
    // recovery FIRST: the live dir itself can be missing in the
    // rename-aside crash window, and the early-exit below must only
    // fire for a genuinely absent log
    recoverMomentCompact(dir)
    val live = Paths.get(s"$dir/moments")
    if (!Files.exists(live)) return (0, 0)
    val committedTags = Compaction.committedTagSet(dir)
    val files = BatchFs.children(live)
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val (committed, carried) = files.partition(f =>
      Compaction.batchTagOf(f.getFileName.toString).forall(committedTags.contains))
    val before = files.size
    if (committed.size <= maxFiles) return (before, before)
    // driver-side ordered fold of the committed rows — trainFromLog's
    // exact order (full-path sort within one dir = name sort)
    val rows = spark.read.parquet(committed.map(_.toString): _*)
      .select(input_file_name().as("f"), col("n"), col("sums"), col("prods"))
      .collect().sortBy(_.getString(0))
    var n = 0L
    val sums = rows.head.getSeq[Double](2).toArray.map(_ => 0.0)
    val prods = rows.head.getSeq[Double](3).toArray.map(_ => 0.0)
    rows.foreach { r =>
      n += r.getLong(1)
      val s = r.getSeq[Double](2); val p = r.getSeq[Double](3)
      var i = 0
      while (i < sums.length) { sums(i) += s(i); i += 1 }
      i = 0
      while (i < prods.length) { prods(i) += p(i); i += 1 }
    }
    import spark.implicits._
    val staging = s"$dir/moments.compact-staging"
    Seq((n, sums.toSeq, prods.toSeq)).toDF("n", "sums", "prods")
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val next = Paths.get(s"$dir/moments.compact-next")
    Files.createDirectories(next)
    val part = BatchFs.children(Paths.get(staging))
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"pca: staged compact row missing under $staging"))
    Files.move(part, next.resolve("a-compact.parquet"))
    BatchFs.deleteRecursively(Paths.get(staging))
    carried.foreach(f => Files.move(f, next.resolve(f.getFileName)))
    val old = Paths.get(s"$dir/_old-moments")
    Files.move(live, old)
    Files.move(next, live)
    BatchFs.deleteRecursively(old)
    (before, 1 + carried.size)
  }

  /** The two-wave persisted model over the embeddings table (waves =
    * vec_id parity), memoized per (sfDir, dOut) — the `pca_persisted`
    * audit's subject. Replays are exercised on every build: wave 0 is
    * re-appended after commit and must change nothing. The log's
    * [[graft.StateDir]] is keyed on the canonical sfDir path. */
  private val persistedCache = JvmCaches.map[(String, Int), (Model, Model)]()
  def persistedModelFor(spark: SparkSession, sfDir: String,
                        dOut: Int = 24): (Model, Model) =
    persistedCache.getOrElseUpdate((sfDir, dOut), {
      val dir = graft.StateDir.of("pca-moments", sfDir)
      val emb = Tables.embeddings(spark, sfDir)
      def appendBoth(): Unit = {
        appendMomentsBatch(spark, dir, emb.filter(pmod(col("vec_id"), lit(2)) === 0), 0L)
        appendMomentsBatch(spark, dir, emb.filter(pmod(col("vec_id"), lit(2)) === 1), 1L)
      }
      appendBoth()
      // Stale-log self-heal: committed-wave markers survive across
      // runs, so a regenerated fixture would otherwise train from
      // foreign moments with both appends silently no-oping. Validate
      // the log's total n against the current corpus; on mismatch wipe
      // the log (markers live under the same dir) and rebuild.
      val logged = spark.read.parquet(s"$dir/moments")
        .agg(sum(col("n"))).head().getLong(0)
      if (logged != emb.count()) {
        BatchFs.deleteRecursively(java.nio.file.Paths.get(dir))
        appendBoth()
      }
      val m1 = trainFromLog(spark, dir, dOut)
      // committed-batch replay must be a no-op: the log, and therefore
      // the loaded model, is bit-identical
      val replayed = appendMomentsBatch(spark, dir, emb.filter(pmod(col("vec_id"), lit(2)) === 0), 0L)
      require(replayed == 0L, "pca: committed wave replay must be a no-op")
      (m1, trainFromLog(spark, dir, dOut))
    })
}
