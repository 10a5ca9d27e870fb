package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
  * SIGIR 1998) over an exact-cosine shortlist — the diversity pass a
  * retrieval pipeline runs after similarity search so the k results
  * aren't k near-duplicates (the reference returns the raw FAISS
  * top-k, app.py:60-68; this is the curation-side extension of that
  * surface).
  *
  * Scale shape: the DISTRIBUTED part is the shortlist — an exact
  * cosine top-`c` over the corpus (TakeOrdered, no shuffle beyond the
  * final exchange; at 100 TB the shortlist generator swaps for any of
  * the index paths — IVF/PQ/binary — without touching this operator).
  * The greedy selection itself is inherently sequential in k and runs
  * on the driver over the `c`-row shortlist — a BOUNDED collect
  * (c ≤ a few hundred, the [[Pq]] shortlist discipline), O(k·c·dim)
  * double arithmetic.
  *
  * Determinism contract (what makes `mmr_rerank` hash-exact oracled
  * rather than audit-flagged): every number is a fixed-order double
  * computation — cosines accumulate left-to-right exactly like the
  * engine's codegen'd [[graft.functions.CosineSim]] kernel and
  * DuckDB's `list_sum(list_transform(...))`, the score is
  * `lam·sim(q,d) − lamC·max_{s∈S} sim(d,s)` with both coefficients
  * passed as literals (never `1 − lam`, whose double value differs
  * from the 0.3 literal), ties break on ascending vec_id, and the
  * empty-selection max is literal 0.0. The DuckDB oracle replays the
  * whole greedy as a recursive CTE and hash-matches bit-for-bit.
  */
object Mmr {

  /** Sequential double dot — the [[graft.functions.DotProduct]]
    * accumulation order, so driver-side cosines equal the codegen'd
    * column values bit-for-bit. */
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

  /** The greedy MMR selection over one query's shortlist — shared by
    * the single-query (driver) and batch (executor, per group) paths.
    * Input rows in any order; picks are (score DESC, vec_id ASC)
    * argmax per step, first step against an empty selection (max-sim
    * literal 0.0).
    *
    * Determinism guard: a zero-norm shortlist vector (or a NaN
    * query-sim from a zero-norm query) makes cosine() NaN, and NaN
    * poisons `>`/`==` so the argmax would depend on scan order — which
    * the batch path's flatMapGroups does NOT fix. Such rows are
    * dropped up front; between the survivors every cosine is finite,
    * so the argmax is scan-order independent. */
  private[graft] def greedy(shortIn: IndexedSeq[(Long, Double, Array[Float])],
                                k: Int, lam: Double, lamC: Double): IndexedSeq[(Long, Double)] = {
    val short = shortIn.filter { case (_, simq, vec) =>
      !simq.isNaN && dot(vec, vec) > 0.0
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val selVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val chosen = scala.collection.mutable.Set.empty[Long]
    val steps = math.min(k, short.length)
    var step = 0
    while (step < steps) {
      var bestId = -1L; var bestScore = 0.0; var bestVec: Array[Float] = null
      short.foreach { case (vid, simq, vec) =>
        if (!chosen.contains(vid)) {
          var maxSim = 0.0
          var first = true
          selVecs.foreach { sv =>
            val cs = cosine(vec, sv)
            if (first || cs > maxSim) { maxSim = cs; first = false }
          }
          val score = lam * simq - lamC * maxSim
          if (bestId < 0 || score > bestScore ||
            (score == bestScore && vid < bestId)) {
            bestId = vid; bestScore = score; bestVec = vec
          }
        }
      }
      selected += ((bestId, bestScore))
      selVecs += bestVec
      chosen += bestId
      step += 1
    }
    selected.toIndexedSeq
  }

  /** Registered `mmr_rerank`: (rank, vec_id, mmr_score) — the k
    * diversity-selected results from the exact-cosine top-`c`
    * shortlist of `queryId`. */
  def mmrRerank(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                k: Int = 10, c: Int = 30,
                lam: Double = 0.7, lamC: Double = 0.3): DataFrame = {
    require(math.abs(lam + lamC - 1.0) < 1e-9, "mmr: lam + lamC must be 1")
    // distributed shortlist: exact cosine top-c (sim desc, vec_id asc)
    val short = VectorSearchOps.knnExactCosine(spark, sfDir, queryId, c)
      .join(Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")),
        Seq("vec_id"))
      .select(col("vec_id"), col("sim"), col("embedding"))
      .collect() // bounded: c rows
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Float](2).toArray))
    val selected = greedy(short.toIndexedSeq, k, lam, lamC)
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((vid, score), i) => ((i + 1).toLong, vid, score) }
      .toDF("rank", "vec_id", "mmr_score")
  }

  /** Index-backed MMR (registered through
    * [[IndexAudits.mmrIvfAudit]]): the shortlist generator swaps from
    * the exact-cosine corpus scan to the IVF coarse probe — the swap
    * the [[mmrRerank]] scaladoc promises. [[IvfIndex.scanProbed]]
    * scores the probed lists with the SAME codegen'd cosine kernel and
    * its top-`c` feeds the unchanged greedy — so with
    * nprobe = nlist the probe prunes nothing and the result equals
    * [[mmrRerank]] EXACTLY (test-pinned); at lower nprobe coarse
    * misses cost shortlist recall only, never determinism. */
  def mmrIvf(spark: SparkSession, sfDir: String, queryId: Long = 0L,
             k: Int = 10, c: Int = 30, nlist: Int = 4, nprobe: Int = 3,
             lam: Double = 0.7, lamC: Double = 0.3): DataFrame = {
    require(math.abs(lam + lamC - 1.0) < 1e-9, "mmr: lam + lamC must be 1")
    val index = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val q = Tables.queryVector(spark, sfDir, queryId)
    val short = IvfIndex.scanProbed(index.postings, IvfIndex.probeLists(index, q, nprobe),
        graft.functions.cosine_sim(col("embedding"), typedlit(q)), "sim",
        IvfIndex.TopK(c), descending = true, excludeId = Some(queryId),
        idAs = "vec_id", keep = Seq("embedding"))
      .collect() // bounded: c rows
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Float](2).toArray))
    val selected = greedy(short.toIndexedSeq, k, lam, lamC)
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((vid, score), i) => ((i + 1).toLong, vid, score) }
      .toDF("rank", "vec_id", "mmr_score")
  }

  /** Registered `mmr_batch`: MMR for the first `nQueries` anchors at
    * once — (qid, rank, vec_id, mmr_score). The shortlists come from
    * ONE broadcast-anchors × corpus scan with a per-query rank window
    * (the knn_batch shape), then the greedy runs PER GROUP on the
    * executors via flatMapGroups: state is one c-row shortlist per
    * query, queries parallelize freely, and nothing reaches the
    * driver. This is the production MMR shape at scale — N queries ×
    * bounded shortlists; the single-query form above is its bounded
    * special case. Same determinism contract, so the DuckDB oracle
    * replays ALL the greedies in one recursive CTE (per-qid argmax
    * via a window) and hash-matches. */
  def mmrBatch(spark: SparkSession, sfDir: String, nQueries: Int = 20,
               k: Int = 5, c: Int = 20,
               lam: Double = 0.7, lamC: Double = 0.3): DataFrame = {
    require(math.abs(lam + lamC - 1.0) < 1e-9, "mmr: lam + lamC must be 1")
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val anchors = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("simq").desc, col("vec_id").asc)
    val short = emb.select(col("vec_id"), col("embedding"))
      .join(broadcast(anchors), col("vec_id") =!= col("qid"))
      .withColumn("simq", graft.functions.cosine_sim(col("embedding"), col("qe")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= c)
      .select(col("qid"), col("vec_id"), col("simq"), col("embedding"))
      .as[(Long, Long, Double, Array[Float])]
    short.groupByKey(_._1)
      .flatMapGroups { (qid, rows) =>
        val shortlist = rows.map(r => (r._2, r._3, r._4)).toIndexedSeq
        greedy(shortlist, k, lam, lamC).zipWithIndex.iterator
          .map { case ((vid, score), i) => (qid, (i + 1).toLong, vid, score) }
      }
      .toDF("qid", "rank", "vec_id", "mmr_score")
      .orderBy(col("qid").asc, col("rank").asc)
  }
}
