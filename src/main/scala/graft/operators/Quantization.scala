package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{dequantize_f16, dot_i8, l2sq,
  quant_scale, quantize_f16, quantize_i8}

/** Int8-quantized similarity search over the `embeddings` table — the
  * memory-compression scale path (4× smaller postings than float32;
  * the reference keeps full floats in FAISS, app.py:48-55). Kernels
  * are the native codegen'd expressions in
  * [[graft.functions.QuantizeI8]] / [[graft.functions.DotI8]].
  *
  * Quantized cosine needs NO rescaling: the per-vector scales cancel
  * in dot/(|a||b|), so ranking is pure integer dot products plus one
  * final division — bit-reproducible across engines, no float
  * accumulation order to disagree on.
  */
object Quantization {

  /** Per-vector quantization audit: scale and integer summary of the
    * quantized vector. Everything after the float max|x| is integer
    * arithmetic, so the DuckDB oracle matches hash-exactly. */
  def quantizeStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), quantize_i8(col("embedding")).as("q"),
        quant_scale(col("embedding")).as("scale"))
      .select(
        col("vec_id"),
        col("scale"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"),
        array_min(col("q")).cast("long").as("q_min"),
        array_max(col("q")).cast("long").as("q_max"))
      .orderBy(col("vec_id").asc)

  /** fp16 (binary16) scalar-quantized kNN — FAISS
    * `ScalarQuantizer(QT_fp16)`, the most-used SQ variant: 2×
    * compression, no training pass, ~2^-11 relative error. The FAISS
    * search contract exactly: codes DEQUANTIZE to float and the query
    * stays full-precision, so the distance is
    * `l2sq(dequant(codes), q_float32)` — both kernels are codegen'd
    * expressions that fuse into one whole-stage loop over the coded
    * scan (no float postings read). Half conversion has no JDK-17
    * intrinsic; see [[graft.functions.F16]] for the bit-exact RNE
    * implementation. DuckDB has no half type, so the registered
    * surface is the audit ([[IndexAudits.f16Audit]]); this is the raw
    * search path. */
  def knnF16(spark: SparkSession, sfDir: String, queryId: Long = 0L,
             k: Int = 10): DataFrame = {
    val coded = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), quantize_f16(col("embedding")).as("codes"))
    val q = Tables.queryVector(spark, sfDir, queryId)
    coded.filter(col("vec_id") =!= queryId)
      .withColumn("dist", l2sq(dequantize_f16(col("codes")), typedlit(q)))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("dist"))
  }

  /** Top-k by quantized cosine similarity (descending, vec_id
    * tie-break): integer dot products over array<tinyint>, one double
    * division at the end. Approximate vs exact cosine (quantization
    * error ~1/254 per component) — recall-tested against the exact
    * path, AND hash-exact oracled (r7): quantization is seedless, so
    * DuckDB re-derives the identical codes and replays the same
    * integer-dot ranking. */
  def knnQuantized(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                   k: Int = 10): DataFrame = {
    val quantized = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), quantize_i8(col("embedding")).as("q"))
    val q = quantized.filter(col("vec_id") === queryId)
      .select(col("q").as("q_query"))
    quantized.join(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .withColumn("sim", quantizedCosine(col("q"), col("q_query")))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("sim"))
  }

  /** Cosine of two int8 code arrays: integer dots, one double division
    * at the end; 0.0 when either side quantizes to the zero vector. */
  private def quantizedCosine(a: Column, b: Column): Column = {
    val (ab, aa, bb) = (dot_i8(a, b), dot_i8(a, a), dot_i8(b, b))
    when(aa === 0L || bb === 0L, lit(0.0))
      .otherwise(ab.cast("double") /
        (sqrt(aa.cast("double")) * sqrt(bb.cast("double"))))
  }

  /** IVF + int8: quantized postings inside the inverted lists (the
    * FAISS IVF-SQ8 shape — coarse quantizer prunes lists, scalar-
    * quantized codes score candidates; at 100 TB this is what keeps
    * the probed lists resident: 4× smaller than float32). List probing
    * uses the float centroids (small); [[IvfIndex.scanProbed]] scores
    * candidates by quantized cosine against the query's int8 codes —
    * integer dots, scales cancel. With nprobe = nlist this
    * must equal [[knnQuantized]] exactly (test-pinned). */
  def ivfSearchQuantized(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                         k: Int = 10, nlist: Int = 4, nprobe: Int = 2): DataFrame = {
    val index = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val q = Tables.queryVector(spark, sfDir, queryId)
    IvfIndex.scanProbed(index.postings, IvfIndex.probeLists(index, q, nprobe),
      quantizedCosine(quantize_i8(col("embedding")), quantize_i8(typedlit(q))),
      "sim", IvfIndex.TopK(k), descending = true, excludeId = Some(queryId),
      idAs = "vec_id")
  }

  /** Recall@k of quantized cosine against exact cosine for one query —
    * driver-visible quality probe (reference-style: FAISS users run
    * the same check when they switch SQ8 on). */
  def quantizedRecall(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                      k: Int = 10): Double = {
    val exact = VectorSearchOps.knnExactCosine(spark, sfDir, queryId, k)
      .collect().map(_.getLong(0)).toSet
    val quant = knnQuantized(spark, sfDir, queryId, k)
      .collect().map(_.getLong(0)).toSet
    exact.intersect(quant).size.toDouble / k
  }

  // ---- binary (1-bit) quantization: FAISS IndexBinaryFlat ---------------
  //
  // The extreme end of the compression ladder (float32 -> int8 -> PQ ->
  // 1 bit/dim): each vector becomes ceil(dim/64) longs of SIGN BITS,
  // distance becomes Hamming (one xor + popcount per word). 32x smaller
  // than float32 and the cheapest possible scan kernel — the standard
  // first-pass filter in billion-scale retrieval, usually followed by
  // an exact re-rank of a short candidate list (the refine pattern,
  // same as [[Pq.searchPq]]'s rerank). Seedless and exactly
  // reproducible in any engine: the DuckDB oracle re-derives identical
  // signatures, so knn_binary is hash-exact oracled (like
  // [[knnQuantized]], unlike the learned-codebook PQ family).

  /** Sign-bit signature: word w, bit b = 1 iff embedding[w*64+b] > 0.
    * A narrow all-builtin map (HOF loops over the tiny dim range). */
  private def binarySigExpr(dim: Int): org.apache.spark.sql.Column = {
    val nWords = (dim + 63) / 64
    expr(
      s"""transform(sequence(0, ${nWords - 1}), w ->
         |  aggregate(sequence(0, 63), 0L, (acc, b) ->
         |    IF(w * 64 + b < $dim AND embedding[w * 64 + b] > 0.0D,
         |       acc | shiftleft(1L, b), acc)))""".stripMargin)
  }

  private def sigsFor(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    emb.select(col("vec_id"), binarySigExpr(dim).as("sig"))
  }

  private val hammingExpr =
    expr("aggregate(zip_with(sig, q_sig, (a, b) -> bit_count(a ^ b)), 0, (acc, x) -> acc + x)")

  /** Top-k by Hamming distance over the sign-bit signatures
    * (ascending, vec_id tie-break — Hamming ties are the norm at 64
    * bits, so the deterministic tie order is load-bearing). Scan cost
    * is 8 bytes + one xor/popcount per 64 dims per row; top-k is
    * TakeOrdered — no shuffle beyond the final exchange. */
  def knnBinary(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                k: Int = 10): DataFrame = {
    val sigs = sigsFor(spark, sfDir)
    val q = sigs.filter(col("vec_id") === queryId).select(col("sig").as("q_sig"))
    sigs.join(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .withColumn("hamming", hammingExpr)
      .orderBy(col("hamming").asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("hamming"))
  }

  /** Binary shortlist + exact re-rank (FAISS IndexBinaryFlat +
    * refine): the Hamming pass keeps a `rerank`-sized shortlist over
    * the 1-bit scan, then ONLY the shortlist's float vectors are
    * fetched (broadcast semi-join) and scored with exact squared L2.
    * At 100 TB the float read is bounded by `rerank` rows per query —
    * the corpus is only ever touched through its sign bits. */
  def knnBinaryRerank(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                      k: Int = 10, rerank: Int = 50): DataFrame = {
    val shortlist = knnBinary(spark, sfDir, queryId, math.max(rerank, k))
      .select(col("vec_id"))
    val emb = Tables.embeddings(spark, sfDir)
    val qRow = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    emb.join(broadcast(shortlist), Seq("vec_id"), "left_semi")
      .join(broadcast(qRow))
      .select(col("vec_id"),
        graft.functions.l2sq(col("embedding"), col("q_embedding")).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF + binary codes (FAISS IndexBinaryIVF): float-centroid list
    * probing (the [[IvfIndex]] coarse quantizer, small) + Hamming
    * scoring by [[IvfIndex.scanProbed]] over sign-bit signatures of
    * ONLY the probed lists' rows (joined to the query's signature) —
    * at 100 TB the probed scan reads 8 bytes per 64 dims per candidate
    * and nothing else. With nprobe = nlist this equals [[knnBinary]]
    * exactly (test-pinned; the ivfSearchQuantized contract). */
  def ivfSearchBinary(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                      k: Int = 10, nlist: Int = 4, nprobe: Int = 2): DataFrame = {
    val index = IvfIndex.forEmbeddings(spark, sfDir, nlist)
    val emb = Tables.embeddings(spark, sfDir)
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val q = Tables.queryVector(spark, sfDir, queryId)
    val qSig = emb.filter(col("vec_id") === queryId)
      .select(binarySigExpr(dim).as("q_sig"))
    IvfIndex.scanProbed(index.postings, IvfIndex.probeLists(index, q, nprobe),
      hammingExpr, "hamming", IvfIndex.TopK(k), excludeId = Some(queryId),
      idAs = "vec_id",
      within = _.withColumn("sig", binarySigExpr(dim)).join(broadcast(qSig)))
  }

  /** Recall@k of the binary paths against exact L2 — the probe a user
    * runs before turning 1-bit compression on (raw Hamming degrades
    * hard on dense low-dim data; the re-rank is what makes it
    * usable). */
  def binaryRecall(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                   k: Int = 10, rerank: Int = 0): Double = {
    val exact = VectorSearchOps.knnExactL2(spark, sfDir, queryId, k)
      .collect().map(_.getLong(0)).toSet
    val approx =
      (if (rerank > 0) knnBinaryRerank(spark, sfDir, queryId, k, rerank)
       else knnBinary(spark, sfDir, queryId, k))
        .collect().map(_.getLong(0)).toSet
    exact.intersect(approx).size.toDouble / k
  }
}
