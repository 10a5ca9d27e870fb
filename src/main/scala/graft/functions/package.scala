package graft

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level API over the engine's native vector expressions, plus
  * portable (higher-order-function) reference implementations used by
  * tests to cross-check the codegen path.
  */
package object functions {

  private def col2e(c: Column) = GraftSqlBridge.expression(c)

  /** Squared L2 distance (FAISS METRIC_L2 semantics, reference app.py:48). */
  def l2sq(a: Column, b: Column): Column =
    GraftSqlBridge.column(L2Sq(col2e(a), col2e(b)))

  /** Dot product of two float/double array columns. */
  def vec_dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProduct(col2e(a), col2e(b)))

  /** Cosine similarity of two float/double array columns (0.0 on zero norm). */
  def cosine_sim(a: Column, b: Column): Column =
    GraftSqlBridge.column(CosineSim(col2e(a), col2e(b)))

  /** Portable HOF formulation of l2sq — same semantics, no custom
    * expression; used by tests to validate `l2sq` and by callers who
    * need a pure-builtin plan. */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0),
      (acc, v) => acc + v)

  /** L2 norm of an array column. */
  def vec_norm(a: Column): Column = sqrt(vec_dot(a, a))

  /** Deterministic hashing text embedder (reference capability
    * app.py:18-20,35-43; see [[Embedder]] for the construction). */
  def embed_text(text: Column, dim: Int = Embedder.DefaultDim): Column =
    GraftSqlBridge.column(EmbedText(col2e(text), dim))

  /** 64-bit SimHash fingerprint of a text column (see [[SimHash]]). */
  def simhash64(text: Column): Column =
    GraftSqlBridge.column(SimHash64(col2e(text)))

  /** Position of the nearest centroid row (squared-L2, first-min
    * tie-break) — the narrow-map coarse-quantizer assignment used for
    * index appends (see [[NearestList]]). */
  def nearest_list(emb: Column, cents: Array[Array[Float]]): Column =
    GraftSqlBridge.column(NearestList(col2e(emb), cents))

  /** Inner-product variant of [[nearest_list]]: position of the
    * MAXIMUM-dot centroid (first-max tie-break) — the coarse assignment
    * of a `METRIC_INNER_PRODUCT` IVF index (see [[NearestList]]). */
  def nearest_list_ip(emb: Column, cents: Array[Array[Float]]): Column =
    GraftSqlBridge.column(NearestList(col2e(emb), cents, ip = true))

  /** Dense matrix × float-vector (the OPQ-lite rotation kernel; see
    * [[MatVec]]). */
  def mat_vec(emb: Column, mat: Array[Array[Float]]): Column =
    GraftSqlBridge.column(MatVec(col2e(emb), mat))

  /** Order-preserving long key of a double (see [[DoubleSortBits]]) —
    * the hash-aggregable-argmin building block. */
  def double_sort_bits(x: Column): Column =
    GraftSqlBridge.column(DoubleSortBits(col2e(x)))

  /** Sign-random-projection sketch of a float-array embedding (cosine
    * LSH; see [[HyperplaneSketch]]). */
  def hyperplane_sketch(emb: Column, planes: Array[Array[Float]]): Column =
    GraftSqlBridge.column(HyperplaneSketch(col2e(emb), planes))

  /** Bloom-filter membership probe over a long key (no false
    * negatives; see [[BloomMightContain]] / [[BloomBits]]). */
  def bloom_might_contain(key: Column, words: Array[Long], k: Int): Column =
    GraftSqlBridge.column(BloomMightContain(col2e(key), words, k))

  /** Product-quantization encode: one byte code per subspace, argmin
    * over the per-subspace codebook (see [[PqEncode]]). */
  def pq_encode(emb: Column, books: Array[Array[Array[Float]]],
                asBinary: Boolean = false): Column =
    GraftSqlBridge.column(PqEncode(col2e(emb), books, asBinary))

  /** Asymmetric-distance score of a PQ code array against a per-query
    * subspace lookup table (see [[PqAdc]]). */
  def pq_adc(codes: Column, lut: Array[Array[Double]]): Column =
    GraftSqlBridge.column(PqAdc(col2e(codes), lut))

  /** Residual-PQ asymmetric distance: picks the probed list's lookup
    * table by list_id (see [[PqAdcByList]]). */
  def pq_adc_by_list(listId: Column, codes: Column,
                     luts: Array[Array[Array[Double]]]): Column =
    GraftSqlBridge.column(PqAdcByList(col2e(listId), col2e(codes), luts))

  /** Int8 symmetric quantization: per-vector scale (max|x|/127). */
  def quant_scale(emb: Column): Column =
    GraftSqlBridge.column(QuantScale(col2e(emb)))

  /** Int8 symmetric quantization: array<tinyint> of round(x/scale). */
  def quantize_i8(emb: Column): Column =
    GraftSqlBridge.column(QuantizeI8(col2e(emb)))

  /** Exact integer dot product of two quantized (array<tinyint>) vectors. */
  def dot_i8(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotI8(col2e(a), col2e(b)))

  /** IEEE binary16 encode: array<float> → array<smallint> of half bits
    * (FAISS ScalarQuantizer QT_fp16; see [[F16]]). */
  def quantize_f16(a: Column): Column =
    GraftSqlBridge.column(QuantizeF16(col2e(a)))

  /** IEEE binary16 decode: array<smallint> → array<float>, exact. */
  def dequantize_f16(a: Column): Column =
    GraftSqlBridge.column(DequantizeF16(col2e(a)))

  /** Bounded per-group top-k: the k smallest distinct (dist, dst)
    * pairs ascending, as `array<struct<dist,dst>>` — bit-identical to
    * `slice(array_distinct(array_sort(collect_list(struct(dist, dst)))),
    * 1, k)` in O(k) buffer space per group (see [[TopKPairs]]). */
  def top_k_pairs(dist: Column, dst: Column, k: Int): Column =
    GraftSqlBridge.column(TopKPairs(col2e(dist), col2e(dst), k).toAggregateExpression())

  /** Register the vector functions for SQL use (`SELECT l2sq(a, b) ...`). */
  def registerVectorFunctions(spark: SparkSession): Unit = {
    GraftSqlBridge.registerFunction(spark, "l2sq", es => L2Sq(es(0), es(1)))
    GraftSqlBridge.registerFunction(spark, "vec_dot", es => DotProduct(es(0), es(1)))
    GraftSqlBridge.registerFunction(spark, "cosine_sim", es => CosineSim(es(0), es(1)))
    GraftSqlBridge.registerFunction(spark, "quant_scale", es => QuantScale(es(0)))
    GraftSqlBridge.registerFunction(spark, "quantize_i8", es => QuantizeI8(es(0)))
    GraftSqlBridge.registerFunction(spark, "dot_i8", es => DotI8(es(0), es(1)))
    GraftSqlBridge.registerFunction(spark, "embed_text", {
      case Seq(text) => EmbedText(text, Embedder.DefaultDim)
      case Seq(text, dim) => EmbedText(text,
        dim.eval().asInstanceOf[Number].intValue())
    })
    GraftSqlBridge.registerFunction(spark, "simhash64", es => SimHash64(es(0)))
  }
}
