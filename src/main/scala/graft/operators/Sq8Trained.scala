package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.pq_adc

/** Trained per-dimension 8-bit scalar quantizer — FAISS
  * `ScalarQuantizer(QT_8bit)` proper: a training pass records each
  * dimension's [vmin, vmax] over the corpus, and a component encodes
  * as `code = floor(255·(x−vmin)/vdiff + 0.5)` clamped to [0, 255]
  * (half-away rounding spelled as floor(r+0.5) so the DuckDB oracle
  * can replay the IDENTICAL binary operations — no round() dialect
  * seam). This is the trained counterpart of the per-vector symmetric
  * int8 family ([[Quantization]]): 4× compression with a per-DIM
  * range model instead of a per-VECTOR scale, which is what FAISS
  * ships as QT_8bit.
  *
  * Search follows the FAISS SQ distance computer: the query stays
  * full-precision and codes decode to `vmin + (c/255)·vdiff` in the
  * kernel. Because a code has only 256 values per dimension, the
  * per-query decode-and-square collapses into a per-dim 256-entry
  * lookup table — EXACTLY the ADC shape, so the search kernel IS
  * [[graft.functions.PqAdc]] with m = dim: one table lookup + add per
  * component, codegen'd, over array<tinyint> codes (1 B/component at
  * rest; the 100 TB posture is codes-resident scan, floats only for
  * training and audits).
  *
  * Everything here is seedless and deterministic, so (the
  * `knn_quantized` precedent) both registered queries are HASH-EXACT
  * oracled: DuckDB re-derives the same model, codes, and distances.
  */
object Sq8Trained {

  case class Model(vmin: Array[Double], vdiff: Array[Double]) {
    def dim: Int = vmin.length
  }

  private val modelCache = JvmCaches.map[String, Model]()

  /** One aggregate pass: per-dimension min/max (2·dim partial-agg
    * columns, no shuffle of the corpus). Memoized per sfDir. */
  def train(spark: SparkSession, sfDir: String): Model =
    modelCache.getOrElseUpdate(sfDir, {
      val emb = Tables.embeddings(spark, sfDir)
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      val aggs = (0 until dim).flatMap(i => Seq(
        min(col("embedding")(i).cast("double")).as(s"mn$i"),
        max(col("embedding")(i).cast("double")).as(s"mx$i")))
      val row = emb.agg(aggs.head, aggs.tail: _*).head
      val vmin = Array.tabulate(dim)(i => row.getDouble(2 * i))
      val vdiff = Array.tabulate(dim)(i => row.getDouble(2 * i + 1) - vmin(i))
      Model(vmin, vdiff)
    })

  /** The clamped double-valued code array (0.0..255.0) for the
    * embedding column — the one formula both the storage cast and the
    * stats/oracle derive from. */
  private def codeD(model: Model): Column =
    transform(sequence(lit(0), lit(model.dim - 1)), i => {
      val x = element_at(col("embedding"), i + 1).cast("double")
      val vm = element_at(typedlit(model.vmin), i + 1)
      val vd = element_at(typedlit(model.vdiff), i + 1)
      when(vd === 0.0, lit(0.0))
        .otherwise(least(greatest(
          floor(lit(255.0) * (x - vm) / vd + lit(0.5)), lit(0L)), lit(255L))
          .cast("double"))
    })

  private val codesCache = JvmCaches.sessionMap[String, DataFrame]()

  /** Coded corpus `(vec_id, codes array<tinyint>)` — codes 0..255
    * stored as wrapping bytes; [[graft.functions.PqAdc]] reads them
    * back `& 0xff`. Persisted+memoized (the Pq.flatCodedFor
    * discipline): searches scan codes, never floats. */
  def codedFor(spark: SparkSession, sfDir: String): DataFrame =
    codesCache.getOrElseUpdate(spark, sfDir) {
      val model = train(spark, sfDir)
      // explicit two's-complement wrap (ANSI cast refuses 128..255)
      val out = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"),
          transform(codeD(model),
            c => when(c > 127.0, c - 256.0).otherwise(c).cast("tinyint"))
            .as("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    }

  /** Registered `sq8t_stats`: per-vector integer summary of the
    * trained-quantizer codes (sum/min/max over 0..255) — a pure
    * function of the data, hash-exact against the oracle's re-derived
    * model. */
  def stats(spark: SparkSession, sfDir: String): DataFrame = {
    val model = train(spark, sfDir)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), codeD(model).as("c"))
      .select(col("vec_id"),
        aggregate(col("c"), lit(0L), (acc, v) => acc + v.cast("long")).as("code_sum"),
        array_min(col("c")).cast("long").as("code_min"),
        array_max(col("c")).cast("long").as("code_max"))
      .orderBy(col("vec_id").asc)
  }

  /** Registered `knn_sq8t`: top-k by decoded distance against the
    * full-precision query — the per-dim 256-entry LUT makes the scan
    * kernel a PqAdc loop over the coded corpus. Deterministic and
    * hash-exact (seedless model; the oracle replays the identical
    * floor/decode/square arithmetic). */
  def knn(spark: SparkSession, sfDir: String, queryId: Long = 0L,
          k: Int = 10): DataFrame = {
    val model = train(spark, sfDir)
    val q = Tables.queryVector(spark, sfDir, queryId)
    val lut = Array.tabulate(model.dim) { i =>
      Array.tabulate(256) { c =>
        val d = model.vmin(i) + (c / 255.0) * model.vdiff(i) - q(i).toDouble
        d * d
      }
    }
    codedFor(spark, sfDir)
      .filter(col("vec_id") =!= queryId)
      .withColumn("dist", pq_adc(col("codes"), lut))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("dist"))
  }
}
