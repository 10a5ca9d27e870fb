package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** One-pass second-moment accumulator over `Array[Float]` vectors —
  * the training statistic behind the PCA pre-transform (FAISS's
  * `PCAMatrix` trains from exactly these moments; the reference keeps
  * raw floats and never reduces dimension, app.py:48-55, so this is
  * part of the engine's compression ladder, not a port).
  *
  * Buffer = (count, Σx, upper-triangle Σ x_i·x_j) — `dim + dim·(dim+1)/2`
  * doubles per partition, so partial aggregation is automatic and the
  * shuffle carries one ~17 KiB buffer per partition at dim = 64
  * regardless of row count: the covariance of a 100 TB corpus costs
  * one scan plus a 32-buffer reduce. The per-element float→double
  * products are exact (24-bit × 24-bit fits double's 53-bit mantissa),
  * so only the summation order is engine-specific — which is why the
  * registered audit ([[graft.operators.Pca.pcaStats]]) restates means
  * and variances through order-proof decimal sums instead of through
  * this buffer.
  */
object CovMoments
    extends Aggregator[Array[Float], (Long, Array[Double], Array[Double]),
                       (Long, Array[Double], Array[Double])] {

  override def zero: (Long, Array[Double], Array[Double]) =
    (0L, Array.emptyDoubleArray, Array.emptyDoubleArray)

  override def reduce(b: (Long, Array[Double], Array[Double]),
                      v: Array[Float]): (Long, Array[Double], Array[Double]) = {
    val dim = v.length
    val sums = if (b._2.isEmpty) new Array[Double](dim) else b._2
    val prods = if (b._3.isEmpty) new Array[Double](dim * (dim + 1) / 2) else b._3
    require(sums.length == dim,
      s"cov_moments: dimension mismatch (${sums.length} vs $dim)")
    var i = 0
    var t = 0
    while (i < dim) {
      val vi = v(i).toDouble
      sums(i) += vi
      var j = i
      while (j < dim) { prods(t) += vi * v(j).toDouble; j += 1; t += 1 }
      i += 1
    }
    (b._1 + 1, sums, prods)
  }

  override def merge(a: (Long, Array[Double], Array[Double]),
                     b: (Long, Array[Double], Array[Double])): (Long, Array[Double], Array[Double]) = {
    if (a._1 == 0L) b
    else if (b._1 == 0L) a
    else {
      var i = 0
      while (i < a._2.length) { a._2(i) += b._2(i); i += 1 }
      var t = 0
      while (t < a._3.length) { a._3(t) += b._3(t); t += 1 }
      (a._1 + b._1, a._2, a._3)
    }
  }

  override def finish(r: (Long, Array[Double], Array[Double])): (Long, Array[Double], Array[Double]) = r

  override def bufferEncoder: Encoder[(Long, Array[Double], Array[Double])] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Array[Double], Array[Double])]()
  override def outputEncoder: Encoder[(Long, Array[Double], Array[Double])] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Array[Double], Array[Double])]()
}
