package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed vector-mean aggregator — the one place a typed `Aggregator`
  * earns its keep in this engine (SURVEY §2.10): component-wise mean
  * of `Array[Float]` vectors with a primitive `(sums, count)` buffer,
  * i.e. the per-cluster centroid update of Lloyd's k-means (reference
  * app.py:52 trains exactly this inside FAISS).
  *
  * Scale shape: partial aggregation is automatic — each partition
  * reduces to one (sums, count) buffer of `dim` doubles, the shuffle
  * carries only those buffers, and merge is component-wise addition.
  * Compare operators/VectorOps.centroidsByLabel for the equivalent
  * posexplode-relational formulation (oracle-able); this typed path
  * avoids exploding dim× rows at the cost of SQL expressibility.
  */
object VectorMean extends Aggregator[Array[Float], (Array[Double], Long), Array[Float]] {

  override def zero: (Array[Double], Long) = (Array.emptyDoubleArray, 0L)

  override def reduce(b: (Array[Double], Long), v: Array[Float]): (Array[Double], Long) = {
    val sums = if (b._1.isEmpty) new Array[Double](v.length) else b._1
    require(sums.length == v.length,
      s"vector_mean: dimension mismatch (${sums.length} vs ${v.length})")
    var i = 0
    while (i < v.length) { sums(i) += v(i); i += 1 }
    (sums, b._2 + 1)
  }

  override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
    if (a._1.isEmpty) b
    else if (b._1.isEmpty) a
    else {
      var i = 0
      while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
  }

  override def finish(r: (Array[Double], Long)): Array[Float] = {
    if (r._2 == 0L) Array.emptyFloatArray
    else {
      val out = new Array[Float](r._1.length)
      var i = 0
      while (i < out.length) { out(i) = (r._1(i) / r._2).toFloat; i += 1 }
      out
    }
  }

  override def bufferEncoder: Encoder[(Array[Double], Long)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()
  override def outputEncoder: Encoder[Array[Float]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]()
}
