package graft

import graft.operators.{Sq8Trained, VectorSearchOps}

/** Contracts for the trained per-dimension QT_8bit scalar quantizer:
  * model correctness, code range and quantization-error bound, and
  * the LUT (PqAdc) search's agreement with driver-side decode. */
class Sq8TrainedSpec extends SparkSpec {

  private lazy val corpus: Array[(Long, Array[Float])] =
    Tables.embeddings(spark, sfSmall)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private lazy val model = Sq8Trained.train(spark, sfSmall)

  test("train records the exact per-dimension min/max") {
    val dim = corpus(0)._2.length
    assert(model.dim == dim)
    (0 until dim).foreach { i =>
      val xs = corpus.map(_._2(i).toDouble)
      assert(model.vmin(i) == xs.min, s"dim $i vmin")
      assert(model.vdiff(i) == xs.max - xs.min, s"dim $i vdiff")
    }
  }

  test("codes are in [0,255] and quantization error is within half a step per component") {
    val codes = Sq8Trained.codedFor(spark, sfSmall).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1).toArray).toMap
    val raw = corpus.toMap
    codes.foreach { case (id, cs) =>
      assert(cs.length == model.dim)
      cs.zipWithIndex.foreach { case (b, i) =>
        val c = b & 0xff
        assert(c >= 0 && c <= 255)
        val dec = model.vmin(i) + (c / 255.0) * model.vdiff(i)
        val step = model.vdiff(i) / 255.0
        assert(math.abs(dec - raw(id)(i)) <= step / 2 + 1e-9,
          s"vec $id dim $i: decoded $dec vs ${raw(id)(i)} (step $step)")
      }
    }
  }

  test("knn distances equal the driver-side decoded distances; recall vs exact is high") {
    val q = corpus.find(_._1 == 0L).get._2
    val got = Sq8Trained.knn(spark, sfSmall, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 10)
    val codes = Sq8Trained.codedFor(spark, sfSmall).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1).toArray).toMap
    got.foreach { case (id, d) =>
      val expect = codes(id).zipWithIndex.map { case (b, i) =>
        val dec = model.vmin(i) + ((b & 0xff) / 255.0) * model.vdiff(i)
        val e = dec - q(i).toDouble
        e * e
      }.sum
      assert(d == expect, s"vec $id dist $d vs driver $expect")
    }
    val exact = VectorSearchOps.knnExactL2(spark, sfSmall, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val overlap = got.count { case (id, _) => exact.contains(id) }
    assert(overlap >= 8, s"QT_8bit recall only $overlap/10")
  }
}
