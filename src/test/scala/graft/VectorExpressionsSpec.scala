package graft

import graft.functions._

/** The codegen'd vector kernels vs independent reference computations
  * (SURVEY.md §5.3): scala-side loops, the pure-HOF formulation, and
  * algebraic properties over seeded random vectors. */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private def randVec(d: Int): Array[Float] =
    Array.fill(d)(rnd.nextFloat() * 4f - 2f)

  private def l2Ref(a: Array[Float], b: Array[Float]): Double =
    a.zip(b).map { case (x, y) => (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
  private def dotRef(a: Array[Float], b: Array[Float]): Double =
    a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum

  private def pairsDf(n: Int, d: Int) =
    Seq.fill(n)((randVec(d), randVec(d))).toDF("a", "b")

  test("l2sq matches an independent scala loop and the HOF formulation") {
    val df = pairsDf(100, 16)
    val rows = df
      .select($"a", $"b", l2sq($"a", $"b").as("fast"), l2sqHof($"a", $"b").as("hof"))
      .collect()
    rows.foreach { r =>
      val a = r.getSeq[Float](0).toArray
      val b = r.getSeq[Float](1).toArray
      assert(math.abs(r.getDouble(2) - l2Ref(a, b)) < 1e-9)
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-12)
    }
  }

  test("vec_dot matches scala loop; cosine_sim within [-1, 1] and matches definition") {
    val df = pairsDf(100, 16)
    val rows = df
      .select($"a", $"b", vec_dot($"a", $"b").as("dot"), cosine_sim($"a", $"b").as("cos"))
      .collect()
    rows.foreach { r =>
      val a = r.getSeq[Float](0).toArray
      val b = r.getSeq[Float](1).toArray
      val dot = dotRef(a, b)
      assert(math.abs(r.getDouble(2) - dot) < 1e-9)
      val expected = dot / (math.sqrt(dotRef(a, a)) * math.sqrt(dotRef(b, b)))
      assert(math.abs(r.getDouble(3) - expected) < 1e-9)
      assert(r.getDouble(3) >= -1.0 - 1e-9 && r.getDouble(3) <= 1.0 + 1e-9)
    }
  }

  test("property: l2sq is symmetric, non-negative, and zero iff identical") {
    val df = pairsDf(200, 8)
    val rows = df.select(
      l2sq($"a", $"b").as("ab"), l2sq($"b", $"a").as("ba"), l2sq($"a", $"a").as("aa"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // exact: same summation order
      assert(r.getDouble(0) >= 0.0)
      assert(r.getDouble(2) == 0.0)
    }
  }

  test("dimension mismatch fails loudly (FAISS parity — no silent truncation)") {
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(l2sq($"a", $"b")).collect()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(t => Option(t.getMessage).exists(_.contains("dimension mismatch"))))
  }

  test("cosine_sim of a zero vector is 0.0, not NaN") {
    val df = Seq((Array(0f, 0f), Array(1f, 2f))).toDF("a", "b")
    assert(df.select(cosine_sim($"a", $"b")).head.getDouble(0) == 0.0)
  }

  test("typed VectorMean aggregator equals the relational posexplode centroids") {
    val rel = graft.operators.VectorOps.centroidsByLabel(spark, sfSmall)
      .collect().map(r => (r.getInt(0), r.getLong(1).toInt) -> r.getDouble(2)).toMap
    val typed = graft.operators.VectorOps.centroidsByLabelTyped(spark, sfSmall)
      .collect().flatMap { r =>
        r.getSeq[Float](1).zipWithIndex.map { case (v, i) => (r.getInt(0), i) -> v.toDouble }
      }.toMap
    assert(rel.keySet == typed.keySet)
    rel.foreach { case (k, v) =>
      assert(math.abs(v - typed(k)) < 1e-4, s"$k: relational=$v typed=${typed(k)}")
    }
  }

  test("SQL registration: l2sq/cosine_sim/embed_text callable from spark.sql") {
    registerVectorFunctions(spark)
    val out = spark.sql(
      "SELECT l2sq(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d, " +
        "cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c, " +
        "size(embed_text('hello world')) AS n").head
    assert(out.getDouble(0) == 8.0)
    assert(math.abs(out.getDouble(1) - 1.0) < 1e-12)
    assert(out.getInt(2) == functions.Embedder.DefaultDim)
  }
}
