package graft

import org.apache.spark.sql.DataFrame
import graft.operators.NbClassifier

/** Multinomial NB classifier (see NbClassifier scaladoc): the model's
  * smoothed weights are exact against a from-scratch driver-side
  * reference, scoring matches it through the decimal accumulation,
  * unseen terms at score time get the smoothed unseen weight, and the
  * registered weak-label surface actually distills the heuristic. */
class NbClassifierSpec extends SparkSpec {
  import spark.implicits._

  private def labeled(rows: (Long, Seq[String], Boolean)*): DataFrame =
    rows.toDF("id", "toks", "label")

  /** From-scratch reference: (weights, prior, wUnseen) with 6-decimal
    * rounding, as BigDecimal so sums are exact like the engine's. */
  private def refModel(rows: Seq[(Seq[String], Boolean)])
  : (Map[String, BigDecimal], BigDecimal, BigDecimal) = {
    val pos = rows.filter(_._2).flatMap(_._1)
    val neg = rows.filterNot(_._2).flatMap(_._1)
    val vocab = (pos ++ neg).distinct
    val (nPos, nNeg, v) = (pos.size, neg.size, vocab.size)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def w(t: String) = r6(
      math.log10((pos.count(_ == t) + 1).toDouble / (nPos + v)) -
        math.log10((neg.count(_ == t) + 1).toDouble / (nNeg + v)))
    val prior = r6(math.log10(
      rows.count(_._2).toDouble / rows.count(!_._2)))
    val wUnseen = r6(math.log10(1.0 / (nPos + v)) - math.log10(1.0 / (nNeg + v)))
    (vocab.map(t => t -> w(t)).toMap, prior, wUnseen)
  }

  private def refScore(model: (Map[String, BigDecimal], BigDecimal, BigDecimal),
                       doc: Seq[String]): BigDecimal = {
    val (ws, prior, wu) = model
    prior + doc.map(t => ws.getOrElse(t, wu)).sum
  }

  private val tiny = Seq(
    (Seq("good", "clean", "text", "good"), true),
    (Seq("clean", "prose", "here"), true),
    (Seq("spam", "spam", "junk"), false),
    (Seq("junk", "noise"), false))

  test("trained weights and prior are exact vs the reference") {
    val (weights, priors) = NbClassifier.train(
      labeled(tiny.zipWithIndex.map { case ((t, l), i) => (i.toLong, t, l) }: _*))
    val (refW, refPrior, refUnseen) = refModel(tiny)
    val got = weights.collect().map(r => r.getString(0) -> BigDecimal(r.getDecimal(1))).toMap
    assert(got == refW)
    val p = priors.collect().head
    assert(BigDecimal(p.getDecimal(0)) == refPrior)
    assert(BigDecimal(p.getDecimal(1)) == refUnseen)
  }

  test("scoring matches the reference, including unseen-term fallback") {
    val trainDf = labeled(tiny.zipWithIndex.map { case ((t, l), i) => (i.toLong, t, l) }: _*)
    val model = NbClassifier.train(trainDf)
    val ref = refModel(tiny)
    // doc 10: seen terms only; doc 11: mixes in unseen terms
    val docs = Seq(
      (10L, Seq("good", "clean", "spam")),
      (11L, Seq("good", "unseen1", "unseen2"))).toDF("id", "toks")
    val out = NbClassifier.score(model, docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    for ((id, doc) <- Seq(10L -> Seq("good", "clean", "spam"),
                          11L -> Seq("good", "unseen1", "unseen2"))) {
      val expected = refScore(ref, doc)
      assert(math.abs(out(id)._1 - expected.toDouble) < 1e-9, s"doc $id")
      assert(out(id)._2 == expected > 0, s"doc $id keep")
    }
  }

  test("class-separating corpus classifies held-out docs by class vocabulary") {
    val trainDf = labeled(
      (0L, Seq("alpha", "beta", "gamma"), true), (1L, Seq("alpha", "beta", "delta"), true),
      (2L, Seq("zip", "zap", "zop"), false), (3L, Seq("zip", "zap", "zur"), false))
    val model = NbClassifier.train(trainDf)
    val docs = Seq((10L, Seq("alpha", "gamma")), (11L, Seq("zip", "zop"))).toDF("id", "toks")
    val out = NbClassifier.score(model, docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out(10L) && !out(11L))
  }

  test("registered nb_quality surface distills the heuristic on sf0.001") {
    val out = NbClassifier.nbQuality(spark, sfSmall)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // both weak-label classes must be present for the prior to exist
    val labels = rows.map(_.getBoolean(4)).toSet
    assert(labels == Set(true, false))
    // the NB distillation should agree with its own teacher on a clear
    // majority of documents
    val agree = rows.count(_.getBoolean(5)).toDouble / rows.length
    assert(agree > 0.6, s"agreement $agree")
    // schema sanity: log_odds finite everywhere
    assert(rows.forall(r => !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite))
  }
}
