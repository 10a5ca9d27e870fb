package graft

import graft.operators.{CurationScorecard, NbClassifier, NgramLm, SpanDedup, TextAnalytics}
import graft.sources.Ingest

/** Composed curation scorecard (see CurationScorecard scaladoc): every
  * column must equal the standalone registered operator's value — the
  * scorecard is a join, never a reimplementation — and the composite
  * verdict restates its published formula. */
class CurationScorecardSpec extends SparkSpec {

  test("each signal column equals its standalone operator on sf0.001") {
    val sc = CurationScorecard.scorecard(spark, sfSmall).collect()
      .map(r => r.getLong(0) -> r).toMap

    val quality = TextAnalytics.textQuality(spark, sfSmall).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    assert(sc.forall { case (id, r) => r.getBoolean(1) == quality(id) })

    val nb = NbClassifier.nbQuality(spark, sfSmall).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("nb_keep"))).toMap
    assert(sc.forall { case (id, r) => r.getBoolean(2) == nb(id) })

    val lm = NgramLm.scoreCorpus(spark, sfSmall).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("ppl"))).toMap
    assert(sc.forall { case (id, r) =>
      lm.get(id) match {
        case Some(p) => r.getDouble(4) == p
        case None => r.isNullAt(4) // zero-token doc: no LM row
      }
    })

    val spans = SpanDedup.dupStats(Ingest.corpusFromDocuments(spark, sfSmall))
      .collect().map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("dup_fraction"))).toMap
    assert(sc.forall { case (id, r) => r.getDouble(6) == spans(id) })
  }

  test("final_keep restates the published composite formula") {
    val rows = CurationScorecard.scorecard(spark, sfSmall).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expected = r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3) &&
        r.getDouble(6) < 1.0 / 3.0 &&
        (!r.isNullAt(5) && r.getLong(5) < 3)
      assert(r.getBoolean(7) == expected, s"id ${r.getLong(0)}")
    }
    // the verdict actually separates: some kept, some dropped
    assert(rows.exists(_.getBoolean(7)) && rows.exists(!_.getBoolean(7)))
  }
}
