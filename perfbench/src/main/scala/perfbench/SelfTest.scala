package perfbench

import scala.util.Random

/** Shows that every correctness check can fail: each case feeds a check
  * a right answer, which must pass, and a deliberately wrong one, which
  * must be reported. Needs no Spark session. Returns the exit code. */
object SelfTest {
  def run(): Int = {
    val rnd = new Random(7)
    val vecs = Array.fill(50)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val ids = vecs.indices.map(_.toLong).toArray
    val q = vecs(3).map(_ + 0.01f)
    val top = Exact.topK(ids, vecs, q, 5)
    val vecOf = (id: Long) => vecs(id.toInt)
    val swapped = top.updated(0, top(1)).updated(1, top(0))
    val groups = Seq(Seq(0L, 1L, 2L), Seq(3L, 4L))
    val whole = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> -1L)
    val split = whole.updated(2L, 2L)
    val comp = (id: Long) => if (id <= 2) 0L else if (id <= 4) 3L else id
    val docs = Map(1L -> "alpha beta gamma delta epsilon", 2L -> "Alpha, beta gamma delta epsilon.",
      3L -> "alpha beta gamma zeta eta")
    val tokSet = (id: Long) => Exact.tokens(docs(id)).toSet

    val cases: Seq[(String, List[String], List[String])] = Seq(
      ("top-k reordered", Exact.checkTopK("t", top, 5), Exact.checkTopK("t", swapped, 5)),
      ("top-k short", Exact.checkTopK("t", top, 5), Exact.checkTopK("t", top.take(4), 5)),
      ("distance altered", Exact.checkDistances("t", top, q, vecOf),
        Exact.checkDistances("t", top.updated(2, (top(2)._1, top(2)._2 + 1e-9)), q, vecOf)),
      ("exact top-k differs", Exact.checkSameHits("t", top, Exact.topK(ids, vecs, q, 5)),
        Exact.checkSameHits("t", swapped, top)),
      ("removed id returned later", Exact.checkNoRemoved("t", top, Set(40L, 41L)),
        Exact.checkNoRemoved("t", top, Set(top(2)._1))),
      ("own vector not first at distance 0",
        Exact.checkSelfHit("t", Exact.topK(ids, vecs, vecs(7), 3), 7L),
        Exact.checkSelfHit("t", Exact.topK(ids, vecs, vecs(7), 3).tail, 7L)),
      ("row dropped from live count", Exact.checkCount("t", 6000, 6000), Exact.checkCount("t", 5999, 6000)),
      ("planted vector group split in two", Exact.checkGroupsWhole("t", whole, groups),
        Exact.checkGroupsWhole("t", split, groups)),
      ("cluster spans two exact components", Exact.checkClusters("t", whole, comp),
        Exact.checkClusters("t", whole.updated(3L, 0L).updated(4L, 0L), comp)),
      ("singleton given a cluster id", Exact.checkClusters("t", whole, comp),
        Exact.checkClusters("t", whole.updated(5L, 1L), comp)),
      ("text pair below the Jaccard threshold", Exact.checkPairs("t", Seq((1L, 2L, 1.0)), tokSet, 0.8),
        Exact.checkPairs("t", Seq((1L, 3L, 0.8)), tokSet, 0.8)),
      ("planted text pairs under the recall floor", Exact.checkRecallFloor("t", 95, 90.5, 100),
        Exact.checkRecallFloor("t", 90, 90.5, 100)))

    val bad = cases.flatMap { case (name, right, wrong) =>
      val ok = right.isEmpty && wrong.nonEmpty
      println(s"${if (ok) "PASS" else "FAIL"} $name: right answer ${if (right.isEmpty) "accepted" else s"rejected $right"}, " +
        s"wrong answer ${if (wrong.nonEmpty) s"rejected (${wrong.head})" else "accepted"}")
      if (ok) None else Some(name)
    }
    println(s"selftest: ${cases.size - bad.size}/${cases.size} checks fail on a wrong answer")
    if (bad.isEmpty) 0 else 1
  }
}
