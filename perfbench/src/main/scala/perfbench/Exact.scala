package perfbench

/** Reference answers computed apart from the engine, from the
  * benchmark's own generated floats and words, and the checks that
  * compare the engine's outputs with them. Every check returns the
  * problems it found; an empty list means the output passed. */
object Exact {

  /** Squared L2 with the arithmetic `graft.functions.l2sq` documents:
    * each float widened to double, differences squared and summed in
    * index order. Java forbids fused multiply-add here, so the result is
    * bit-identical to the engine's when the engine is right. */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  type Hit = (Long, Double) // (id, dist)

  private val hitOrder: Ordering[Hit] = Ordering.Tuple2[Double, Long].on[Hit](h => (h._2, h._1))

  /** Exact top-k by (dist, id) over `ids`/`vecs`. */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Float], k: Int): Seq[Hit] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[Hit](hitOrder)
    var i = 0
    while (i < ids.length) {
      val h = (ids(i), l2sq(vecs(i), q))
      if (heap.size < k) heap.enqueue(h)
      else if (hitOrder.lt(h, heap.head)) { heap.dequeue(); heap.enqueue(h) }
      i += 1
    }
    heap.toSeq.sorted(hitOrder)
  }

  final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
  }

  /** Tokens as `graft.operators.TextAnalytics.tokens` documents them:
    * lowercased runs of [a-z0-9], empties dropped. */
  def tokens(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)

  /** The MinHash shingle set of `Dedup.minhashSignaturesCorpus`: 3-token
    * shingles, or the whole token string for documents under 3 tokens. */
  def shingles(toks: Array[String]): Set[String] =
    if (toks.length < 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet

  def jaccard[A](a: Set[A], b: Set[A]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size

  /** Token sets as sorted int codes, for all-pairs Jaccard loops. */
  def sortedCodes(sets: Seq[Set[String]]): IndexedSeq[Array[Int]] = {
    val code = sets.flatten.distinct.zipWithIndex.toMap
    sets.map(s => s.toArray.map(code).sorted).toIndexedSeq
  }

  /** [[jaccard]] of two sorted code arrays, with the same division. */
  def jaccardSorted(a: Array[Int], b: Array[Int]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** Probability that two documents with shingle Jaccard `s` share at
    * least one LSH band key under the engine's banding
    * (`Dedup.NumBands` bands of `Dedup.NumHashes / NumBands` rows). */
  def bandHitProbability(s: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows.toDouble), bands.toDouble)

  // ---- checks --------------------------------------------------------

  /** k rows, ascending by (dist, id), ids distinct. */
  def checkTopK(what: String, hits: Seq[Hit], k: Int): List[String] = {
    val sizeOk = if (hits.size == k) Nil else List(s"$what: ${hits.size} rows, want $k")
    val orderOk = hits.sliding(2).collect {
      case Seq(a, b) if !hitOrder.lt(a, b) => s"$what: $a is not before $b by (dist, id)"
    }.toList
    sizeOk ++ orderOk
  }

  /** Every reported distance equals the distance recomputed here. */
  def checkDistances(what: String, hits: Seq[Hit], q: Array[Float],
                     vecOf: Long => Array[Float]): List[String] =
    hits.toList.flatMap { case (id, d) =>
      val want = l2sq(vecOf(id), q)
      if (want == d) Nil else List(s"$what: id $id dist $d, recomputed $want")
    }

  def checkSameHits(what: String, got: Seq[Hit], want: Seq[Hit]): List[String] =
    if (got == want) Nil else List(s"$what: got ${got.take(3)}…, want ${want.take(3)}…")

  def checkNoRemoved(what: String, hits: Seq[Hit], removed: scala.collection.Set[Long]): List[String] =
    hits.toList.collect { case (id, _) if removed.contains(id) => s"$what: removed id $id returned" }

  def checkSelfHit(what: String, hits: Seq[Hit], id: Long): List[String] =
    if (hits.headOption.contains((id, 0.0))) Nil
    else List(s"$what: searching id $id by its own vector gave ${hits.headOption}")

  def checkCount(what: String, got: Long, want: Long): List[String] =
    if (got == want) Nil else List(s"$what: $got, want $want")

  /** Every pair's Jaccard, recomputed from the benchmark's own token
    * sets, reaches `threshold` and matches the reported value. */
  def checkPairs(what: String, pairs: Seq[(Long, Long, Double)],
                 tokSet: Long => Set[String], threshold: Double): List[String] =
    pairs.toList.flatMap { case (a, b, reported) =>
      val j = jaccard(tokSet(a), tokSet(b))
      if (j < threshold) List(s"$what: pair ($a, $b) has Jaccard $j < $threshold")
      else if (math.abs(j - reported) > 1e-12) List(s"$what: pair ($a, $b) reported $reported, recomputed $j")
      else Nil
    }

  /** Each cluster (cluster_id >= 0) lies inside one exact component,
    * and a node alone in its exact component gets cluster_id -1. */
  def checkClusters(what: String, assignment: Map[Long, Long], component: Long => Long): List[String] = {
    val byCluster = assignment.toList.filter(_._2 >= 0).groupBy(_._2)
    val split = byCluster.toList.collect {
      case (c, members) if members.map(m => component(m._1)).distinct.size > 1 =>
        s"$what: cluster $c spans exact components ${members.map(m => component(m._1)).distinct.take(3)}"
    }
    val compSize = assignment.keys.groupBy(component).map { case (c, ms) => c -> ms.size }
    val singles = assignment.toList.collect {
      case (id, c) if compSize(component(id)) == 1 && c != -1L => s"$what: singleton $id has cluster_id $c"
    }
    split ++ singles.take(5)
  }

  /** Every planted group comes back in one cluster. */
  def checkGroupsWhole(what: String, assignment: Map[Long, Long], groups: Seq[Seq[Long]]): List[String] =
    groups.toList.flatMap { g =>
      val cs = g.map(assignment.getOrElse(_, -2L)).distinct
      if (cs.size == 1 && cs.head >= 0) Nil else List(s"$what: planted group ${g.mkString(",")} got clusters $cs")
    }

  /** At least `floor` of the planted pairs share a cluster. */
  def checkRecallFloor(what: String, found: Int, floor: Double, of: Int): List[String] =
    if (found >= floor) Nil else List(s"$what: $found of $of planted pairs found, floor $floor")
}
