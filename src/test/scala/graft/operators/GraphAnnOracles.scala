package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.l2sq

/** Superseded GraphAnn kernels, kept only as bit-identity oracles for
  * the kernels that replaced them (`GraphAnnSpec`, `TopKPairsAggSpec`). */
object GraphAnnOracles {

  /** The r14 two-shuffle descent kernel: the oracle for
    * [[GraphAnn.descend]]'s one-shuffle round. */
  def descendLegacy(base: DataFrame, init: DataFrame, kb: Int,
                    iters: Int, rho: Double, seed: Long): DataFrame = {
    val n = base.count()
    val dim = base.select(col("vec")).head.getSeq[Float](0).size
    val big = n * dim * 4.0 > GraphAnn.BroadcastBaseBytes
    def side(df: DataFrame): DataFrame = if (big) df else broadcast(df)
    var edges = GraphAnn.topKPerSrc(init, kb).localCheckpoint(true)
    var it = 0
    while (it < iters) {
      val adj = edges.select(col("src"), col("dst"))
      val und = adj.union(adj.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val right = if (rho >= 1.0) und
        else und.sample(withReplacement = false, rho, seed + it)
      val cand = und.as("a")
        .join(right.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val scored = cand
        .join(side(base.select(col("id").as("src"), col("vec").as("sv"))), Seq("src"))
        .join(side(base.select(col("id").as("dst"), col("vec").as("dv"))), Seq("dst"))
        .select(col("src"), col("dst"), l2sq(col("sv"), col("dv")).as("dist"))
      val merged = GraphAnn.topKPerSrc(edges.unionByName(scored), kb).localCheckpoint(true)
      edges.unpersist(blocking = false)
      edges = merged
      it += 1
    }
    edges
  }

  /** The pre-r16 `topKPerSrc` formulation (collect_list + array_sort +
    * array_distinct + slice): the oracle for
    * [[graft.functions.TopKPairs]]. */
  def topKPerSrcLegacy(edges: DataFrame, k: Int): DataFrame =
    edges.groupBy(col("src"))
      .agg(slice(array_distinct(array_sort(
        collect_list(struct(col("dist"), col("dst"))))), 1, k).as("top"))
      .select(col("src"), explode(col("top")).as("e"))
      .select(col("src"), col("e.dst").as("dst"), col("e.dist").as("dist"))
}
