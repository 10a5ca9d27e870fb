package graft.operators

import org.apache.spark.sql.DataFrame

/** Dev-only forwarding shim (test sourceset since r16 — never in the
  * production jar): exposes package-private operator kernels
  * to ad-hoc spark-shell probes without a JVM restart per
  * experiment. Never referenced by any query path. */
object ProbeShim {
  def initFor(base: DataFrame, n: Long, mode: String, seed: Long): DataFrame =
    GraphAnn.initFor(base, n, mode, seed)
  def descend(base: DataFrame, init: DataFrame, kb: Int, iters: Int,
              rho: Double, seed: Long): DataFrame =
    GraphAnn.descend(base, init, kb, iters, rho, seed)
  def descendLegacy(base: DataFrame, init: DataFrame, kb: Int, iters: Int,
                    rho: Double, seed: Long): DataFrame =
    GraphAnnOracles.descendLegacy(base, init, kb, iters, rho, seed)
  def exactGraphTwin(spark: org.apache.spark.sql.SparkSession,
                     sfDir: String): DataFrame =
    GraphAnn.exactGraphTwin(spark, sfDir)
  def saveFromSigs(sigs: DataFrame, dir: String, nBuckets: Int): Unit =
    MinhashIndex.saveFromSigs(sigs, dir, nBuckets)
  def dedupPairs(sigs: DataFrame, minJaccard: Double, maxBucket: Int): DataFrame =
    Dedup.dedupMinhashFromSigs(sigs, minJaccard, maxBucket)
  def probeFromSigs(spark: org.apache.spark.sql.SparkSession, dir: String,
                    sigs: DataFrame, minJaccard: Double): DataFrame =
    MinhashIndex.probeFromSigs(spark, dir, sigs, minJaccard)
  def appendBatchFromSigs(spark: org.apache.spark.sql.SparkSession, dir: String,
                          sigs: DataFrame, batchId: Long, ns: String): Long =
    MinhashIndex.appendBatchFromSigs(spark, dir, sigs, batchId, ns)
  def topKPerSrc(edges: DataFrame, k: Int): DataFrame =
    GraphAnn.topKPerSrc(edges, k)
  def topKPerSrcLegacy(edges: DataFrame, k: Int): DataFrame =
    GraphAnnOracles.topKPerSrcLegacy(edges, k)
  def hopScan(spark: org.apache.spark.sql.SparkSession, graph: DataFrame,
              frontier: Seq[Long], bucketOf: Option[Long => Int]): DataFrame =
    GraphAnn.hopScan(spark, graph, frontier, bucketOf)
  def setOverlapWidth(w: Int): Unit = { Overlap.width = w }
}
