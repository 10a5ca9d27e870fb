package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Entry contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 is registered in
  * [[queries]]; every SQL-expressible one has a DuckDB oracle in
  * [[oracleSql]]. Column names and orderings are aligned pairwise —
  * the driver sorts columns by name and hash-compares values, so both
  * sides alias computed columns identically and end in a total order.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalOps.pricingSummary(spark, "/root/testdata/sf0.001")

  /** Per-family registry slices, composed in SURVEY §2 order. Keys
    * are globally unique across slices ([[graft.RegistrySpec]] pins
    * this — `++` would otherwise mask a collision silently). */
  private def slices = Seq(
    registry.RelationalRegistry.queries   -> registry.RelationalRegistry.oracles,
    registry.VectorIndexRegistry.queries  -> registry.VectorIndexRegistry.oracles,
    registry.IngestRegistry.queries       -> registry.IngestRegistry.oracles,
    registry.TextRegistry.queries         -> registry.TextRegistry.oracles,
    registry.DedupRegistry.queries        -> registry.DedupRegistry.oracles,
    registry.StreamingRegistry.queries    -> registry.StreamingRegistry.oracles)

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val qs = slices.map(_._1)
    val merged = qs.reduce(_ ++ _)
    require(merged.size == qs.map(_.size).sum,
      "registry slices define a duplicate query key")
    merged
  }

  /** The persisted-graph twins reproduce their fresh-mine originals
    * bit-identically (edge log append ≡ fresh mine, spec-pinned), so
    * their oracles are the originals' SQL verbatim. */
  def oracleSql: Map[String, String] = {
    val os = slices.map(_._2)
    val base = os.reduce(_ ++ _)
    require(base.size == os.map(_.size).sum,
      "registry slices define a duplicate oracle key")
    base ++ Map(
      "pagerank_persisted" -> base("pagerank_docs"),
      "cc_persisted" -> base("minhash_clusters"))
  }
}
