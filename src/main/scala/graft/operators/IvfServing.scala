package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkContext, SparkException}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import IvfIndex.{Below, Cut, TopK}

/** One inverted list packed for scanning: the vector of `ids(i)` is
  * `vecs(i * dim until (i + 1) * dim)`. */
private[graft] final class PackedList(val ids: Array[Long], val vecs: Array[Float])
  extends Serializable

/** One ranked posting. `vec` is the stored vector when the search asked
  * for it (`searchAndReconstruct`), else null. */
private[graft] final case class Hit(id: Long, dist: Double, vec: Array[Float])

/** The serving handle of one [[IvfIndex.Index]]: its postings packed per
  * list in the driver heap, read once from the index's own `postings`
  * frame, so the handle answers exactly as that frame would (the same
  * file listing for a loaded index, the tombstone anti-join of
  * [[IvfIndex.loadLive]] already applied). A single-query search scores
  * the probed lists against it and runs no Spark job.
  *
  * Distances are accumulated in double over `(double)v_i − (double)q_i`,
  * the loop of [[graft.functions.L2Sq]], so every distance and every
  * `(dist, id)` rank is bit-identical to the `l2sq` DataFrame scan. */
private[graft] final class IvfServing private (dim: Int, lists: Map[Int, PackedList]) {
  import IvfServing._

  /** The ranked hits of `q` over the `probed` lists, cut by `cut`,
    * leaving out `excludeId`. */
  def hits(q: Array[Float], probed: Seq[Int], cut: Cut, excludeId: Option[Long],
           withVecs: Boolean): Seq[Hit] =
    merge(probed.flatMap(lists.get).flatMap(scan(_, dim, q, cut, excludeId, withVecs)), cut)
}

private[graft] object IvfServing {

  /** Rank order of every IVF search: distance ascending, then id. */
  private val byDistId: Ordering[Hit] = (a: Hit, b: Hit) => {
    val c = java.lang.Double.compare(a.dist, b.dist)
    if (c != 0) c else java.lang.Long.compare(a.id, b.id)
  }

  /** Open the handle of `index`, or None when the index is not served
    * from one and its searches stay the pruned DataFrame scan:
    *  - its postings do not carry `id` as a long and `embedding` as an
    *    array of floats (the handle's packed types; the scan keeps any
    *    id type the index was built with);
    *  - its postings packed (8 bytes of id plus `4 · dim` bytes of
    *    vector each) exceed `maxDriverBytes`. Only the count is read
    *    then, so such an index still reads `nprobe/nlist` of its
    *    postings per query.
    * Otherwise every posting is read once, checked and packed per list:
    * a posting whose embedding is null or not of the centroid dimension
    * fails here with `IllegalArgumentException` naming its id, whichever
    * list it is in. Postings of a list with no centroid are never
    * probed, so they are dropped. */
  def open(index: IvfIndex.Index, maxDriverBytes: Long): Option[IvfServing] = {
    val postings = index.postings
    val types = postings.schema.fields.map(f => f.name -> f.dataType).toMap
    val packable = (types.get("id"), types.get("embedding")) match {
      case (Some(LongType), Some(ArrayType(FloatType, _))) => true
      case _ => false
    }
    if (!packable) None
    else {
      val spark = postings.sparkSession
      import spark.implicits._
      val sc = spark.sparkContext
      val cents = describing(sc, "IvfIndex serving open: centroids")(index.centroidArrays)
      val lids = cents.map(_._1).toSet
      val dim = cents.headOption.fold(0)(_._2.length)
      val n = describing(sc, "IvfIndex serving open: count postings")(postings.count())
      if (n * (8L + 4L * dim) > maxDriverBytes) None
      else {
        val packs = describing(sc, s"IvfIndex serving open: pack $n postings")(rethrowBadInput(
          postings.select(col("list_id"), col("id"), col("embedding"))
            .as[(Int, Long, Array[Float])].rdd
            .mapPartitions(it => pack(it.filter(r => lids.contains(r._1)), dim).iterator)
            .collect()))
        Some(new IvfServing(dim,
          packs.groupBy(_._1).map { case (lid, ps) => lid -> concat(ps.map(_._2).toSeq) }))
      }
    }
  }

  /** Check and pack (list_id, id, embedding) rows into one list each. */
  private def pack(rows: Iterator[(Int, Long, Array[Float])],
                   dim: Int): Seq[(Int, PackedList)] = {
    val builders = mutable.LinkedHashMap.empty[Int,
      (mutable.ArrayBuilder.ofLong, mutable.ArrayBuilder.ofFloat)]
    rows.foreach { case (lid, id, v) =>
      require(v != null, s"posting id $id has a null embedding")
      require(v.length == dim,
        s"posting id $id has ${v.length} dims but the centroids have $dim")
      val (ids, vecs) = builders.getOrElseUpdate(lid,
        (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofFloat))
      ids += id; vecs ++= v
    }
    builders.toSeq.map { case (lid, (ids, vecs)) =>
      lid -> new PackedList(ids.result(), vecs.result()) }
  }

  /** Packs of one list (one per input partition) joined into one. */
  private def concat(parts: Seq[PackedList]): PackedList =
    if (parts.size == 1) parts.head
    else {
      val ids = new mutable.ArrayBuilder.ofLong
      val vecs = new mutable.ArrayBuilder.ofFloat
      parts.foreach { p => ids ++= p.ids; vecs ++= p.vecs }
      new PackedList(ids.result(), vecs.result())
    }

  /** Spark's task failure carries the executor's exception as its cause;
    * a bad posting found while packing surfaces as the
    * `IllegalArgumentException` it is. */
  private def rethrowBadInput[T](body: => T): T =
    try body catch {
      case e: SparkException =>
        val bad = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case iae: IllegalArgumentException => iae }
        throw bad.fold[Throwable](e)(iae => new IllegalArgumentException(iae.getMessage, e))
    }

  /** Score one list against `q` and cut it: its bounded `(dist, id)`
    * top-k, or every posting strictly below eps. */
  private def scan(p: PackedList, dim: Int, q: Array[Float], cut: Cut,
                   excludeId: Option[Long], withVecs: Boolean): Seq[Hit] = {
    def distAt(i: Int): Double = {
      var acc = 0.0; var j = 0; val off = i * dim
      while (j < dim) { val d = p.vecs(off + j).toDouble - q(j).toDouble; acc += d * d; j += 1 }
      acc
    }
    def hitAt(i: Int): Hit = Hit(p.ids(i), distAt(i),
      if (withVecs) java.util.Arrays.copyOfRange(p.vecs, i * dim, (i + 1) * dim) else null)
    val hits = p.ids.indices.iterator.filter(i => !excludeId.contains(p.ids(i))).map(hitAt)
    cut match {
      case TopK(k) =>
        // a max-heap under the rank order: its head is the worst kept hit
        val heap = mutable.PriorityQueue.empty[Hit](byDistId)
        if (k > 0) hits.foreach { h =>
          if (heap.size < k) heap.enqueue(h)
          else if (byDistId.lt(h, heap.head)) { heap.dequeue(); heap.enqueue(h) }
        }
        heap.toSeq
      case Below(eps) => hits.filter(_.dist < eps).toSeq
    }
  }

  /** Merge per-list hits into the global rank and apply the cut again. */
  private[graft] def merge(hits: Seq[Hit], cut: Cut): Seq[Hit] = {
    val ranked = hits.sorted(byDistId)
    cut match {
      case TopK(k) => ranked.take(k)
      case Below(_) => ranked
    }
  }

  private val HitSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))

  private val HitVecSchema = HitSchema.add(
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false))

  /** Hits as a local DataFrame: (id, dist), plus the stored vector as
    * `embedding` when `withVecs`. Collecting it runs no Spark job. */
  def frame(spark: SparkSession, hits: Seq[Hit], withVecs: Boolean): DataFrame = {
    val rows = hits.map(h => if (withVecs) Row(h.id, h.dist, h.vec) else Row(h.id, h.dist))
    spark.createDataFrame(rows.asJava, if (withVecs) HitVecSchema else HitSchema)
  }

  private val JobDescription = "spark.job.description"

  /** Run `body` under `spark.job.description` = `what`, then restore the
    * caller's description. The job group is never touched: it belongs
    * to the caller (a tracer attributes jobs to spans by it). */
  private[graft] def describing[T](sc: SparkContext, what: String)(body: => T): T = {
    val prev = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, what)
    try body finally sc.setLocalProperty(JobDescription, prev)
  }
}
