package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkContext, SparkThrowable}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
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

/** The serving handle of one [[IvfIndex.Index]]: its centroid matrix
  * (as [[IvfIndex.Index.centroidArrays]]) and its postings packed per
  * list in the driver heap, read once from the index's own `postings`
  * frame, so the handle answers exactly as that frame would (the same
  * file listing for a loaded index, the tombstone anti-join of
  * [[IvfIndex.loadLive]] already applied). A single-query search scores
  * the probed lists against it and runs no Spark job; a batch
  * [[IvfIndex.searchAll]] scores each query row in a narrow map against
  * a broadcast of this handle, made once and freed with it by Spark's
  * context cleaner.
  *
  * Distances are accumulated in double over `(double)v_i − (double)q_i`,
  * the loop of [[graft.functions.L2Sq]], so every distance and every
  * `(dist, id)` rank is bit-identical to the `l2sq` DataFrame scan. */
private[graft] final class IvfServing private (@transient private val sc: SparkContext,
                                               val dim: Int,
                                               val centroids: Array[(Int, Array[Float])],
                                               lists: Map[Int, PackedList]) extends Serializable {

  @transient private lazy val shipped: Broadcast[IvfServing] = sc.broadcast(this)

  /** The ranked hits of `q` over the `probed` lists, cut by `cut`,
    * leaving out `excludeId`. */
  def hits(q: Array[Float], probed: Seq[Int], cut: Cut, excludeId: Option[Long],
           withVecs: Boolean): Seq[Hit] =
    IvfServing.merge(probed.flatMap(lists.get)
      .flatMap(IvfServing.scan(_, dim, q, cut, excludeId, withVecs)), cut)

  /** [[IvfIndex.searchAll]] over `queries` (`src_id` an int or a long,
    * `src_emb` an array of floats): each row is answered as
    * `search(index, src_emb, k, nprobe, Some(src_id))` and its hits come
    * out ranked `1..k` in `schema` (src_id, dst_id, dist, rank). */
  def searchAll(queries: DataFrame, k: Int, nprobe: Int, schema: StructType): DataFrame =
    IvfServing.answerAll(queries, shipped, TopK(k), nprobe, schema)
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
    * fails here with [[BadInput]] naming its id, whichever list it is
    * in. Postings of a list with no centroid are never probed, so they
    * are dropped. */
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
        val packs = describing(sc, s"IvfIndex serving open: pack $n postings")(
          postings.select(col("list_id"), col("id"), col("embedding"))
            .as[(Int, Long, Array[Float])].rdd
            .mapPartitions(it => pack(it.filter(r => lids.contains(r._1)), dim).iterator)
            .collect())
        Some(new IvfServing(sc, dim, cents,
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
      if (v == null) throw new BadInput(s"posting id $id has a null embedding")
      if (v.length != dim)
        throw new BadInput(s"posting id $id has ${v.length} dims but the centroids have $dim")
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

  /** The rows of one partition of [[IvfServing.searchAll]]'s queries,
    * answered against the broadcast lists. A row with a null id has no
    * neighbours (the scan's `src_id <> dst_id` is never true for it); a
    * null embedding, or one not of the centroid dimension, fails with
    * [[BadInput]] naming the row's `src_id`. */
  private def answerAll(queries: DataFrame, shipped: Broadcast[IvfServing], cut: TopK,
                        nprobe: Int, schema: StructType): DataFrame =
    queries.mapPartitions { rows =>
      val h = shipped.value
      rows.filterNot(_.isNullAt(0)).flatMap { r =>
        val srcId = r.get(0)
        val id = r.getAs[Number](0).longValue
        if (r.isNullAt(1)) throw new BadInput(s"query src_id $id has a null embedding")
        val q = r.getSeq[Float](1).toArray
        if (h.centroids.nonEmpty && q.length != h.dim)
          throw new BadInput(
            s"query src_id $id has ${q.length} dims but the centroids have ${h.dim}")
        val probed = IvfIndex.probeCentroids(h.centroids, q, nprobe)
        h.hits(q, probed, cut, Some(id), withVecs = false).iterator.zipWithIndex
          .map { case (h, i) => Row(srcId, h.id, h.dist, i + 1) }
      }
    }(Encoders.row(schema))

  /** Score one list against `q` and cut it: its bounded `(dist, id)`
    * top-k, or every posting strictly below eps. */
  private[operators] def scan(p: PackedList, dim: Int, q: Array[Float], cut: Cut,
                              excludeId: Option[Long], withVecs: Boolean): Seq[Hit] = {
    def hitAt(i: Int): Hit = Hit(p.ids(i), l2(p.vecs, i * dim, q),
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

  /** Squared L2 of `q` and the `q.length` floats of `v` from `off`: the
    * loop of [[graft.functions.L2Sq]], `(double)v_i − (double)q_i`
    * squared and summed in double. The one kernel of the serving scan
    * and of the IVF probe ([[IvfIndex.probeLists]]). */
  private[operators] def l2(v: Array[Float], off: Int, q: Array[Float]): Double = {
    var acc = 0.0; var j = 0
    while (j < q.length) { val d = v(off + j).toDouble - q(j).toDouble; acc += d * d; j += 1 }
    acc
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

  /** Bad input found where it is read, possibly inside a Spark task.
    * Spark hands the caller a task failure that is a `SparkThrowable`
    * with a condition as it is, not wrapped in a `SparkException`, so
    * the action that read the bad row fails with this
    * `IllegalArgumentException` and its message. */
  private[graft] final class BadInput(message: String)
    extends IllegalArgumentException(message) with SparkThrowable {
    override def getCondition: String = "GRAFT_BAD_INPUT"
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
