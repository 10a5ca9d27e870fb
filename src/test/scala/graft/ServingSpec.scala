package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, typedlit}
import org.apache.spark.sql.types._
import graft.functions.l2sq
import graft.operators.{IvfIndex, IvfServing}

/** Pins the serving handle behind `IvfIndex.search`,
  * `searchAndReconstruct` and `rangeSearch` bit for bit against the
  * `scanProbed` DataFrame chain (the path the filtered searches still
  * run, and the one an index without a handle searches by), and the
  * served `searchAll` against `searchAllScan`, on an in-memory, a
  * persisted and a live (tombstoned) index. The corpus has small
  * integer coordinates, so distances tie densely and several vectors
  * duplicate the query. */
class ServingSpec extends SparkSpec {

  private val nlist = 4
  private val qid = 0L

  private lazy val corpus: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(11L)
    val drawn = (0L until 240L).map(id => id -> Array.fill(4)(rnd.nextInt(3).toFloat))
    drawn ++ (240L until 244L).map(id => id -> drawn.head._2.clone())
  }

  private val q: Array[Float] = corpus.find(_._1 == qid).get._2
  private val other: Array[Float] = Array(2f, 0f, 1f, 1f)

  private lazy val built: IvfIndex.Index = {
    import spark.implicits._
    IvfIndex.build(corpus.toDF("id", "embedding"), "id", "embedding", nlist)
  }

  private lazy val persistedDir: String = {
    val dir = tmpDir("serving-")
    IvfIndex.save(built, dir)
    dir
  }

  /** Removed: every id ≡ 1 (mod 5) and one duplicate of the query. */
  private val removed: Set[Long] = corpus.map(_._1).filter(id => id % 5 == 1 || id == 241L).toSet

  private lazy val liveDir: String = {
    import spark.implicits._
    val dir = tmpDir("serving-live-")
    IvfIndex.save(built, dir)
    IvfIndex.removeIds(spark, dir, removed.toSeq.toDF("id"), "id")
    dir
  }

  private val indexes: Seq[(String, () => IvfIndex.Index)] = Seq(
    "in-memory" -> (() => IvfIndex.Index(built.centroids, built.postings)),
    "persisted" -> (() => IvfIndex.load(spark, persistedDir)),
    "live" -> (() => IvfIndex.loadLive(spark, liveDir)))

  /** A fresh `Index` object with its serving handle open. */
  private def opened(make: () => IvfIndex.Index): IvfIndex.Index = {
    val idx = make()
    assert(idx.serving.nonEmpty)
    idx
  }

  /** The oracle: the `scanProbed` DataFrame chain over the same postings. */
  private def chain(idx: IvfIndex.Index, v: Array[Float], cut: IvfIndex.Cut, nprobe: Int,
                    excludeId: Option[Long], keep: Seq[String] = Nil): DataFrame =
    IvfIndex.scanProbed(idx.postings, IvfIndex.probeLists(idx, v, nprobe),
      l2sq(col("embedding"), typedlit(v)), "dist", cut, excludeId = excludeId, keep = keep)

  /** Rows with every double and float as its bits. */
  private def bits(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] =>
      s.map(f => java.lang.Float.floatToRawIntBits(f.asInstanceOf[Float]))
    case x => x
  })

  /** A batch of queries in 3 partitions: every third corpus vector
    * (with the query and its exact duplicates) under its own id, and
    * vectors outside the corpus under ids it does not hold. */
  private lazy val batch: DataFrame = {
    import spark.implicits._
    val inside = corpus.filter { case (id, _) => id % 3 == 0 || id >= 240L }
    val outside = Seq(other, Array(0.5f, 1.5f, 2f, 0f), Array(3f, 3f, 3f, 3f))
      .zipWithIndex.map { case (v, i) => (5000L + i, v) }
    (inside ++ outside).toDF("id", "embedding").repartition(3)
  }

  /** searchAll rows sorted by (src_id, rank), as (src_id, rank, dst_id,
    * dist bits). */
  private def ranked(df: DataFrame): Seq[Seq[Any]] =
    df.select("src_id", "rank", "dst_id", "dist").collect().toSeq
      .map(r => Seq(r.get(0), r.get(1), r.get(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      .sortBy(r => (r(0).asInstanceOf[Number].longValue, r(1).asInstanceOf[Int]))

  /** The served searchAll of `idx` equals `searchAllScan` bit for bit,
    * with the same schema, and each row equals the single search. */
  private def assertServedAll(idx: IvfIndex.Index, queries: DataFrame, k: Int,
                              nprobe: Int, what: String): Unit = {
    val served = IvfIndex.searchAll(idx, queries, "id", "embedding", k, nprobe)
    val scan = IvfIndex.searchAllScan(idx, queries, "id", "embedding", k, nprobe)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), s"$what:\n$plan")
    assert(served.schema == scan.schema, s"$what: ${served.schema} vs ${scan.schema}")
    val rows = ranked(served)
    assert(rows == ranked(scan), what)
    val qRow = rows.filter(_.head.asInstanceOf[Number].longValue == qid)
      .map(r => Seq(r(2), r(3)))
    assert(qRow == bits(IvfIndex.search(idx, q, k, nprobe, Some(qid))), s"$what: row of $qid")
  }

  private def dists(df: DataFrame): Seq[Double] = df.collect().toSeq.map(_.getDouble(1))

  /** `search`, `searchAndReconstruct` and `rangeSearch` of `idx` against
    * the chain: dense ties, exact duplicates of the query, a candidate
    * exactly on eps, with and without `excludeId`, k = 0 and k above the
    * live count, nprobe 2 and all. */
  private def assertAsChain(idx: IvfIndex.Index, name: String): Unit = {
    val live = idx.postings.count().toInt
    if (name == "live") assert(live == corpus.size - removed.size)
    val full = chain(idx, q, IvfIndex.TopK(live), nlist, None)
    assert(dists(full).take(11).distinct.size < 11, "ties inside the top 11")
    assert(dists(full).count(_ == 0.0) > 2, "exact duplicates of the query")
    for (v <- Seq(q, other); nprobe <- Seq(2, nlist); excl <- Seq(None, Some(qid))) {
      val what = s"q=${v.toSeq} nprobe=$nprobe excludeId=$excl"
      for (k <- Seq(0, 1, 10, live + 50)) {
        val cut = IvfIndex.TopK(k)
        assert(bits(IvfIndex.search(idx, v, k, nprobe, excl)) ==
          bits(chain(idx, v, cut, nprobe, excl)), s"search $what k=$k")
      }
      for (k <- Seq(10, live + 50)) {
        assert(bits(IvfIndex.searchAndReconstruct(idx, v, k, nprobe, excl)) ==
          bits(chain(idx, v, IvfIndex.TopK(k), nprobe, excl, keep = Seq("embedding"))),
          s"searchAndReconstruct $what k=$k")
      }
      val eps = 3.0
      val range = IvfIndex.rangeSearch(idx, v, eps, nprobe, excl)
      assert(bits(range) == bits(chain(idx, v, IvfIndex.Below(eps), nprobe, excl)),
        s"rangeSearch $what")
      if (v eq q)
        assert(dists(chain(idx, v, IvfIndex.TopK(live), nprobe, excl)).contains(eps),
          s"a candidate sits exactly on eps, $what")
    }
  }

  indexes.foreach { case (name, make) =>
    test(s"$name: search, searchAndReconstruct and rangeSearch equal the DataFrame chain bit for bit") {
      assertAsChain(opened(make), name)
    }
  }

  indexes.foreach { case (name, make) =>
    test(s"$name: served searchAll equals searchAllScan bit for bit") {
      val idx = opened(make)
      val live = idx.postings.count().toInt
      val self = ranked(IvfIndex.searchAllScan(idx, batch, "id", "embedding", live, nlist))
        .filter(_.head == qid)
      assert(self.count(_(3) == 0L) > 2 && self.map(_(3)).distinct.size < self.size,
        "exact duplicates of the query and tied distances")
      for (nprobe <- Seq(2, nlist); k <- Seq(0, 1, 10, live + 50))
        assertServedAll(idx, batch, k, nprobe, s"$name nprobe=$nprobe k=$k")
    }
  }

  test("an Int query id column on a long-id index is served and keeps src_id an int") {
    val idx = opened(() => IvfIndex.Index(built.centroids, built.postings))
    val intIds = batch.withColumn("id", col("id").cast(IntegerType))
    assertServedAll(idx, intIds, 10, 2, "int query ids")
    assert(IvfIndex.searchAll(idx, intIds, "id", "embedding", 10, 2)
      .schema("src_id").dataType == IntegerType)
  }

  test("searchAll over array<double> queries or an Int-id index falls back to the scan") {
    import spark.implicits._
    val idx = opened(() => IvfIndex.Index(built.centroids, built.postings))
    val doubles = batch.withColumn("embedding", col("embedding").cast(ArrayType(DoubleType)))
    def failure(f: => DataFrame): String =
      scala.util.Try(f.collect()).failed.map(_.getMessage.replaceAll("#\\d+", ""))
        .getOrElse("no failure")
    assert(failure(IvfIndex.searchAll(idx, doubles, "id", "embedding", 10, 2)) ==
      failure(IvfIndex.searchAllScan(idx, doubles, "id", "embedding", 10, 2)))

    val intIds = IvfIndex.build(corpus.map { case (id, v) => (id.toInt, v) }.toDF("id", "embedding"),
      "id", "embedding", nlist)
    assert(intIds.serving.isEmpty)
    val all = IvfIndex.searchAll(intIds, batch, "id", "embedding", 10, 2)
    assert(all.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(ranked(all) == ranked(IvfIndex.searchAllScan(intIds, batch, "id", "embedding", 10, 2)))
  }

  test("served searchAll answers a repeated query id once per row; the scan pools them") {
    import spark.implicits._
    val idx = opened(() => IvfIndex.Index(built.centroids, built.postings))
    val twice = Seq(7L -> q, 7L -> other).toDF("id", "embedding")
    val served = IvfIndex.searchAll(idx, twice, "id", "embedding", 5, 2).collect()
      .map(r => (r.getInt(3), r.getLong(1), r.getDouble(2))).toSeq
    def one(v: Array[Float]) = IvfIndex.search(idx, v, 5, 2, Some(7L)).collect().toSeq
      .zipWithIndex.map { case (r, i) => (i + 1, r.getLong(0), r.getDouble(1)) }
    assert(served.sorted == (one(q) ++ one(other)).sorted)
    // the scan ranks the candidates of both rows together and keeps 5
    val pooled = (one(q) ++ one(other)).sortBy { case (_, id, d) => (d, id) }.take(5)
      .zipWithIndex.map { case ((_, id, d), i) => (i + 1, id, d) }
    val scanned = IvfIndex.searchAllScan(idx, twice, "id", "embedding", 5, 2).collect()
      .map(r => (r.getInt(3), r.getLong(1), r.getDouble(2))).toSeq
    assert(scanned.sorted == pooled.sorted)
  }

  test("served searchAll fails on a null or wrong-length query embedding, naming its src_id") {
    val idx = opened(() => IvfIndex.Index(built.centroids, built.postings))
    val schema = StructType(Seq(StructField("id", LongType), StructField("embedding", ArrayType(FloatType))))
    Seq[(Array[Float], String)]((null, "null embedding"), (Array(1f, 2f), "2 dims")).foreach {
      case (v, says) =>
        val queries = spark.createDataFrame(
          java.util.List.of(Row(qid, q), Row(4242L, v)), schema)
        val e = intercept[IllegalArgumentException](
          IvfIndex.searchAll(idx, queries, "id", "embedding", 10, 2).collect())
        assert(e.getMessage.contains("src_id 4242") && e.getMessage.contains(says), e.getMessage)
    }
    Seq[() => Any](
      () => IvfIndex.searchAll(idx, batch, "id", "embedding", -1, 2),
      () => IvfIndex.searchAll(idx, batch, "id", "embedding", 10, 0)).foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("must be >="), e.getMessage)
    }
  }

  test("an index whose ids are not longs keeps the pruned scan and its id type") {
    import spark.implicits._
    val intIds = IvfIndex.build(corpus.map { case (id, v) => (id.toInt, v) }.toDF("id", "embedding"),
      "id", "embedding", nlist)
    assert(intIds.serving.isEmpty)
    assertAsChain(intIds, "int ids")
    assert(IvfIndex.search(intIds, q, 10, 2).schema("id").dataType == IntegerType)
    assert(bits(IvfIndex.searchShards(Seq(intIds), q, 10, 2)) ==
      bits(IvfIndex.search(intIds, q, 10, 2)))
    val dir = tmpDir("serving-int-")
    IvfIndex.save(intIds, dir)
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.serving.isEmpty)
    val plan = IvfIndex.search(loaded, q, 10, 2).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [list_id"), plan)
  }

  test("an Index answers as its own snapshot; a new loadLive sees appends and removals") {
    import spark.implicits._
    val dir = tmpDir("serving-stale-")
    IvfIndex.save(built, dir)
    val old = opened(() => IvfIndex.load(spark, dir))
    val all = corpus.size + 100
    def ids(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet
    val before = bits(IvfIndex.search(old, q, all, nlist))
    assert(before.size == corpus.size)

    val appended = (1000L until 1010L).map(id => id -> q.map(_ + 0.5f))
    assert(IvfIndex.appendBatch(spark, dir, appended.toDF("id", "embedding"),
      "id", "embedding", batchId = 0L) == appended.size)
    val gone = Seq(3L, 240L, 1004L)
    assert(IvfIndex.removeIds(spark, dir, gone.toDF("id"), "id") == gone.size)

    val fresh = opened(() => IvfIndex.loadLive(spark, dir))
    val now = IvfIndex.search(fresh, q, all, nlist)
    assert(bits(now) == bits(chain(fresh, q, IvfIndex.TopK(all), nlist, None)))
    assert(ids(now) == corpus.map(_._1).toSet ++ appended.map(_._1) -- gone)

    // the old object keeps its snapshot, as its DataFrame does
    assert(bits(IvfIndex.search(old, q, all, nlist)) == before)
    assert(before == bits(chain(old, q, IvfIndex.TopK(all), nlist, None)))
  }

  /** `built` plus one posting of id 9999 in the list a 1-probe search of
    * `q` never reads. */
  private def withBadPosting(embedding: Array[Float]): IvfIndex.Index = {
    val farthest = IvfIndex.probeLists(built, q, nlist).last
    val schema = StructType(Seq(StructField("list_id", IntegerType),
      StructField("id", LongType), StructField("embedding", ArrayType(FloatType))))
    val bad = spark.createDataFrame(
      java.util.List.of(Row(farthest, 9999L, embedding)), schema)
    IvfIndex.Index(built.centroids,
      built.postings.select("list_id", "id", "embedding").unionByName(bad))
  }

  test("a null embedding fails at open, naming the id, even in an unprobed list") {
    val e = intercept[IllegalArgumentException](withBadPosting(null).serving)
    assert(e.getMessage.contains("9999") && e.getMessage.contains("null"), e.getMessage)
    val idx = withBadPosting(null)
    val e2 = intercept[IllegalArgumentException](IvfIndex.search(idx, q, 10, 1))
    assert(e2.getMessage.contains("9999"), e2.getMessage)
  }

  test("an embedding of the wrong length fails at open, naming the id") {
    val e = intercept[IllegalArgumentException](withBadPosting(Array(1f, 2f)).serving)
    assert(e.getMessage.contains("9999") && e.getMessage.contains("2 dims"), e.getMessage)
  }

  test("k < 0 fails with IllegalArgumentException") {
    val idx = IvfIndex.Index(built.centroids, built.postings)
    Seq[() => Any](
      () => IvfIndex.search(idx, q, -1, 2),
      () => IvfIndex.searchAndReconstruct(idx, q, -1, 2),
      () => IvfIndex.searchShards(Seq(idx), q, -1, 2)).foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("k must be >= 0"), e.getMessage)
    }
  }

  test("open jobs say what they are and restore the caller's description; searches then run no job") {
    val probe = new JobProbe(spark, "serving-spec-")
    try {
      val idx = IvfIndex.Index(built.centroids, built.postings)
      probe.in("open") {
        assert(idx.serving.nonEmpty)
        assert(spark.sparkContext.getLocalProperty("spark.job.description") == "serving-spec-open")
      }
      // the centroid collect of an in-memory index may run no job
      assert(probe.jobs("open").distinct.filterNot(_ == "IvfIndex serving open: centroids") ==
        Seq("IvfIndex serving open: count postings", s"IvfIndex serving open: pack ${corpus.size} postings"))
      probe.in("search") {
        IvfIndex.search(idx, q, 10, 2).collect()
        IvfIndex.rangeSearch(idx, q, 3.0, 2).collect()
        IvfIndex.searchShards(Seq(idx, idx), q, 10, 2).collect()
      }
      assert(probe.jobs("search").isEmpty)
    } finally probe.close()
  }

  test("with the handle open, a served searchAll over local queries is 1 job, 1 stage, no shuffle") {
    import spark.implicits._
    val probe = new JobProbe(spark, "serving-spec-")
    try {
      val idx = opened(() => IvfIndex.Index(built.centroids, built.postings))
      val queries = corpus.take(50).toDF("id", "embedding")
      val rows = probe.in("searchAll")(
        IvfIndex.searchAll(idx, queries, "id", "embedding", 10, 2).collect())
      assert(rows.length == 50 * 10)
      assert(probe.jobs("searchAll").size == 1)
      assert(probe.stages("searchAll") == 1)
      assert(probe.shuffleBytes("searchAll") == 0L)
    } finally probe.close()
  }

  test("above the byte bound open keeps no handle and reads only the posting count") {
    val probe = new JobProbe(spark, "serving-spec-")
    try {
      val idx = IvfIndex.Index(built.centroids, built.postings)
      val bytes = corpus.size * (8L + 4L * q.length)
      assert(probe.in("fits")(IvfServing.open(idx, bytes)).nonEmpty)
      assert(probe.in("over")(IvfServing.open(idx, bytes - 1)).isEmpty)
      assert(probe.jobs("over").distinct == Seq("IvfIndex serving open: count postings"))
    } finally probe.close()
  }
}
