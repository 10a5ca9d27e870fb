package graft

import org.apache.spark.sql.functions._
import graft.operators.SkewTools

/** Scale-pattern assertions: salted joins preserve semantics and
  * bucketed tables co-locate joins (no shuffle on the bucketed sides). */
class ScaleToolsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals the plain join on a skewed key distribution") {
    // hot key 0 carries 90% of the fact side
    val rnd = new scala.util.Random(11)
    val large = Seq.tabulate(2000) { i =>
      (if (rnd.nextDouble() < 0.9) 0L else rnd.nextInt(10).toLong, i.toLong)
    }.toDF("k", "payload")
    val small = (0L until 10L).map(k => (k, s"dim$k")).toDF("k", "attr")
    val plain = large.join(small, Seq("k"))
      .select("k", "payload", "attr").collect().map(_.toSeq).toSet
    val salted = SkewTools.saltedJoin(large, small, "k", salt = 8)
      .select("k", "payload", "attr").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(salted.size == 2000)
  }

  test("salted_events_join: salt replication reaches the plan; values equal the plain join") {
    val df = SkewTools.saltedEventsJoin(spark, sfSmall)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // plain (unsalted, broadcastable) twin as ground truth
    val ev = Tables.events(spark, sfSmall)
      .select(when(col("user_id") % 100 < 90, lit(0L))
        .otherwise(col("user_id") % 25).as("seg"), col("value"))
    val dim = Tables.nation(spark, sfSmall)
      .select(col("n_nationkey").cast("long").as("seg"), col("n_name"))
    val plain = ev.join(dim, Seq("seg"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy(col("n_name").asc).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == plain, "salting must be value-invariant")
    // the hot key dominates: segment 0 (nation 0's name) carries ~90%
    val total = got.map(_._2).sum
    assert(got.maxBy(_._2)._2 > total * 8 / 10, s"hot key share in $got")
    // plan shape: the dim is replicated per salt value (explode of the
    // salt sequence => Generate) into a non-broadcast join on
    // (seg, _salt) — the broadcast-ineligible skew shape, not a BHJ
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), s"no salt replication in plan:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"salted join must not broadcast:\n$plan")
    assert(plan.contains("_salt"), s"salt key missing from join:\n$plan")
  }

  test("bucketed tables join without an exchange on either side") {
    spark.sql("DROP TABLE IF EXISTS orders_bucketed_a")
    spark.sql("DROP TABLE IF EXISTS orders_bucketed_b")
    // a previously crashed run can leave the managed location behind
    // without a catalog entry; clear it so saveAsTable can create
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    Seq("orders_bucketed_a", "orders_bucketed_b").foreach { t =>
      val d = new java.io.File(s"$warehouse/$t")
      if (d.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(d)
      }
    }
    val orders = Tables.orders(spark, sfSmall).select("o_orderkey", "o_custkey", "o_totalprice")
    orders.write.mode("overwrite").bucketBy(4, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bucketed_a")
    orders.write.mode("overwrite").bucketBy(4, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bucketed_b")
    // force the shuffle-join path (at bench scale the table broadcasts;
    // the point here is the 100 TB shape, where neither side fits)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try {
      val joined = spark.table("orders_bucketed_a").as("a")
        .join(spark.table("orders_bucketed_b").as("b"), Seq("o_custkey"))
      joined.collect()
      joined.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    // bucket layout IS the partitioning: the join must not re-shuffle
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      s"scan not bucket-aware:\n$plan")
  }

  test("AQE splits a skewed sort-merge join partition (the automatic complement of saltedJoin)") {
    // SURVEY §4.2's division of labor: AQE's skew-join handling covers
    // sort-merge cases AUTOMATICALLY; explicit salting exists for
    // broadcast-ineligible shapes and deterministic testing. Pin the
    // automatic half: with the skew thresholds scaled down to the test
    // data (the defaults are 256 MB-class), a 90%-hot key must make
    // AQE mark the join skewed and split the hot partition.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val rnd = new scala.util.Random(13)
      val large = Seq.tabulate(20000) { i =>
        (if (rnd.nextDouble() < 0.9) 0L else rnd.nextInt(10).toLong,
          s"payload-$i-${"x" * 64}")
      }.toDF("k", "payload")
      val small = (0L until 10L).flatMap(k =>
        (0 until 5).map(j => (k, s"dim$k-$j"))).toDF("k", "attr")
      val joined = large.join(small, Seq("k"))
      // collect THIS dataframe: count()/foreach() finalize a different
      // query execution and this plan would stay isFinalPlan=false
      assert(joined.collect().length == 20000 * 5)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot-key join skewed:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("zValue interleaves bits: even positions from x, odd from y") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // x=0b11 -> bits at 0,2 = 5; y=0b01 -> bit at 1 = 2; z = 7
    // x=0, y=0b11 -> bits at 1,3 = 10
    val got = Seq((3L, 1L), (0L, 3L), (65535L, 65535L)).toDF("x", "y")
      .select(graft.operators.ZOrder.zValue(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got(0) == 7L && got(1) == 10L)
    assert(got(2) == (1L << 32) - 1, "all 32 low bits set")
    // locality: points close in both dims are close in z — the
    // defining property the file-layout clustering relies on
    def z(x: Long, y: Long): Long =
      Seq((x, y)).toDF("x", "y")
        .select(graft.operators.ZOrder.zValue(col("x"), col("y")))
        .collect().head.getLong(0)
    assert((z(10, 10) - z(10, 11)).abs < (z(10, 10) - z(10, 200)).abs)
  }
}
