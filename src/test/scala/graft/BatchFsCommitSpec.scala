package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import graft.operators.{BatchFs, NbClassifier, SpanDedup}

/** The one batch commit path, [[BatchFs.appendOnce]], checked directly:
  * replays of a committed batch never stage, every crash point before
  * the marker leaves nothing live that a replay does not repair, an
  * empty wave commits only its marker, and a writer that lost its lease
  * between stage and commit changes nothing. Plus the replay no-op of
  * two appenders that route through it. */
class BatchFsCommitSpec extends SparkSpec {
  import spark.implicits._

  private val Logs = Seq(BatchFs.Log("log", "bucket="))

  /** Stage three rows over two buckets into the `log` log. */
  private def stageRows(staging: Path): Long = {
    Seq((0, 1L), (1, 2L), (1, 3L)).toDF("bucket", "v")
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$staging/log")
    3L
  }

  private def liveRows(dir: String): Set[(Int, Long)] =
    spark.read.parquet(s"$dir/log").select("bucket", "v").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet

  /** Every data file name under the log's partition dirs. */
  private def liveFiles(dir: String): Set[String] = {
    val root = Paths.get(dir, "log")
    if (!Files.exists(root)) Set.empty
    else BatchFs.children(root).filter(Files.isDirectory(_))
      .flatMap(d => BatchFs.children(d).map(f => s"${d.getFileName}/${f.getFileName}"))
      .filter(_.endsWith(".parquet")).toSet
  }

  private def markers(dir: String): List[String] = {
    val m = Paths.get(dir, "_committed", BatchFs.MarkerSchemeVersion)
    if (Files.exists(m)) BatchFs.children(m).map(_.getFileName.toString).sorted
    else Nil
  }

  private def markerPayload(dir: String, batchId: Long, ns: String): String =
    new String(Files.readAllBytes(BatchFs.markerFor(dir, batchId, ns)), "UTF-8")

  test("a replay of a committed batch never calls stage and returns 0") {
    val dir = tmpDir("commit-replay-")
    assert(BatchFs.appendOnce(dir, "log", 1L, "ns", Logs)(stageRows) == 3L)
    var staged = 0
    val n = BatchFs.appendOnce(dir, "log", 1L, "ns", Logs) { st =>
      staged += 1; stageRows(st)
    }
    assert(n == 0L && staged == 0)
    assert(markers(dir) == List("ns-1") && markerPayload(dir, 1L, "ns") == "3")
    assert(liveRows(dir) == Set((0, 1L), (1, 2L), (1, 3L)))
    assert(liveFiles(dir).forall(_.split("/")(1).startsWith("bns-1-")))
    assert(!Files.exists(Paths.get(dir, "_staging", "log-batch-ns-1")))
  }

  test("a stage that throws leaves no marker and no live file; the replay commits once") {
    val dir = tmpDir("commit-throw-")
    val e = intercept[RuntimeException](
      BatchFs.appendOnce(dir, "log", 2L, "", Logs) { st =>
        stageRows(st)
        throw new RuntimeException("crash after staging")
      })
    assert(e.getMessage == "crash after staging")
    assert(markers(dir).isEmpty)
    assert(liveFiles(dir).isEmpty)
    // the lease was released, so the replay can take it
    assert(BatchFs.appendOnce(dir, "log", 2L, "", Logs)(stageRows) == 3L)
    assert(markers(dir) == List("2"))
    assert(liveRows(dir) == Set((0, 1L), (1, 2L), (1, 3L)))
    assert(spark.read.parquet(s"$dir/log").count() == 3L)
  }

  test("a lost marker (crash before it) replays to the same live rows and one marker") {
    val dir = tmpDir("commit-nomarker-")
    BatchFs.appendOnce(dir, "log", 3L, "w", Logs)(stageRows)
    val rows = spark.read.parquet(s"$dir/log").count()
    val files = liveFiles(dir)
    Files.delete(BatchFs.markerFor(dir, 3L, "w"))
    assert(BatchFs.appendOnce(dir, "log", 3L, "w", Logs)(stageRows) == 3L)
    assert(spark.read.parquet(s"$dir/log").count() == rows)
    assert(liveRows(dir) == Set((0, 1L), (1, 2L), (1, 3L)))
    // the replay's files replaced the first attempt's, one for one
    assert(liveFiles(dir).map(_.split("/")(0)).toSeq.sorted ==
      files.map(_.split("/")(0)).toSeq.sorted)
    assert(liveFiles(dir).size == files.size && (liveFiles(dir) & files).isEmpty)
    assert(markers(dir) == List("w-3") && markerPayload(dir, 3L, "w") == "3")
  }

  test("a stray b<tag>- file of a crashed attempt is cleared; other batches stay") {
    val dir = tmpDir("commit-stray-")
    BatchFs.appendOnce(dir, "log", 4L, "", Logs)(stageRows)
    val bucket1 = Paths.get(dir, "log", "bucket=1")
    val some = BatchFs.children(bucket1)
      .find(_.getFileName.toString.endsWith(".parquet")).get
    // a crashed attempt of batch 5 moved a file in, then died
    val stray = bucket1.resolve("b5-part-00000-stray.parquet")
    Files.copy(some, stray)
    BatchFs.appendOnce(dir, "log", 5L, "", Logs) { st =>
      Seq((1, 9L)).toDF("bucket", "v")
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$st/log")
      1L
    }
    assert(!Files.exists(stray))
    assert(liveRows(dir) == Set((0, 1L), (1, 2L), (1, 3L), (1, 9L)))
    assert(spark.read.parquet(s"$dir/log").count() == 4L)
    assert(markers(dir) == List("4", "5"))
  }

  test("a flat log (no partition prefix) commits and clears the same way") {
    val dir = tmpDir("commit-flat-")
    val flat = Seq(BatchFs.Log("log", ""))
    def stage(st: Path): Long = {
      Seq(7L, 8L).toDF("v").coalesce(1).write.mode("overwrite").parquet(s"$st/log")
      2L
    }
    BatchFs.appendOnce(dir, "log", 6L, "", flat)(stage)
    val live = Paths.get(dir, "log")
    val names = BatchFs.children(live).map(_.getFileName.toString)
      .filter(_.endsWith(".parquet"))
    assert(names.nonEmpty && names.forall(_.startsWith("b6-")))
    Files.delete(BatchFs.markerFor(dir, 6L, ""))
    BatchFs.appendOnce(dir, "log", 6L, "", flat)(stage)
    assert(spark.read.parquet(live.toString).as[Long].collect().sorted.toSeq == Seq(7L, 8L))
  }

  test("an empty stage writes marker 0 and no data file") {
    val dir = tmpDir("commit-empty-")
    assert(BatchFs.appendOnce(dir, "log", 7L, "", Logs)(_ => 0L) == 0L)
    assert(markers(dir) == List("7") && markerPayload(dir, 7L, "") == "0")
    assert(liveFiles(dir).isEmpty)
    assert(!Files.exists(Paths.get(dir, "_staging", "log-batch-7")))
  }

  test("a lease lost between stage and commit changes no live dir and writes no marker") {
    val dir = tmpDir("commit-lease-")
    BatchFs.appendOnce(dir, "log", 8L, "", Logs)(stageRows)
    val before = liveFiles(dir)
    val lock = Paths.get(dir, "_lock.log")
    val e = intercept[IllegalStateException](
      BatchFs.appendOnce(dir, "log", 9L, "", Logs) { st =>
        val n = stageRows(st)
        // another writer took the lease over while this one staged
        Files.write(lock, "successor-token".getBytes("UTF-8"))
        n
      })
    assert(e.getMessage.contains("lease lost"))
    assert(liveFiles(dir) == before)
    assert(markers(dir) == List("8"))
    // the successor's lock is left in place
    assert(new String(Files.readAllBytes(lock), "UTF-8") == "successor-token")
  }

  test("NbClassifier.appendModelBatch: a committed batch replays as a no-op") {
    val dir = tmpDir("nb-replay-")
    NbClassifier.saveModel(Seq(
      (0L, Seq("good", "clean"), true), (1L, Seq("spam", "junk"), false))
      .toDF("id", "toks", "label"), dir)
    val wave = Seq((2L, Seq("clean", "prose"), true), (3L, Seq("junk"), false))
      .toDF("id", "toks", "label")
    assert(NbClassifier.appendModelBatch(spark, dir, wave, 1L, "t") == 2L)
    def snapshot(): (Set[String], Long, Long) = {
      val files = Seq("terms", "docs").flatMap { sub =>
        BatchFs.children(Paths.get(dir, sub)).filter(Files.isDirectory(_))
          .flatMap(d => BatchFs.children(d).map(_.getFileName.toString))
          .filter(_.endsWith(".parquet"))
      }.toSet
      (files, spark.read.parquet(s"$dir/terms").count(),
        spark.read.parquet(s"$dir/docs").count())
    }
    val committed = snapshot()
    assert(committed._1.exists(_.startsWith("bt-1-")))
    assert(NbClassifier.appendModelBatch(spark, dir, wave, 1L, "t") == 0L)
    assert(snapshot() == committed)
  }

  test("SpanDedup.appendWindowIndexBatch: a committed batch replays as a no-op") {
    val dir = tmpDir("span-replay-")
    val words = (0 until 12).map(i => s"w$i").mkString(" ")
    SpanDedup.saveWindowIndex(Seq((0L, words)).toDF("id", "sentence"), dir)
    val wave = Seq((1L, words), (2L, (0 until 10).map(i => s"u$i").mkString(" ")))
      .toDF("id", "sentence")
    val n = SpanDedup.appendWindowIndexBatch(spark, dir, wave, 1L)
    assert(n > 0L)
    val counts = spark.read.parquet(s"$dir/counts")
      .groupBy(col("wtext")).agg(sum(col("occ")).as("occ")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(SpanDedup.appendWindowIndexBatch(spark, dir, wave, 1L) == 0L)
    val again = spark.read.parquet(s"$dir/counts")
      .groupBy(col("wtext")).agg(sum(col("occ")).as("occ")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == counts)
    assert(markers(dir) == List("1"))
  }
}
