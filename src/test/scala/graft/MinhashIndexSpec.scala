package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{Dedup, MinhashIndex}

/** Persisted MinHash-LSH index (see MinhashIndex scaladoc): probing a
  * wave against stored band rows equals the direct LSH join, appends
  * extend the index without rebuilding, and planted duplicates across
  * the wave/index boundary surface with their exact Jaccard. */
class MinhashIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: (Long, String)*): DataFrame =
    rows.toDF("id", "sentence")

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSet

  /** Direct (non-persisted) reference: band join of probe × index
    * frames through the same signature pipeline. */
  private def directProbe(index: DataFrame, probeDf: DataFrame,
                          minJaccard: Double): Set[(Long, Long, Double)] = {
    val all = Dedup.dedupMinhashCorpus(
      index.unionByName(probeDf), minJaccard)
    // dedupMinhash emits a<b pairs within the union; keep only
    // cross-half pairs and orient them (probe, index)
    val idxIds = index.select("id").as[Long].collect().toSet
    pairs(all).flatMap { case (a, b, j) =>
      if (idxIds.contains(a) && !idxIds.contains(b)) Some((b, a, j))
      else if (!idxIds.contains(a) && idxIds.contains(b)) Some((a, b, j))
      else None
    }
  }

  private def filler(tag: Char, n: Int): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  test("planted exact duplicate across the wave boundary is found at jaccard 1.0") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val idx = corpus(0L -> shared, 2L -> filler('x', 12))
    val wave = corpus(1L -> shared, 3L -> filler('y', 12))
    val dir = tmpDir("mh-idx")
    MinhashIndex.save(idx, dir)
    val got = pairs(MinhashIndex.probe(spark, dir, wave))
    assert(got == Set((1L, 0L, 1.0)))
  }

  test("probe against the persisted index equals the direct LSH join") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val idx = corpus(
      0L -> base,
      2L -> filler('a', 15),
      4L -> "one two three four five six seven eight nine ten")
    val wave = corpus(
      1L -> base.replace("lazy", "sleepy"), // near dup of 0
      3L -> filler('b', 15),
      5L -> "one two three four five six seven eight nine ten") // exact dup of 4
    val dir = tmpDir("mh-idx")
    MinhashIndex.save(idx, dir)
    val got = pairs(MinhashIndex.probe(spark, dir, wave, minJaccard = 0.5))
    assert(got == directProbe(idx, wave, 0.5))
    assert(got.exists(p => p._1 == 5L && p._2 == 4L && p._3 == 1.0))
  }

  test("append extends the index: a later wave matches appended documents") {
    val s1 = "red orange yellow green blue indigo violet ultraviolet"
    val s2 = "north south east west up down left right forward backward"
    val dir = tmpDir("mh-idx")
    MinhashIndex.save(corpus(0L -> s1, 2L -> filler('q', 10)), dir)
    assert(MinhashIndex.append(spark, dir,
      corpus(10L -> s2, 12L -> filler('r', 10))) == 2L)
    // wave duplicates one original doc and one appended doc
    val got = pairs(MinhashIndex.probe(spark, dir, corpus(21L -> s1, 23L -> s2)))
    assert(got == Set((21L, 0L, 1.0), (23L, 10L, 1.0)))
  }

  test("appendBatch replay is a no-op: no duplicate band or doc rows") {
    val s1 = "red orange yellow green blue indigo violet ultraviolet"
    val dir = tmpDir("mh-idx")
    MinhashIndex.save(corpus(0L -> filler('q', 10)), dir)
    val wave = corpus(10L -> s1)
    assert(MinhashIndex.appendBatch(spark, dir, wave, 0L, "t") == 1L)
    assert(MinhashIndex.appendBatch(spark, dir, wave, 0L, "t") == 0L) // replay
    val bands = spark.read.parquet(s"$dir/bands").where("id = 10")
    assert(bands.count() == 4L) // 4 bands, appended exactly once
    assert(spark.read.parquet(s"$dir/docs").where("id = 10").count() == 1L)
    // probing still finds the appended doc exactly once
    val got = pairs(MinhashIndex.probe(spark, dir, corpus(21L -> s1)))
    assert(got == Set((21L, 10L, 1.0)))
  }

  test("disjoint wave produces no pairs") {
    val dir = tmpDir("mh-idx")
    MinhashIndex.save(corpus(0L -> filler('m', 10)), dir)
    assert(pairs(MinhashIndex.probe(spark, dir, corpus(1L -> filler('n', 10)))).isEmpty)
  }

  test("dedupStream: each wave probes everything admitted before it, then joins the index") {
    val s1 = "alpha beta gamma delta epsilon zeta eta theta"
    val s2 = "one two three four five six seven eight nine"
    val dir = tmpDir("mh-stream-idx")
    val landing = tmpDir("mh-stream-landing")
    val ckpt = tmpDir("mh-stream-ckpt")
    MinhashIndex.save(corpus(0L -> s1, 2L -> filler('x', 10)), dir)

    val schema = corpus(0L -> "x").schema
    def stage(name: String, rows: (Long, String)*): Unit = {
      val tmp = tmpDir("mh-stream-stage")
      corpus(rows: _*).coalesce(1).write.mode("overwrite").parquet(tmp)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      try files.filter(_.toString.endsWith(".parquet"))
        .forEach(p => java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$landing/$name.parquet")))
      finally files.close()
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(landing)
      graft.streaming.IndexMaintenance.dedupStream(stream, dir,
        (m, _) => seen ++= m.collect().map(r => (r.getLong(0), r.getLong(1))),
        checkpointDir = Some(ckpt)).awaitTermination()
    }
    // wave 1: a dup of the ORIGINAL corpus + a novel doc (s2)
    stage("w1", 11L -> s1, 13L -> s2); run()
    assert(seen.toSet == Set((11L, 0L)))
    // wave 2: a dup of wave 1's novel doc — visible only because wave 1
    // was appended to the index
    seen.clear(); stage("w2", 21L -> s2); run()
    assert(seen.toSet == Set((21L, 13L)))
    // third run with nothing new: no probes, no appends
    seen.clear(); run()
    assert(seen.isEmpty)
    // the index holds originals + both waves exactly once
    assert(spark.read.parquet(s"$dir/docs").select("id").distinct().count() == 5L)
    assert(spark.read.parquet(s"$dir/docs").count() == 5L)
  }

  test("dedupStream replay of a committed batch is skipped: no self-matches, no re-append") {
    // simulate a crash AFTER appendBatch committed batch 0 but BEFORE
    // the streaming offset commit: the batch is already in the index
    // (marker present) when the stream replays it from a fresh
    // checkpoint state — the batch must be skipped entirely, because a
    // re-probe would match the batch against its own appended rows
    val s1 = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = tmpDir("mh-replay-idx")
    val landing = tmpDir("mh-replay-landing")
    val ckpt = tmpDir("mh-replay-ckpt")
    MinhashIndex.save(corpus(0L -> filler('q', 10)), dir)
    val tmp = tmpDir("mh-replay-stage")
    corpus(10L -> s1).coalesce(1).write.mode("overwrite").parquet(tmp)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
    try files.filter(_.toString.endsWith(".parquet"))
      .forEach(p => java.nio.file.Files.move(p,
        java.nio.file.Paths.get(s"$landing/w1.parquet")))
    finally files.close()
    // pre-commit batch 0 under the namespace the stream will derive
    val ns = graft.streaming.IndexMaintenance.checkpointNamespace(Some(ckpt))
    assert(MinhashIndex.appendBatch(spark, dir, corpus(10L -> s1), 0L, ns) == 1L)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stream = spark.readStream.schema(corpus(0L -> "x").schema).parquet(landing)
    graft.streaming.IndexMaintenance.dedupStream(stream, dir,
      (m, _) => seen ++= m.collect().map(r => (r.getLong(0), r.getLong(1))),
      checkpointDir = Some(ckpt)).awaitTermination()
    assert(seen.isEmpty, s"replayed committed batch must not re-probe: $seen")
    assert(spark.read.parquet(s"$dir/docs").where("id = 10").count() == 1L)
  }

  test("dedupStream compacts both logs on its cadence; verdicts and markers survive the fold") {
    val s1 = "alpha beta gamma delta epsilon zeta eta theta"
    val s2 = "one two three four five six seven eight nine"
    val dir = tmpDir("mh-compact-idx")
    val landing = tmpDir("mh-compact-landing")
    val ckpt = tmpDir("mh-compact-ckpt")
    MinhashIndex.save(corpus(0L -> s1, 1L -> filler('x', 10)), dir)
    val schema = corpus(0L -> "x").schema
    def stage(name: String, rows: (Long, String)*): Unit = {
      val tmp = tmpDir("mh-compact-stage")
      corpus(rows: _*).coalesce(1).write.mode("overwrite").parquet(tmp)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      try files.filter(_.toString.endsWith(".parquet"))
        .forEach(p => java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$landing/$name.parquet")))
      finally files.close()
    }
    // 4 waves → 4 micro-batches; cadence fires every batch with a
    // 1-file bound, so both logs fold repeatedly DURING the stream
    stage("w1", 11L -> s1, 12L -> filler('a', 10))
    stage("w2", 21L -> filler('b', 10))
    stage("w3", 31L -> s2)
    stage("w4", 41L -> s2)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    graft.streaming.IndexMaintenance.dedupStream(stream, dir,
      (m, _) => seen ++= m.collect().map(r => (r.getLong(0), r.getLong(1))),
      checkpointDir = Some(ckpt),
      maintainEvery = 1, maxFilesPerPartition = 1).awaitTermination()
    // wave-over-wave probes behaved exactly as without compaction:
    // w1 matched the original, w4 matched w3's novel doc
    assert(seen.toSet == Set((11L, 0L), (41L, 31L)), seen.toString)
    def maxFiles(sub: String): Int = {
      val root = java.nio.file.Paths.get(s"$dir/$sub")
      graft.operators.BatchFs.children(root)
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("bucket="))
        .map(d => graft.operators.BatchFs.children(d)
          .count(_.getFileName.toString.endsWith(".parquet")))
        .foldLeft(0)(math.max)
    }
    // base + 4 waves = 5 files in a hot bucket without compaction; the
    // per-batch fold keeps it at the bound plus the last wave
    assert(maxFiles("bands") <= 2, s"bands log not compacted: ${maxFiles("bands")}")
    assert(maxFiles("docs") <= 2, s"docs log not compacted: ${maxFiles("docs")}")
    // a committed batch replays as a no-op against the compacted index
    val ns = graft.streaming.IndexMaintenance.checkpointNamespace(Some(ckpt))
    assert(MinhashIndex.appendBatch(spark, dir,
      corpus(11L -> s1, 12L -> filler('a', 10)), 0L, ns) == 0L,
      "committed batch must no-op after compaction (marker survived)")
    // the compacted index probes bit-identically to a fresh build over
    // everything admitted
    val admitted = corpus(0L -> s1, 1L -> filler('x', 10), 11L -> s1,
      12L -> filler('a', 10), 21L -> filler('b', 10), 31L -> s2, 41L -> s2)
    val fresh = tmpDir("mh-compact-fresh")
    MinhashIndex.save(admitted, fresh)
    val probeDf = corpus(99L -> s2)
    assert(pairs(MinhashIndex.probe(spark, dir, probeDf)) ==
      pairs(MinhashIndex.probe(spark, fresh, probeDf)))
    assert(spark.read.parquet(s"$dir/docs").count() ==
      spark.read.parquet(s"$dir/docs").select("id").distinct().count())
  }

  test("registered even/odd surface is consistent with its construction on sf0.001") {
    val out = MinhashIndex.minhashProbeFor(spark, sfSmall).collect()
    // orientation: probes odd, index even; verified at >= 0.8
    assert(out.forall(r => r.getLong(0) % 2 == 1 && r.getLong(1) % 2 == 0))
    assert(out.forall(_.getDouble(2) >= 0.8))
  }
}
