package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventsStreaming

/** Structured Streaming parity: the watermarked windowed aggregate
  * over a finite replay must equal the batch query (no late data). */
class StreamingSpec extends SparkSpec {

  test("streaming events_hourly equals the batch aggregate on replay") {
    val streamed = EventsStreaming.runToCompletion(
      EventsStreaming.eventsHourly(EventsStreaming.readEvents(spark, sfSmall)),
      "test_events_hourly")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val batch = graft.operators.RelationalOps.eventsHourly(spark, sfSmall)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed == batch)
  }

  test("streaming session_window: append emits exactly the watermark-closed sessions") {
    val streamed = EventsStreaming.runToCompletion(
      EventsStreaming.userSessions(EventsStreaming.readEvents(spark, sfSmall),
        watermarkDelay = "0 seconds"),
      "test_sessions")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = graft.operators.RelationalOps.userSessions(spark, sfSmall)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // emitted rows must be a subset of the batch sessions, bit-identical
    assert(streamed.subsetOf(batch),
      s"streamed rows not in batch: ${streamed.diff(batch).take(3)}")
    // and every session the final watermark (= max event ts at delay 0)
    // strictly passed — end = last event + 30min gap < max ts — must
    // have been emitted. Derive session ends driver-side.
    val events = Tables.events(spark, sfSmall)
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    val maxTs = events.map(_._2).max
    val gapMs = 30L * 60 * 1000
    val sessions = events.groupBy(_._1).iterator.flatMap { case (_, rows) =>
      val ts = rows.map(_._2).sorted
      ts.foldLeft(List.empty[List[Long]]) {
        case (Nil, t) => List(List(t))
        case (cur :: done, t) =>
          if (t - cur.head >= gapMs) List(t) :: cur :: done
          else (t :: cur) :: done
      }
    }.toSeq
    // must emit: sessions the final watermark (max ts, delay 0)
    // strictly passed. May also emit: sessions whose last event sits
    // exactly AT the watermark (observed no-data-batch eviction corner;
    // ±1ms slack because collected timestamps truncate micros).
    val lo = sessions.count(s => s.head + gapMs < maxTs - 1)
    val hi = sessions.count(s => s.head + gapMs < maxTs + 1 || (s.head - maxTs).abs <= 1)
    assert(streamed.size >= lo && streamed.size <= hi,
      s"expected [$lo, $hi] closed sessions, streamed ${streamed.size}")
  }

  test("streaming curation: cross-micro-batch dedup, set equals batch curation") {
    import graft.streaming.DocCuration
    import graft.operators.TextAnalytics
    import spark.implicits._
    // three files, one per micro-batch; the same high-quality sentence
    // is planted in files 1 and 3 so dedup must work ACROSS batches
    val goodA = "the quick brown fox jumps over the lazy dog again and again"
    val goodB = "a model of the data is trained on the corpus of documents"
    val lowQ = "zz zz zz"  // fails quality (no stopwords, < 5 distinct alpha)
    val dir = tmpDir("doc-stream-")
    val files = Seq(
      Seq((0L, goodA), (1L, lowQ)),
      Seq((2L, goodB)),
      Seq((3L, goodA), (4L, "  ")))  // duplicate of file-1 doc + blank
    files.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.parquet(s"$dir/f$i")
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f$i"))
        .filter(_.toString.endsWith(".parquet"))
        .forEach(p => java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$dir/part$i.parquet")))
    }
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val out = EventsStreaming.runToCompletion(
      DocCuration.curateDocuments(stream), "doc_curation_test")
    val got = out.select("md5_norm").collect().map(_.getString(0)).sorted.toSeq
    // batch ground truth: distinct fingerprints of quality-passing docs
    val batch = files.flatten.toDF("doc_id", "text")
      .withColumn("sentence", trim(col("text")))
      .where(length(col("sentence")) > 0)
      .where(TextAnalytics.qualityKeep(col("sentence")))
      .select(md5(concat_ws(" ", TextAnalytics.tokens(col("sentence")))).as("m"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(got == batch, "stream fingerprint set must equal batch curation")
    assert(got.size == 2, s"goodA dedups across micro-batches, lowQ/blank drop: $got")
  }

  test("exactly-once curation sink: kill-rerun lands zero duplicate rows") {
    import graft.streaming.DocCuration
    import spark.implicits._
    val goodA = "the quick brown fox jumps over the lazy dog again and again"
    val goodB = "a model of the data is trained on the corpus of documents"
    val goodC = "every document in the corpus is scored for quality and kept"
    val landing = tmpDir("cur-sink-landing-")
    val outDir = tmpDir("cur-sink-out-")
    val ckpt = tmpDir("cur-sink-ckpt-")
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tmpDir("cur-sink-stage-")
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet"))
        .forEach(p => java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$landing/$name.parquet")))
    }
    def run(): Unit = {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
      DocCuration.curateToParquet(stream, outDir, Some(ckpt)).awaitTermination()
    }
    stage("part0", Seq((0L, goodA), (1L, goodB)))
    run()
    assert(DocCuration.readCurated(spark, outDir).count() == 2)
    // relaunch (the "kill-rerun"): same checkpoint, one new file whose
    // goodA is a CROSS-RESTART duplicate — the dedup state store must
    // survive the restart, and part0 must not be re-appended
    stage("part1", Seq((2L, goodA), (3L, goodC)))
    run()
    // third launch with nothing new: a no-op
    run()
    val cur = DocCuration.readCurated(spark, outDir)
    assert(cur.count() == 3, "goodA must dedup across the restart")
    assert(cur.select("md5_norm").distinct().count() == 3)
    assert(cur.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L, 3L))
  }

  test("checkpointNamespace: every spelling of one checkpoint shares one marker space") {
    import graft.streaming.IndexMaintenance.checkpointNamespace
    val base = checkpointNamespace(Some("/tmp/graft-ckpt"))
    // respellings a restart script can plausibly produce — each would
    // have silently forked the idempotence namespace before r7
    assert(checkpointNamespace(Some("file:/tmp/graft-ckpt")) == base, "URI spelling")
    assert(checkpointNamespace(Some("/tmp/graft-ckpt/")) == base, "trailing slash")
    assert(checkpointNamespace(Some("/tmp/../tmp/graft-ckpt")) == base, "dot-dot")
    // distinct checkpoints must not collide; throwaway runs are unique
    assert(checkpointNamespace(Some("/tmp/graft-ckpt-2")) != base)
    assert(checkpointNamespace(None) != checkpointNamespace(None))
  }

  test("appendCuratedBatch: committed replay is a no-op; a pre-marker crash repairs") {
    import graft.streaming.DocCuration
    import spark.implicits._
    val out = tmpDir("cur-batch-out-")
    val batch = Seq((9L, "one curated row")).toDF("doc_id", "text")
    assert(DocCuration.appendCuratedBatch(out, batch, 3L, "t") == 1L)
    assert(spark.read.parquet(s"$out/data").count() == 1)
    // at-least-once replay AFTER the marker: no-op
    assert(DocCuration.appendCuratedBatch(out, batch, 3L, "t") == 0L)
    assert(spark.read.parquet(s"$out/data").count() == 1)
    // crash BETWEEN the data write and the marker: delete the marker
    // and replay — overwrite repairs the directory, never doubles it
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$out/_committed/v2/t-3"))
    assert(DocCuration.appendCuratedBatch(out, batch, 3L, "t") == 1L)
    assert(spark.read.parquet(s"$out/data").count() == 1)
  }

  test("bounded curation dedup: state expires with the watermark") {
    import graft.streaming.DocCuration
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog again and again"
    val other = "a model of the data is trained on the corpus of documents"
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600L * 1000)
    val dir = tmpDir("doc-bounded-")
    // the dedup decision uses the PREVIOUS batch's watermark, so state
    // eviction needs an intervening batch to advance it:
    // f0: original at T0 (kept; state expiry keeps extending with dups)
    // f1: dup at T0+3h — batch watermark is T0-1h, state alive -> drop
    // f2: unrelated doc at T0+9h — advances the watermark to T0+8h
    // f3: dup at T0+10h — batch watermark T0+8h > every prior expiry,
    //     state evicted -> the duplicate is ADMITTED again
    Seq((0, Seq((0L, good, at(0)))), (1, Seq((1L, good, at(3)))),
        (2, Seq((2L, other, at(9)))), (3, Seq((3L, good, at(10))))
    ).foreach { case (i, rows) =>
      rows.toDF("doc_id", "text", "arrival_ts")
        .coalesce(1).write.parquet(s"$dir/f$i")
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f$i"))
        .filter(_.toString.endsWith(".parquet"))
        .forEach(p => java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$dir/part$i.parquet")))
    }
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, arrival_ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val out = graft.streaming.EventsStreaming.runToCompletion(
      DocCuration.curateDocumentsBounded(stream, "1 hour"), "doc_bounded")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(0L, 2L, 3L),
      s"in-horizon dup dropped, post-expiry dup re-admitted; got $out")
  }

  test("stream-stream attribution join equals the batch inequality join pair-for-pair") {
    import graft.streaming.ClickAttribution
    val streamed = ClickAttribution.attributionReplay(spark, sfSmall)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = Tables.events(spark, sfSmall)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
    val batch = c.join(p, col("user_id") === col("pu") &&
        col("pts") > col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
      .select("click_id", "purchase_id", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"missing=${batch.diff(streamed).take(3)} extra=${streamed.diff(batch).take(3)}")
    assert(streamed.nonEmpty, "replay must produce at least one attributed pair")
  }

  test("stream-stream join matches across micro-batch boundaries (click and purchase in different batches)") {
    import spark.implicits._
    import graft.streaming.EventsStreaming
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val dir = tmpDir("ss-join-")
    // f0: click by user 1; f1: purchase by user 1 at +20min (in window)
    // and a purchase at +90min (out of window)
    val files = Seq(
      Seq((100L, at(0), 1L, "click", 1.0, "{}")),
      Seq((200L, at(20), 1L, "purchase", 5.0, "{}"),
          (201L, at(90), 1L, "purchase", 7.0, "{}")))
    files.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/f$i")
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f$i"))
        .filter(_.toString.endsWith(".parquet"))
        .forEach(q => java.nio.file.Files.move(q,
          java.nio.file.Paths.get(s"$dir/part$i.parquet")))
    }
    def side(tpe: String, idAs: String, userAs: String, tsAs: String) =
      spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs), col("user_id").as(userAs), col("ts").as(tsAs))
        .withWatermark(tsAs, "1 hour")
    val joined = side("click", "click_id", "c_user", "cts")
      .join(side("purchase", "purchase_id", "p_user", "pts"),
        col("c_user") === col("p_user") &&
          col("pts") > col("cts") &&
          col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
      .select("click_id", "purchase_id")
    val got = EventsStreaming.runToCompletion(joined, "ss_join_split")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 200L)),
      s"cross-batch in-window pair joins, out-of-window does not: $got")
  }

  test("readEvents stage self-heals a dangling symlink and links absolutely") {
    import java.nio.file.{Files, Paths}
    // a RELATIVE sfDir under repo root, so the old staging bug
    // (link target taken verbatim → dangling relative link that
    // exists() then reports absent while createSymbolicLink throws
    // AlreadyExists) would reproduce here
    val name = "stagetest-events"
    val srcDir = Paths.get(s"target/$name")
    Files.createDirectories(srcDir)
    Files.copy(Paths.get(s"$sfSmall/events.parquet"),
      srcDir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val stage = Paths.get(s"/root/repo/target/stream-src/$name")
    Files.createDirectories(stage)
    val link = stage.resolve("events.parquet")
    Files.deleteIfExists(link)
    Files.createSymbolicLink(link, Paths.get("no/such/file.parquet"))
    val df = EventsStreaming.readEvents(spark, s"target/$name")
    assert(Files.isSymbolicLink(link) &&
      Files.exists(link) && // follows: the repaired link resolves
      Files.readSymbolicLink(link).isAbsolute,
      s"stage link not healed: -> ${Files.readSymbolicLink(link)}")
    val rows = EventsStreaming.runToCompletion(
      df.select("event_id"), "test_stage_selfheal").count()
    assert(rows == Tables.events(spark, sfSmall).count())
    Files.deleteIfExists(link)
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    val deduped = EventsStreaming.runToCompletion(
      EventsStreaming.dedupEvents(EventsStreaming.readEvents(spark, sfSmall)),
      "test_dedup_events")
    val total = Tables.events(spark, sfSmall).count()
    val distinct = Tables.events(spark, sfSmall).select("event_id").distinct().count()
    assert(deduped.count() == distinct)
    assert(deduped.select("event_id").distinct().count() == distinct)
    assert(total >= distinct)
  }
}
