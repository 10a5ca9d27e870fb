package graft

import org.apache.spark.sql.functions._
import graft.streaming.{EventsStreaming, StatefulSessions}

/** flatMapGroupsWithState sessionization: the custom state machine
  * must reproduce the declarative session_window twin exactly, across
  * micro-batch boundaries, with watermark-driven emission. */
class StatefulSessionsSpec extends SparkSpec {
  import StatefulSessions.Sess

  test("merge: strict-inside gap semantics (event AT last+gap starts a new session)") {
    val gap = 30L * 60 * 1000000
    val base = 1000000L
    val one = StatefulSessions.merge(Nil,
      Array((base, 100L), (base + gap - 1, 200L)))
    assert(one == List(Sess(base, base + gap - 1, 2, 300L)))
    val two = StatefulSessions.merge(Nil,
      Array((base, 100L), (base + gap, 200L)))
    assert(two == List(
      Sess(base, base, 1, 100L), Sess(base + gap, base + gap, 1, 200L)))
  }

  test("merge: out-of-order arrivals join open state sessions transitively") {
    val t = 1000000L
    // open session [t, t+10m]; arrivals at t+35m and t+20m — the t+20m
    // event bridges: all three merge into one session
    val tenMin = 10L * 60 * 1000000
    val open = List(Sess(t, t + tenMin, 3, 500L))
    val got = StatefulSessions.merge(open,
      Array((t + 35 * 60 * 1000000L, 100L), (t + 2 * tenMin, 50L)))
    assert(got == List(Sess(t, t + 35 * 60 * 1000000L, 5, 650L)))
  }

  test("stateful sessions equal the session_window twin on replay (bit-identical rows)") {
    val streamed = EventsStreaming.runToCompletion(
      StatefulSessions.userSessionsStateful(
        EventsStreaming.readEvents(spark, sfSmall), watermarkDelay = "0 seconds"),
      "test_stateful_sessions")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = graft.operators.RelationalOps.userSessions(spark, sfSmall)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed.nonEmpty, "replay must close at least one session")
    assert(streamed.subsetOf(batch),
      s"stateful rows not in batch twin: ${streamed.diff(batch).take(3)}")
    // same emission bounds as the session_window streaming test: every
    // session the final watermark strictly passed must have emitted
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
    val lo = sessions.count(s => s.head + gapMs < maxTs - 1)
    val hi = sessions.count(s => s.head + gapMs < maxTs + 1 || (s.head - maxTs).abs <= 1)
    assert(streamed.size >= lo && streamed.size <= hi,
      s"expected [$lo, $hi] closed sessions, emitted ${streamed.size}")
  }

  test("state survives micro-batch boundaries: one session split across files") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val dir = tmpDir("stateful-sess-")
    // f0: user 7 events at 0min and 10min      (open session)
    // f1: user 7 at 25min — merges into it      (cross-batch extension)
    // f2: user 9 at 300min — watermark advances past user 7's close
    val files = Seq(
      Seq((7L, at(0), 1.0), (7L, at(10), 2.0)),
      Seq((7L, at(25), 4.0)),
      Seq((9L, at(300), 8.0)))
    files.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "ts", "value")
        .withColumn("event_id", lit(i.toLong))
        .coalesce(1).write.parquet(s"$dir/f$i")
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f$i"))
        .filter(_.toString.endsWith(".parquet"))
        .forEach(p => java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$dir/part$i.parquet")))
    }
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE, event_id LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val out = EventsStreaming.runToCompletion(
      StatefulSessions.userSessionsStateful(stream, watermarkDelay = "0 seconds"),
      "test_stateful_split")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // user 7's three events are ONE session (gaps 10min, 15min < 30min),
    // closed once user 9's event pushes the watermark past 25min+gap
    assert(out == Set((7L, "2026-01-01 00:00:00", 3L, 7.0)),
      s"got $out")
  }
}
