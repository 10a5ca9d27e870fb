package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import OracleFragments._

/** Structured Streaming surface (SURVEY §2.9): windowed aggregation, stream-stream joins, stateful sessions.
  *
  * One slice of the driver registry (see [[graft.SparkEntry]], which
  * composes all slices): entry text is verbatim from the pre-split
  * SparkEntry, so the oracle gate's evidence carries over unchanged.
  */
private[graft] object StreamingRegistry {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- streaming (SURVEY §2.9): watermark + tumbling window over a
    // finite replay must equal the batch aggregate ---
    // streaming curation: quality filter + state-store fingerprint
    // dedup over a file-landing replay; the fingerprint SET is
    // deterministic (which duplicate survives is not — only the set is
    // compared)
    "doc_curation_stream" -> ((s, d) =>
      graft.streaming.DocCuration.curatedFingerprints(s, d)),
    "events_hourly_stream" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      graft.streaming.EventsStreaming.runToCompletion(
        graft.streaming.EventsStreaming.eventsHourly(
          graft.streaming.EventsStreaming.readEvents(s, d)), "events_hourly")
        .orderBy(col("hour").asc, col("event_type").asc)
    }),
    // stream-stream join: click->purchase attribution pairs with
    // per-side watermarks; single-batch replay emits every pair, so a
    // full SQL oracle applies
    "attribution_stream" -> ((s, d) =>
      graft.streaming.ClickAttribution.attributionReplay(s, d)),
    // custom-state sessionization (flatMapGroupsWithState +
    // EventTimeTimeout): append emits watermark-closed sessions only —
    // a strict, DETERMINISTIC subset of the batch twin (bit-identical
    // rows, StatefulSessionsSpec), so the oracle is the user_sessions
    // SQL restricted to sessions whose close (last event + 30 min gap)
    // the final watermark passed: wm = floor_ms(max ts) − 1 h, the
    // exact value Spark's EventTimeWatermark computes on replay
    "user_sessions_stateful" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      graft.streaming.EventsStreaming.runToCompletion(
        graft.streaming.StatefulSessions.userSessionsStateful(
          graft.streaming.EventsStreaming.readEvents(s, d)), "sessions_stateful")
        .orderBy(col("user_id").asc, col("session_start").asc)
    }),
  )

  val oracles: Map[String, String] = Map(

    // the stateful twin emits exactly the sessions the final watermark
    // closed: Spark tracks event-time max in ms (µs floor), subtracts
    // the 1 h delay, and a session emits iff last_event + 30 min gap
    // <= that watermark — all deterministic on replay, so the batch SQL
    // plus the watermark predicate states the streamed output exactly
    "user_sessions_stateful" ->
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM o),
        |s AS (
        |  SELECT user_id, ts, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM m),
        |g AS (
        |  SELECT user_id, MIN(ts) AS start_ts, MAX(ts) AS last_ts,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM s GROUP BY user_id, sess),
        |w AS (SELECT ((epoch_us(MAX(CAST(ts AS TIMESTAMP))) // 1000)
        |              - 3600000) * 1000 AS wm_us FROM events)
        |SELECT user_id,
        |  strftime(start_ts, '%Y-%m-%d %H:%M:%S') AS session_start,
        |  n_events, sum_value
        |FROM g, w
        |WHERE epoch_us(CAST(last_ts AS TIMESTAMP)) + 1800000000 <= wm_us
        |ORDER BY user_id, session_start""".stripMargin,
    // streaming curation replay ≡ batch: distinct fingerprints of
    // quality-passing docs (same quality predicate as text_quality)
    "doc_curation_stream" ->
      s"""WITH $sqlCorpusToks
         |SELECT DISTINCT md5(coalesce(list_aggregate(toks, 'string_agg', ' '), '')) AS md5_norm
         |FROM corpus
         |WHERE (length(regexp_replace(sentence, '[^A-Za-z]', '', 'g'))::DOUBLE / length(sentence) > 0.5
         |  AND len(toks) >= 5 AND len(toks) <= 100000
         |  AND len(list_filter(toks, t -> t IN ('the','a','an','of','to','and','in','is','it','that')))::DOUBLE
         |      / greatest(len(toks), 1) > 0.0)
         |ORDER BY md5_norm""".stripMargin,
    // the streaming replay has no late data, so the watermarked
    // windowed aggregate must equal the batch hourly rollup exactly.
    "events_hourly_stream" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // stream-stream join on a single-batch replay = the batch
    // inequality join, pair for pair
    "attribution_stream" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,
  )
}
