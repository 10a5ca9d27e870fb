package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state sessionization via `flatMapGroupsWithState` — the
  * KeyValueGroupedDataset custom-state API (SURVEY.md §2.9), exercised
  * on the same 30-minute-gap session semantics as
  * `RelationalOps.sessionize` / `EventsStreaming.userSessions` so the
  * built-in `session_window` twin is the ground truth.
  *
  * Where `session_window` is declarative (Catalyst owns merge order
  * and state layout), this operator owns its state machine: per user,
  * a list of OPEN sessions; arriving events gap-merge into it; a
  * session emits exactly once, when the event-time watermark passes
  * its close (last event + gap) — either observed while processing the
  * group's new events or via an EventTimeTimeout when the user goes
  * quiet. This is the API to reach for when session state is richer
  * than an aggregate (e.g. carrying a bounded event sample or a model
  * update per session) — the declarative twin cannot express that.
  *
  * Scale posture: state is per-user open sessions only (bounded by the
  * watermark horizon — closed sessions leave the store), keyed and
  * shuffled once on user_id; each micro-batch touches only keys with
  * arrivals or timeouts. Session merge semantics match session_window
  * exactly: an event extends a session iff it lands strictly inside
  * (start, last + gap); sums accumulate in exact integer cents with
  * half-up cent rounding (≡ the batch twin's decimal(18,2) cast).
  */
object StatefulSessions {

  /** One open session: [startUs, lastUs] in epoch micros, event count,
    * exact value sum in cents. */
  case class Sess(startUs: Long, lastUs: Long, n: Long, cents: Long)

  /** Emitted row — same schema as RelationalOps.sessionize. */
  case class SessionRow(user_id: Long, session_start: String,
                        n_events: Long, sum_value: Double)

  private val GapUs = 30L * 60 * 1000000

  // valueOf (shortest decimal representation), NOT new BigDecimal
  // (exact binary expansion): Spark's double->decimal(18,2) cast goes
  // through Decimal(double) = BigDecimal.valueOf, so e.g. 2.675
  // (stored 2.67499999…) must round to 2.68 here too or the batch
  // twin's parity breaks on inputs with >2 decimal digits.
  private def toCents(value: Double): Long =
    java.math.BigDecimal.valueOf(value)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .movePointRight(2).longValueExact()

  private def fmt(us: Long): String = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    fmt.format(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), 0))
  }

  private def emit(user: Long, s: Sess): SessionRow =
    SessionRow(user, fmt(s.startUs), s.n, s.cents / 100.0)

  /** Gap-merge sorted events into the (sorted, disjoint) open-session
    * list. Strict-inside semantics: ts < last + gap extends; equality
    * starts a new session (session_window's half-open [last, last+gap)
    * interval). */
  private[graft] def merge(open: List[Sess],
                           events: Array[(Long, Long)]): List[Sess] = {
    val all = (open ++ events.map { case (us, c) => Sess(us, us, 1L, c) })
      .sortBy(s => (s.startUs, s.lastUs))
    all.foldLeft(List.empty[Sess]) {
      case (cur :: rest, next) if next.startUs < cur.lastUs + GapUs =>
        Sess(cur.startUs, math.max(cur.lastUs, next.lastUs),
          cur.n + next.n, cur.cents + next.cents) :: rest
      case (acc, next) => next :: acc
    }.reverse
  }

  private def handleGroup(user: Long,
                          events: Iterator[(Long, java.sql.Timestamp, Double)],
                          state: GroupState[List[Sess]]): Iterator[SessionRow] = {
    val wm = state.getCurrentWatermarkMs() * 1000L
    val sessions =
      if (state.hasTimedOut) state.getOption.getOrElse(Nil)
      else {
        val incoming = events.map { case (_, ts, v) =>
          val i = ts.toInstant
          (i.getEpochSecond * 1000000L + i.getNano / 1000L, toCents(v))
        }.toArray.sortBy(_._1)
        merge(state.getOption.getOrElse(Nil), incoming)
      }
    val (closed, open) = sessions.partition(_.lastUs + GapUs <= wm)
    if (open.isEmpty) state.remove()
    else {
      state.update(open)
      // wake this key when the earliest open session can close; the
      // API requires a timeout strictly beyond the current watermark,
      // which open sessions satisfy by construction
      state.setTimeoutTimestamp(
        Math.floorDiv(open.map(_.lastUs).min + GapUs, 1000L) + 1)
    }
    closed.sortBy(_.startUs).iterator.map(emit(user, _))
  }

  /** The streaming query: watermark → groupByKey(user) →
    * flatMapGroupsWithState(EventTimeTimeout), append output. */
  def userSessionsStateful(stream: DataFrame,
                           watermarkDelay: String = "1 hour"): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[Sess], SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(handleGroup)
      .toDF()
  }
}
