package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed event record matching the `events` fixture schema. */
final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** One closed session. */
final case class Session(user_id: Long, session_start: Timestamp,
    n_events: Long, duration_sec: Long)

/** In-flight per-user state. */
final case class SessionState(start: Long, last: Long, n: Long)

/** Stateful sessionization via flatMapGroupsWithState (§2.10 custom state —
  * the KeyValueGroupedDataset surface). Semantics match the batch
  * gaps-and-islands query `events_sessions` (EventStreams.scala): a session
  * closes after `gapSec` idle seconds.
  *
  * Scale posture: state is one small record per ACTIVE user (not per
  * event); with event-time timeout + watermark, closed-session state is
  * dropped, so streaming memory is bounded by concurrent users in the gap
  * window, independent of stream length.
  */
object Sessionize {

  val DefaultGapSec: Long = 1800L

  /** Full microsecond precision: getTime is ms-truncated, the sub-ms part
    * lives in getNanos — dropping it would disagree with the SQL twin's
    * unix_micros at exact-gap boundaries, and with its `ORDER BY ts` on
    * events in the same millisecond. */
  private def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Group function: walks a user's events in time order, emitting every
    * closed session and carrying the open one in state. In batch mode each
    * group arrives complete (state starts empty, final session emitted). */
  def sessionizeGroup(gapSec: Long, emitOpen: Boolean)(
      user: Long, rows: Iterator[Event], state: GroupState[SessionState]): Iterator[Session] = {
    val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
    val out = Seq.newBuilder[Session]
    var st = state.getOption.orNull
    for (e <- sorted) {
      val t = micros(e.ts)
      if (st == null) st = SessionState(t, t, 1L)
      else if (t - st.last > gapSec * 1000000L) {
        out += Session(user, new Timestamp(st.start / 1000L), st.n,
          (st.last - st.start) / 1000000L)
        st = SessionState(t, t, 1L)
      } else st = SessionState(st.start, t, st.n + 1L)
    }
    if (state.hasTimedOut) {
      // streaming: gap elapsed in event time — close the open session
      if (st != null) {
        out += Session(user, new Timestamp(st.start / 1000L), st.n,
          (st.last - st.start) / 1000000L)
        st = null
      }
      state.remove()
    } else if (st != null) {
      if (emitOpen) {
        // batch mode: the group is complete — emit the trailing session
        out += Session(user, new Timestamp(st.start / 1000L), st.n,
          (st.last - st.start) / 1000000L)
      } else {
        state.update(st)
        state.setTimeoutTimestamp(st.last / 1000L + gapSec * 1000L)
      }
    }
    out.result().iterator
  }

  /** Batch flavor: every group is complete, all sessions are emitted. */
  def sessionizeBatch(events: Dataset[Event], gapSec: Long = DefaultGapSec): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        sessionizeGroup(gapSec, emitOpen = true))
  }

  /** Streaming flavor: watermark + event-time timeout drop closed state. */
  def sessionizeStream(spark: SparkSession, events: Dataset[Event],
      gapSec: Long = DefaultGapSec): Dataset[Session] = {
    import spark.implicits._
    events.withWatermark("ts", s"$gapSec seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        sessionizeGroup(gapSec, emitOpen = false))
  }
}
