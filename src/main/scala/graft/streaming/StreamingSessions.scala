package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming gap-based sessionization — the stateful-streaming twin of
  * the batch sessionizer (`AggQueries.w8`): per-user sessions close
  * after 30 min of inactivity. State per user is the OPEN session only
  * (bounded: one small struct per active user, evicted by event-time
  * timeout once the watermark passes the gap), so state size tracks
  * concurrently-active users, not history — the shape that survives an
  * unbounded stream.
  *
  * Emission contract (Append mode): a session row is emitted exactly
  * once, when it CLOSES — either a later event arrives past the gap, or
  * the event-time timeout fires after the watermark passes
  * session-end + gap. Late (out-of-order) events inside the gap of the
  * open session merge into it, extending its start downward; a late
  * event beyond the gap BEFORE the open session is emitted as a
  * singleton session (the one-open-session-per-user state bound means
  * already-closed sessions cannot be reopened).
  */
object StreamingSessions {

  final case class Click(userId: Long, eventId: Long,
      ts: java.sql.Timestamp)
  final case class SessionState(startUs: Long, endUs: Long, n: Long)
  final case class Session(userId: Long, startUs: Long, endUs: Long,
      nEvents: Long, durationSecs: Long)

  val GapUs: Long = 1800000000L // 30 min, as w8

  def sessions(clicks: Dataset[Click]): Dataset[Session] = {
    val spark = clicks.sparkSession
    import spark.implicits._
    clicks
      .withWatermark("ts", "1 hour")
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, events, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(uid, s.startUs, s.endUs, s.n,
              (s.endUs - s.startUs) / 1000000L))
          } else {
            // within a micro-batch, fold in event-time order (the
            // cross-batch order is the source's block cadence, as in
            // StreamingBalances)
            val sorted = events.toSeq
              .sortBy(e => (e.ts.getTime, e.eventId))
            val out = Seq.newBuilder[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000L
              cur match {
                // within the gap of EITHER session edge: merge, and let
                // a late event extend the session's start downward —
                // the watermark admits out-of-order data, so `us` can
                // precede startUs
                case Some(s) if us >= s.startUs - GapUs &&
                    us <= s.endUs + GapUs =>
                  cur = Some(SessionState(math.min(s.startUs, us),
                    math.max(s.endUs, us), s.n + 1))
                // past the gap AFTER the open session: close it, open new
                case Some(s) if us > s.endUs + GapUs =>
                  out += Session(uid, s.startUs, s.endUs, s.n,
                    (s.endUs - s.startUs) / 1000000L)
                  cur = Some(SessionState(us, us, 1))
                // detached LATE event, beyond the gap BEFORE the open
                // session: it belongs to an already-gone earlier
                // session — emit it as its own singleton rather than
                // corrupting the open one (bounded-state approximation:
                // only ONE open session is kept per user)
                case Some(_) =>
                  out += Session(uid, us, us, 1, 0L)
                case None => cur = Some(SessionState(us, us, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // evict once the watermark passes the inactivity gap
              state.setTimeoutTimestamp(s.endUs / 1000L + GapUs / 1000L)
            }
            out.result().iterator
          }
      }
  }
}
