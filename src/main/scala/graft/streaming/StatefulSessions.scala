package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom arbitrary-state streaming operator (SURVEY §2.8 streaming row:
  * `flatMapGroupsWithState` for custom state): gap-based sessionization with
  * explicit per-user state — the streaming twin of the batch q17 query, for
  * semantics the built-in `session_window` can't express (emit-on-close with
  * custom payload, explicit state eviction via event-time timeout).
  *
  * Scale: state is one small record per ACTIVE user (not per event), keyed
  * and hash-partitioned by user — state size is bounded by concurrent-user
  * cardinality and the watermark horizon, independent of total throughput.
  */
object StatefulSessions {

  /** Input event (a narrow projection of the events table). */
  final case class UserEvent(user_id: Long, ts: Timestamp, value: Double)

  /** Open-session state: one per user. */
  final case class SessionState(start: Long, lastUs: Long, nEvents: Long, sumValue: Double)

  /** Emitted once per CLOSED session. */
  final case class ClosedSession(user_id: Long, session_start: Timestamp,
      n_events: Long, sess_value: Double)

  /** The session fold both sessionizers run: apply a batch of events, in
    * (time, value) order, to the (possibly absent) open session, emitting
    * the sessions that a gap longer than `gapUs` closes. */
  private[streaming] def fold(user: Long, gapUs: Long, start: Option[SessionState],
      events: Seq[UserEvent]): (Seq[ClosedSession], Option[SessionState]) = {
    val closed = Seq.newBuilder[ClosedSession]
    var cur = start
    events.sortBy(e => (e.ts.getTime, e.value)).foreach { e =>
      val us = e.ts.getTime * 1000L
      cur match {
        case Some(s) if us - s.lastUs > gapUs =>
          closed += close(user, s)
          cur = Some(SessionState(us, us, 1L, e.value))
        case Some(s) =>
          cur = Some(s.copy(lastUs = math.max(s.lastUs, us),
            nEvents = s.nEvents + 1, sumValue = s.sumValue + e.value))
        case None =>
          cur = Some(SessionState(us, us, 1L, e.value))
      }
    }
    (closed.result(), cur)
  }

  /** The emitted record of a closed session. */
  private[streaming] def close(user: Long, s: SessionState): ClosedSession =
    ClosedSession(user, new Timestamp(s.start / 1000L), s.nEvents, s.sumValue)

  /** Sessionize a watermarked [[UserEvent]] stream: a gap of `gapSeconds`
    * of inactivity closes the session; closure is detected either by a later
    * event of the same user or by the event-time timeout (watermark passing
    * lastTs + gap). Output mode: Append. */
  def sessionize(events: Dataset[UserEvent], gapSeconds: Long): Dataset[ClosedSession] = {
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[ClosedSession]
    implicit val keyEnc = Encoders.scalaLong
    val gapUs = gapSeconds * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[UserEvent], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap with no new events: final close
            val out = state.getOption.map(close(user, _)).iterator
            state.remove()
            out
          } else {
            val (closed, next) = fold(user, gapUs, state.getOption, rows.toSeq)
            next.foreach { s =>
              state.update(s)
              // evict when the watermark passes the gap horizon
              state.setTimeoutTimestamp(s.lastUs / 1000L + gapSeconds * 1000L)
            }
            closed.iterator
          }
        })
  }
}
