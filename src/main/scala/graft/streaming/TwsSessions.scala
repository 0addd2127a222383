package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}

import StatefulSessions.{ClosedSession, SessionState, UserEvent, fold}

/** Gap sessionizer on Spark 4's `transformWithState` — the successor API to
  * `flatMapGroupsWithState` ([[StatefulSessions]] is the FMGWS twin; both
  * emit identical sessions, asserted by StreamingPipelineSpec). Differences
  * the new API surfaces explicitly:
  *
  *   - typed state handles (`getValueState`) with optional TTL instead of a
  *     single implicit `GroupState`;
  *   - first-class event-time TIMERS (`registerTimer`/`handleExpiredTimer`)
  *     instead of one timeout slot — the processor deletes and re-arms its
  *     timer as the session extends, and ignores stale firings;
  *   - runs only on the RocksDB state store provider (the 100 TB state
  *     backend; session config in [[graft.GraftSession]]).
  *
  * Scale contract is unchanged: one small state record + one timer per
  * ACTIVE user, hash-partitioned by key, bounded by the watermark horizon.
  */
object TwsSessions {

  /** The shared processor body — mixed into both the plain and the
    * initial-state processor (they need DIFFERENT Spark base classes, and
    * the trait's `StatefulProcessor` parent is an ancestor of both). */
  private[streaming] trait SessionLogic
      extends StatefulProcessor[Long, UserEvent, ClosedSession] {
    def gapSeconds: Long
    private lazy val gapUs = gapSeconds * 1000000L
    @transient protected var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    protected def timerMsFor(s: SessionState): Long =
      s.lastUs / 1000L + gapSeconds * 1000L

    protected def arm(s: SessionState, prevTimer: Option[Long]): Unit = {
      state.update(s)
      // re-arm: drop the previous timer (stale firings are also guarded in
      // handleExpiredTimer, but deleting keeps the timer store minimal)
      val t = timerMsFor(s)
      prevTimer.filter(_ != t).foreach(getHandle.deleteTimer)
      if (!prevTimer.contains(t)) getHandle.registerTimer(t)
    }

    override def handleInputRows(user: Long, rows: Iterator[UserEvent],
        tv: TimerValues): Iterator[ClosedSession] = {
      val cur = if (state.exists()) Some(state.get()) else None
      val prevTimer = cur.map(timerMsFor)
      val (closed, next) = fold(user, gapUs, cur, rows.toSeq)
      next.foreach(arm(_, prevTimer))
      closed.iterator
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[ClosedSession] = {
      // a timer may fire after the session it guarded was extended — only a
      // timer matching the CURRENT state's horizon closes the session
      if (state.exists() && timerMsFor(state.get()) <= info.getExpiryTimeInMs) {
        val out = StatefulSessions.close(user, state.get())
        state.clear()
        Iterator.single(out)
      } else Iterator.empty
    }
  }

  final class SessionProcessor(val gapSeconds: Long) extends SessionLogic

  /** Open session carried over from a previous deployment (e.g. migrating
    * mid-session from the reference pipeline): key + the session payload. */
  final case class InitSession(user_id: Long, start: Long, lastUs: Long,
      nEvents: Long, sumValue: Double)

  /** [[SessionProcessor]] warm-started from a batch table of open sessions:
    * `handleInitialState` seeds the value state and arms the gap timer
    * BEFORE the first micro-batch, so a carried-over session that sees no
    * further events still times out and closes — no session is lost across
    * the engine switch. */
  final class SessionProcessorWithInit(val gapSeconds: Long)
      extends StatefulProcessorWithInitialState[Long, UserEvent, ClosedSession, InitSession]
      with SessionLogic {
    override def handleInitialState(user: Long, init: InitSession,
        tv: TimerValues): Unit = {
      val s = SessionState(init.start, init.lastUs, init.nEvents, init.sumValue)
      arm(s, prevTimer = None)
    }
  }

  /** [[StatefulSessions.sessionize]] on the transformWithState API: same
    * input contract (watermarked [[UserEvent]] stream), same output. */
  def sessionize(events: Dataset[UserEvent], gapSeconds: Long): Dataset[ClosedSession] = {
    implicit val outEnc = Encoders.product[ClosedSession]
    implicit val keyEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[sessionize]] warm-started from a batch table of open sessions (one
    * [[InitSession]] per user, keyed by user_id). */
  def sessionizeWithInitial(events: Dataset[UserEvent], gapSeconds: Long,
      initial: Dataset[InitSession]): Dataset[ClosedSession] = {
    implicit val outEnc = Encoders.product[ClosedSession]
    implicit val initEnc = Encoders.product[InitSession]
    implicit val keyEnc = Encoders.scalaLong
    val initKeyed: KeyValueGroupedDataset[Long, InitSession] =
      initial.groupByKey(_.user_id)
    events
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessorWithInit(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append(), initKeyed)
  }
}
