package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Typed per-key stateful sessionizer — the honest Spark mapping of the
  * reference's generic stateful bolt hook (O14, `util.py:4-10`): arbitrary
  * user code with per-key state surviving across micro-batches.
  *
  * One session fold ([[foldSessions]]) backs two entry points: the
  * streaming `transformWithState` processor keeps one SessionState per
  * user in the state store and closes idle sessions on event-time timers;
  * the batch twin folds each user's full history in one `flatMapGroups`
  * call (fine for bounded per-key cardinality; for unbounded keys at
  * 100 TB prefer the declarative session_window aggregation in
  * graft.operators.EventTime, which spills).
  */
object Sessionize {

  case class Ev(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, total: Double)
  case class Session(user_id: Long, session_start: Timestamp, n_events: Long, total: Double)

  val GapMs: Long = 30 * 60 * 1000L

  /** Fold one user's (batch-sorted) events into closed sessions + tail state. */
  private def foldSessions(userId: Long, sorted: Iterator[Ev],
                           init: Option[SessionState]): (List[Session], Option[SessionState]) = {
    var state = init
    val out = List.newBuilder[Session]
    for (e <- sorted) {
      val t = e.ts.getTime
      state match {
        case Some(s) if t - s.last < GapMs =>
          state = Some(s.copy(last = t, n = s.n + 1, total = s.total + e.value))
        case Some(s) =>
          out += Session(userId, new Timestamp(s.start), s.n, s.total)
          state = Some(SessionState(t, t, 1, e.value))
        case None =>
          state = Some(SessionState(t, t, 1, e.value))
      }
    }
    (out.result(), state)
  }

  /** Batch sessionizer: same fold, but via flatMapGroups so the open tail
    * session closes at end-of-input (batch execution fires no event-time
    * timers, so a stateful path would silently drop the last session per
    * user). */
  def sessionizeBatchDs(df: DataFrame): Dataset[Session] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("user_id"), col("ts"), col("value")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroups { (uid: Long, events: Iterator[Ev]) =>
        val sorted = events.toArray.sortBy(_.ts.getTime).iterator
        val (closed, tail) = foldSessions(uid, sorted, None)
        (closed ++ tail.map(s => Session(uid, new Timestamp(s.start), s.n, s.total))).iterator
      }
  }

  // -------------------------------------------------------------------
  // Streaming sessionizer on Spark 4.x's arbitrary-state API: a typed
  // ValueState plus EXPLICIT event-time timers (registerTimer /
  // handleExpiredTimer). The per-batch fold is shared with the batch
  // twin (foldSessions), so the two cannot drift. Streaming-only, and
  // requires the RocksDB state store provider (a transformWithState
  // engine restriction).

  class SessionProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, Session] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[SessionState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Session] = {
      val sorted = rows.toArray.sortBy(_.ts.getTime).iterator
      val (closed, tail) =
        foldSessions(key, sorted, if (st.exists()) Some(st.get()) else None)
      tail match {
        case Some(s) =>
          st.update(s)
          // one timer per open session at its gap horizon; an older
          // timer superseded by newer events is ignored on expiry below
          getHandle.registerTimer(s.last + GapMs)
        case None => st.clear()
      }
      closed.iterator
    }

    override def handleExpiredTimer(key: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Session] = {
      if (st.exists() && info.getExpiryTimeInMs >= st.get().last + GapMs) {
        val s = st.get(); st.clear()
        Iterator.single(Session(key, new Timestamp(s.start), s.n, s.total))
      } else Iterator.empty // stale timer: the session got more events
    }
  }

  /** Streaming sessionizer on transformWithState; callers must
    * withWatermark("ts", …) upstream and run with the RocksDB state
    * store provider.
    *
    * Unlike [[Funnel.funnelStreamTWS]] / [[Attribution.attributionTWS]]
    * it takes no TTL: the engine only allows TTL state under
    * TimeMode.ProcessingTime, while the sessionizer's correctness
    * depends on EVENT-TIME timers (the gap flush at `last + GapMs`).
    * That is not a retention gap — the gap timer already clears every
    * idle user's state one gap past the watermark (handleExpiredTimer →
    * st.clear()), which is a TIGHTER bound than any wall-clock TTL a
    * caller would configure. */
  def sessionizeTWS(df: DataFrame): Dataset[Session] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("user_id"), col("ts"), col("value")).as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[Session]])
  }

  /** Batch-shaped output matching the events_session oracle columns. */
  def sessionizeBatch(df: DataFrame): DataFrame =
    sessionizeBatchDs(df)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"),
        round(col("total").cast(org.apache.spark.sql.types.DecimalType(18, 4)), 2)
          .cast("double").as("total"))
      .orderBy("user_id", "session_start")
}
