package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Typed per-user funnel state machine — the second O14-style stateful
  * operator next to [[Sessionize]]: arbitrary user code folding one
  * user's event history into funnel progress (first view, first
  * qualifying click within an hour, first qualifying purchase within an
  * hour of that). Declaratively the same computation is three user-keyed
  * aggregates (graft.operators.EventTime `events_funnel`, the
  * oracle-checked twin); the typed fold is the shape a caller reaches
  * for when step rules stop being expressible as joins (arbitrary
  * predicates, per-step branching).
  *
  * Scale: per-user history sorts inside the group — fine for bounded
  * per-key cardinality, exactly like the reference's stateful bolt;
  * unbounded keys should use the declarative twin. Streaming: the same
  * transition function runs under transformWithState with per-user
  * FunnelState surviving across micro-batches ([[funnelStreamTWS]]).
  */
object Funnel {

  case class Ev(user_id: Long, event_type: String, ts: Timestamp, event_id: Long)

  /** Deterministic in-group order: event time, then event_id so
    * equal-timestamp events fold identically on every run (the same
    * tie-break [[Attribution]] uses). */
  private def ordered(evs: Iterator[Ev]): Iterator[Ev] =
    evs.toArray.sortBy(e => (e.ts.getTime, e.event_id)).iterator
  case class FunnelState(t1: Long, t2: Long, t3: Long)

  val StepMs: Long = 60 * 60 * 1000L
  private val Unset = -1L

  /** Advance funnel state through one user's time-ordered events. */
  private[streaming] def advance(init: FunnelState, evs: Iterator[Ev]): FunnelState = {
    var s = init
    for (e <- evs) {
      val t = e.ts.getTime
      if (s.t1 == Unset) {
        if (e.event_type == "view") s = s.copy(t1 = t)
      } else if (s.t2 == Unset) {
        if (e.event_type == "click" && t > s.t1 && t <= s.t1 + StepMs) s = s.copy(t2 = t)
      } else if (s.t3 == Unset) {
        if (e.event_type == "purchase" && t > s.t2 && t <= s.t2 + StepMs) s = s.copy(t3 = t)
      }
    }
    s
  }

  private def stageOf(s: FunnelState): Int =
    if (s.t3 != Unset) 3 else if (s.t2 != Unset) 2 else if (s.t1 != Unset) 1 else 0

  /** Batch run: fold every user's full history, aggregate to the same
    * (stage, step, users) shape as the declarative `events_funnel` —
    * the oracle checks the two agree. */
  def funnelBatch(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val stages = events.select(col("user_id"), col("event_type"), col("ts"),
        col("event_id")).as[Ev]
      .groupByKey(_.user_id)
      .mapGroups { (uid, it) =>
        (uid, stageOf(advance(FunnelState(Unset, Unset, Unset), ordered(it))))
      }
      .toDF("user_id", "stage")
    val counts = stages.agg(
      sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("n3"))
    counts.select(lit(1L).as("stage"), lit("view").as("step"), col("n1").as("users"))
      .unionByName(counts.select(lit(2L).as("stage"), lit("click").as("step"),
        col("n2").as("users")))
      .unionByName(counts.select(lit(3L).as("stage"), lit("purchase").as("step"),
        col("n3").as("users")))
      .orderBy("stage")
  }

  // -------------------------------------------------------------------
  // Streaming funnel on Spark 4.x's arbitrary-state API (same pattern as
  // Sessionize.SessionProcessor): a typed ValueState[FunnelState], the
  // per-batch fold shared with the batch run (advance), so the two
  // cannot drift. No timers — funnel progress has no gap horizon to
  // flush; each trigger re-emits the user's current stage (update-mode
  // semantics). Streaming-only; requires the RocksDB state store
  // provider (a transformWithState engine restriction).

  class FunnelProcessor(
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, (Long, Int)] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[FunnelState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[FunnelState]("funnel",
        org.apache.spark.sql.Encoders.product[FunnelState], ttl)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Int)] = {
      val next = advance(
        if (st.exists()) st.get() else FunnelState(Unset, Unset, Unset), ordered(rows))
      st.update(next)
      Iterator.single((key, stageOf(next)))
    }
  }

  /** Streaming funnel on transformWithState; run with the RocksDB state
    * store provider, update output mode. Per-user FunnelState survives
    * across micro-batches and each trigger emits the user's current
    * stage. Caveat the transition function inherits from event order:
    * within a trigger events sort by event time, across triggers the
    * source must deliver in order (true for the file-per-batch ingest
    * shape) — out-of-order ARRIVAL across triggers needs a
    * watermark-buffered variant. A non-NONE `ttl` bounds idle-user
    * state retention — an expired user restarts the funnel from stage 0 on
    * their next event (and the operator flips to processing-time mode,
    * which the engine requires for TTL state; no timers are registered,
    * so behavior is otherwise identical). Bounded harnesses (AvailableNow)
    * must disable spark.sql.streaming.noDataMicroBatches.enabled — see
    * [[Attribution.attributionTWS]] for why the eviction loop never
    * drains otherwise. */
  def funnelStreamTWS(events: DataFrame,
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val timeMode =
      if (ttl == org.apache.spark.sql.streaming.TTLConfig.NONE)
        org.apache.spark.sql.streaming.TimeMode.None()
      else org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
    events.select(col("user_id"), col("event_type"), col("ts"), col("event_id")).as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(ttl),
        timeMode, OutputMode.Update(),
        implicitly[org.apache.spark.sql.Encoder[(Long, Int)]])
      .toDF("user_id", "stage")
  }
}
