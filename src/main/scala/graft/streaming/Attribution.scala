package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Typed per-key LAST-TOUCH ATTRIBUTION — the third O14 analogue next to
  * [[Sessionize]] and [[Funnel]] (reference generic stateful bolt hook,
  * `util.py:4-10`): the carried state is one Touch per user (their most
  * recent prior view/click), and each purchase emits its credit the
  * moment it arrives. The declarative twin is `events_attribution`
  * (window + last(_, ignoreNulls)); both flow to the SAME DuckDB oracle,
  * so the custom stateful operator is pinned to the SQL formulation.
  *
  * Scale: state is O(1) per user (a single Touch), the smallest possible
  * stateful footprint; in streaming the state store carries it across
  * micro-batches indefinitely — production puts a TTL on idle users
  * ([[attributionTWS]]'s TTLConfig), which changes retention, not credit.
  */
object Attribution {

  case class Ev(user_id: Long, event_id: Long, ts: Timestamp,
                event_type: String, value: Double)
  case class Touch(ts: Long, eventId: Long, tpe: String)
  case class Credit(src_type: String, value: Double)

  /** Fold one user's (ts, event_id)-sorted events: purchases credit the
    * touch standing BEFORE them (same strict-precedence the declarative
    * 1-PRECEDING frame encodes), touches replace the state. */
  private def fold(events: Iterator[Ev],
                   init: Option[Touch]): (List[Credit], Option[Touch]) = {
    var touch = init
    val out = List.newBuilder[Credit]
    for (e <- events) e.event_type match {
      case "purchase" =>
        out += Credit(touch.map(_.tpe).getOrElse("none"), e.value)
      case t @ ("view" | "click") =>
        touch = Some(Touch(e.ts.getTime, e.event_id, t))
      case _ => ()
    }
    (out.result(), touch)
  }

  private def sortKey(e: Ev): (Long, Long) = (e.ts.getTime, e.event_id)

  private def asEv(df: DataFrame): Dataset[Ev] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("user_id"), col("event_id"), col("ts"),
      col("event_type"), col("value")).as[Ev]
  }

  /** Batch credits via flatMapGroups (full history per user in one call). */
  def attributionBatchDs(df: DataFrame): Dataset[Credit] = {
    val spark = df.sparkSession
    import spark.implicits._
    asEv(df).groupByKey(_.user_id)
      .flatMapGroups { (_: Long, events: Iterator[Ev]) =>
        fold(events.toArray.sortBy(sortKey).iterator, None)._1.iterator
      }
  }

  // -------------------------------------------------------------------
  // Streaming credits on Spark 4.x's arbitrary-state API (same pattern
  // as Sessionize.SessionProcessor / Funnel.FunnelProcessor): a typed
  // ValueState[Touch] carrying the one-row-per-user state, the fold
  // shared with the batch path so the two cannot drift. No
  // timers — credits emit the moment the purchase arrives. State
  // retention: with the default TTLConfig.NONE the Touch persists
  // indefinitely — at 100× user cardinality that is a real RocksDB
  // footprint, so production passes a processing-time TTL (the engine
  // requires TimeMode.ProcessingTime for TTL state — attributionTWS
  // switches mode automatically; this processor registers no timers, so
  // the mode change affects only retention). An expired idle user's
  // Touch simply vanishes: their next purchase credits "none" and their
  // next view/click re-creates state cleanly — retention changes, credit
  // logic does not. Streaming-only; requires the RocksDB state store
  // provider.

  class AttributionProcessor(
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, Credit] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[Touch] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Touch]("touch",
        org.apache.spark.sql.Encoders.product[Touch], ttl)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Credit] = {
      val (out, touch) = fold(rows.toArray.sortBy(sortKey).iterator,
        if (st.exists()) Some(st.get()) else None)
      touch.foreach(st.update)
      out.iterator
    }
  }

  /** Streaming credits on transformWithState; run with the RocksDB state
    * store provider, append output mode. The Touch survives across
    * micro-batches, so a purchase in batch N credits a click from batch
    * N−k; per-batch arrival order within a user resolves by (ts,
    * event_id) like the batch path (cross-batch disorder is the usual
    * event-time caveat: a touch arriving after the purchase it should
    * have credited is attribution's inherent at-arrival semantics).
    * A non-NONE `ttl` bounds idle-user state retention (and flips the
    * operator to processing-time mode, which the engine requires for TTL
    * state — behavior is otherwise identical: no timers are registered).
    * Caveat for bounded harnesses: in processing-time mode every no-data
    * micro-batch advances the clock and schedules another for TTL
    * eviction, so Trigger.AvailableNow never drains unless
    * spark.sql.streaming.noDataMicroBatches.enabled is false (expired
    * state is skipped lazily on read either way — eviction batches only
    * reclaim storage). */
  def attributionTWS(df: DataFrame,
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE): Dataset[Credit] = {
    val spark = df.sparkSession
    import spark.implicits._
    val timeMode =
      if (ttl == org.apache.spark.sql.streaming.TTLConfig.NONE)
        org.apache.spark.sql.streaming.TimeMode.None()
      else org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
    asEv(df).groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor(ttl),
        timeMode, OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[Credit]])
  }

  /** Batch-shaped output matching the events_attribution oracle columns. */
  def attributionBatch(df: DataFrame): DataFrame =
    attributionBatchDs(df)
      .groupBy(col("src_type"))
      .agg(count(lit(1)).as("n_purchases"),
        graft.functions.Decimals.rsum2(col("value")).as("revenue"))
      .orderBy("src_type")
}
