package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Bench's per-trigger times come from a listener on the session: a
  * stream replay records one `triggerExecution` time per micro-batch in
  * batch order, and a batch query records none. */
class TriggerTimesSpec extends SparkSpec {

  /** Every progress event as (batch id, trigger ms), in arrival order. */
  private final class Progress extends StreamingQueryListener {
    val seen = ArrayBuffer.empty[(Long, Long)]
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = seen.synchronized {
      seen += e.progress.batchId -> e.progress.durationMs.get("triggerExecution").longValue
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  test("a stream replay records its trigger times in batch order; a batch query none") {
    val triggers = new Bench.TriggerTimes
    val progress = new Progress
    spark.streams.addListener(triggers)
    spark.streams.addListener(progress)
    try {
      SparkEntry.queries("stream_wordcount")(spark, sf0001).collect()
      PlanBridge.drainListenerBus(spark.sparkContext)
      val times = triggers.take()
      assert(times.size >= 2, s"one time per micro-batch, got $times")
      assert(times === progress.seen.sortBy(_._1).map(_._2).toSeq)
      assert(triggers.take().isEmpty, "take forgets what it returned")

      SparkEntry.queries("wordcount")(spark, sf0001).collect()
      PlanBridge.drainListenerBus(spark.sparkContext)
      assert(triggers.take().isEmpty)
    } finally {
      spark.streams.removeListener(triggers)
      spark.streams.removeListener(progress)
    }
  }
}
