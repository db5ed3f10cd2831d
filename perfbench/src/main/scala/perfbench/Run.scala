package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Result(attempted: Long, failed: Long,
                        e2e: Map[String, (Double, String)],
                        layers: Map[String, (Double, String)])

/** State and helpers shared by every workload of one benchmark run. */
final class Run(val workload: String, val seed: Long, val seconds: Int,
                val tracer: Tracer, val cores: Int, val work: Path,
                val expected: Map[String, String], val recordTo: Option[Path]) {
  val counters = new Counters
  private var peakHeap = 0L

  def peakHeapMb: Double = peakHeap / 1e6

  /** Live heap: a full collection at a phase boundary, then the heap
    * still in use. The run's peak is the largest of these readings. The
    * second collection frees what Spark's cleaner released after the
    * first cleared its weak references. */
  def heapCheckpoint(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    System.err.println(f"perfbench: live heap ${used / 1e6}%.1f MB")
    peakHeap = math.max(peakHeap, used)
  }

  /** Engine staging directories created so far (graft.core.Staged builds
    * each artifact into a fresh temp dir of this JVM's own temp root). */
  def stagedDirs(): Int = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(tmp)
    try s.iterator().asScala.count(_.getFileName.toString.startsWith("graft-stage"))
    finally s.close()
  }

  /** Set up [[Run.Setups]] times and keep the last session: each set-up
    * starts a session, then runs `body` (layout, artifacts, warm-up) with
    * its own fresh scan-layout cache and ANN index store. */
  def setups[A](body: (SparkSession, Int) => A): Run.Setup[A] = {
    var spark: SparkSession = null
    var value: Option[A] = None
    val secs = mutable.ArrayBuffer.empty[Double]
    for (i <- 1 to Run.Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = tracer.span("session", "core", s"setup$i")(Session.start(cores, work))
      spark.conf.set(graft.core.ScanLayout.BaseKey, work.resolve(s"scancache$i").toString)
      spark.conf.set("graft.ann.index.base", work.resolve(s"ann_index$i").toString)
      if (tracer.on) spark.sparkContext.addSparkListener(counters)
      value = Some(Counters.withScope(spark.sparkContext, s"setup$i")(body(spark, i)))
      secs += (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: set-up $i took ${secs.last}%.2f s")
      heapCheckpoint()
    }
    Run.Setup(spark, value.get, secs.toSeq)
  }

  /** Medians over the set-ups of each traced set-up step. */
  def setupLayers(setup: Run.Setup[_]): Seq[(String, (Double, String))] = {
    val spans = tracer.all.filter(_.layer == "core")
    def med(name: String): Double = {
      val d = spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9)
      if (d.isEmpty) 0.0 else Stats.median(d)
    }
    Seq(
      "core.session_s" -> (med("session"), "s"),
      "core.layout_s" -> (med("ensure"), "s"),
      "core.artifacts_s" -> (med("artifacts"), "s"),
      "core.warmup_s" -> (med("warmup"), "s"))
  }
}

object Run {
  val Setups = 3

  final case class Setup[A](spark: SparkSession, value: A, seconds: Seq[Double]) {
    def medianS: Double = Stats.median(seconds)
  }

  /** Resource counters of the measured phase, per pass. */
  def resourceLayers(a: Counters.Acc, scale: Double): Seq[(String, (Double, String))] = Seq(
    "exec.task_cpu_s" -> (a.cpuNs / 1e9 * scale, "s"),
    "exec.gc_s" -> (a.gcMs / 1e3 * scale, "s"),
    "exec.shuffle_write_mb" -> (a.shuffleWrite / 1e6 * scale, "MB"),
    "exec.shuffle_read_mb" -> (a.shuffleRead / 1e6 * scale, "MB"),
    "exec.spill_mb" -> (a.spill / 1e6 * scale, "MB"),
    "exec.scan_mb" -> (a.scan / 1e6 * scale, "MB"),
    "exec.task_failures" -> (a.taskFailures * scale, "count"))

  /** Wait until the listener bus has delivered every queued event. */
  def busDrain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
