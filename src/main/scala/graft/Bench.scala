package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, Executors, TimeUnit, TimeoutException}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.util.LongAccumulator

import graft.core.{ScanLayout, Sessions}

/** The one runner for the batch query surface.
  *
  *   runMain graft.Bench [sfDir] [out.jsonl] [passes] [name ...]
  *
  * Defaults: the sf0.1 testdata directory, `bench_local/bench_<epoch>.jsonl`
  * and 5 passes. Trailing names (space- or comma-separated) restrict the
  * run; an unknown name is rejected before a session starts. A scale soak
  * is `graft.Bench <soakDir> <out> 1`.
  *
  * Queries run one at a time, each for `passes` back-to-back passes on a
  * worker thread under its own job groups, with a [[TimeoutSec]] budget
  * per pass enforced by cancelling those groups. Pass 1 is first use: it
  * pays the staged-artifact builds the query is the first to need, counts
  * the output rows, and writes the formatted physical plan to
  * `<out>.plans/<name>.txt` (after planning, outside the timed spans).
  * Every pass drains `queryExecution.toRdd` in full: under `count()`
  * Catalyst would prune every column no aggregate reads, and a
  * projection-only query would time a bare row-count scan.
  *
  * One JSONL row per query is flushed as it completes (see [[Row.json]]),
  * so a crash keeps every finished row. A query that stops the context
  * (an executor-thread OOM) costs one failure row: the session is rebuilt
  * before the next query. At the end one compact summary line goes to
  * stdout ([[summary]]).
  *
  * Runs the Scale session shape over ScanLayout's split copy of `sfDir`.
  */
object Bench {
  val DefaultSfDir = "/root/testdata/sf0.1"
  val DefaultPasses = 5
  /** Budget for one pass of one query. */
  val TimeoutSec = 600L
  /** Error messages are cut to this many characters before escaping. */
  val ErrChars = 300

  /** One pass: DataFrame construction, planning and execution seconds;
    * the Spark jobs construction ran eagerly; stages and tasks over the
    * whole pass. Jobs a streaming query runs on its own thread carry the
    * stream's job group and are not counted. */
  case class Pass(buildS: Double, planS: Double, execS: Double,
                  buildJobs: Int, stages: Int, tasks: Int) {
    def totalS: Double = buildS + planS + execS
  }

  case class Quartiles(q1: Double, median: Double, q3: Double)

  /** The linear-interpolation quantile of perfbench's `Stats.quantile`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** One query's result. `passes` holds the passes that completed;
    * `triggerMs` the per-trigger times of its last streaming run. */
  case class Row(name: String, status: String, rows: Long, passes: Seq[Pass],
                 triggerMs: Seq[Long], err: String) {
    def ok: Boolean = status == "ok"
    def firstUseS: Option[Double] = passes.headOption.map(_.totalS)
    /** Over passes 2..N of a query that succeeded; None with one pass. */
    def steady: Option[Quartiles] = {
      val xs = passes.drop(1).map(_.totalS)
      if (!ok || xs.isEmpty) None
      else Some(Quartiles(quantile(xs, 0.25), quantile(xs, 0.5), quantile(xs, 0.75)))
    }

    def json: String = {
      val passJson = passes.map(p =>
        s"""{"build_s":${fmt(p.buildS)},"plan_s":${fmt(p.planS)},"exec_s":${fmt(p.execS)},""" +
          s""""build_jobs":${p.buildJobs},"stages":${p.stages},"tasks":${p.tasks}}""")
      val stats = steady.map(s =>
        s""","median_s":${fmt(s.median)},"q1_s":${fmt(s.q1)},"q3_s":${fmt(s.q3)}""").getOrElse("")
      s"""{"q":${SparkEntry.jsonString(name)},"status":"$status","rows":$rows,""" +
        s""""first_use_s":${firstUseS.map(fmt).getOrElse("null")}$stats,""" +
        s""""passes":${passJson.mkString("[", ",", "]")},"trigger_ms":${triggerMs.mkString("[", ",", "]")},""" +
        s""""err":${SparkEntry.jsonString(err.take(ErrChars))}}"""
    }
  }

  /** 3 decimals: sub-millisecond precision is noise. Locale.ROOT, because
    * a comma-decimal default locale would emit invalid JSON. */
  def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** The stdout line: the sum of steady medians (null when no query has a
    * steady pass), the first-use total over successful queries, the failed
    * and timed-out queries, the 15 slowest rows and the path of the full
    * file. Small enough to survive a tail-truncated capture of stdout. */
  def summary(rows: Seq[Row], outPath: String, master: String, sfDir: String,
              rebuilds: Int): String = {
    val ok = rows.filter(_.ok)
    val medians = ok.flatMap(_.steady.map(_.median))
    val value = if (medians.isEmpty) "null" else fmt(medians.sum)
    val errors = rows.filterNot(_.ok).map(r => SparkEntry.jsonString(r.name))
    val slowest = ok.flatMap(r => r.steady.map(_.median).orElse(r.firstUseS).map(r.name -> _))
      .sortBy(-_._2).take(15)
      .map { case (n, s) => s"${SparkEntry.jsonString(n)}:${fmt(s)}" }
    s"""{"metric":"total","value":$value,"unit":"sec","first_use_total":${fmt(ok.flatMap(_.firstUseS).sum)},""" +
      s""""n":${rows.size},"n_err":${errors.size},"errors":${errors.mkString("[", ",", "]")},""" +
      s""""slowest":${slowest.mkString("{", ",", "}")},"session_rebuilds":$rebuilds,""" +
      s""""full":${SparkEntry.jsonString(outPath)},"master":${SparkEntry.jsonString(master)},""" +
      s""""sf":${SparkEntry.jsonString(sfDir)}}"""
  }

  /** Jobs, stages and tasks started under each job group. Job groups ride
    * the job and stage events, so a count lands in the group that
    * submitted it however late the listener bus delivers the event. */
  private final class GroupCounts extends SparkListener {
    private val counts = new ConcurrentHashMap[String, Array[Int]]()
    private def add(props: java.util.Properties, jobs: Int, stages: Int, tasks: Int): Unit =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        val c = counts.computeIfAbsent(g, _ => new Array[Int](3))
        c.synchronized { c(0) += jobs; c(1) += stages; c(2) += tasks }
      }
    override def onJobStart(e: SparkListenerJobStart): Unit = add(e.properties, 1, 0, 0)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      add(e.properties, 0, 1, e.stageInfo.numTasks)
    /** (jobs, stages, tasks) of `group`, forgetting it. */
    def take(group: String): (Int, Int, Int) =
      Option(counts.remove(group)).map(c => c.synchronized((c(0), c(1), c(2)))).getOrElse((0, 0, 0))
  }

  /** The `triggerExecution` ms of each micro-batch of the streaming run
    * that terminated last on the session, in batch order. Progress events
    * carry their run id, so the batches of two runs never mix. */
  private[graft] final class TriggerTimes extends StreamingQueryListener {
    private val running = new ConcurrentHashMap[java.util.UUID, Vector[(Long, Long)]]()
    @volatile private var last: Seq[Long] = Seq.empty
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L)
      running.merge(p.runId, Vector(p.batchId -> ms), _ ++ _)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      last = Option(running.remove(e.runId)).getOrElse(Vector.empty).sortBy(_._1).map(_._2)
    /** The last run's times, forgetting them. */
    def take(): Seq[Long] = { val t = last; last = Seq.empty; t }
  }

  private def groups(name: String, pass: Int): (String, String) =
    (s"bench:$name:$pass:build", s"bench:$name:$pass:run")

  /** One pass of `name`, on the calling thread. Pass 1 counts rows into
    * `acc` and writes the plan to `planFile`. */
  private def runPass(spark: SparkSession, dir: String, name: String, pass: Int,
                      acc: LongAccumulator, planFile: String, counts: GroupCounts): Pass = {
    val sc = spark.sparkContext
    val (buildGroup, runGroup) = groups(name, pass)
    // job groups are thread-local: set them on the thread that runs the jobs
    sc.setJobGroup(buildGroup, name, interruptOnCancel = true)
    val t0 = System.nanoTime()
    val qe = SparkEntry.queries(name)(spark, dir).queryExecution
    val t1 = System.nanoTime()
    sc.setJobGroup(runGroup, name, interruptOnCancel = true)
    qe.executedPlan
    val t2 = System.nanoTime()
    if (pass == 1) Files.writeString(Paths.get(planFile), qe.explainString(FormattedMode))
    val t3 = System.nanoTime()
    if (pass == 1) qe.toRdd.foreach(_ => acc.add(1L)) else qe.toRdd.foreach(_ => ())
    val t4 = System.nanoTime()
    sc.clearJobGroup()
    org.apache.spark.sql.graft.PlanBridge.drainListenerBus(sc)
    val (buildJobs, buildStages, buildTasks) = counts.take(buildGroup)
    val (_, runStages, runTasks) = counts.take(runGroup)
    Pass((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t4 - t3) / 1e9,
      buildJobs, buildStages + runStages, buildTasks + runTasks)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse(DefaultSfDir)
    val outPath = args.lift(1).getOrElse(s"bench_local/bench_${System.currentTimeMillis() / 1000}.jsonl")
    val nPasses = args.lift(2).map(_.toInt).getOrElse(DefaultPasses)
    require(nPasses >= 1, s"passes must be at least 1, got $nPasses")
    val names = SparkEntry.select(args.drop(3).toSeq)

    val planDir = Files.createDirectories(Paths.get(s"$outPath.plans"))
    val log = new java.io.PrintWriter(Files.newBufferedWriter(Paths.get(outPath)), true)
    var spark = Sessions.start(Sessions.Scale)
    val dir = ScanLayout.ensure(spark, sfDir)
    val counts = new GroupCounts
    val triggers = new TriggerTimes
    def listen(s: SparkSession): Unit = {
      s.sparkContext.addSparkListener(counts)
      s.streams.addListener(triggers)
    }
    listen(spark)
    // daemon threads: a worker stuck past its cancel must not keep the JVM alive
    def newWorker() = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "bench-worker"); t.setDaemon(true); t
    }
    var worker = newWorker()
    var rebuilds = 0
    var rebuildFailed = false
    val rows = Seq.newBuilder[Row]

    for (name <- names if !rebuildFailed) {
      val s = spark
      val acc = s.sparkContext.longAccumulator(s"rows_$name")
      val planFile = planDir.resolve(s"$name.txt").toString
      val passes = Seq.newBuilder[Pass]
      var status = "ok"
      var err = ""
      var pass = 1
      triggers.take()
      while (status == "ok" && pass <= nPasses) {
        val p = pass
        val fut = worker.submit(new Callable[Pass] {
          def call(): Pass = runPass(s, dir, name, p, acc, planFile, counts)
        })
        try passes += fut.get(TimeoutSec, TimeUnit.SECONDS)
        catch {
          case _: TimeoutException =>
            val (b, r) = groups(name, p)
            s.sparkContext.cancelJobGroup(b)
            s.sparkContext.cancelJobGroup(r)
            try fut.get(30, TimeUnit.SECONDS) catch { case _: Throwable => () }
            if (!fut.isDone) { worker.shutdownNow(); worker = newWorker() }
            status = "timeout"; err = s"pass $p exceeded ${TimeoutSec}s"
          case e: ExecutionException =>
            val c = Option(e.getCause).getOrElse(e)
            status = "error"; err = s"pass $p: ${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("")}"
        }
        pass += 1
      }
      val row = Row(name, status, acc.value, passes.result(), triggers.take(), err)
      rows += row
      log.println(row.json)
      System.err.println(s"BENCH $name: $status first=${row.firstUseS.map(fmt).getOrElse("-")}" +
        s" median=${row.steady.map(q => fmt(q.median)).getOrElse("-")} rows=${row.rows} $err")
      try {
        val (live, rebuilt) = Sessions.ensureLive(spark)
        if (rebuilt) {
          spark = live
          listen(spark)
          rebuilds += 1
          System.err.println(s"BENCH: session rebuilt after $name (context was stopped)")
        }
      } catch { case e: Throwable =>
        System.err.println(s"BENCH: session rebuild failed after $name: $e; remaining queries skipped")
        rebuildFailed = true
      }
    }
    log.close()
    println(summary(rows.result(), outPath, Sessions.master, sfDir, rebuilds))
    spark.stop()
    if (rebuildFailed) sys.exit(1)
  }
}
