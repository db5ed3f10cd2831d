package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import graft.SparkEntry

/** The batch workload: a fixed query list over one input directory.
  *
  * A run sets up [[Run.Setups]] times (session, ScanLayout into a fresh
  * cache, warm-up with the flagship query at sf0.001) and keeps the last
  * session. It then makes one first-use pass, which pays each query's
  * code generation and staged-artifact builds at this scale, and warm
  * passes until the run's time is spent (at least [[MinWarmPasses]]). The
  * seed sets the query order of every pass. Each query runs to full
  * materialization and every execution's output is checked against its
  * recorded fingerprint. */
final class Surface(run: Run, dataDir: Path, warmDir: Path, queries: Seq[String]) {
  import Surface._

  private val tracer = run.tracer
  private val expected: Map[String, String] = run.expected

  def apply(): Result = {
    val setup = run.setups { (spark, i) =>
      val layout = tracer.span("ensure", "core", s"setup$i") {
        graft.core.ScanLayout.ensure(spark, dataDir.toString)
      }
      tracer.span("warmup", "core", s"setup$i") {
        Fingerprint.drain(SparkEntry.queries(WarmupQuery)(spark, warmDir.toString))
      }
      layout
    }
    val spark = setup.spark
    val layout = setup.value

    val rnd = new scala.util.Random(run.seed)
    val stagesBefore = run.stagedDirs()
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passStart = System.nanoTime()
    for (q <- rnd.shuffle(queries)) execs += measure(spark, layout, q, 0)
    val stagedBuilds = run.stagedDirs() - stagesBefore
    System.err.println(f"perfbench: first-use pass took ${(System.nanoTime() - passStart) / 1e9}%.2f s")
    run.heapCheckpoint()
    var pass = 1
    while (pass <= MinWarmPasses || (System.nanoTime() - passStart) / 1e9 < run.seconds) {
      for (q <- rnd.shuffle(queries)) execs += measure(spark, layout, q, pass)
      run.heapCheckpoint()
      pass += 1
    }
    val warmPasses = pass - 1

    if (run.recordTo.nonEmpty) record(spark, layout)

    val first = execs.filter(_.pass == 0)
    val warm = execs.filter(_.pass > 0)
    val warmBy = warm.groupBy(_.query)
    def warmMedian(q: String, f: Exec => Double): Double = Stats.median(warmBy(q).map(f).toSeq)
    val warmLat = warm.map(_.totalS).toSeq

    val e2e = Map(
      "setup_s" -> (setup.medianS, "s"),
      "peak_heap_mb" -> (run.peakHeapMb, "MB"),
      "first_use_s" -> (first.map(_.totalS).sum, "s"),
      "warm_total_s" -> (queries.map(q => warmMedian(q, _.totalS)).sum, "s"),
      "latency_p50_ms" -> (Stats.median(warmLat) * 1000, "ms"),
      "latency_tail_ms" -> (Stats.tail(warmLat) * 1000, "ms"))

    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (tracer.on) {
      Run.busDrain(spark)
      val c = run.counters
      def warmScope(phase: String)(s: String): Boolean =
        s.endsWith("/" + phase) && s.split('#')(1).split('/')(0).toInt > 0
      def anyWarm(s: String): Boolean = s.contains('#') && s.split('#')(1).split('/')(0).toInt > 0
      val perPass = 1.0 / warmPasses
      val build = c.sum(warmScope("build"))
      val exec = c.sum(warmScope("exec"))
      val all = c.sum(anyWarm)
      val eager = queries.count(q => c.sum(s => s.startsWith(q + "#") && warmScope("build")(s)).jobs > 0)
      val firstBuild = first.map(e => e.query -> e.buildS).toMap
      layers ++= run.setupLayers(setup)
      layers ++= Seq(
        "core.staged_first_s" -> (queries.map(q =>
          math.max(0.0, firstBuild(q) - warmMedian(q, _.buildS))).sum, "s"),
        "core.staged_builds" -> (stagedBuilds.toDouble, "count"),
        "operators.build_s" -> (queries.map(q => warmMedian(q, _.buildS)).sum, "s"),
        "operators.build_jobs" -> (build.jobs * perPass, "count"),
        "operators.eager_queries" -> (eager.toDouble, "count"),
        "plans.plan_s" -> (queries.map(q => warmMedian(q, _.planS)).sum, "s"),
        "plans.exchanges" -> (first.map(_.exchanges).sum.toDouble, "count"),
        "exec.run_s" -> (queries.map(q => warmMedian(q, _.drainS)).sum, "s"),
        "exec.jobs" -> (exec.jobs * perPass, "count"),
        "exec.stages" -> (exec.stages * perPass, "count"),
        "exec.tasks" -> (exec.tasks * perPass, "count"),
        "exec.busy_share" -> (exec.runMs / 1000.0 /
          (warm.map(_.drainS).sum * run.cores), "ratio"))
      layers ++= Run.resourceLayers(all, perPass)
    }
    val failed = execs.count(!_.ok)
    println(s"perfbench: ${queries.size} queries, ${warmPasses} warm passes, " +
      s"${execs.size} executions, $failed failed")
    Result(execs.size, failed, e2e, layers.toMap)
  }

  private def measure(spark: SparkSession, layout: String, q: String, pass: Int): Exec = {
    val sc = spark.sparkContext
    val scope = s"$q#$pass"
    tracer.span("query", "bench", scope) {
      val t0 = System.nanoTime()
      var t1, t2 = t0
      var exchanges = 0
      val ok =
        try {
          val df = tracer.span("build", "operators", scope) {
            Counters.withScope(sc, scope + "/build")(SparkEntry.queries(q)(spark, layout))
          }
          t1 = System.nanoTime()
          val plan = tracer.span("plan", "plans", scope) {
            Counters.withScope(sc, scope + "/plan")(df.queryExecution.executedPlan)
          }
          t2 = System.nanoTime()
          val fp = tracer.span("drain", "exec", scope) {
            Counters.withScope(sc, scope + "/exec")(Fingerprint.drain(df))
          }
          if (tracer.on && pass == 0) exchanges = countExchanges(plan)
          val good = expected.get(q).contains(fp.render)
          if (!good) System.err.println(s"perfbench: $q output ${fp.render}, expected ${expected.getOrElse(q, "none")}")
          good
        } catch {
          case e: Throwable =>
            System.err.println(s"perfbench: $q failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
        }
      val t3 = System.nanoTime()
      if (t1 == t0) t1 = t3
      if (t2 == t0) t2 = t3
      Exec(q, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, exchanges, ok)
    }
  }

  /** Fingerprints of every query in this session, appended to the
    * recording file as `workload<TAB>query<TAB>fingerprint` lines. */
  private def record(spark: SparkSession, layout: String): Unit = {
    val lines = queries.sorted.map { q =>
      s"${run.workload}\t$q\t${Fingerprint.drain(SparkEntry.queries(q)(spark, layout)).render}\n"
    }
    Files.writeString(run.recordTo.get, lines.mkString,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}

object Surface {
  /** The flagship query, the one `SparkEntry.entry` runs. */
  val WarmupQuery = "q1_pricing_summary"
  val MinWarmPasses = 5

  final case class Exec(query: String, pass: Int, buildS: Double, planS: Double,
                        drainS: Double, exchanges: Int, ok: Boolean) {
    def totalS: Double = buildS + planS + drainS
  }

  /** Exchanges in an executed physical plan, subqueries included. An
    * adaptive plan is counted on its final plan, where each exchange sits
    * in a query stage; reused exchanges do no work and are not counted. */
  def countExchanges(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => 0
      case other =>
        (if (other.isInstanceOf[Exchange]) 1 else 0) +
          other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(plan)
  }
}
