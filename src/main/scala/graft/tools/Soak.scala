package graft.tools

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** Scale soak: run the ENTIRE registered query surface against a
  * SoakGen-replicated directory (~10x the largest shipped scale factor)
  * and record per-query status, wall clock, and output cardinality.
  *
  * Unlike Bench this is a survival run, not a latency measurement: each
  * query gets a hard per-query timeout (default 600 s) enforced by
  * `cancelJobGroup` so one quadratic blowup cannot hang the whole soak,
  * and results stream to a JSONL log line-by-line so a crash (OOM, host
  * reset) still leaves the per-query record up to that point. The log is
  * the committed artifact: at 10x data a linear query shows ~10x the
  * sf0.1 bench time, and anything wildly super-linear (or timed out) is
  * a scale cliff the small-SF bench hid.
  *
  * FAILURE ISOLATION (round-9 finding): an executor-thread OOM can stop
  * the local-mode SparkContext; the round-9 30x soak kept submitting
  * queries to the dead context and recorded 7 spurious failures for one
  * real one. Now every iteration checks `sparkContext.isStopped` after
  * the query returns and REBUILDS the session before the next query —
  * one blowup yields one failure row, and the rebuild is logged as its
  * own JSONL line (`session_rebuilt`) so the artifact shows exactly
  * where isolation kicked in. A rebuilt session re-stages its shared
  * artifacts from scratch (Staged keys are session-scoped), so later
  * queries never read a dir the dying session half-wrote.
  *
  * Output rows are drained distributed through the same
  * `queryExecution.toRdd.foreach` full-materialization path as Bench,
  * with a LongAccumulator counting rows — cardinality is evidence (e.g.
  * the N-way exact-duplicate clusters SoakGen plants must multiply dedup
  * pair counts ~N^2/2-fold, and a pair generator whose count scales
  * WORSE than that is broken, not just slow).
  *
  * Usage: runMain graft.tools.Soak [sfDir] [outJsonl] [name ...]
  * (trailing names restrict the soak to those queries — the incremental
  * re-soak path for queries added/changed since the last full run)
  * Env: SPARK_GRAFT_SOAK_TIMEOUT (sec/query), plus the session env of
  * graft.core.Sessions — e.g. SPARK_GRAFT_CONF="graft.stage.budget=<tiny>"
  * to induce a failure and prove isolation.
  */
object Soak {

  /** The isolation primitive, exercised directly by [[IsolationProbe]]:
    * a live session passes through untouched; a stopped context is
    * replaced by a fresh session so the next query runs against real
    * infrastructure instead of cascading "stopped SparkContext" errors.
    * Soak measures scale survival of the SCALE shape: approx queries run
    * their sketch alone (see graft.core.ApproxGate). */
  private[tools] def ensureLive(spark: SparkSession): (SparkSession, Boolean) =
    if (spark.sparkContext.isStopped) (Sessions.start(Sessions.Scale), true) else (spark, false)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "bench_local/soak_sf1"
    val outPath = if (args.length > 1) args(1) else "bench_local/soak_r7.jsonl"
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_SOAK_TIMEOUT", "600").toLong
    var spark = Sessions.start(Sessions.Scale)

    val outFile = new java.io.File(outPath)
    Option(outFile.getParentFile).foreach(_.mkdirs())
    val log = new java.io.PrintWriter(new java.io.FileWriter(outFile, false), true)
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ").take(300)

    val names = {
      val all = graft.SparkEntry.queries.keys.toSeq.sorted
      if (args.length > 2) {
        val want = args.drop(2).toSet
        val unknown = want -- all.toSet
        require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
        all.filter(want)
      } else all
    }
    // a stuck worker thread (cancel not honored) must not block the rest
    // of the soak: abandon its executor and continue on a fresh one
    var exec = Executors.newSingleThreadExecutor()
    var okN, errN, toN, rebuilds = 0
    for (name <- names) {
      val s = spark // stable reference for the worker thread
      val acc = s.sparkContext.longAccumulator(s"rows_$name")
      val t0 = System.nanoTime()
      val fut = exec.submit(new Callable[Unit] {
        def call(): Unit = {
          // job-group tagging is thread-local: set it on the thread that
          // actually triggers the jobs so cancelGroup reaches them
          s.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          // bind to a call-local: referencing the outer `acc` field would
          // make the lambda capture this Callable (and its SparkSession),
          // which is not serializable
          val a = acc
          graft.SparkEntry.queries(name)(s, sfDir)
            .queryExecution.toRdd.foreach { _ => a.add(1L) }
        }
      })
      val (status, err) =
        try { fut.get(timeoutSec, TimeUnit.SECONDS); ("ok", "") }
        catch {
          case _: TimeoutException =>
            s.sparkContext.cancelJobGroup(name)
            try fut.get(30, TimeUnit.SECONDS) catch { case _: Throwable => () }
            if (!fut.isDone) { exec.shutdownNow(); exec = Executors.newSingleThreadExecutor() }
            ("timeout", s"exceeded ${timeoutSec}s")
          case e: ExecutionException =>
            val c = Option(e.getCause).getOrElse(e)
            ("error", s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("")}")
        }
      val sec = (System.nanoTime() - t0) / 1e9
      status match {
        case "ok" => okN += 1; case "timeout" => toN += 1; case _ => errN += 1
      }
      val secS = String.format(java.util.Locale.ROOT, "%.1f", Double.box(sec))
      log.println(s"""{"q":"$name","status":"$status","sec":$secS,"rows":${acc.value},"err":"${esc(err)}"}""")
      println(s"SOAK $name: $status ${secS}s rows=${acc.value} $err")
      // failure isolation: a fatal error (OOM) that stopped the context
      // must cost exactly one failure row, not the rest of the run. If
      // the rebuild itself is impossible (a deadlocked context stop),
      // record THAT and fall through to the summary — a crashed main
      // loses the artifact's tail, which is worse than a partial run.
      try {
        val (live, rebuilt) = ensureLive(spark)
        if (rebuilt) {
          spark = live
          rebuilds += 1
          log.println(s"""{"session_rebuilt":true,"after":"$name"}""")
          println(s"SOAK session rebuilt after $name (context was stopped)")
        }
      } catch {
        case e: Throwable =>
          errN += 1
          log.println(s"""{"session_rebuild_failed":true,"after":"$name","err":"${esc(e.toString)}"}""")
          println(s"SOAK session rebuild FAILED after $name: $e — aborting remaining queries")
          log.println(s"""{"summary":true,"sf":"$sfDir","queries":${names.size},"ok":$okN,"error":$errN,"timeout":$toN,"session_rebuilds":$rebuilds,"aborted":true}""")
          log.close()
          sys.exit(1)
      }
    }
    log.println(s"""{"summary":true,"sf":"$sfDir","queries":${names.size},"ok":$okN,"error":$errN,"timeout":$toN,"session_rebuilds":$rebuilds}""")
    log.close()
    println(s"SOAK DONE ok=$okN error=$errN timeout=$toN rebuilds=$rebuilds -> $outPath")
    spark.stop()
    // abandoned stuck threads would otherwise keep the JVM alive
    sys.exit(if (errN + toN == 0) 0 else 1)
  }
}
