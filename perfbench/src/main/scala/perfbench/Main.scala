package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run; see perfbench/README.md. Prints one JSON line last:
  * `{"correct", "attempted", "failed", "metrics"}`, where the metrics are
  * the end-to-end ones, or with `--trace 1` the per-layer ones. */
object Main {
  /** The x10 query list: execution-bound, with eager construction
    * (staged shingle and signature artifacts, the connected-components
    * loop) and the dedup rep-collapse branch. */
  val X10Queries = Seq("dedup_clusters")

  val SelfLayers = Seq("bench", "core", "operators", "plans", "exec", "streaming", "sources")

  val LayerUnits: Seq[(String, String)] = {
    val perStream = Seq("trigger_ms" -> "ms", "planning_ms" -> "ms", "getbatch_ms" -> "ms",
      "addbatch_ms" -> "ms", "wal_ms" -> "ms", "backlog_files" -> "count",
      "input_lag_ms" -> "ms", "e2r_p50_ms" -> "ms", "e2r_tail_ms" -> "ms")
    Seq("core.session_s" -> "s", "core.layout_s" -> "s", "core.artifacts_s" -> "s",
      "core.warmup_s" -> "s", "core.staged_first_s" -> "s", "core.staged_builds" -> "count",
      "operators.build_s" -> "s", "operators.build_jobs" -> "count",
      "operators.eager_queries" -> "count", "plans.plan_s" -> "s", "plans.exchanges" -> "count",
      "exec.run_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
      "exec.tasks" -> "count", "exec.busy_share" -> "ratio", "exec.task_cpu_s" -> "s",
      "exec.gc_s" -> "s", "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
      "exec.spill_mb" -> "MB", "exec.scan_mb" -> "MB", "exec.task_failures" -> "count") ++
      Seq("wc", "ingest").flatMap(p => perStream.map { case (n, u) => s"streaming.$p.$n" -> u }) ++
      Seq("streaming.wc.max_rate_eps" -> "1/s", "streaming.ingest.max_rate_dps" -> "1/s",
        "streaming.wc.state_rows" -> "count", "streaming.wc.state_mb" -> "MB",
        "streaming.gen_late_ms" -> "ms", "sources.write_ms" -> "ms", "sources.versions" -> "count") ++
      SelfLayers.map(l => s"self.${l}_s" -> "s") ++
      Seq("trace.spans" -> "count", "trace.own_ms" -> "ms")
  }
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val data = Paths.get(opt("data"))
    val work = Paths.get(opt("work"))
    val tracer = new Tracer(opt.get("trace").contains("1"))
    val expected = opt.get("expected").map(Paths.get(_)).filter(Files.exists(_)).toSeq
      .flatMap(p => Files.readAllLines(p).asScala).map(_.split('\t'))
      .collect { case Array(w, q, fp) if w == workload => q -> fp }.toMap
    val run = new Run(workload, opt("seed").toLong, opt("seconds").toInt, tracer,
      opt.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors), work,
      expected, opt.get("record").map(Paths.get(_)))

    val result = workload match {
      case "x10_heavy" => new Surface(run, Paths.get(opt("x10")), data.resolve("sf0.001"), X10Queries)()
      case "stream_ladder" => new Ladder(run, data.resolve("sf0.1"))()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val metrics: Seq[(String, (Double, String))] =
      if (!tracer.on) result.e2e.toSeq.sortBy(_._1)
      else {
        val self = tracer.selfSeconds
        val traced = result.layers ++ SelfLayers.map(l => s"self.${l}_s" -> (self.getOrElse(l, 0.0), "s")) ++
          Seq("trace.spans" -> (tracer.all.size.toDouble, "count"),
            "trace.own_ms" -> (tracer.ownNs / 1e6, "ms"))
        opt.get("trace-out").foreach { d =>
          tracer.writeJson(Files.createDirectories(Paths.get(d)).resolve(s"$workload-s${run.seed}.spans.json"))
        }
        LayerUnits.map { case (n, u) => n -> (traced.get(n).map(_._1).getOrElse(0.0), u) }
      }
    SparkSession.getActiveSession.foreach(_.stop())
    val body = metrics.map { case (n, (v, u)) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": ${result.failed == 0 && result.attempted > 0}, "attempted": ${result.attempted}, """ +
      s""""failed": ${result.failed}, "metrics": {$body}}""")
    sys.exit(0)
  }
}

/** Builds the ×10 input once: `graft.tools.SoakGen` over sf0.1 into a
  * temporary directory, renamed into place when complete. */
object Prepare {
  def main(args: Array[String]): Unit = {
    val (src, dst, work) = (Paths.get(args(0)), Paths.get(args(1)), Paths.get(args(2)))
    val spark = Session.start(Runtime.getRuntime.availableProcessors, work)
    val tmp = dst.resolveSibling(dst.getFileName.toString + ".tmp")
    graft.tools.SoakGen.run(spark, src.toString, tmp.toString, 10)
    spark.stop()
    Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
