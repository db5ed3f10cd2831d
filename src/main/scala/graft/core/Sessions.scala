package graft.core

import org.apache.spark.sql.SparkSession

/** The one session factory for every runnable main (Bench, Verify, Soak
  * and the tools). Every runner gets the same engine extensions, master,
  * shuffle width, timestamp handling and timeouts; the two [[Shape]]s
  * differ only in the graft confs below.
  *
  * Environment:
  *   - SPARK_GRAFT_CPUS: core count (default: the JVM's available
  *     processors). Sets `local[cores]` and the shuffle partition count.
  *   - SPARK_GRAFT_MASTER: master string, overriding `local[cores]`.
  *   - SPARK_GRAFT_EXEC_CLASSPATH / SPARK_GRAFT_EXEC_MEM: executor
  *     classpath and memory under a local-cluster master (see
  *     [[clusterConfs]]).
  *   - SPARK_GRAFT_CONF: `k=v,k=v` session confs applied last, after the
  *     shape's (no escaping: keys and values never contain ','; each
  *     entry splits on its first '=').
  *
  * A `local-cluster[workers,coresPerWorker,memPerWorkerMB]` master runs
  * the SAME code across a real process boundary: the Worker launches each
  * executor as a separate JVM, so task closures, custom Expressions,
  * TypedImperativeAggregate buffers and stateful processors must survive
  * real serialization and Netty shuffle — the one dimension plain local
  * mode never exercises. Requires SPARK_HOME to point at a full Spark
  * distribution (the Worker builds the executor command from it) and the
  * application classes on the executor classpath, which local mode gets
  * for free from the driver's loader. Also export SPARK_SCALA_VERSION=2.13:
  * the in-process Worker builds the executor command via the launcher's
  * AbstractCommandBuilder, which resolves the Scala version from that env
  * var (normally exported by the dist's load-spark-env.sh, which a
  * local-cluster master bypasses); without it every executor launch fails
  * with "Cannot find any build directories".
  */
object Sessions {

  /** What a runner measures, as the graft confs its session starts with. */
  sealed abstract class Shape(val graftConfs: Seq[(String, String)])

  /** The production shape: approximate-by-design queries run their sketch
    * alone (see [[ApproxGate]]) and callers of [[ScanLayout.ensure]] read
    * its split copy. Bench, Soak, SoakGen, StreamSoak and the probes. */
  case object Scale extends Shape(Seq(
    "graft.approx.exactGate" -> "false",
    ScanLayout.EnabledKey -> "true"))

  /** The correctness-gate shape: approximate queries stay ε-gated against
    * their exact twin in-plan, and scans read the raw input files — the
    * gate must not depend on ScanLayout. */
  case object Verify extends Shape(Seq(
    "graft.approx.exactGate" -> "true",
    ScanLayout.EnabledKey -> "false"))

  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")

  private val LocalN = """local\[\s*(\d+)\s*\]""".r
  private val LocalCluster = """local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*\]""".r

  /** The parallelism a master string gives the session: under
    * local-cluster that is workers × cores per worker, which
    * SPARK_GRAFT_CPUS does not reflect. */
  def effectiveCores(master: String): Int = master.trim match {
    case "local" => 1
    case LocalN(n) => n.toInt
    case "local[*]" => Runtime.getRuntime.availableProcessors
    case LocalCluster(w, c, _) => w.toInt * c.toInt
    case _ => cores
  }

  /** Executor settings a local-cluster master needs (none otherwise):
    *   - spark.executor.extraClassPath ← SPARK_GRAFT_EXEC_CLASSPATH
    *     (default: ./target/scala-2.13/classes, sbt's output dir);
    *   - spark.executor.memory ← SPARK_GRAFT_EXEC_MEM, default the full
    *     per-worker grant (the master's third field), so one executor
    *     occupies each worker — more than the grant and SparkContext
    *     refuses to start. */
  def clusterConfs(master: String, env: Map[String, String] = sys.env): Seq[(String, String)] =
    master.trim match {
      case LocalCluster(_, _, mb) => Seq(
        "spark.executor.extraClassPath" -> env.getOrElse("SPARK_GRAFT_EXEC_CLASSPATH",
          new java.io.File("target/scala-2.13/classes").getAbsolutePath),
        "spark.executor.memory" -> env.getOrElse("SPARK_GRAFT_EXEC_MEM", s"${mb}m"))
      case _ => Seq.empty
    }

  /** SPARK_GRAFT_CONF entries: `k=v` pairs split on the first '=';
    * empty entries and entries without '=' are skipped. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(',').toSeq.map(_.trim).filter(_.contains('=')).map { kv =>
      val i = kv.indexOf('=')
      kv.take(i).trim -> kv.drop(i + 1).trim
    }.filter(_._1.nonEmpty)

  /** A fresh session of the given shape. Also the rebuild path after a
    * stopped context (Soak's failure isolation, Bench's isolated
    * re-probe), so it first drops any registered session. */
  def start(shape: Shape): SparkSession = {
    val m = master
    val builder = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(m)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Local-mode heartbeats ride the same JVM as the work: a GC or
      // compute pause past spark.network.timeout (120 s default) makes
      // HeartbeatReceiver declare the in-process executor dead and STOP
      // the context mid-run (first seen draining an 855 M-row pair
      // output at 100x, a 132 s starvation). On a real cluster this is
      // the standard GC-heavy-workload conf.
      .config("spark.network.timeout", "600s")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    for ((k, v) <- clusterConfs(m)) builder.config(k, v)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // A heartbeat-death stop runs asynchronously; a rebuild racing it
    // can be handed the half-stopped context (stopped flag up, active
    // registration not yet cleared) and throws from the session
    // constructor. Back off until the stop finishes deregistering.
    var spark: SparkSession = null
    var waitedMs = 0L
    while (spark == null) {
      try spark = builder.getOrCreate()
      catch {
        // Only the half-stopped-context race is worth waiting out; any
        // other IllegalStateException is a real misconfiguration and
        // must fail fast instead of burning the full 120 s backoff.
        // Every retry is logged so a stuck rebuild is visible on stderr.
        case e: IllegalStateException
            if waitedMs < 120000 &&
              Option(e.getMessage).exists(msg =>
                msg.contains("stopped") || msg.contains("shutdown")) =>
          System.err.println(
            s"SESSION: context stop in flight, retrying getOrCreate (waited ${waitedMs}ms): ${e.getMessage}")
          Thread.sleep(2000); waitedMs += 2000
          SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
    }
    spark.sparkContext.setLogLevel("WARN")
    for ((k, v) <- shape.graftConfs ++ parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", "")))
      spark.conf.set(k, v)
    spark
  }
}
