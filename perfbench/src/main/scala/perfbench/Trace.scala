package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its own calls into each layer.
  * Kept in memory and written out once the run ends. With tracing off
  * every method is a no-op apart from running the timed body. */
final class Tracer(val on: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  // per thread: a span's parent is the innermost span open on its own thread
  private val open = ThreadLocal.withInitial(() => mutable.Stack.empty[Int])
  private var nextId = 0
  /** Time spent inside the tracer's own bookkeeping. */
  var ownNs = 0L

  def span[A](name: String, layer: String, ref: String)(body: => A): A =
    if (!on) body
    else {
      val c0 = System.nanoTime()
      val id = synchronized { nextId += 1; nextId }
      val parent = open.get.headOption.getOrElse(0)
      open.get.push(id)
      val t0 = System.nanoTime()
      ownNs += t0 - c0
      try body
      finally {
        val t1 = System.nanoTime()
        open.get.pop()
        synchronized(spans += Span(id, parent, name, layer, ref, t0, t1))
        ownNs += System.nanoTime() - t1
      }
    }

  /** A span whose times were measured elsewhere (a stream trigger and its
    * phases, read from the engine's progress reports). Returns its id. */
  def record(parent: Int, name: String, layer: String, ref: String,
             startNs: Long, endNs: Long): Int =
    if (!on) 0
    else synchronized {
      nextId += 1
      spans += Span(nextId, parent, name, layer, ref, startNs, endNs)
      nextId
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer, in seconds: each span's duration minus the part
    * of it that its children cover. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupMapReduce(_.layer) { s =>
      val covered = Intervals.union(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
      (s.endNs - s.startNs - covered) / 1e9
    }(_ + _)
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.sortBy(_.id).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"ref":${Json.str(s.ref)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}},""" + "\n"
    }
    if (sb.length > 2) sb.setLength(sb.length - 2)
    sb ++= "\n]\n"
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        ref: String, startNs: Long, endNs: Long)
}

object Intervals {
  /** Total length covered by a set of (start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark counters per scope. The benchmark tags each call it makes into a
  * layer with a scope local property before the call; jobs and stages
  * carry the property, so every task lands in the scope that submitted
  * it however late the listener bus delivers the event. */
final class Counters extends SparkListener {
  import Counters._
  private val stageScope = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val byScope = new java.util.concurrent.ConcurrentHashMap[String, Acc]()

  private def acc(scope: String): Acc = byScope.computeIfAbsent(scope, _ => new Acc)
  private def scopeOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(ScopeKey))).getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val scope = scopeOf(e.properties)
    val a = acc(scope)
    a.synchronized(a.jobs += 1)
    e.stageInfos.foreach(si => stageScope.put(si.stageId, scope))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val scope = scopeOf(e.properties)
    stageScope.put(e.stageInfo.stageId, scope)
    val a = acc(scope)
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(Option(stageScope.get(e.stageId)).getOrElse("untagged"))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (!e.taskInfo.successful) a.taskFailures += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.scan += m.inputMetrics.bytesRead
      }
    }
  }

  /** Counters of every scope whose name passes `keep`, summed. */
  def sum(keep: String => Boolean): Acc = {
    val out = new Acc
    byScope.forEach((k, v) => if (keep(k)) v.synchronized(out.add(v)))
    out
  }
}

object Counters {
  val ScopeKey = "perfbench.scope"

  final class Acc {
    var jobs, stages, tasks, taskFailures = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, scan = 0L
    def add(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskFailures += o.taskFailures
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
      shuffleRead += o.shuffleRead; spill += o.spill; scan += o.scan
    }
  }

  def withScope[A](sc: SparkContext, scope: String)(body: => A): A = {
    val prev = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, scope)
    try body finally sc.setLocalProperty(ScopeKey, prev)
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
