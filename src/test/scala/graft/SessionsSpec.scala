package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ScanLayout, Sessions}

/** The session factory's pure parts. `Sessions.start` itself is not
  * called here: a second getOrCreate in the test JVM would hand back the
  * shared TestSession and rewrite its settings. */
class SessionsSpec extends AnyFunSuite {

  test("a local-cluster master takes executor memory from its third field") {
    val confs = Sessions.clusterConfs("local-cluster[2,2,3000]", Map.empty).toMap
    assert(confs("spark.executor.memory") === "3000m")
    assert(confs("spark.executor.extraClassPath").endsWith("target/scala-2.13/classes"))
    val env = Map("SPARK_GRAFT_EXEC_CLASSPATH" -> "/cp")
    assert(Sessions.clusterConfs("local-cluster[2,2,3000]", env).toMap ===
      Map("spark.executor.memory" -> "3000m", "spark.executor.extraClassPath" -> "/cp"))
    assert(Sessions.clusterConfs("local[4]", env).isEmpty)
  }

  test("SPARK_GRAFT_CONF splits on the first '=' and skips empty entries") {
    assert(Sessions.parseConf("") === Seq.empty)
    assert(Sessions.parseConf("a.b=1,,c=x=y, ,noeq,=v,d=") ===
      Seq("a.b" -> "1", "c" -> "x=y", "d" -> ""))
  }

  test("the two shapes differ only in the approx gate and ScanLayout") {
    assert(Sessions.Scale.graftConfs.toMap ===
      Map("graft.approx.exactGate" -> "false", ScanLayout.EnabledKey -> "true"))
    assert(Sessions.Verify.graftConfs.toMap ===
      Map("graft.approx.exactGate" -> "true", ScanLayout.EnabledKey -> "false"))
  }

  test("no main source outside core/Sessions.scala builds its own SparkSession") {
    val root = Iterator.iterate(new File(".").getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .find(d => new File(d, "src/main/scala/graft/core/Sessions.scala").isFile)
    assert(root.nonEmpty, "project root with src/main/scala not found")
    val main = new File(root.get, "src/main/scala")
    def scalaFiles(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val builder = """SparkSession\s*\.\s*builder""".r
    val offenders = scalaFiles(main)
      .filterNot(_.getPath.endsWith("graft/core/Sessions.scala"))
      .filter(f => builder.findFirstIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty)
      .map(f => main.toPath.relativize(f.toPath).toString)
    assert(scalaFiles(main).size > 50, "source walk found too few files")
    assert(offenders.isEmpty,
      s"hand-built SparkSessions (use graft.core.Sessions.start): ${offenders.mkString(", ")}")
  }
}
