package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"

  /** Path of a hand-written stand-in for one of the reference's `app`
    * CSV inputs, kept under src/test/resources/app (FIXTURES.md §A). */
  def appCsv(name: String): String = {
    val url = getClass.getResource(s"/app/$name")
    require(url != null, s"missing test fixture app/$name")
    new java.io.File(url.toURI).getPath
  }
}
