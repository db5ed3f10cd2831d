package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The session shape the benchmark measures: `graft.Bench`'s (engine
  * extensions, one shuffle partition per core, ScanLayout on, sketch-only
  * approximate queries), at `local[cores]`, with every directory the
  * engine writes to placed under one fresh per-run work directory. */
object Session {
  def start(cores: Int, work: Path): SparkSession = {
    val warehouse = Files.createDirectories(work.resolve("warehouse"))
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("graft.approx.exactGate", "false")
    spark.conf.set(graft.core.ScanLayout.EnabledKey, "true")
    // stream-replay queries checkpoint here instead of /dev/shm
    spark.conf.set("graft.stream.ckptBase", Files.createDirectories(work.resolve("replay")).toString)
    spark
  }
}
