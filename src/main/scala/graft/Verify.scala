package graft

import java.nio.file.{Files, Paths}

import graft.core.Sessions

/** Driver-run correctness dump: each SparkEntry.queries result → parquet
  * under `<outDir>/<name>`, plus `oracle_sql.json` for the DuckDB
  * oracle compare (`tools/check_oracle.py <outDir> <sfDir>`).
  *
  *   runMain graft.Verify <sfDir> <outDir> [name ...]
  *
  * Trailing names (space- or comma-separated) restrict the dump and its
  * oracle file to those queries — the targeted cross-engine check for
  * queries under development; no names dumps the whole registry. A
  * failing query is logged and skipped so one bad query cannot hide the
  * rest of the surface.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [name ...]")
    val Array(sfDir, outDir) = args.take(2)
    val names = SparkEntry.select(args.drop(2).toSeq)

    val spark = Sessions.start(Sessions.Verify)
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val selected = names.toSet
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${SparkEntry.jsonString(k)}: ${SparkEntry.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
