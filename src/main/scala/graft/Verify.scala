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
    val wanted = args.drop(2).flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = wanted -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wanted.isEmpty || wanted(n))

    val spark = Sessions.start(Sessions.Verify)
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => wanted.isEmpty || wanted(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
