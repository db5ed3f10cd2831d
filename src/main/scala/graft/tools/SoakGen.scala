package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-soak generator: replicate an sf directory N× with
  * re-keyed ids so the full query surface can run at ~10× the largest
  * shipped scale factor and surface the skew/memory cliffs sf0.1 hides.
  *
  * Re-keying scheme: every id space gets a decimal base B = the next
  * power of 10 past its source max, and copy i adds i·B to each id in
  * that space — foreign keys move in lockstep (copy i's lineitem joins
  * copy i's orders/part/supplier), so join cardinalities scale linearly
  * by construction while group-by domains (nations, event types, langs,
  * sources) stay fixed — which is exactly the shape that makes hot keys
  * N× hotter and quadratic candidate generators N²× bigger, i.e. the
  * failure modes a scale soak exists to catch. region/nation pass
  * through unchanged (fixed dimensions at every TPC-H scale factor).
  * Replicated documents/embeddings additionally make every doc/vector a
  * member of an N-way exact-duplicate cluster — worst-case pressure for
  * the dedup family.
  *
  * Usage: runMain graft.tools.SoakGen [srcDir] [dstDir] [copies]
  */
object SoakGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "bench_local/soak_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.Sessions.start(graft.core.Sessions.Scale)
    run(spark, src, dst, copies)
    spark.stop()
  }

  /** Replicate `src` into `dst` `copies`-fold (see object doc). Split
    * from main so SoakGenSpec can assert the re-key invariants on a
    * shared test session. */
  def run(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    def load(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    /** Next power of 10 strictly past the column's max — keeps offset ids
      * readable and collision-free. */
    def base(df: DataFrame, idCol: String): Long = {
      val mx = df.agg(max(col(idCol))).collect()(0).getLong(0)
      var b = 10L
      while (b <= mx) b *= 10
      b
    }

    // one base per ID SPACE (not per table): foreign keys must shift by
    // the same amount as the primary keys they reference
    val bases = Map(
      "custkey" -> base(load("customer"), "c_custkey"),
      "orderkey" -> base(load("orders"), "o_orderkey"),
      "partkey" -> base(load("part"), "p_partkey"),
      "suppkey" -> base(load("supplier"), "s_suppkey"),
      "event_id" -> base(load("events"), "event_id"),
      "user_id" -> base(load("events"), "user_id"),
      "doc_id" -> base(load("documents"), "doc_id"),
      "vec_id" -> base(load("embeddings"), "vec_id"))

    // table -> (column -> id space)
    val keyed: Map[String, Map[String, String]] = Map(
      "customer" -> Map("c_custkey" -> "custkey"),
      "orders" -> Map("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
      "lineitem" -> Map("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
        "l_suppkey" -> "suppkey"),
      "part" -> Map("p_partkey" -> "partkey"),
      "supplier" -> Map("s_suppkey" -> "suppkey"),
      "events" -> Map("event_id" -> "event_id", "user_id" -> "user_id"),
      "documents" -> Map("doc_id" -> "doc_id"),
      "embeddings" -> Map("vec_id" -> "vec_id"))

    new java.io.File(dst).mkdirs()
    for ((name, keys) <- keyed.toSeq.sortBy(_._1)) {
      val df = load(name)
      val copyIdx = spark.range(copies).select(col("id").as("copy_i"))
      val out = df.crossJoin(copyIdx)
        .select(df.columns.map { c =>
          keys.get(c) match {
            case Some(space) => (col(c) + col("copy_i") * bases(space)).as(c)
            case None => col(c)
          }
        }: _*)
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"$name: ${df.count()} -> ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    for (name <- Seq("region", "nation")) {
      load(name).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"$name: passthrough")
    }
  }
}
