package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.operators.Parity

/** Source/sink format coverage beyond parquet (SURVEY.md §2.1: text, CSV
  * with schema, parquet; plus ORC round-trip for completeness).
  */
class SourcesSpec extends SparkSpec {

  test("CSV source with explicit schema matches the text+split parse") {
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("followers", IntegerType)))
    val csv = spark.read.schema(schema).csv(appCsv("twitter_5k.csv"))
    val viaCsv = Parity.filterCount(csv, "followers", 50.0).collect()(0).getLong(1)
    val viaText = Parity.filterCount(
      Parity.parseTwitter(spark.read.text(appCsv("twitter_5k.csv"))),
      "followers", 50.0).collect()(0).getLong(1)
    assert(viaCsv === viaText)
  }

  test("ORC round-trip preserves the q1 result") {
    val dir = Files.createTempDirectory("graft-orc").toString
    Tables.lineitem(spark, sf0001).write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() === Tables.lineitem(spark, sf0001).count())
    assert(back.schema.fieldNames.toSeq ===
      Tables.lineitem(spark, sf0001).schema.fieldNames.toSeq)
  }

  test("parquet sink round-trip of a query result") {
    val dir = Files.createTempDirectory("graft-pq").toString
    val out = SparkEntry.queries("q1_pricing_summary")(spark, sf0001)
    out.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).orderBy("l_returnflag", "l_linestatus")
    assert(back.collect().map(_.toSeq).toSeq === out.collect().map(_.toSeq).toSeq)
  }

  test("schema evolution: mergeSchema unifies ingest batches that added a column") {
    // the standard corpus-ingest reality: a later batch starts carrying a
    // new column; the reader must surface the union schema with nulls for
    // the old batch, not fail or silently drop the column
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.parquet(s"$dir/batch=1")
    Seq((3L, "gamma", "en")).toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/batch=2")
    val unified = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(unified.schema.fieldNames.toSet === Set("doc_id", "text", "lang", "batch"))
    val rows = unified.orderBy("doc_id")
      .select("doc_id", "lang").collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(rows.toSeq === Seq((1L, None), (2L, None), (3L, Some("en"))))
    // and the evolved column predicate still prunes at the scan
    val plan = unified.filter(col("lang") === "en").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)"), plan)
  }

  test("text sink round-trip: wordcount out as `k --- v` lines and back") {
    // the reference's own sink shape: its Spark twin saveAsTextFiles the
    // counts (spark_app/spark_wordcount.py:46), its master dumps
    // `k --- v` (crane_master.py:166-169)
    import graft.sources.TextSink
    val dir = Files.createTempDirectory("graft-text").toString
    val counts = Parity.wordCount(spark.read.text(appCsv("wordcount2k.csv")))
    TextSink.write(counts, dir)
    val back = TextSink.readCounts(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(back === want)
    // and the files really are plain `k --- v` text lines
    val raw = spark.read.text(dir).collect().map(_.getString(0))
    assert(raw.forall(_.contains(" --- ")), "every line carries the dump separator")
  }

  test("JSON source/sink round-trip (events projection)") {
    val dir = Files.createTempDirectory("graft-json").toString
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.count() === ev.count())
  }

  test("Tables.events refuses a non-UTC session zone for NTZ normalization") {
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    // the guard only applies to the TIMESTAMP_NTZ shipping encoding; the
    // nanos-as-long path is zone-free by construction
    assume(raw.schema("ts").dataType == TimestampNTZType)
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "America/Chicago")
    try {
      val ex = intercept[IllegalArgumentException] { Tables.events(spark, sf0001) }
      assert(ex.getMessage.contains("timeZone=UTC"))
    } finally spark.conf.set(key, prev)
  }
}
