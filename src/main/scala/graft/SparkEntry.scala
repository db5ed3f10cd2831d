package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.functions.TextAnalysis
import graft.operators.{AsOf, Clustering, Dedup, EventTime, Graph, Layout, Multimodal, ParityQueries, Pipeline, Relational, Sampling, Similarity, Sketches}
import graft.streaming.Sessionize

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator registers a named query bound to the parquet
  * testdata plus (where SQL-expressible) a DuckDB oracle over the same
  * tables. Conventions, enforced module-by-module:
  *   - column names aliased identically on both sides (the driver sorts
  *     columns by name before hashing);
  *   - double sums routed through DECIMAL(18,4) so Spark and DuckDB agree
  *     bit-for-bit, then rounded;
  *   - timestamps formatted to strings in outputs;
  *   - deterministic ORDER BY (+ tiebreak keys) everywhere.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ParityQueries.queries ++ Relational.queries ++ EventTime.queries ++
      TextAnalysis.queries ++ Dedup.queries ++ Similarity.queries ++
      Multimodal.queries ++ AsOf.queries ++ Sketches.queries ++
      Graph.queries ++ Sampling.queries ++ Clustering.queries ++
      Pipeline.queries ++ Layout.queries ++
      graft.streaming.StreamOracle.queries ++ Map(
      // O14 analogue: typed flatMapGroups sessionizer; same oracle as the
      // declarative events_session — the custom stateful op must agree
      // with the SQL formulation.
      "sessionize_stateful" -> ((s: SparkSession, dir: String) =>
        Sessionize.sessionizeBatch(Tables.events(s, dir))),
      // second O14 analogue: typed per-user funnel state machine; same
      // oracle as the declarative events_funnel — the custom stateful op
      // must agree with the three-aggregate SQL formulation.
      "funnel_stateful" -> ((s: SparkSession, dir: String) =>
        graft.streaming.Funnel.funnelBatch(Tables.events(s, dir))),
      // third O14 analogue: typed per-user last-touch state; same oracle
      // as the declarative events_attribution window formulation.
      "attribution_stateful" -> ((s: SparkSession, dir: String) =>
        graft.streaming.Attribution.attributionBatch(Tables.events(s, dir)))
    )

  def oracleSql: Map[String, String] =
    ParityQueries.oracles ++ Relational.oracles ++ EventTime.oracles ++
      TextAnalysis.oracles ++ Dedup.oracles ++ Similarity.oracles ++
      Multimodal.oracles ++ AsOf.oracles ++ Sketches.oracles ++
      Graph.oracles ++ Sampling.oracles ++ Clustering.oracles ++
      Pipeline.oracles ++ Layout.oracles ++
      graft.streaming.StreamOracle.oracles ++ Map(
      "sessionize_stateful" -> EventTime.oracles("events_session"),
      "funnel_stateful" -> EventTime.oracles("events_funnel"),
      "attribution_stateful" -> EventTime.oracles("events_attribution")
    )

  /** The registered names a runner's trailing arguments select, sorted:
    * every query when there are none. Names may be space- or
    * comma-separated; an unknown name fails before any session starts. */
  def select(args: Seq[String]): Seq[String] = {
    val wanted = args.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = wanted -- queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    queries.keys.toSeq.sorted.filter(n => wanted.isEmpty || wanted(n))
  }

  /** A JSON string literal: backslash, quote and ALL control characters
    * (< 0x20) escaped, so a tab or CR in SQL or an error message cannot
    * make a runner's output unparseable. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
