package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{EventTime, Parity}
import graft.streaming.{Sessionize, Streams}

/** Stream ≡ batch assertions: the same Parity transforms run as
  * Structured Streaming (file source, Trigger.AvailableNow, checkpointed
  * memory sink) must produce exactly the batch results — the Crane
  * batch-vs-stream equivalence with an exactly-once upgrade.
  */
class StreamingSpec extends SparkSpec {

  /** Copy a reference-style CSV fixture into a fresh dir (file source wants a directory
    * it can list) and return (inputDir, checkpointDir). */
  private def stage(file: String): (String, String) = {
    val in = Files.createTempDirectory("graft-stream-in")
    val cp = Files.createTempDirectory("graft-stream-cp")
    Files.copy(java.nio.file.Paths.get(file), in.resolve("part-0.txt"))
    (in.toString, cp.toString)
  }

  private def asMap(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("streaming wordcount ≡ batch wordcount on wordcount2k.csv") {
    val src = appCsv("wordcount2k.csv")
    val (in, cp) = stage(src)
    val got = Streams.runToCompletion(spark,
      Streams.wordCountStream(spark, in), "wc_stream", checkpoint = Some(cp))
    val want = Parity.wordCount(spark.read.text(src))
    assert(asMap(got) === asMap(want))
  }

  test("streaming pagerank ≡ batch on pagerank_42k.csv") {
    val src = appCsv("pagerank_42k.csv")
    val (in, cp) = stage(src)
    val got = Streams.runToCompletion(spark,
      Streams.pageRankStream(spark, in), "pr_stream", checkpoint = Some(cp))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = Parity.pageRankContribs(Parity.parseAdjacency(spark.read.text(src)))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === want.keySet)
    assert(got.forall { case (k, v) => math.abs(v - want(k)) < 1e-9 })
  }

  test("streaming twitter filter ≡ batch, incl. empty-survivor file") {
    // twitter_5k.csv: 51, 120, 300, 51 and 13840 pass; 50, 50, 49, 7, 1 do not
    for ((f, expected) <- Seq("twitter_1k.csv" -> 0L, "twitter_5k.csv" -> 5L)) {
      val src = appCsv(f)
      val (in, cp) = stage(src)
      val got = Streams.runToCompletion(spark,
        Streams.twitterStream(spark, in), s"tw_stream_${f.takeWhile(_ != '.')}",
        checkpoint = Some(cp)).collect()
      val want = Parity.filterCount(Parity.parseTwitter(spark.read.text(src)),
        "followers", 50.0).collect()
      assert(got.length === 1)
      assert(got(0).getLong(1) === want(0).getLong(1))
      assert(got(0).getLong(1) === expected)
    }
  }

  test("watermarked tumbling windows: appended results ⊆ batch, tail withheld") {
    // stream the events parquet through the same windowed aggregation
    val batchEvents = Tables.events(spark, sf0001)
    val schema = batchEvents.schema
    val dir = Files.createTempDirectory("graft-events-in")
    batchEvents.write.mode("overwrite").parquet(dir.toString)
    val streamed = spark.readStream.schema(schema).parquet(dir.toString)
    val got = Streams.runToCompletion(spark,
      Streams.tumblingCounts(streamed), "tumbling_stream", mode = "append")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    val batch = EventTime.queries("events_tumbling")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap

    assert(got.nonEmpty, "no windows emitted")
    // every emitted (finalized) window must match batch exactly
    for ((k, v) <- got) assert(batch.get(k).contains(v), s"window $k: stream $v vs batch ${batch.get(k)}")
    // only the watermark tail may be withheld
    assert(got.size >= batch.size - 3, s"too few windows: ${got.size} vs ${batch.size}")
  }

  test("stream-static broadcast enrichment ≡ batch join") {
    val events = Tables.events(spark, sf0001)
    val dir = Files.createTempDirectory("graft-enrich-in")
    events.write.mode("overwrite").parquet(dir.toString)
    val dim = Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_mktsegment"))
    val streamed = spark.readStream.schema(events.schema).parquet(dir.toString)
    val got = Streams.runToCompletion(spark,
      Streams.enrichedCounts(streamed, dim, "user_id", "c_custkey", "c_mktsegment"),
      "enrich_stream")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = events.join(dim, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streaming session windows: every finalized session matches batch") {
    val batchEvents = Tables.events(spark, sf0001)
    val dir = Files.createTempDirectory("graft-sess-in")
    batchEvents.write.mode("overwrite").parquet(dir.toString)
    val streamed = spark.readStream.schema(batchEvents.schema).parquet(dir.toString)
    val got = Streams.runToCompletion(spark,
      Streams.sessionCounts(streamed), "session_stream", mode = "append")
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("ss"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    val batch = EventTime.queries("events_session")(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[String]("session_start")) ->
        r.getAs[Long]("n_events")).toMap

    assert(got.nonEmpty, "no sessions emitted")
    for ((k, v) <- got)
      assert(batch.get(k).contains(v), s"session $k: stream $v vs batch ${batch.get(k)}")
    // each user's final (watermark-tail) session may be withheld, nothing else
    assert(got.size >= batch.size / 2, s"too few sessions: ${got.size} vs ${batch.size}")
  }

  test("transformWithState sessionizer: finalized sessions match batch (RocksDB store)") {
    // Spark 4.x arbitrary-state API: typed ValueState + explicit
    // event-time timers; engine requires the RocksDB provider
    val batchEvents = Tables.events(spark, sf0001)
    val dir = Files.createTempDirectory("graft-tws-in")
    batchEvents.write.mode("overwrite").parquet(dir.toString)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = spark.readStream.schema(batchEvents.schema).parquet(dir.toString)
        .withWatermark("ts", "30 minutes")
      val got = Streams.runToCompletion(spark,
        Sessionize.sessionizeTWS(streamed).toDF(), "tws_sessions", mode = "append")
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("ss"),
          col("n_events"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = EventTime.queries("events_session")(spark, sf0001)
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[String]("session_start")) ->
          r.getAs[Long]("n_events")).toMap
      assert(got.nonEmpty, "no sessions emitted")
      for ((k, v) <- got)
        assert(batch.get(k).contains(v), s"session $k: stream $v vs batch ${batch.get(k)}")
      // the watermark-tail open session per user may be withheld, nothing else
      assert(got.size >= batch.size / 2, s"too few sessions: ${got.size} vs ${batch.size}")
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  private def withRocksDB[T](body: => T): T = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("transformWithState funnel: final stages match declarative funnel (RocksDB store)") {
    val declarative = EventTime.queries("events_funnel")(spark, sf0001)
      .collect().map(r => r.getAs[Long]("stage") -> r.getAs[Long]("users")).toMap
    val batchEvents = Tables.events(spark, sf0001)
    val dir = Files.createTempDirectory("graft-funnel-tws-in")
    batchEvents.write.mode("overwrite").parquet(dir.toString)
    withRocksDB {
      val streamed = spark.readStream.schema(batchEvents.schema).parquet(dir.toString)
      val got = Streams.runToCompletion(spark,
        graft.streaming.Funnel.funnelStreamTWS(streamed), "funnel_tws_stream",
        mode = "update")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val byStage = (1 to 3).map(k =>
        k.toLong -> got.values.count(_ >= k).toLong).toMap
      assert(byStage === declarative,
        s"TWS stream stages $byStage vs declarative $declarative")
    }
  }

  test("transformWithState attribution: Touch crosses micro-batches (RocksDB store)") {
    import spark.implicits._
    def writeOne(df: DataFrame, dest: java.nio.file.Path): Unit = {
      val tmp = Files.createTempDirectory("graft-attr-tws-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, dest)
    }
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime + min * 60000L)
    val in = Files.createTempDirectory("graft-attr-tws-in")
    writeOne(Seq((1L, 1L, ts(0), "click", 1.0), (2L, 2L, ts(1), "purchase", 10.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value"), in.resolve("f1.parquet"))
    Thread.sleep(1100) // strictly later mtime => deterministic batch order
    writeOne(Seq((1L, 3L, ts(2), "purchase", 20.0), (1L, 4L, ts(3), "view", 1.0),
      (1L, 5L, ts(4), "purchase", 30.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value"), in.resolve("f2.parquet"))
    Thread.sleep(1100)
    withRocksDB {
      val streamed = spark.readStream.schema(
        Tables.events(spark, sf0001).select("user_id", "event_id", "ts", "event_type", "value").schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      val got = Streams.runToCompletion(spark,
        graft.streaming.Attribution.attributionTWS(streamed).toDF(), "attr_tws_stream",
        mode = "append")
        .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
      // u1: click@0 then purchase@2 (batch 2, credited ACROSS batches via
      // the carried Touch) and view@3 then purchase@4 (credited within
      // batch 2); u2: no prior touch
      assert(got === Seq(("click", 20.0), ("none", 10.0), ("view", 30.0)).sorted,
        s"got $got")
    }
  }

  test("flatMapGroups batch sessionizer ≡ declarative session_window query") {
    val stateful = SparkEntry.queries("sessionize_stateful")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val declarative = EventTime.queries("events_session")(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[String]("session_start")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("total"))).toMap
    assert(stateful === declarative)
  }

  test("stateful funnel ≡ declarative funnel, batch and streaming") {
    // batch typed state machine vs the three-aggregate SQL formulation
    val stateful = SparkEntry.queries("funnel_stateful")(spark, sf0001)
      .collect().map(r => r.getAs[Long]("stage") -> r.getAs[Long]("users")).toMap
    val declarative = EventTime.queries("events_funnel")(spark, sf0001)
      .collect().map(r => r.getAs[Long]("stage") -> r.getAs[Long]("users")).toMap
    // the streaming form is the transformWithState funnel test above,
    // on the same events and the same assertion
    assert(stateful === declarative)
  }

  test("stateful attribution ≡ declarative window attribution; state crosses batches") {
    val stateful = SparkEntry.queries("attribution_stateful")(spark, sf0001)
      .collect().map(r => r.getAs[String]("src_type") ->
        (r.getAs[Long]("n_purchases"), r.getAs[Double]("revenue"))).toMap
    val declarative = EventTime.queries("events_attribution")(spark, sf0001)
      .collect().map(r => r.getAs[String]("src_type") ->
        (r.getAs[Long]("n_purchases"), r.getAs[Double]("revenue"))).toMap
    // state crossing batches is the transformWithState attribution test
    // above, on the same two-file stream and the same assertion
    assert(stateful === declarative)
  }

  test("event-time queries return rows and match shapes at sf0.001") {
    for (name <- EventTime.queries.keys)
      assert(SparkEntry.queries(name)(spark, sf0001).count() > 0, s"$name empty")
  }

  test("late data behind the watermark is dropped from its closed window") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructType, TimestampType}
    // stage single parquet FILES (not directories) so maxFilesPerTrigger=1
    // gives two ordered micro-batches: mtime decides source order
    def writeOne(df: DataFrame, dest: java.nio.file.Path): Unit = {
      val tmp = Files.createTempDirectory("graft-late-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, dest)
    }
    val in = Files.createTempDirectory("graft-late-in")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // batch 1: window [00:00,00:10) gets 2 events; the 02:00 event drives
    // the watermark (delay 10 min) far past that window's end
    writeOne(Seq((ts(1), 1L), (ts(2), 1L), (ts(120), 1L)).toDF("ts", "v"),
      in.resolve("f1.parquet"))
    Thread.sleep(1100) // strictly later mtimes => deterministic batch order
    // batch 2: an on-time event; the closed [00:00,00:10) window is
    // emitted and its state EVICTED during this batch (watermark 01:50).
    // A late row arriving in the same batch as the eviction would still
    // merge into live state — the eviction must come first to observe
    // the drop, which is itself part of the semantics being pinned.
    writeOne(Seq((ts(125), 1L)).toDF("ts", "v"), in.resolve("f2.parquet"))
    Thread.sleep(1100)
    // batch 3: the poison row — 00:03 behind the 01:50 watermark. If it
    // were admitted it would re-open the evicted window and emit a
    // spurious second 00:00 row (total 100).
    writeOne(Seq((ts(3), 100L)).toDF("ts", "v"), in.resolve("f3.parquet"))
    val schema = new StructType().add("ts", TimestampType).add("v", LongType)
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes")).agg(sum("v").as("total"))
      .select(date_format(col("window.start"), "HH:mm").as("w"), col("total"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("late_drop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.map(p =>
      (p.numInputRows, p.eventTime.get("watermark"))).toSeq
    val got = spark.table("late_drop")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    // exactly ONE row for the closed window, without the late 100: the
    // late row neither re-opened the evicted window nor re-emitted it
    assert(got.filter(_._1 == "00:00") === Seq("00:00" -> 2L),
      s"late row leaked: $got (batches: $batches)")
  }

  test("stream-stream interval join ≡ batch join on the same events") {
    val batchEvents = Tables.events(spark, sf0001)
    val schema = batchEvents.schema
    val dir = Files.createTempDirectory("graft-events-ssj")
    batchEvents.write.mode("overwrite").parquet(dir.toString)
    def streamed = spark.readStream.schema(schema).parquet(dir.toString)

    val got = Streams.runToCompletion(spark,
      Streams.intervalJoin(streamed, streamed), "interval_join_stream", mode = "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Streams.intervalJoin(batchEvents, batchEvents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(batch.nonEmpty, "batch interval join found no pairs")
    // inner stream-stream join: every match emits once both sides have
    // arrived; with a full drain the result must equal batch exactly
    assert(got === batch)
  }

  test("stream-stream LEFT OUTER interval join: inner rows exact, null-extensions valid") {
    val batchEvents = Tables.events(spark, sf0001)
    val schema = batchEvents.schema
    val dir = Files.createTempDirectory("graft-events-ssoj")
    batchEvents.write.mode("overwrite").parquet(dir.toString)
    def streamed = spark.readStream.schema(schema).parquet(dir.toString)

    val got = Streams.runToCompletion(spark,
      Streams.intervalJoin(streamed, streamed, "left_outer"), "louter_join_stream",
      mode = "append")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val inner = Streams.intervalJoin(batchEvents, batchEvents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val matchedLefts = inner.map(_._2)

    // every inner match must be emitted, exactly as in batch
    assert(got.filter(_._3 != -1L) === inner)
    // null-extended rows may only be lefts with NO match; the watermark
    // decides WHEN they emit (tail rows can be withheld), never invents
    // matches
    val nullLefts = got.filter(_._3 == -1L).map(_._2)
    assert(nullLefts.intersect(matchedLefts).isEmpty,
      "a matched left row must never also emit null-extended")
  }

  /** TTL state forces processing-time mode, where every no-data
    * micro-batch advances processing time and schedules ANOTHER no-data
    * batch for TTL eviction — under Trigger.AvailableNow that loop never
    * drains (observed: 22k batches before this guard). Expired state is
    * lazily skipped on read regardless, so correctness doesn't need the
    * eviction batches — disable them for the TTL tests. */
  private def withoutNoDataBatches[T](body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run a streaming frame to completion into a driver-side buffer via
    * foreachBatch — unlike the memory sink, foreachBatch queries RECOVER
    * from a checkpoint in append/update mode, which the two-process TTL
    * scripts below need (run 1 and run 2 share one checkpoint with real
    * wall-clock between them). */
  private def runCollecting(df: DataFrame, mode: String, ck: String,
      sink: scala.collection.mutable.Buffer[org.apache.spark.sql.Row]): Unit = {
    val q = df.writeStream
      .outputMode(mode)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.collect()
        sink.synchronized { sink ++= rows }
        ()
      }
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("transformWithState TTL: idle attribution state expires and re-creates cleanly") {
    import spark.implicits._
    def writeOne(df: DataFrame, dest: java.nio.file.Path): Unit = {
      val tmp = Files.createTempDirectory("graft-ttl-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, dest)
    }
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime + min * 60000L)
    val schema = Tables.events(spark, sf0001)
      .select("user_id", "event_id", "ts", "event_type", "value").schema
    // run the same two-batch script under a short and a long TTL: only
    // the short one loses the batch-1 click while the test sleeps, which
    // isolates the expiry (not the processing-time mode flip) as the
    // cause of the "none" credit
    def credits(ttl: java.time.Duration, tag: String): Seq[(String, Double)] = {
      val in = Files.createTempDirectory(s"graft-ttl-$tag-in")
      val ck = Files.createTempDirectory(s"graft-ttl-$tag-ck")
      val got = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
      def run(): Unit = runCollecting(
        graft.streaming.Attribution.attributionTWS(
          spark.readStream.schema(schema).parquet(in.toString),
          org.apache.spark.sql.streaming.TTLConfig(ttl)).toDF(),
        "append", ck.toString, got)
      writeOne(Seq((1L, 1L, ts(0), "click", 1.0))
        .toDF("user_id", "event_id", "ts", "event_type", "value"), in.resolve("f1.parquet"))
      run() // batch 1: click only, no credits yet
      Thread.sleep(2500) // outlives the short TTL, not the long one
      writeOne(Seq((1L, 2L, ts(1), "purchase", 10.0), (1L, 3L, ts(2), "view", 1.0),
        (1L, 4L, ts(3), "purchase", 20.0))
        .toDF("user_id", "event_id", "ts", "event_type", "value"), in.resolve("f2.parquet"))
      run()
      got.map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    }
    withRocksDB { withoutNoDataBatches {
      // short TTL: the batch-1 Touch is expired by batch 2 — the first
      // purchase credits "none" (state DROPPED), then the view re-creates
      // state and the second purchase credits it (state RE-CREATED)
      assert(credits(java.time.Duration.ofSeconds(2), "s")
        === Seq(("none", 10.0), ("view", 20.0)).sorted)
      // long TTL: identical script, the click survives the sleep
      assert(credits(java.time.Duration.ofHours(1), "l")
        === Seq(("click", 10.0), ("view", 20.0)).sorted)
    } }
  }

  test("transformWithState TTL: expired funnel progress restarts from stage 0") {
    import spark.implicits._
    def writeOne(df: DataFrame, dest: java.nio.file.Path): Unit = {
      val tmp = Files.createTempDirectory("graft-fttl-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, dest)
    }
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime + min * 60000L)
    val schema = Tables.events(spark, sf0001)
      .select("user_id", "event_id", "ts", "event_type", "value").schema
    def finalStage(ttl: java.time.Duration, tag: String): Int = {
      val in = Files.createTempDirectory(s"graft-fttl-$tag-in")
      val ck = Files.createTempDirectory(s"graft-fttl-$tag-ck")
      val got = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
      def run(): Unit = runCollecting(
        graft.streaming.Funnel.funnelStreamTWS(
          spark.readStream.schema(schema).parquet(in.toString),
          org.apache.spark.sql.streaming.TTLConfig(ttl)),
        "update", ck.toString, got)
      writeOne(Seq((1L, 1L, ts(0), "view", 1.0))
        .toDF("user_id", "event_id", "ts", "event_type", "value"), in.resolve("f1.parquet"))
      run()
      got.clear() // only run 2's emissions decide the verdict
      Thread.sleep(2500)
      // a click 30 event-minutes after the view: advances to stage 2 iff
      // the view's state survived the wall-clock sleep
      writeOne(Seq((1L, 2L, ts(30), "click", 1.0))
        .toDF("user_id", "event_id", "ts", "event_type", "value"), in.resolve("f2.parquet"))
      run()
      got.map(r => r.getInt(1)).max
    }
    withRocksDB { withoutNoDataBatches {
      assert(finalStage(java.time.Duration.ofSeconds(2), "s") === 0,
        "expired funnel state must restart from stage 0")
      assert(finalStage(java.time.Duration.ofHours(1), "l") === 2,
        "surviving funnel state must advance to stage 2")
    } }
  }

  test("rate-source generator spout feeds a running bucket aggregation") {
    val q = Streams.rateBucketCounts(spark, rowsPerSecond = 2000, numPartitions = 4)
      .writeStream.outputMode("complete").format("memory")
      .queryName("rate_buckets").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      var total = 0L
      while (total < 100 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        val rows = spark.table("rate_buckets").collect()
        total = rows.map(_.getAs[Long]("n")).sum
      }
      val rows = spark.table("rate_buckets").collect()
      assert(rows.map(_.getAs[Long]("n")).sum >= 100, "rate source produced too few rows")
      assert(rows.forall { r =>
        val b = r.getAs[Long]("bucket"); b >= 0 && b < 10
      })
      // values 0..max are dense → bucket counts differ by at most 1 per
      // completed cycle: check via max_value consistency instead of
      // timing-sensitive exact counts
      assert(rows.map(_.getAs[Long]("max_value")).max >= 99)
    } finally q.stop()
  }
}
