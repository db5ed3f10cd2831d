package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet testdata tables (TESTDATA.md).
  *
  * Every operator in the engine takes `DataFrame`s, not paths — these
  * helpers are the single place the on-disk layout is known. At cluster
  * scale the same loaders point at an object store; parquet scans get
  * predicate pushdown + column pruning from Catalyst for free.
  */
object Tables {

  /** Resolved-relation cache, the catalog behavior every warehouse engine
    * has: `spark.read.parquet` re-lists the path and re-reads footers on
    * EVERY call — measured ~85 ms fixed cost per call even for a 2 KB
    * table, which across a many-query run multiplies into tens of
    * seconds of pure re-resolution. The resolved
    * DataFrame is cached per (session, path) and REVALIDATED on every hit
    * against a stat-level source fingerprint (size+mtime for a file, dir
    * mtime + child count for a directory — microseconds, vs the ~85 ms
    * full resolution), so a table dir that is overwritten mid-session
    * (AnnIndexSpec's regenerated-corpus probe does exactly this) re-lists
    * instead of serving a stale file list. Stopped sessions' entries are
    * purged on every lookup: a rebuilt session (Soak failure isolation)
    * starts cold and the dead session's plans become collectable. */
  // NOT a WeakHashMap: a cached DataFrame strongly references its own
  // SparkSession, so weak keys would never clear (the value reaches the
  // key — WeakHashMap's documented degenerate case). Dead sessions are
  // reclaimed EXPLICITLY instead: every load() first drops entries whose
  // context is stopped, so a Soak failure-isolation rebuild releases the
  // dead session's resolved plans and file listings on the next lookup.
  private val relationCache =
    scala.collection.concurrent.TrieMap.empty[SparkSession, scala.collection.concurrent.TrieMap[String, (String, DataFrame)]]

  // private[graft]: also the revalidation stamp for other per-(session,
  // corpus) memoized decisions (Dedup's duplication-profile gate) — one
  // staleness scheme, not two.
  private[graft] def sourceFp(path: String): String = {
    val f = new java.io.File(path)
    if (!f.exists) "absent"
    else if (f.isFile) s"f:${f.length}:${f.lastModified}"
    else {
      // child NAMES matter, not just count: an overwrite within one mtime
      // tick keeps the count (1 part + _SUCCESS) but part names are UUIDs
      val kids = f.listFiles()
      val names = if (kids == null) "" else kids.map(_.getName).sorted.mkString(",")
      s"d:${f.lastModified}:${names.hashCode}:${if (kids == null) 0 else kids.length}"
    }
  }

  /** Drop one session's cached relations explicitly. The automatic purge
    * below keys on a STOPPED SparkContext, which covers every session
    * this codebase creates (stop() stops the shared context) — but a
    * caller juggling `newSession()` clones shares one live context
    * across sessions it may abandon individually, and those clones'
    * entries would otherwise live until the context stops. Such callers
    * evict explicitly when done with a clone. */
  def evict(spark: SparkSession): Unit = relationCache.remove(spark): Unit

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    relationCache.keys.filter(_.sparkContext.isStopped).foreach(relationCache.remove)
    val perSession = relationCache.getOrElseUpdate(spark,
      scala.collection.concurrent.TrieMap.empty[String, (String, DataFrame)])
    val fp = sourceFp(path)
    perSession.get(path) match {
      case Some((cachedFp, df)) if cachedFp == fp => df
      case _ =>
        val df = spark.read.parquet(path)
        perSession.put(path, (fp, df))
        df
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** The driver has shipped events.parquet's ts under two encodings:
    * deprecated INT64 TIMESTAMP(NANOS) — which Spark's reader rejects
    * unless spark.sql.legacy.parquet.nanosAsLong maps it to
    * nanos-since-epoch LongType — and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which reads as TIMESTAMP_NTZ. Normalize
    * both to session-zone TimestampType (every graft session pins UTC),
    * so downstream casts (`ts.cast("long")`), window buckets, and
    * date_format see one type with identical values either way —
    * NTZ→LTZ under a UTC session is instant-preserving, and the
    * nanos→micros truncation never crosses a bucket boundary.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
      case TimestampNTZType =>
        // NTZ→LTZ is instant-preserving ONLY under a UTC session zone; a
        // caller-built session in another zone would silently shift every
        // event timestamp, so enforce the convention instead of assuming it.
        val tz = spark.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
        require(tz == "UTC",
          s"graft.Tables.events: NTZ ts normalization requires spark.sql.session.timeZone=UTC (got $tz); " +
            "set it on the session builder as every graft entry point does")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
