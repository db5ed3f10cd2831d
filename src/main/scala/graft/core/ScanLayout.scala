package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** Ingest-time scan-layout optimization.
  *
  * The driver ships each testdata table as ONE parquet file with ONE row
  * group. A row group is Spark's minimum split unit, so every scan stage —
  * including the per-row-heavy work that pipelines into it (shingling,
  * hashing, regex passes, partial aggregation) — runs as a single task no
  * matter how many cores the session has. Measured on sf0.1: a pruned
  * lineitem decode is ~0.5 s single-threaded, and repartition-after-scan
  * does NOT help (the full-row shuffle costs more than the parallelism
  * buys; measured 0.4 s → 1.6 s on a Q1-shaped aggregate).
  *
  * The engine answer is the same one every warehouse applies at ingest
  * (Delta OPTIMIZE, Iceberg rewrite_data_files): re-lay the file out once
  * into splittable units and serve all subsequent scans from the
  * well-laid-out copy. `ensure` builds a cached, order-preserving,
  * value-identical copy of each under-parallel table (single task +
  * maxRecordsPerFile ⇒ no shuffle, original row order) and returns the
  * directory to read from. Tables that are already parallel enough
  * (SoakGen part-file dirs) or too small to matter are passed through as
  * symlinks. At cluster scale the rewrite condition never fires — 100 TB
  * arrives as thousands of row groups — this exists because a LOCAL bench
  * against single-row-group files otherwise measures one core of
  * thirty-two.
  *
  * Split sizing is deliberately modest (128 KB per split, ≤ 8 splits) and
  * was chosen by measurement, not principle: a one-file-per-core split
  * lost more on iterative many-stage queries (every loop stage re-lists
  * and re-schedules 32 tiny files) than it gained on heavy scans, while
  * 8-way captures ~all of the scan win at noise-level loss elsewhere —
  * see the full-surface A/B in BASELINE.md (round 10).
  *
  * Cache discipline is the VersionedStore one: build into a scratch dir,
  * fingerprint the SOURCE (length + mtime + rows) in a marker written
  * before publish, atomic-rename into place, first writer wins, stale or
  * half-built entries are tombstoned and rebuilt. Enabled by the Scale
  * session shape (graft.core.Sessions); consumers are Bench, FloorProbe
  * and PlanDump. Verify intentionally reads the raw input files — the
  * correctness gate must not depend on this layer.
  */
object ScanLayout {
  val EnabledKey = "graft.scan.autolayout"
  val BaseKey = "graft.scan.cache.base"
  val SplitsKey = "graft.scan.splits"
  /** Target bytes per split. Split count is ceil(bytes/splitBytes) capped
    * at the session's cores — a BYTES-driven policy, not rows: the cost a
    * split recovers is single-threaded decode, which tracks bytes. A
    * measured full-surface A/B (bench_local/bench_r10_layout_{on2,off}
    * .json) showed that splitting every table to one file per core is a
    * net LOSS (-15 s on single-pass compute-heavy scans, +32 s spread
    * across iterative and multi-stage queries whose every stage re-lists
    * and re-schedules 32 tiny files), so small tables pass through and
    * only tables whose decode is actually expensive get split. */
  val SplitBytesKey = "graft.scan.splitBytes"
  val DefaultSplitBytes = 128 * 1024L
  /** Default cap on splits per table. Probed per query at sf0.1
    * (FloorProbe min-of-6): an 8-way split recovers nearly all of the
    * single-task decode + stage-0 compute win (text_cooccur_pmi 1.32 →
    * 0.46 s, text_bpe_train 1.46 → 0.47 s, q1 0.84 → 0.37 s) while the
    * iterative/multi-stage queries that lost ~+1 s each under a 32-way
    * split stay within noise (+0.0–0.08 s). */
  val DefaultSplits = 8
  /** Below this many resulting splits a rewrite buys too little decode
    * parallelism to repay its per-file open/schedule overhead. */
  val MinSplits = 4

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Rows per split for the row term of the split target. PAYLOAD tables
    * (text, vectors) carry per-row DERIVE cost far above their per-byte
    * decode cost — a document row fans out to ~2× its token count of
    * bigram/shingle structs, an embedding row to d-dimensional kernel
    * work — and dictionary encoding hides exactly that multiplier from
    * every bytes-based term (the 100× replicated documents table is
    * 4.9 MB on disk, 49 MB parquet-decoded, ~500 MB of logical text:
    * its inverted-index staging ran two 8-task stages of 106 s + 54 s
    * on a 32-core session, r12 probe). This is problem knowledge the
    * byte statistics cannot express (guide §8): 8 K payload rows per
    * split vs 64 K relational rows. sf0.1 shapes are unchanged by
    * construction — 5 K docs / 2 K vectors sit below either threshold. */
  private val heavyRowTables = Set("documents", "embeddings")
  private def rowShift(name: String): Int =
    if (heavyRowTables(name)) 13 else 16

  /** The split-target policy, extracted pure so the spec can pin it
    * across scales without building multi-hundred-MB fixtures: explicit
    * conf wins; otherwise grow the tuned default with the larger of the
    * bytes term and the per-table-class row term, clamped to the
    * session's parallelism. */
  private[graft] def splitTarget(name: String, bytes: Long, rows: Long,
      target: Int, defaultParallelism: Int, confSplits: Option[String]): Long =
    confSplits match {
      case Some(v) => math.max(2, v.toInt).toLong
      case None => math.max(target.toLong,
        math.min(defaultParallelism.toLong,
          math.max(bytes >> 20, rows >> rowShift(name))))
    }

  /** The FILE-COUNT cap under the split target, extracted pure for the
    * spec. It must be ROW-AWARE, not purely bytes-based (r12 advice): a
    * ceil(bytes/splitBytes) cap after [[splitTarget]] re-clips the
    * payload-row term for exactly the case it targets — dictionary
    * compression collapsing a heavy-row table under a few MB on disk
    * (500 K replicated document rows compressed under ~2 MB would cap
    * at 16 files although the row term asked for 32 splits). Cap by the
    * larger of the byte and row chunk counts so neither term silently
    * starves the other; sf0.1 shapes are unchanged (every shipped
    * table's row chunk count is <= its byte chunk count there). */
  private[graft] def wantedFiles(name: String, bytes: Long, rows: Long,
      splitBytes: Long, effTarget: Long): Long = {
    val byteChunks = (bytes + splitBytes - 1) / splitBytes
    val rowChunks = (rows + (1L << rowShift(name)) - 1) >> rowShift(name)
    math.min(effTarget, math.max(byteChunks, rowChunks))
  }

  /** Tolerant parse: the flag can be fed verbatim from the environment
    * (SPARK_GRAFT_CONF), where "1"/"0"/"on"/"off" are natural —
    * String.toBoolean would abort the whole run on any of them. */
  def enabled(spark: SparkSession): Boolean =
    spark.conf.get(EnabledKey, "false").trim.toLowerCase match {
      case "true" | "1" | "on" | "yes" => true
      case _ => false
    }

  /** Returns the directory Bench/Soak should read tables from: `sfDir`
    * itself when disabled/absent, else a cache dir where every table is
    * either a split rewrite or a symlink to the source. */
  def ensure(spark: SparkSession, sfDir: String): String = {
    if (!enabled(spark)) return sfDir
    val src = Paths.get(sfDir)
    if (!Files.isDirectory(src)) return sfDir
    val target = math.max(2, spark.conf.get(SplitsKey, math.min(DefaultSplits,
      spark.sparkContext.defaultParallelism).toString).toInt)
    val base = Paths.get(spark.conf.get(BaseKey, "bench_local/scancache"))
    // one cache entry per source dir + split target (a local[4] Verify and
    // a local[32] Bench must not fight over one entry); the readable
    // sanitized prefix can alias two paths differing only in squashed
    // characters, so a hash of the RAW path disambiguates — colliding
    // entries would silently re-point each other's table links
    val rawAbs = src.toAbsolutePath.toString
    val pathHash = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(rawAbs))
    val key = rawAbs.replaceAll("[^A-Za-z0-9._-]", "_") + s"-$pathHash-s$target"
    val cacheDir = base.resolve(key)
    Files.createDirectories(cacheDir)
    for (t <- tables) {
      val tableSrc = src.resolve(s"$t.parquet")
      if (Files.exists(tableSrc)) ensureTable(spark, tableSrc, cacheDir, t, target)
    }
    cacheDir.toString
  }

  private def ensureTable(spark: SparkSession, tableSrc: Path, cacheDir: Path,
      name: String, target: Int): Unit = {
    val dst = cacheDir.resolve(s"$name.parquet")
    val splitBytes = spark.conf.get(SplitBytesKey, DefaultSplitBytes.toString).toLong
    // A DIRECTORY source is NOT automatically parallel: SoakGen's
    // replicated corpora come back from AQE-coalesced writes as a dir
    // holding ONE part file, and until r12 the dir short-circuit linked
    // them through unsplit — so every scaled probe started with
    // single-task scan stages (text_inverted_index's 10× staging build
    // spent 18 of its 18.8 s in three 1-task stages). A dir is linked
    // through only when its PART-FILE COUNT already covers the wanted
    // parallelism; otherwise its few files get footer-checked and
    // rewritten exactly like a single under-parallel file.
    val partFiles: Seq[Path] =
      if (!Files.isDirectory(tableSrc)) Seq(tableSrc)
      else {
        import scala.jdk.CollectionConverters._
        Files.list(tableSrc).iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("part-"))
          .toSeq.sortBy(_.getFileName.toString)
      }
    if (partFiles.isEmpty) { link(tableSrc, dst); return }
    val bytes = partFiles.map(Files.size).sum
    val stats = partFiles.map(footerStats(spark, _))
    val (rowGroups, rows) = (stats.map(_._1).sum, stats.map(_._2).sum)
    // the 8-way default cap was tuned at sf0.1 (see DefaultSplits); a
    // TABLE-SIZE escape keeps it from starving genuinely large scaled
    // tables: above ~1 MB/split OR a per-table-class row threshold
    // (see rowShift — 64 K relational rows, 8 K payload rows) the cap
    // grows up to the session's parallelism. Both terms matter — a 100×
    // lineitem is ~1 GB (bytes-driven), while a 100× replicated
    // documents table is 4.9 MB on disk yet 500 K heavy text rows
    // (dictionary compression hides the decode+derive cost the split
    // exists to parallelize; its r12 probe spent 160 s in two 8-task
    // explode stages that the payload row term spreads over all
    // cores). sf0.1 shapes are unchanged by construction (all terms
    // stay at/below the 8-way default there — lineitem 600 K rows / 10
    // MB → 10 splits either way). An explicit SplitsKey conf remains a
    // hard override (probe A/Bs pin exact split counts).
    val effTarget = splitTarget(name, bytes, rows, target,
      spark.sparkContext.defaultParallelism, spark.conf.getOption(SplitsKey))
    val wanted = wantedFiles(name, bytes, rows, splitBytes, effTarget).toInt
    if (wanted < MinSplits) { link(tableSrc, dst); return }
    if (partFiles.size >= wanted / 2) { link(tableSrc, dst); return }
    if (rowGroups >= wanted / 2) { link(tableSrc, dst); return }
    val mtime = partFiles.map(Files.getLastModifiedTime(_).toMillis).max
    val fp = s"$bytes:$mtime:$rows:$wanted"
    if (isFresh(dst, fp)) return
    // stale symlink or outdated rewrite in the way: tombstone, rebuild
    tombstone(cacheDir, dst)
    val scratch = cacheDir.resolve(s".build-$name-${java.util.UUID.randomUUID()}")
    val perFile = math.max(1L, (rows + wanted - 1) / wanted)
    // single-task write: no shuffle, original row order, one file per
    // maxRecordsPerFile chunk — the split IS the only change
    // ANY failure — the write itself, not just the publish move — must
    // reclaim the scratch dir: an abandoned .build-* with partial part
    // files would otherwise accumulate across failed sessions forever
    try {
      spark.read.parquet(tableSrc.toString).coalesce(1)
        .write.mode("overwrite").option("maxRecordsPerFile", perFile)
        .parquet(scratch.toString)
      Files.writeString(scratch.resolve(markerName), fp)
      Files.move(scratch, dst, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      // lost a concurrent publish race — fine iff the winner is fresh
      case _: java.io.IOException if isFresh(dst, fp) => reclaim(scratch)
      case e: Throwable => reclaim(scratch); throw e
    }
  }

  private val markerName = "_GRAFT_SRC"

  private def isFresh(dst: Path, fp: String): Boolean =
    Files.isDirectory(dst) && Files.exists(dst.resolve("_SUCCESS")) && {
      val m = dst.resolve(markerName)
      Files.exists(m) && Files.readString(m) == fp
    }

  private def link(src: Path, dst: Path): Unit = {
    val abs = src.toAbsolutePath
    if (Files.isSymbolicLink(dst) && Files.readSymbolicLink(dst) == abs) return
    tombstone(dst.getParent, dst)
    // same publish-race discipline as the rewrite path's ATOMIC_MOVE:
    // two processes ensuring the same entry both pass the checks above,
    // and the createSymbolicLink loser must accept the winner's link
    // rather than kill its run — but only if it points where ours would
    try Files.createSymbolicLink(dst, abs)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        if (!(Files.isSymbolicLink(dst) && Files.readSymbolicLink(dst) == abs)) throw e
    }
  }

  private def tombstone(cacheDir: Path, dst: Path): Unit = {
    if (Files.isSymbolicLink(dst)) Files.delete(dst)
    else if (Files.exists(dst)) {
      val tomb = cacheDir.resolve(s".deleting-${dst.getFileName}-${System.nanoTime()}")
      try { Files.move(dst, tomb); reclaim(tomb) }
      catch { case _: java.nio.file.NoSuchFileException => () }
    }
  }

  private def reclaim(dir: Path): Unit =
    if (Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(p =>
        try Files.deleteIfExists(p) catch { case _: java.io.IOException => () })
    }

  /** (rowGroups, totalRows) straight from the parquet footer — no job. */
  private def footerStats(spark: SparkSession, file: Path): (Int, Long) = {
    val conf = spark.sessionState.newHadoopConf()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file.toString), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val blocks = r.getFooter.getBlocks.asScala
      (blocks.size, blocks.map(_.getRowCount).sum)
    } finally r.close()
  }
}
