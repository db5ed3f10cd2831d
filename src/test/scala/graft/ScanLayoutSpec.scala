package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.ScanLayout

/** Ingest-time scan-layout cache (core/ScanLayout.scala): the driver ships
  * one-row-group files that cap every scan at one task; Bench serves from a
  * split, value-identical cached copy. These tests pin the contract:
  * disabled = passthrough, rewrite = many files + identical rows + original
  * order, second call = cache hit (no rebuild), source change = rebuild,
  * small/multi-file tables = symlink passthrough.
  */
class ScanLayoutSpec extends SparkSpec {

  private def freshBase(): String =
    Files.createTempDirectory("graft-scancache-test").toString

  private def withLayout[A](base: String)(f: => A): A = {
    spark.conf.set(ScanLayout.EnabledKey, "true")
    spark.conf.set(ScanLayout.BaseKey, base)
    try f
    finally {
      spark.conf.set(ScanLayout.EnabledKey, "false")
      spark.conf.unset(ScanLayout.BaseKey)
    }
  }

  /** The file count the default policy wants for a single-file table in
    * this session (local[4]): sf0.01 lineitem is ~1 MB, so the byte term
    * asks for more pieces than the session's cores and the cap wins. */
  private def policyFiles(name: String, file: String): Long = {
    val bytes = Files.size(Paths.get(file))
    val rows = spark.read.parquet(file).count()
    val cores = spark.sparkContext.defaultParallelism
    val target = math.max(2, math.min(ScanLayout.SplitCap, cores))
    ScanLayout.wantedFiles(name, bytes, rows,
      ScanLayout.splitTarget(name, bytes, rows, target, cores))
  }

  test("disabled: ensure is identity") {
    spark.conf.set(ScanLayout.EnabledKey, "false")
    assert(ScanLayout.ensure(spark, sf001) == sf001)
  }

  test("rewrite splits an under-parallel table into ~target files with identical rows in order") {
    val base = freshBase()
    withLayout(base) {
      val dir = ScanLayout.ensure(spark, sf001)
      assert(dir != sf001)
      val li = Paths.get(dir, "lineitem.parquet")
      assert(Files.isDirectory(li) && !Files.isSymbolicLink(li))
      val parts = li.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      val wanted = policyFiles("lineitem", s"$sf001/lineitem.parquet")
      assert(wanted >= ScanLayout.MinSplits, s"policy wants $wanted files: no rewrite")
      assert(parts.length == wanted, s"got ${parts.length} files, policy wants $wanted")
      // value-identical: full-row sorted hash matches the source
      def fingerprint(path: String): Long = {
        val df = spark.read.parquet(path)
        df.select(xxhash64(df.columns.map(col): _*).as("h"))
          .agg(expr("bit_xor(h)")).head.getLong(0)
      }
      assert(fingerprint(li.toString) == fingerprint(s"$sf001/lineitem.parquet"))
      assert(spark.read.parquet(li.toString).count() ==
        spark.read.parquet(s"$sf001/lineitem.parquet").count())
      // original order preserved: single-task maxRecordsPerFile write names
      // files in row order, so the first key of the alphabetically first
      // file equals the source's first key
      val firstFile = parts.map(_.getPath).sorted.head
      val srcFirst = spark.read.parquet(s"$sf001/lineitem.parquet")
        .select("l_orderkey", "l_linenumber").head
      assert(spark.read.parquet(firstFile).select("l_orderkey", "l_linenumber").head == srcFirst)
    }
  }

  test("small tables pass through as symlinks to the source file") {
    val base = freshBase()
    withLayout(base) {
      val dir = ScanLayout.ensure(spark, sf001)
      val region = Paths.get(dir, "region.parquet")
      assert(Files.isSymbolicLink(region))
      assert(Files.readSymbolicLink(region) == Paths.get(sf001, "region.parquet").toAbsolutePath)
      assert(spark.read.parquet(region.toString).count() == 5)
    }
  }

  test("second ensure is a cache hit: no rebuild (dir mtime unchanged)") {
    val base = freshBase()
    withLayout(base) {
      val dir = ScanLayout.ensure(spark, sf001)
      val li = Paths.get(dir, "lineitem.parquet")
      val m1 = Files.getLastModifiedTime(li)
      val dir2 = ScanLayout.ensure(spark, sf001)
      assert(dir2 == dir)
      assert(Files.getLastModifiedTime(li) == m1, "fresh cache entry was rebuilt")
    }
  }

  test("source change (different mtime/size) forces a rebuild") {
    val base = freshBase()
    // a private copy of the source we can touch
    val src = Files.createTempDirectory("graft-scansrc").toString
    Files.copy(Paths.get(sf001, "lineitem.parquet"), Paths.get(src, "lineitem.parquet"))
    withLayout(base) {
      val dir = ScanLayout.ensure(spark, src)
      val li = Paths.get(dir, "lineitem.parquet")
      assert(Files.isDirectory(li))
      val n1 = spark.read.parquet(li.toString).count()
      // mutate the source: halve it (different size AND rows)
      val half = spark.read.parquet(s"$src/lineitem.parquet").limit((n1 / 2).toInt)
      val tmp = Files.createTempDirectory("graft-halved").toString
      half.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(src, "lineitem.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val dir2 = ScanLayout.ensure(spark, src)
      assert(spark.read.parquet(Paths.get(dir2, "lineitem.parquet").toString).count() == n1 / 2)
    }
  }

  test("split target: payload row term grows documents/embeddings with scale, relational shapes unchanged") {
    def t(name: String, bytes: Long, rows: Long): Long =
      ScanLayout.splitTarget(name, bytes, rows, target = 8,
        defaultParallelism = 32)
    // sf0.1 shapes unchanged by construction (measured sizes):
    assert(t("documents", 600L << 10, 5000L) === 8L)      // 0.6 MB / 5 K docs
    assert(t("embeddings", 800L << 10, 2000L) === 8L)     // 0.8 MB / 2 K vecs
    assert(t("lineitem", 10L << 20, 600000L) === 10L)     // 10 MB -> bytes term
    assert(t("events", 2L << 20, 100000L) === 8L)
    // 100x replicated corpus: dictionary compression hides the payload
    // tables' decode+derive cost from every bytes term (documents: 4.9 MB
    // on disk, ~500 MB of logical text) — the 8 K-rows/split payload term
    // is what spreads their kernels over the session's cores
    assert(t("documents", 4900L << 10, 500000L) === 32L)  // was 8 pre-fix
    assert(t("embeddings", 2800L << 10, 200000L) === 24L) // was 8 pre-fix
    assert(t("lineitem", 870L << 20, 60000000L) === 32L)  // bytes term, as before
    // relational rows keep the 64 K divisor: same row count, no payload
    assert(t("orders", 2600L << 10, 500000L) === 8L)
    // parallelism clamp
    assert(ScanLayout.splitTarget("documents", 4900L << 10, 500000L,
      8, 16) === 16L)
  }

  test("file-count cap is row-aware: dictionary-compressed payload tables keep the row term") {
    val kb = 1024L
    // 500 K document rows compressed to 2 MB on disk: the bytes-only cap
    // (ceil(2 MB / 128 KB) = 16) used to clip the row term's 32 splits
    assert(ScanLayout.wantedFiles("documents", 2048 * kb, 500000L,
      effTarget = 32L) === 32L)
    // bytes term still caps when it is the larger one (plain relational)
    assert(ScanLayout.wantedFiles("lineitem", 10L << 20, 600000L,
      effTarget = 10L) === 10L)
    // sf0.1 shapes unchanged: tiny tables stay below MinSplits either way
    assert(ScanLayout.wantedFiles("documents", 600 * kb, 5000L,
      effTarget = 8L) === 5L)
    assert(ScanLayout.wantedFiles("embeddings", 800 * kb, 2000L,
      effTarget = 8L) === 7L)
  }

  test("multi-file source dirs (the SoakGen shape) pass through as symlinks") {
    val base = freshBase()
    val src = Files.createTempDirectory("graft-multisrc").toString
    // lineitem: as one file the policy rewrites it (see the rewrite
    // test), so only its part-file count can make it pass through
    spark.read.parquet(s"$sf001/lineitem.parquet").repartition(4)
      .write.mode("overwrite").parquet(s"$src/lineitem.parquet")
    withLayout(base) {
      val dir = ScanLayout.ensure(spark, src)
      val o = Paths.get(dir, "lineitem.parquet")
      assert(Files.isSymbolicLink(o), "already-parallel dir should not be rewritten")
      assert(spark.read.parquet(o.toString).count() ==
        spark.read.parquet(s"$sf001/lineitem.parquet").count())
    }
  }
}
