package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.ScanLayout

/** Ingest-time scan-layout cache (core/ScanLayout.scala): the driver ships
  * one-row-group files that cap every scan at one task; Bench serves from a
  * split, value-identical cached copy. These tests pin the contract:
  * disabled = passthrough, rewrite = many files + identical rows + original
  * order, second call = cache hit (no rebuild), source change = rebuild,
  * small/multi-file tables = symlink passthrough, concurrent table builds
  * = the entries each table's build alone makes, a failing table = its
  * error after the other builds end, two concurrent callers = one entry.
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

  /** A source dir of sf0.01 tables where three tables are rewritten at
    * local[4]: lineitem as shipped, and orders and events each written
    * eight times over into a one-part-file dir, which puts them above
    * the byte threshold of a split. The other tables pass through. */
  private def multiTableFixture(): Path = {
    val src = Files.createTempDirectory("graft-multitable")
    Files.copy(Paths.get(sf001, "lineitem.parquet"), src.resolve("lineitem.parquet"))
    for (t <- Seq("orders", "events")) {
      val df = spark.read.parquet(s"$sf001/$t.parquet")
      Seq.fill(8)(df).reduce(_ union _).coalesce(1)
        .write.parquet(src.resolve(s"$t.parquet").toString)
    }
    for (t <- Seq("region", "nation", "customer", "part"))
      Files.copy(Paths.get(sf001, s"$t.parquet"), src.resolve(s"$t.parquet"))
    src
  }

  private def tableEntries(dir: Path): Seq[Path] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString)
    finally ls.close()
  }

  /** A rewritten entry's part files in name order (= row order), each as
    * the sequence of its rows' full-row hashes. */
  private def perFileRows(entry: Path): Seq[Seq[Long]] =
    entry.toFile.listFiles().map(_.getName).filter(_.startsWith("part-")).sorted.toSeq
      .map { f =>
        val df = spark.read.parquet(entry.resolve(f).toString)
        df.select(xxhash64(df.columns.map(col): _*)).collect().map(_.getLong(0)).toSeq
      }

  private def leftovers(dir: Path): Seq[String] =
    dir.toFile.list().filter(n => n.startsWith(".build-") || n.startsWith(".deleting-")).toSeq

  test("concurrent table builds make the entries each table's build alone makes") {
    val src = multiTableFixture()
    val dir = withLayout(freshBase())(Paths.get(ScanLayout.ensure(spark, src.toString)))
    val entries = tableEntries(dir)
    assert(entries.map(_.getFileName.toString) ===
      tableEntries(src).map(_.getFileName.toString))
    val rewritten = entries.filterNot(Files.isSymbolicLink).map(_.getFileName.toString)
    assert(rewritten === Seq("events.parquet", "lineitem.parquet", "orders.parquet"))
    for (e <- entries) {
      val name = e.getFileName.toString
      // the same table built alone: a source dir holding only a link to it
      val alone = Files.createTempDirectory("graft-onetable")
      Files.createSymbolicLink(alone.resolve(name), src.resolve(name))
      val aloneEntry = withLayout(freshBase())(
        Paths.get(ScanLayout.ensure(spark, alone.toString), name))
      assert(Files.isSymbolicLink(e) === Files.isSymbolicLink(aloneEntry), name)
      if (Files.isSymbolicLink(e)) assert(e.toRealPath() === aloneEntry.toRealPath(), name)
      else {
        val (got, want) = (perFileRows(e), perFileRows(aloneEntry))
        assert(got.size > 1 && got.size === want.size, s"$name: ${got.size} vs ${want.size} files")
        assert(got === want, s"$name: rows per file differ from its build alone")
      }
    }
    assert(leftovers(dir).isEmpty)
  }

  test("a failing table's error is thrown after the other builds have ended") {
    val src = multiTableFixture()
    // an unreadable table: its footer cannot be read
    Files.delete(src.resolve("part.parquet"))
    Files.writeString(src.resolve("part.parquet"), "not a parquet file, " * 8)
    val base = freshBase()
    val err = withLayout(base)(intercept[RuntimeException](ScanLayout.ensure(spark, src.toString)))
    assert(err.getMessage.contains("part.parquet"), err.getMessage)
    val dir = Paths.get(base).resolve(Paths.get(base).toFile.list().head)
    // every other table's build had ended: its entry is there, whole
    for (t <- Seq("events", "lineitem", "orders")) {
      val e = dir.resolve(s"$t.parquet")
      assert(Files.isDirectory(e) && Files.exists(e.resolve("_SUCCESS")), s"$t not built")
    }
    for (t <- Seq("region", "nation", "customer"))
      assert(Files.isSymbolicLink(dir.resolve(s"$t.parquet")), s"$t not linked")
    assert(!Files.exists(dir.resolve("part.parquet")))
    assert(leftovers(dir).isEmpty, s"left behind: ${leftovers(dir)}")
    assert(org.apache.spark.sql.graft.PlanBridge.runningTasks(spark.sparkContext) == 0)
    // and the session still runs a query
    assert(spark.read.parquet(dir.resolve("orders.parquet").toString).count() ===
      8 * spark.read.parquet(s"$sf001/orders.parquet").count())
  }

  test("two concurrent ensure calls on one source return one complete entry") {
    val base = freshBase()
    val start = new java.util.concurrent.CyclicBarrier(2)
    val dirs = withLayout(base) {
      val calls = Seq.fill(2)(new java.util.concurrent.FutureTask[String](() => {
        start.await()
        ScanLayout.ensure(spark, sf001)
      }))
      calls.foreach(c => new Thread(c).start())
      calls.map(_.get())
    }
    assert(dirs.distinct.size == 1, dirs)
    val dir = Paths.get(dirs.head)
    assert(tableEntries(dir).map(_.getFileName.toString) ===
      tableEntries(Paths.get(sf001)).map(_.getFileName.toString))
    val li = dir.resolve("lineitem.parquet")
    assert(Files.isDirectory(li) && Files.exists(li.resolve("_SUCCESS")))
    assert(li.toFile.list().count(_.endsWith(".parquet")) ==
      policyFiles("lineitem", s"$sf001/lineitem.parquet"))
    assert(spark.read.parquet(li.toString).count() ==
      spark.read.parquet(s"$sf001/lineitem.parquet").count())
    for (e <- tableEntries(dir) if e != li) assert(Files.isSymbolicLink(e), e)
    assert(leftovers(dir).isEmpty, s"left behind: ${leftovers(dir)}")
  }
}
