package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{MinHash16, PortableHash, ShingleSet}
import graft.operators.Dedup

/** The row-local near-dup kernels against the plain Spark expressions
  * they replace, which stay here as the references: `hash60` against
  * `conv(substring(md5(s), 1, 15), 16, 10)`, the shingle kernel
  * against the split / transform / array_distinct rendition, as ordered
  * arrays per document, and the min-hash kernel against 16
  * `array_min(transform(..))` lambdas. Each on the generated-code path,
  * with codegen failures raised rather than interpreted, and on the
  * interpreted path a `transform` lambda takes.
  */
class NearDupKernelsSpec extends SparkSpec {
  import spark.implicits._

  /** The md5-60 chain `hash60` replaced. */
  private def chain60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** The declarative shingle set: distinct 3-grams over the split
    * tokens, for documents of at least 3 tokens. */
  private def declarativeSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(0, size(toks) - 3)," +
          " i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))")).as("shset"))

  /** A frame that stays a scan plan: a projection straight over a local
    * relation would be folded on the driver by the interpreter. */
  private def scanned(df: DataFrame): DataFrame = df.repartition(2)

  /** Runs `body` with codegen failures raised, not logged: by default a
    * `doGenCode` that does not compile falls back to the interpreter and
    * the plan still shows its `*(N)` stage. */
  private def strictCodegen[T](body: => T): T = {
    val conf = spark.conf
    val saved = Seq("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.codegen.fallback", "false")
      conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      body
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  private def codegenLines(df: DataFrame, name: String): Seq[String] = {
    df.collect()
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains(s"$name(") && l.trim.matches("""^[+:\- ]*\*\(\d+\).*"""))
      .toSeq
  }

  private val edgeStrings = Seq(
    "", " ", "a", "héllo wörld", "日本語のテキスト", "emoji 😀 𝄞 𠜎 4-byte",
    "tab\tand\nnewline", "x" * 10240)

  test("hash60 equals the md5 hex chain on shingles, edge strings and null, generated and interpreted") {
    val shingles = Dedup.shingles(Tables.documents(spark, sf0001)).select(col("shingle").as("s"))
    val edges = scanned((edgeStrings.map(Option(_)) :+ None).toDF("s"))
    val all = shingles.unionByName(edges)
    val gen = all.select(col("s"), PortableHash.hash60(col("s")).as("k"), chain60(col("s")).as("r"))
    val rows = strictCodegen {
      assert(codegenLines(gen, "hash60").nonEmpty,
        s"hash60 should run in generated code:\n${gen.queryExecution.executedPlan}")
      gen.collect()
    }
    assert(rows.length > 20000)
    assert(rows.count(_.isNullAt(0)) == 1)
    rows.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1) && r.isNullAt(2))
      else assert(r.getLong(1) == r.getLong(2), s"hash60 differs on '${r.getString(0)}'")
    }
    // interpreted: inside a lambda, as minhashOfSets calls it
    val lam = all.select(col("s"),
      array_min(transform(array(col("s")), x => PortableHash.hash60(concat(lit("3|"), x)))).as("k"),
      chain60(concat(lit("3|"), col("s"))).as("r"))
      .collect()
    assert(lam.length == rows.length)
    lam.foreach(r => assert(Option(r.get(1)) == Option(r.get(2)), s"on '${r.getString(0)}'"))
  }

  test("the shingle kernel equals the split/transform/array_distinct rendition as ordered arrays") {
    val adversarial = Seq(
      (9001L, ""), (9002L, "a b"), (9003L, "a b c"), (9004L, " a b c"), (9005L, "a b c "),
      (9006L, "a  b c"), (9007L, "  "), (9008L, "   "), (9009L, "a\tb c\nd e"),
      (9010L, "héllo wörld naïve héllo wörld naïve"), (9011L, "😀 𝄞 𠜎 😀 𝄞 𠜎"),
      (9012L, "a b c a b c a b c"), (9013L, "x x x x x"), (9014L, null),
      (9015L, ("w " * 5000).trim)
    ).toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .unionByName(scanned(adversarial))
    def sets(df: DataFrame): Map[Long, Seq[String]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val want = sets(declarativeSets(docs))
    val kernel = Dedup.shingleSets(docs)
    val got = strictCodegen {
      assert(codegenLines(kernel, "shingle_set").nonEmpty,
        s"the shingle kernel should run in generated code:\n${kernel.queryExecution.executedPlan}")
      sets(kernel)
    }
    assert(got.size > 400)
    assert(got === want)
    assert(got(9004L) === Seq(" a b", "a b c"))
    assert(got(9005L) === Seq("a b c", "b c "))
    assert(got(9007L) === Seq("  "))
    assert(got(9012L) === Seq("a b c", "b c a", "c a b"))
    assert(!got.contains(9002L) && !got.contains(9001L) && !got.contains(9014L))
    // interpreted: inside a lambda
    val lam = docs.select(col("doc_id"),
      transform(array(col("text")), t => ShingleSet(t))(0).as("shset"))
      .filter(col("shset").isNotNull)
    assert(sets(lam) === want)
  }

  /** The 16-lambda min-hash rendition the kernel replaced: h_i is the
    * least `hash60(concat('i|', s))` over the set. */
  private def lambdaMinhash(sets: DataFrame): DataFrame =
    sets.select(col("doc_id") +: (0 until 16).map(i =>
      array_min(transform(col("shset"), s => PortableHash.hash60(concat(lit(s"$i|"), s))))
        .as(s"h$i")): _*)

  private def signatures(df: DataFrame): Map[Long, Seq[Option[Long]]] =
    df.select(col("doc_id") +: (0 until 16).map(i => col(s"h$i")): _*).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(i => Option(r.get(i)).map(_.asInstanceOf[Long]))).toMap

  test("the min-hash kernel equals the 16-lambda rendition, generated and interpreted, once per row") {
    val edges = scanned(Seq(
      (9001L, Seq.empty[String]), (9002L, null), (9003L, Seq[String](null)),
      (9004L, Seq(null, "a b c")), (9005L, Seq("héllo wörld naïve", "日本語 の テキスト", "😀 𝄞 𠜎", "")),
      (9006L, (1 to 5000).map(i => s"w$i x${i % 7} y"))
    ).toDF("doc_id", "shset"))
    val sets = Dedup.shingleSets(Tables.documents(spark, sf0001)).unionByName(edges)
    val want = signatures(lambdaMinhash(sets))
    val kernel = Dedup.minhashOfSets(sets)
    val got = strictCodegen {
      assert(codegenLines(kernel, "minhash16").nonEmpty,
        s"the min-hash kernel should run in generated code:\n${kernel.queryExecution.executedPlan}")
      signatures(kernel)
    }
    assert(got.size > 400)
    assert(got === want)
    for (id <- Seq(9001L, 9002L, 9003L)) assert(got(id).forall(_.isEmpty), s"doc $id")
    assert(got(9004L).forall(_.nonEmpty) && got(9006L).forall(_.nonEmpty))
    // interpreted: inside a lambda
    val lam = sets.select(col("doc_id"),
      transform(array(col("shset")), s => MinHash16(s))(0).as("mh"))
      .select(col("doc_id") +: (0 until 16).map(i => col(s"mh.h$i").as(s"h$i")): _*)
    assert(signatures(lam) === want)
    // one kernel call per row: the 16 field reads share it, here and
    // under the band projection the ingest path puts on top; `sets` is a
    // union of two branches and a row runs through one of them
    for (df <- Seq(kernel, kernel.select(col("doc_id"), explode(Dedup.bandSigs()).as("bs"))))
      assert(kernelCalls(df) == 2,
        s"kernel called more than once per row:\n${df.queryExecution.executedPlan}")
  }

  /** MinHash16 calls in the physical plan, through the adaptive plan's
    * query stages: the final plan once run, else the initial one. */
  private def kernelCalls(df: DataFrame): Int = {
    object stages extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    stages.collect(df.queryExecution.executedPlan) { case node =>
      node.expressions.map(_.collect { case m: MinHash16 => m }.size).sum
    }.sum
  }

  /** Brute-force (a, b, hamming) over all pairs a < b that `keep`. */
  private def allPairs(fps: Seq[(Long, Long)])(keep: (Long, Long) => Boolean): Set[(Long, Long, Long)] =
    (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b && keep(fa, fb)
    } yield (a, b, java.lang.Long.bitCount(fa ^ fb).toLong)).toSet

  /** Random `bits`-bit fingerprints with planted neighbors: identical
    * copies, and copies with `flips` distinct bits flipped where `flips`
    * runs through every distance in `dists`, each placed by `spread`
    * (the band layout of the flipped bits). */
  private def planted(bits: Int, dists: Seq[Int], seed: Long)(
      spread: (Int, scala.util.Random) => Seq[Int]): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val mask = (1L << bits) - 1
    val bases = Seq.fill(120)(rnd.nextLong() & mask)
    val copies = bases.zipWithIndex.flatMap { case (fp, i) =>
      val d = dists(i % dists.length)
      Seq(fp, spread(d, rnd).foldLeft(fp)((v, bit) => v ^ (1L << bit))) ++
        (if (i % 5 == 0) Seq(fp) else Nil)
    }
    copies.zipWithIndex.map { case (fp, i) => (i.toLong, fp) }
  }

  private def banded(fps: Seq[(Long, Long)], bandBits: Int, maxHamming: Int): Seq[(Long, Long, Long)] =
    Dedup.bandedHammingPairs(scanned(fps.toDF("doc_id", "fp")), bandBits, maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("bandedHammingPairs: 4 x 8 bits at hamming <= 3 is every pair within 3 bits, each once") {
    // distances 0..4 at random bit positions: 3 is the threshold, 4 is one past it
    val fps = planted(32, 0 to 4, 11L)((d, rnd) => rnd.shuffle((0 until 32).toList).take(d))
    val got = banded(fps, 8, 3)
    val want = allPairs(fps)((a, b) => java.lang.Long.bitCount(a ^ b) <= 3)
    assert(got.distinct.length === got.length, "a pair surfaced at more than one band")
    assert(got.toSet === want)
    // non-vacuous: identical pairs and pairs exactly at the threshold are present
    assert(want.exists(_._3 == 0) && want.exists(_._3 == 3))
  }

  test("bandedHammingPairs: 4 x 15 bits at hamming <= 12 is every pair sharing a band within 12 bits, each once") {
    def bandOf(fp: Long, b: Int): Long = (fp >>> (15 * b)) & 32767L
    // some neighbors break all four bands (one flipped bit per band, or
    // 12 bits spread 3 per band), the rest keep band 0..3 whole
    val fps = planted(60, Seq(0, 1, 4, 8, 12, 13), 29L) { (d, rnd) =>
      val whole = rnd.nextInt(5) // 4 = no band kept whole
      val pool = (0 until 60).filter(bit => whole == 4 || bit / 15 != whole)
      if (whole == 4 && d >= 4)
        (0 until 4).flatMap(b => rnd.shuffle((b * 15 until b * 15 + 15).toList)
          .take(d / 4 + (if (b < d % 4) 1 else 0)))
      else rnd.shuffle(pool.toList).take(d)
    }
    val got = banded(fps, 15, 12)
    val want = allPairs(fps)((a, b) =>
      (0 until 4).exists(i => bandOf(a, i) == bandOf(b, i)) &&
        java.lang.Long.bitCount(a ^ b) <= 12)
    assert(got.distinct.length === got.length, "a pair surfaced at more than one band")
    assert(got.toSet === want)
    assert(want.exists(_._3 == 0) && want.exists(_._3 == 12))
    // the band rule is not the hamming rule: some pair within 12 bits shares no band
    assert(allPairs(fps)((a, b) => java.lang.Long.bitCount(a ^ b) <= 12).size > want.size)
  }
}
