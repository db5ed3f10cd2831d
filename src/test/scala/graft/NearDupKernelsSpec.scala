package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{PortableHash, ShingleSet}
import graft.operators.Dedup

/** The row-local near-dup kernels against the plain Spark expressions
  * they replace, which stay here as the references: `hash60` against
  * `conv(substring(md5(s), 1, 15), 16, 10)`, and the shingle kernel
  * against the split / transform / array_distinct rendition, as ordered
  * arrays per document. Both on the generated-code path, with codegen
  * failures raised rather than interpreted, and on the interpreted path
  * a `transform` lambda takes.
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
}
