package graft

import graft.functions.{LowerCase, TokenOps}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The native token kernels must be value-identical to the
  * declarative HigherOrderFunction spellings they replaced — checked
  * on the real corpus, plus edge cases the corpus lacks.
  */
class TokenOpsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = spark.read.parquet(s"$sfDir/documents.parquet")

  test("word_shingles(distinct) equals transform+array_join+array_distinct on the corpus") {
    val toks = split(lower(col("text")), " ")
    val declarative = array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - 3, lit(0))),
      i => array_join(slice(toks, i + 1, lit(3)), " ")))
    val diff = corpus.select(
        TokenOps.wordShingles(toks, 3, distinct = true).as("n"),
        declarative.as("d"))
      .where(col("n") =!= col("d")).count()
    assert(diff === 0)
  }

  test("word_shingles edge cases: short docs, empty strings, duplicates") {
    val rows = Seq("a b c d", "a", "", "x x x x", "a b a b a b")
      .toDF("text")
    val toks = split(col("text"), " ")
    val declarative = array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - 2, lit(0))),
      i => array_join(slice(toks, i + 1, lit(2)), " ")))
    val got = rows.select(
      TokenOps.wordShingles(toks, 2, distinct = true).as("n"),
      declarative.as("d")).collect()
    got.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1), r))
  }

  test("count_in_set equals size(filter(isInCollection)) on the corpus") {
    val words = graft.ops.TextAnalysis.stopwords("en")
    val toks = split(lower(col("text")), " ")
    val diff = corpus.select(
        TokenOps.countInSet(toks, words).as("n"),
        size(filter(toks, t => t.isInCollection(words))).as("d"))
      .where(col("n") =!= col("d")).count()
    assert(diff === 0)
  }

  // ------------------------------------------------------------ lower

  /** strings whose lowercase differs between Unicode case-mapping
    * rules, and inputs the corpus lacks: Turkish dotted capital I,
    * Greek final sigma, sharp s, a titlecase digraph, a
    * supplementary-plane emoji, mixed-case ASCII, the empty string and
    * null. (The corpora are all ASCII, so only this spec reaches the
    * non-ASCII path.)
    */
  private val lowerEdges = Seq("İSTANBUL", "ΟΔΟΣ", "Straße", "ǅ",
    "Smile 😀 NOW", "Hello WORLD 42 ?!", "", null)
  /** invalid UTF-8 (a lone 0xFF and a truncated 3-byte sequence),
    * read as a string through a binary cast
    */
  private val invalidUtf8 = Seq(Array[Byte](0x41, 0xff.toByte, 0x42),
    Array[Byte](0x61, 0xe2.toByte, 0x82.toByte))

  /** an RDD-backed frame (no LocalRelation, so the projections below
    * run through whole-stage codegen instead of being folded while
    * planning) holding
    * the edge strings and the invalid-UTF-8 rows
    */
  private def edgeFrame: DataFrame = {
    val rows = lowerEdges.map(t => Row(t, null)) ++ invalidUtf8.map(b => Row(null, b))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        StructType(Seq(StructField("s", StringType),
          StructField("b", BinaryType))))
      .select(coalesce(col("s"), col("b").cast("string")).as("text"))
  }

  /** TokenOps.lower and functions.lower side by side, row for row */
  private def assertLowerSame(in: DataFrame, text: Column): Unit = {
    val rows = in.select(TokenOps.lower(text).as("n"), lower(text).as("d"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getString(0) == r.getString(1), r))
  }

  /** interpreted: the two expressions evaluated over one literal */
  private def assertLowerEvalSame(s: UTF8String, t: DataType = StringType): Unit = {
    val lit = Literal(s, t)
    assert(LowerCase(lit).eval() == Lower(lit).eval(), String.valueOf(s))
  }

  test("lower equals functions.lower on the corpus and edge strings (codegen)") {
    assertLowerSame(corpus, col("text"))
    assertLowerSame(edgeFrame, col("text"))
  }

  test("lower equals Lower when interpreted, invalid UTF-8 included") {
    (lowerEdges.map(UTF8String.fromString) ++
      invalidUtf8.map(b => UTF8String.fromBytes(b))).foreach(s =>
      assertLowerEvalSame(s))
  }

  test("lower equals functions.lower on UTF8_LCASE and UNICODE collated input") {
    for (c <- Seq("UTF8_LCASE", "UNICODE")) {
      val text = collate(col("text"), c)
      assertLowerSame(edgeFrame, text)
      assertLowerSame(corpus, text)
      val t = StringType(c)
      lowerEdges.filter(_ != null).foreach(s =>
        assertLowerEvalSame(UTF8String.fromString(s), t))
    }
  }

  test("lower equals functions.lower with ICU case mappings off") {
    val key = "spark.sql.icu.caseMappings.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      assertLowerSame(edgeFrame, col("text"))
      assertLowerSame(corpus, col("text"))
      lowerEdges.filter(_ != null).foreach(s =>
        assertLowerEvalSame(UTF8String.fromString(s)))
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
