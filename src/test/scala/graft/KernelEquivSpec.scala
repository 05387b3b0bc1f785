package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{MinHash, MlKernels, TokenHash, VecMicroLong}
import graft.ops.{Dedup, KMeans, TextAnalysis}

/** r16 optimization round: the ml_kmeans / ml_naive_bayes / scrub
  * per-row kernels moved from interpreted HOF spellings
  * (CodegenFallback) to native codegen'd loop expressions
  * (functions/MlKernels); the portable md5 MinHash family moved from a
  * grouped explode + 32-`min()` build to the map-only MinHashSig
  * kernel. The operators' arithmetic is exact-integer,
  * so each kernel must agree BIT FOR BIT with the spelling it
  * replaced. Those spellings live on here as reference expressions,
  * and every kernel is compared with its twin row for row, on the
  * kernel's own input columns as the operator builds them: live data
  * and adversarial synthetic corpora (HALF_UP rounding boundaries,
  * null text, null embedding elements, fully covered docs). The
  * DuckDB mirror additionally hash-gates the shipped queries.
  */
class KernelEquivSpec extends SparkSpec {

  // ------------------------------------- the replaced HOF spellings

  private def vecMicroHof(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1e6, 0).cast("long"))

  private def kmArgMinHof(v: Column, cents: Column): Column =
    array_min(transform(cents, e =>
      struct(aggregate(zip_with(v, e.getField("c"),
          (x, y) => (x - y) * (x - y)), lit(0L), (acc, d) => acc + d)
          .as("dist2"),
        e.getField("cluster").as("cluster"))))

  private def nbArgMinHof(cls: Column, om: Column, nTokens: Column): Column =
    array_min(transform(cls, k =>
      struct(negate(k.getField("prior_micro") +
          coalesce(element_at(om, k.getField("c")), lit(0L)) -
          nTokens * k.getField("denom_micro")).as("ns"),
        k.getField("c").as("c"))))
      .getField("c")

  private def scrubKeepHof(toks: Column, covp: Column): Column =
    filter(toks, (_, i) =>
      !coalesce(array_contains(covp, (i + 1).cast("long")), lit(false)))

  /** native and HOF evaluated side by side over `in`: every row must
    * carry the same value in both
    */
  private def assertSameRows(in: DataFrame, key: String,
                             native: Column, hof: Column): Unit = {
    val rows = in.select(col(key), native.as("native"), hof.as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.get(1) == r.get(2), s"$key=${r.get(0)}"))
  }

  // ---------------------------------------------------------- kmeans

  /** vecMicro on the raw embeddings, then kmArgMin against the
    * centroid table of every round `KMeans.assign(k, iters)` runs:
    * the k lowest-id vectors, then each Lloyd update
    */
  private def assertKmSame(df: DataFrame, k: Int = 8, iters: Int = 3): Unit = {
    assertSameRows(df, "vec_id", MlKernels.vecMicro(col("embedding")),
      vecMicroHof(col("embedding")))
    val vm = df.select(col("vec_id"),
      MlKernels.vecMicro(col("embedding")).as("v"))
    for (round <- 1 to iters)
      assertSameRows(vm.crossJoin(KMeans.centroids(vm, k, round)), "vec_id",
        MlKernels.kmArgMin(col("v"), col("cents")),
        kmArgMinHof(col("v"), col("cents")))
  }

  private def embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  test("kmeans: native kernel equals the HOF spelling on sf0.001") {
    assertKmSame(graft.core.Tables.embeddings(spark, sfDir))
  }

  test("kmeans: equality on a grid corpus full of exact .5 micro boundaries") {
    // components k/256: x*1e6 lands on .25/.5/.75 decimals — the
    // HALF_UP-vs-half-even surface of the micro conversion
    val rows = (0 until 60).map { i =>
      Row(i.toLong, (0 until 5).map(j =>
        ((i * 7 + j * 13) % 512 - 256) / 256.0f).toSeq)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), embSchema)
    assertKmSame(df, k = 4, iters = 3)
    // exact dist2 ties: two centroids equal to the row's own vector,
    // so the tie rule alone (smaller cluster id) decides
    val tied = df.select(col("vec_id"),
      MlKernels.vecMicro(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"), array(
        struct(lit(0L).as("cluster"), col("v").as("c")),
        struct(lit(1L).as("cluster"), col("v").as("c"))).as("cents"))
    assertSameRows(tied, "vec_id", MlKernels.kmArgMin(col("v"), col("cents")),
      kmArgMinHof(col("v"), col("cents")))
  }

  test("kmeans: equality when some vectors carry null elements") {
    // a null element nulls every candidate dist2 → nulls-first struct
    // ordering assigns the row to the FIRST centroid on both spellings
    val rows = (0 until 24).map { i =>
      Row(i.toLong, (0 until 4).map(j =>
        if (i % 7 == 3 && j == 2) null
        else java.lang.Float.valueOf((i * 0.31f + j) % 2.0f)).toSeq)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), embSchema)
    assertKmSame(df, k = 3, iters = 2)
  }

  test("vecMicro maps NaN to 0 and ±Inf to Long.Max/Min (non-ANSI cast)") {
    // the documented edge, asserted directly: the replaced ANSI cast
    // chain raises on these inputs, so there is no HOF twin to match
    val vals = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      1.5f)
    val expected = Seq(0L, Long.MaxValue, Long.MinValue, 1500000L)
    for (containsNull <- Seq(false, true)) {
      val t = ArrayType(FloatType, containsNull)
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row(vals)), 1), StructType(Seq(StructField("v", t))))
      val generated = df.select(MlKernels.vecMicro(col("v")))
        .head().getSeq[Long](0)
      assert(generated == expected, s"codegen, containsNull=$containsNull")
      val interpreted = VecMicroLong(Literal.create(vals, t)).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
      assert(interpreted == expected, s"eval, containsNull=$containsNull")
    }
  }

  // ----------------------------------------------------- naive bayes

  private def nbInputs(df: DataFrame): DataFrame =
    TextAnalysis.naiveBayesScoring(df, col("text"), col("doc_id"), col("lang"))

  private def assertNbSame(in: DataFrame): Unit =
    assertSameRows(in, "doc_id",
      MlKernels.nbArgMin(col("cls"), col("om"), col("n_tokens")),
      nbArgMinHof(col("cls"), col("om"), col("n_tokens")))

  test("naive bayes: native kernel equals the HOF spelling on sf0.001") {
    assertNbSame(nbInputs(graft.core.Tables.documents(spark, sfDir)))
  }

  test("naive bayes: equality with null/empty texts (all-scores-null tie)") {
    val rows = Seq(
      Row(1L, "the cat sat on the mat", "en"),
      Row(2L, "le chat est noir", "fr"),
      Row(3L, null, "en"),          // null text → null n_tokens, null om
      Row(4L, "", "fr"),            // empty text → [""] token
      Row(5L, "the chat sat", "en"),
      Row(6L, "zzz unseen tokens only", "fr"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType)))
    val in = nbInputs(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema))
    assert(in.where(col("doc_id") === 3L && col("n_tokens").isNull &&
      col("om").isNull).count() == 1)
    assertNbSame(in)
    // exact score ties: no observed tokens and two classes with the
    // same prior and denominator, so the tie rule alone (smaller
    // class) decides
    assertNbSame(in.select(col("doc_id"),
      lit(null).cast("map<string,bigint>").as("om"), col("n_tokens"),
      array(struct(lit("en").as("c"), lit(-700000L).as("prior_micro"),
          lit(9000000L).as("denom_micro")),
        struct(lit("fr").as("c"), lit(-700000L).as("prior_micro"),
          lit(9000000L).as("denom_micro"))).as("cls")))
  }

  // ----------------------------------------------------------- scrub

  private def scrubInputs(df: DataFrame): DataFrame =
    Dedup.scrubInputs(df, col("text"), col("doc_id"), minTokens = 12,
      maxWindowFreq = 1000L)

  private def assertScrubSame(in: DataFrame): Unit =
    assertSameRows(in, "doc_id",
      MlKernels.scrubKeep(col("toks"), col("covp")),
      scrubKeepHof(col("toks"), col("covp")))

  test("scrub: native two-pointer filter equals the HOF spelling on sf0.001") {
    val in = scrubInputs(Dedup.plantSpanDups(
      graft.core.Tables.documents(spark, sfDir)))
    assert(in.where(col("covp").isNotNull).count() > 0)
    assertScrubSame(in)
  }

  test("scrub: equality on constructed duplicates incl. fully-covered docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val rows = Seq(
      Row(1L, base),                          // keeper
      Row(2L, base),                          // exact copy — fully scrubbed
      Row(3L, s"prefix only here ${(1 to 12).map(i => s"tok$i").mkString(" ")} suffix words end"),
      Row(4L, "no duplication in this document at all beyond the minimum window size words"),
      Row(5L, base + " " + base))             // doubled — within-doc repeat
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val in = scrubInputs(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema))
    assert(in.where(col("doc_id") === 2L && size(col("covp")) === 40)
      .count() == 1)
    assertScrubSame(in)
    // the covp shapes the operator leaves to the left-join miss (null)
    // plus an empty array and a null token list
    val edges = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Seq("a", "b"), Seq.empty[Long]),
      Row(2L, Seq("a", "b"), null),
      Row(3L, null, Seq(1L)),
      Row(4L, Seq("a", null, "c"), Seq(1L, 3L))), 1),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("toks", ArrayType(StringType)),
        StructField("covp", ArrayType(LongType)))))
    assertScrubSame(edges)
  }

  // ------------------------------------------------- md5 minhash

  /** the replaced grouped build of the portable family's signatures:
    * explode the distinct shingles, md5-top-60 each mod p, one
    * `min()` aggregate per permutation, grouped by doc_id
    */
  private def portableSigTableRef(df: DataFrame, k: Int): DataFrame = {
    val p = lit(MinHash.MersenneP)
    val x = pmod(
      conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long"), p)
    val aggs = MinHash.permParams(k).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(pmod(col("x") * a, p) + b, p)).as(s"h$i")
    }
    Dedup.shingles(df, col("text"), col("doc_id"))
      .select(col("doc_id"), x.as("x"))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  private def sigsOf(df: DataFrame): Map[Long, Seq[Long]] =
    df.select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  /** the map-only md5 build (the signatures `bandedSignaturesPortable`
    * bands) equals the grouped reference doc for doc, and both drop the
    * same docs (null text)
    */
  private def assertMd5SigSame(df: DataFrame, k: Int = 32): Unit = {
    val ref = sigsOf(portableSigTableRef(df, k))
    val banded = Dedup.bandedSignaturesPortable(df, col("text"),
      col("doc_id"), k)
    assert(sigsOf(banded) == ref)
    assert(banded.count() == ref.size * 8L)
  }

  private def docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  test("md5 minhash: map-only signatures equal the grouped build on sf0.001") {
    assertMd5SigSame(graft.core.Tables.documents(spark, sfDir))
  }

  test("md5 minhash: equality on null, empty, one-word, repeated and non-ASCII docs") {
    val rows = Seq(
      Row(1L, null),                                  // dropped by both
      Row(2L, ""),                                    // one "" shingle
      Row(3L, "word"),                                // one partial shingle
      Row(4L, "Word"),                                // same after lower
      Row(5L, "a b c a b c a b c a b c"),             // repeated shingles
      Row(6L, "İSTANBUL ΟΔΟΣ Straße ǅ 😀 naïve café"), // non-ASCII
      Row(7L, "the quick brown fox jumps over the lazy dog"),
      Row(8L, "  leading and  doubled spaces "))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), docSchema)
    assertMd5SigSame(df)
    val sigs = sigsOf(portableSigTableRef(df, 32))
    assert(!sigs.contains(1L) && sigs(3L) == sigs(4L))
  }

  test("md5 minhash: a repeated doc_id keeps one signature per input row") {
    // the grouped build merged both rows' shingles into one signature;
    // the map-only build, like bandedSignatures for xxhash64, keeps a
    // signature (and its bands) per row
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "alpha beta gamma delta"), Row(1L, "one two three four")), 1),
      docSchema)
    assert(portableSigTableRef(df, 32).count() == 1)
    val banded = Dedup.bandedSignaturesPortable(df, col("text"), col("doc_id"))
    assert(banded.count() == 2 * 8L)
    assert(banded.select("sig").distinct().count() == 2)
    val xx = Dedup.bandedSignatures(df, col("text"), col("doc_id"),
      hash = TokenHash.XxHash64)
    assert(xx.count() == 2 * 8L)
  }
}
