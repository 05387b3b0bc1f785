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
  * (functions/MlKernels); the portable md5 MinHash and SimHash builds
  * moved from grouped explode + 32-`min()` / 60-`sum()` aggregates to
  * the map-only MinHashSig and SimHash64 kernels. The operators'
  * arithmetic is exact-integer,
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

  /** `kernel` over each row's `in` literals, evaluated interpreted
    * (Expression.eval, no codegen), must equal the HOF spelling's value
    * for that row, which the DataFrame computes
    */
  private def assertEvalSame(in: DataFrame, key: String, hof: Column)(
      kernel: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression,
      inputs: String*): Unit = {
    val types = inputs.map(c => in.schema(c).dataType)
    val rows = in.select((col(key) +: inputs.map(col)) :+ hof.as("hof"): _*)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lits = inputs.indices.map(i => Literal.create(r.get(i + 1), types(i)))
      val e = kernel(lits)
      val out = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(e.eval(), e.dataType)
      assert(out == r.get(inputs.size + 1), s"$key=${r.get(0)} (eval)")
    }
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

  test("kmeans: equality on null centroid elements, codegen and interpreted") {
    // a null element is struct(null, null) in the HOF spelling: the
    // least struct there is, so it wins wherever it sits; null
    // clusters, unsorted ties and bad centroids ride along
    val centT = ArrayType(StructType(Seq(StructField("cluster", LongType),
      StructField("c", ArrayType(LongType)))), containsNull = true)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("v", ArrayType(LongType)), StructField("cents", centT)))
    val v = Seq(3L, 4L)
    val rows = Seq(
      Row(1L, v, Seq(Row(0L, Seq(9L, 9L)), null, Row(2L, v))),
      Row(2L, v, Seq(null, Row(1L, v))),
      Row(3L, null, Seq(Row(0L, v), null)),
      Row(4L, null, Seq(Row(1L, v), Row(0L, v))),
      Row(5L, v, Seq(null)),
      Row(6L, v, Seq(Row(null, v), Row(1L, v))),
      Row(7L, v, Seq(Row(1L, v), Row(0L, v))),
      Row(8L, v, Seq(Row(1L, null), Row(0L, Seq(3L)))),
      Row(9L, v, Seq(Row(0L, Seq(9L, 9L)), Row(1L, Seq(3L, 5L)))),
      Row(10L, v, Seq()),
      Row(11L, v, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val hof = kmArgMinHof(col("v"), col("cents"))
    assertSameRows(df, "vec_id", MlKernels.kmArgMin(col("v"), col("cents")), hof)
    assertEvalSame(df, "vec_id", hof)(
      es => graft.functions.KmArgMin(es(0), es(1)), "v", "cents")
    val picked = df.select(col("vec_id"), hof.as("h")).collect()
      .map(r => r.getLong(0) -> Option(r.getStruct(1))
        .map(h => Option(h.get(1))).orNull).toMap
    assert(picked(1L) == None && picked(6L) == None && picked(7L) == Some(0L))
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

  test("naive bayes: equality on null class elements, codegen and interpreted") {
    val clsT = ArrayType(StructType(Seq(StructField("c", StringType),
      StructField("prior_micro", LongType),
      StructField("denom_micro", LongType))), containsNull = true)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("cls", clsT),
      StructField("om", MapType(StringType, LongType)),
      StructField("n_tokens", LongType)))
    val en = Row("en", -700000L, 9000000L)
    val fr = Row("fr", -600000L, 9000000L)
    val om = Map("en" -> 5000000L)
    val rows = Seq(
      Row(1L, Seq(en, null, fr), om, 2L),
      Row(2L, Seq(null, en), om, 2L),
      Row(3L, Seq(en, null), null, null),
      Row(4L, Seq(fr, en), om, null),
      Row(5L, Seq(null), om, 1L),
      Row(6L, Seq(en, fr), om, 2L),
      Row(7L, Seq(Row(null, -700000L, 9000000L), en), om, 2L),
      Row(8L, Seq(Row("fr", null, 9000000L), Row("en", null, 1L)), om, 2L),
      Row(9L, Seq(fr, Row("en", -600000L, 9000000L)), null, 2L),
      Row(10L, Seq(), om, 2L),
      Row(11L, null, om, 2L))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val hof = nbArgMinHof(col("cls"), col("om"), col("n_tokens"))
    assertSameRows(df, "doc_id",
      MlKernels.nbArgMin(col("cls"), col("om"), col("n_tokens")), hof)
    assertEvalSame(df, "doc_id", hof)(
      es => graft.functions.NbArgMin(es(0), es(1), es(2)),
      "cls", "om", "n_tokens")
    val picked = df.select(col("doc_id"), hof.as("h")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(picked(1L).isEmpty && picked(4L) == Some("en") &&
      picked(8L) == Some("en"))
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

  // --------------------------------------------------- md5 simhash

  /** the grouped fingerprint build `simhashPortablePairs` replaced: one
    * row per (doc, distinct token), the token's md5 top 60 bits, and 60
    * vote sums per doc
    */
  private def portableSimhashRef(df: DataFrame): DataFrame = {
    val toks = array_distinct(split(graft.functions.TokenOps.lower(col("text")), " "))
    val x = conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
    val votes = (0 until 60).map { j =>
      sum(shiftrightunsigned(col("x"), j).bitwiseAND(1) * 2 - 1).as(s"v$j")
    }
    val fpBits = (0 until 60)
      .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    df.select(col("doc_id"), explode(toks).as("tok"))
      .select(col("doc_id"), x.as("x"))
      .groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fpBits.as("simhash"))
  }

  private def fpsOf(df: DataFrame): Map[Long, Long] =
    df.select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** the map-only md5 fingerprints equal the grouped reference doc for
    * doc, both drop the same docs (null text), and the interpreted
    * kernel agrees with the generated one
    */
  private def assertMd5SimhashSame(df: DataFrame): Unit = {
    val ref = fpsOf(portableSimhashRef(df))
    val mapOnly = Dedup.simhash(df, col("text"), col("doc_id"), TokenHash.Md5Top60)
    assert(fpsOf(mapOnly) == ref)
    assert(mapOnly.count() == ref.size)
    val toksT = ArrayType(StringType)
    df.select(col("doc_id"), array_distinct(split(
        graft.functions.TokenOps.lower(col("text")), " ")).as("toks"))
      .collect().foreach { r =>
        val e = graft.functions.SimHash64(
          Literal.create(r.get(1), toksT), TokenHash.Md5Top60)
        assert(Option(e.eval()) == ref.get(r.getLong(0)), s"doc_id=${r.getLong(0)}")
      }
  }

  test("md5 simhash: map-only fingerprints equal the grouped build on sf0.001") {
    assertMd5SimhashSame(graft.core.Tables.documents(spark, sfDir))
  }

  test("md5 simhash: equality on null, empty, one-token, repeated and non-ASCII docs") {
    val rows = Seq(
      Row(1L, null),                                  // dropped by both
      Row(2L, ""),                                    // one "" token
      Row(3L, "word"),                                // one token
      Row(4L, "Word"),                                // same after lower
      Row(5L, "a b c a b c a b c a b c"),             // repeated tokens
      Row(6L, "İSTANBUL ΟΔΟΣ Straße ǅ 😀 naïve café"), // non-ASCII
      Row(7L, "the quick brown fox jumps over the lazy dog"),
      Row(8L, "  leading and  doubled spaces "))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), docSchema)
    assertMd5SimhashSame(df)
    val fps = fpsOf(portableSimhashRef(df))
    assert(!fps.contains(1L) && fps(3L) == fps(4L))
    assert(fps.values.forall(_ >>> 60 == 0L))
  }

  test("md5 simhash: a repeated doc_id keeps one fingerprint per input row") {
    // the grouped build summed both rows' votes into one fingerprint;
    // the map-only build, like the xxhash64 simhash, keeps one per row
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "alpha beta gamma delta"), Row(1L, "one two three four")), 1),
      docSchema)
    assert(portableSimhashRef(df).count() == 1)
    val md = Dedup.simhash(df, col("text"), col("doc_id"), TokenHash.Md5Top60)
    assert(md.count() == 2 && md.select("simhash").distinct().count() == 2)
    assert(Dedup.simhash(df, col("text"), col("doc_id")).count() == 2)
  }
}
