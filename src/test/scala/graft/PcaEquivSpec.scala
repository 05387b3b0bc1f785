package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Embed
import graft.ops.Embed.floorDiv

/** r15 optimization round: `Embed.pcaPower` was restructured from
  * three corpus passes (mean → mean-join → vec_id self-join Gram)
  * plus one Spark join+agg round per power step into ONE corpus
  * co-moment aggregation plus single-row array iteration. The
  * protocol is exact integer arithmetic end to end, so the two
  * shapes must agree BIT FOR BIT — this spec pins that equality,
  * against the former spelling kept below as its reference, on
  * live data and on adversarial synthetic corpora (the DuckDB
  * mirror additionally hash-gates the shipped query).
  */
class PcaEquivSpec extends SparkSpec {

  private def assertSame(df: DataFrame): Unit = {
    val v2 = Embed.pcaPower(df, col("embedding"), col("vec_id"))
      .collect().toSeq
    val v1 = pcaPowerV1(df, col("embedding"), col("vec_id"))
      .collect().toSeq
    assert(v2 == v1)
  }

  test("single-pass co-moment shape equals the v1 spelling on sf0.001") {
    assertSame(graft.core.Tables.embeddings(spark, sfDir))
  }

  test("equality holds on a synthetic corpus with extreme magnitudes") {
    // components at the ±2.0 protocol edge, plus tiny/zero vectors:
    // exercises the floored-mean correction terms with nonzero means
    // and the renormalization's m<1e6 passthrough branch
    val rnd = new scala.util.Random(42)
    val d = 7
    val rows = (0 until 50).map { i =>
      val base = if (i % 5 == 0) 0.0 else (i % 3) * 0.63 - 0.5
      Row(i.toLong, (0 until d).map(j =>
        (base + rnd.nextDouble() * 4.0 - 2.0).toFloat).toArray.toSeq)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    assertSame(df)
  }

  test("equality holds when every vector is identical (zero Gram)") {
    val rows = (0 until 8).map(i => Row(i.toLong, Seq(0.25f, -1.5f, 0.75f)))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    assertSame(df)
  }

  test("empty corpus yields an empty result on both shapes") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    assertSame(df)
  }

  test("iteration counts 1 and 5 agree across shapes") {
    val df = graft.core.Tables.embeddings(spark, sfDir)
    for (k <- Seq(1, 5)) {
      val v2 = Embed.pcaPower(df, col("embedding"), col("vec_id"), k)
        .collect().toSeq
      val v1 = pcaPowerV1(df, col("embedding"), col("vec_id"), k)
        .collect().toSeq
      assert(v2 == v1, s"iterations=$k")
    }
  }

  /** The pre-r15 spelling of [[Embed.pcaPower]] — mean pass, mean
    * equi-join, corpus self-join on vec_id for the Gram, then one
    * join+agg Spark round per power step over the localCheckpoint'd
    * 4096-row S'. Kept as this spec's bit-equality reference for the
    * r15 single-pass shape.
    */
  private def pcaPowerV1(df: DataFrame, vec: Column, id: Column,
                         iterations: Int = 3): DataFrame = {
    require(iterations >= 1)
    val vm = df.select(id.as("vec_id"),
        posexplode(transform(vec,
          x => round(x.cast("double") * 1e6, 0).cast("long")))
          .as(Seq("dim", "v")))
    val mean = vm.groupBy("dim")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .select(col("dim"), floorDiv(col("s"), col("n")).cast("long").as("mu"))
    val cent = vm.join(mean, "dim")
      .select(col("vec_id"), col("dim"), (col("v") - col("mu")).as("c"))
    val gram = cent.as("p").join(cent.as("q"), "vec_id")
      .groupBy(col("p.dim").as("i"), col("q.dim").as("j"))
      .agg(sum(col("p.c") * col("q.c")).as("s"))
      .select(col("i"), col("j"),
        floorDiv(col("s"), lit(1000000L)).cast("long").as("s"))
    val gramCk = gram.localCheckpoint() // built once; reused
    val w0 = mean.select(col("dim"), lit(1000000L).as("w"))
    val wT = (1 to iterations).foldLeft(w0) { (w, _) =>
      val u = gramCk.join(w, gramCk("j") === w("dim"))
        .groupBy(col("i")).agg(sum(col("s") * col("w")).as("u"))
      val m = u.agg(max(abs(col("u"))).as("m"))
      u.crossJoin(broadcast(m))
        .select(col("i").as("dim"),
          when(col("m") < 1000000L, col("u"))
            .otherwise(floorDiv(col("u"),
              floorDiv(col("m"), lit(1000000L)).cast("long")))
            .cast("long").as("w"))
    }
    wT.select(col("dim").cast("long").as("dim"), col("w").as("w_micro"))
      .orderBy("dim")
  }
}
