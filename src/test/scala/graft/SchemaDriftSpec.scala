package graft

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import java.nio.file.Files

/** Guard against the r6 regression class: the upstream data generator
  * has shipped `events.ts` both as TIMESTAMP(NANOS)-read-as-long and
  * as plain timestamp[us]; `Tables.events` must canonicalize both to
  * the same TIMESTAMP_NTZ(micros) column. Two on-disk fixtures with
  * identical logical content, different physical `ts` encodings —
  * the loader must make them indistinguishable. (Spark cannot author
  * TIMESTAMP(NANOS) parquet, so raw int64 nanos stands in for the
  * nanosAsLong read shape — the loader's LongType branch is the same.)
  *
  * The same guard for the Bench record: its artifacts have shipped as
  * one-record bench_history files and as BENCH_r*.json wrappers around
  * a stdout tail, with fields added over time (`cpus`, `sf`, `qualifies`,
  * `code`). `Bench.parseArtifact` must read every shape, and
  * `Bench.select` must never let a record of other code stand in for
  * this run.
  */
class SchemaDriftSpec extends SparkSpec {

  test("Tables.events canonicalizes long-nanos and timestamp[us] encodings identically") {
    val base = Tables.events(spark, sfDir)
      .orderBy("event_id").limit(500)
    val dir = tempDir("events-drift")

    // fixture A: ts as raw int64 nanoseconds since epoch
    base.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      .write.mode("overwrite").parquet(s"$dir/nanos/events.parquet")
    // fixture B: ts as a real timestamp column (micros)
    base.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$dir/micros/events.parquet")

    // the raw files really do differ physically
    assert(spark.read.parquet(s"$dir/nanos/events.parquet").schema("ts").dataType == LongType)
    assert(spark.read.parquet(s"$dir/micros/events.parquet").schema("ts").dataType == TimestampNTZType)

    val a = Tables.events(spark, s"$dir/nanos")
    val b = Tables.events(spark, s"$dir/micros")
    // both canonicalize to TIMESTAMP_NTZ …
    assert(a.schema("ts").dataType == TimestampNTZType)
    assert(b.schema("ts").dataType == TimestampNTZType)
    assert(a.schema == b.schema)
    // … and to identical values: an aggregate that is sensitive to
    // every row's ts must agree exactly across encodings
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.select(
        count(lit(1)).as("n"),
        min("ts").as("lo"), max("ts").as("hi"),
        sum(unix_micros(col("ts").cast("timestamp"))).as("sum_us"))
        .collect().head
    assert(digest(a) == digest(b))
    // row-for-row identity, not just aggregates
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("Tables.eventsStream executes micro-batches on a true TIMESTAMP(NANOS) file") {
    // the batch loader can scope the nanosAsLong conf to relation
    // creation, but a file-stream source reads parquet at micro-batch
    // EXECUTION time — if the loader restored the conf before the
    // query ran, the first micro-batch of a TIMESTAMP(NANOS)
    // generation threw "Illegal Parquet type: INT64 (TIMESTAMP(NANOS".
    // Spark can't author that encoding, so write the fixture with the
    // raw parquet-java API — this is the real upstream shape, not the
    // int64 stand-in the batch test uses.
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val dir = tempDir("events-drift-nanos")
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .named("events")
    val fac = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(schema).build()
    val baseNs = 1700000000L * 1000000000L
    try (0 until 500).foreach { i =>
      writer.write(fac.newGroup()
        .append("event_id", i.toLong)
        .append("ts", baseNs + i.toLong * 90L * 1000000000L))
    } finally writer.close()

    // batch face: LongType branch engages under the scoped conf
    val batch = Tables.events(spark, dir)
    assert(batch.schema("ts").dataType == TimestampNTZType)
    assert(batch.count() == 500)

    // streaming face: micro-batches must read the nanos file too
    val q = Tables.eventsStream(spark, dir)
      .groupBy(window(col("ts"), "1 hour")).count()
      .writeStream.format("memory").queryName("drift_nanos_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("drift_nanos_stream")
        .agg(sum("count")).collect().head.getLong(0)
      assert(streamed == 500L)
    } finally q.stop()
  }

  test("Tables.events loads the live testdata generation with a usable ts") {
    val df = Tables.events(spark, sfDir)
    assert(df.schema("ts").dataType == TimestampNTZType)
    // the r6 failure was an ANALYSIS exception — force full analysis +
    // a real aggregation over ts arithmetic on whatever encoding the
    // current generation ships
    val n = df.filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), "1 hour")).count().count()
    assert(n > 0)
  }

  // ---------------------------------------------------- bench records

  private val sf = "data/sf0.1"
  private def record(total: Double, fields: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":{"q1_agg":${total / 2},"dedup_minhash":${total / 2}},$fields}"""

  test("Bench.parseArtifact reads history records and wrapped stdout tails") {
    val stamped = record(10.0, s""""errors":{},"cpus":32,"qualifies":true,""" +
      s""""fingerprint":"fp1","code":"c1","sf":"$sf"""")
    assert(Bench.parseArtifact("bench_1.json", stamped, sf, "32") ==
      Seq(Bench.Artifact("bench_1.json", 10.0,
        Map("q1_agg" -> 5.0, "dedup_minhash" -> 5.0), true, "fp1", "c1")))
    // dropped: failed reps, another SF, another core count
    for (bad <- Seq(""""errors":{"q1_agg":"boom"},"cpus":32""",
                    s""""errors":{},"cpus":32,"sf":"/other"""",
                    """"errors":{},"cpus":8"""))
      assert(Bench.parseArtifact("b.json", record(9.0, bad), sf, "32").isEmpty, bad)
    // a record that predates cpus/sf/code counts as an unstamped
    // cpus=32 sf0.1 record; one that predates qualifies never qualifies
    val old = Bench.parseArtifact("b.json", record(8.0, """"errors":{}"""), sf, "32")
    assert(old.map(a => (a.total, a.qualifies, a.code)) == Seq((8.0, false, "")))
    assert(Bench.parseArtifact("b.json", record(8.0, """"errors":{}"""), sf, "8").isEmpty)
    // a wrapped stdout tail: a truncated first line, then the compact line,
    // whose pruned queries map does not sum to its value
    val compact = """{"metric":"total","value":30.0,"unit":"sec",""" +
      """"queries":{"q1_agg":1.5},"n_errors":0,"qualifies":true,"cpus":32,""" +
      s""""code":"c2","sf":"$sf"}"""
    val wrapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .createObjectNode().put("n", 16).put("cpus", 32).put("sf", 0.1)
      .put("tail", "8,\"this_run_canary_samples\":[1.0]}\n[info] " + compact)
      .toString
    assert(Bench.parseArtifact("BENCH_r16.json", wrapper, sf, "32") ==
      Seq(Bench.Artifact("BENCH_r16.json", 30.0, Map("q1_agg" -> 1.5), true, "", "c2")))
    assert(Bench.parseArtifact("b.json", "not json", sf, "32").isEmpty)
  }

  test("Bench.select takes a prior record only with this run's fingerprint and code") {
    val qs = Map("q1_agg" -> 1.0)
    val run = Bench.Artifact("this_run", 12.0, qs, true, "fp1", "c1")
    val sameCode = Bench.Artifact("bench_1.json", 10.0, qs, true, "fp1", "c1")
    // a one-line source change gives a new code stamp: its faster
    // record is no longer a candidate, so this run is the record
    val otherCode = sameCode.copy(file = "bench_2.json", total = 5.0, code = "c0")
    val otherFp = sameCode.copy(file = "bench_3.json", total = 5.0, fp = "fp0")
    val unstamped = sameCode.copy(file = "BENCH_r16.json", total = 5.0, code = "")
    val unqualified = sameCode.copy(file = "bench_4.json", total = 5.0, qualifies = false)
    val prior = Seq(otherCode, otherFp, unstamped, unqualified)
    assert(Bench.select(run, true, prior, useHistory = true) == (run, Seq(run)))
    assert(Bench.select(run, true, prior :+ sameCode, useHistory = true) ==
      (sameCode, Seq(run, sameCode)))
    // another core count measures this run only
    assert(Bench.select(run, true, prior :+ sameCode, useHistory = false)._1 == run)
    // an unqualified or partial run is reported as such
    for ((r, eligible) <- Seq(run.copy(qualifies = false) -> true, run -> false)) {
      val (official, candidates) = Bench.select(r, eligible, prior, useHistory = true)
      assert(official.file == "this_run_unqualified" && !official.qualifies)
      assert(candidates.isEmpty)
    }
    assert(Bench.codeHash().matches("[0-9a-f]{12}"))
    assert(Bench.codeHash() == Bench.codeHash())
  }
}
