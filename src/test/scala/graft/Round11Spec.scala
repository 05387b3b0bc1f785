package graft

import graft.core.Tables
import graft.ops.{Dedup, Skew}
import org.apache.spark.sql.functions._

/** Round-11 evidence: the gated parallelism barrier's skip condition,
  * the index-only ExactSubstr incremental face (corpus untouched in
  * steady state), the window-n metadata guard, and the batch/corpus
  * self-match guard the r10 ADVICE flagged.
  */
class Round11Spec extends SparkSpec {

  test("Skew.spread: under-parallel input spreads; pre-partitioned passes through untouched") {
    import spark.implicits._
    val target = spark.sparkContext.defaultParallelism
    val small = (1L to 100L).toDF("doc_id").coalesce(1)
    assert(Skew.spread(small, col("doc_id")).rdd.getNumPartitions === target)
    // an input already at/above the session's parallelism keeps its
    // exact partitioning — no exchange is inserted (the r10 finding:
    // a 100 TB scan already has parallelism; re-shuffling the corpus
    // ahead of the kernel's one real exchange was gratuitous)
    val wide = (1L to 100L).toDF("doc_id").repartition(target + 3, col("doc_id"))
    val passed = Skew.spread(wide, col("doc_id"))
    assert(passed.rdd.getNumPartitions === target + 3)
    // no NEW exchange on top of the input's own plan
    def nExchanges(df: org.apache.spark.sql.DataFrame) =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
    assert(nExchanges(passed) === nExchanges(wide))
  }

  test("exactSubstrIncrementalIndexed: corpus data never scanned — only the window artifact and the batch") {
    val docs = Tables.documents(spark, sfDir)
    val corpusPath = "/tmp/graft_r11_corpus"
    val batchPath = "/tmp/graft_r11_batch"
    val winPath = "/tmp/graft_r11_wins"
    docs.where(col("doc_id") % 2 === 0).write.mode("overwrite")
      .parquet(corpusPath)
    docs.where(col("doc_id") % 2 === 1).write.mode("overwrite")
      .parquet(batchPath)
    val corpus = spark.read.parquet(corpusPath)
    Dedup.exactSubstrWindows(corpus, col("text"), col("doc_id"))
      .write.mode("overwrite").parquet(winPath)
    val wins = spark.read.parquet(winPath)
    val out = Dedup.exactSubstrIncrementalIndexed(
      spark.read.parquet(batchPath), wins, col("text"), col("doc_id"))
    val scans = out.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Location")).mkString("\n")
    assert(scans.contains("graft_r11_wins"), scans)
    assert(scans.contains("graft_r11_batch"), scans)
    // the steady-state claim: the corpus parquet appears in NO scan
    assert(!scans.contains("graft_r11_corpus"), scans)
  }

  test("exactSubstrIncrementalIndexed == exactSubstrIncremental (b-side slice is exact)") {
    val aug = Dedup.plantSpanDups(Tables.documents(spark, sfDir))
    val batch = aug.where(col("doc_id") >= 2000000L)
    val corpus = aug.where(col("doc_id") < 2000000L)
    val wins = Dedup.exactSubstrWindows(corpus, col("text"), col("doc_id"))
    val fresh = Dedup.exactSubstrIncremental(batch, corpus,
      col("text"), col("doc_id")).collect().toSeq
    val indexed = Dedup.exactSubstrIncrementalIndexed(batch, wins,
      col("text"), col("doc_id")).collect().toSeq
    assert(fresh.nonEmpty)
    assert(indexed === fresh)
  }

  test("window-n metadata: a mismatched corpus window table fails loudly, even through parquet") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val winPath = "/tmp/graft_r11_wins_n8"
    Dedup.exactSubstrWindows(docs, col("text"), col("doc_id"), n = 8)
      .write.mode("overwrite").parquet(winPath)
    val wins = spark.read.parquet(winPath)
    assert(Dedup.windowN(wins) === Some(8L))
    val err = intercept[IllegalArgumentException] {
      Dedup.exactSubstrIncrementalIndexed(docs, wins,
        col("text"), col("doc_id"), minTokens = 12)
    }
    assert(err.getMessage.contains("n=8"))
    // and the streaming face enforces the same contract
    val errS = intercept[IllegalArgumentException] {
      graft.streaming.EventPipeline.extentDedupStream(
        docs, "text", "doc_id", "ts", wins, minTokens = 12)
    }
    assert(errS.getMessage.contains("n=8"))
  }

  test("a stale v1 (hex string) window table fails loudly on both faces") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val v2 = Dedup.exactSubstrWindows(docs, col("text"), col("doc_id"))
    // the v1 format: the same windows with `w` as a 32-char hex string,
    // window-n metadata intact — it would join the binary `w` with
    // zero matches and silently dedup nothing
    val v1 = v2.select(col("doc_id"), col("p"),
      lower(hex(col("w"))).as("w", v2.schema("w").metadata))
    assert(Dedup.windowN(v1) === Some(12L))
    val err = intercept[IllegalArgumentException] {
      Dedup.exactSubstrIncrementalIndexed(docs, v1, col("text"), col("doc_id"))
    }
    assert(err.getMessage.contains("exactSubstrWindows"))
    val errS = intercept[IllegalArgumentException] {
      graft.streaming.EventPipeline.extentDedupStream(
        docs, "text", "doc_id", "ts", v1)
    }
    assert(errS.getMessage.contains("exactSubstrWindows"))
  }

  test("incremental faces never self-match a doc_id present on both sides") {
    // r10 ADVICE: overlapping batch/corpus id sets used to emit
    // full-length a==b self-extents that would corrupt downstream
    // scrub accounting. The a≠b guard makes that structurally
    // impossible; cross-doc extents still surface.
    val aug = Dedup.plantSpanDups(Tables.documents(spark, sfDir))
    val overlapping = Dedup.exactSubstrIncremental(
      aug, aug, col("text"), col("doc_id")).collect()
    assert(overlapping.nonEmpty) // cross pairs still found
    assert(overlapping.forall(r => r.getLong(0) != r.getLong(1)))
  }
}
