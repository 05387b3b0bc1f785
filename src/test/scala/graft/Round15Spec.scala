package graft

import graft.core.{IndexSpec, SegmentedAgg, Store, Tables}
import graft.ops.Curation
import org.apache.spark.sql.functions._

/** r15 — targeted evidence for the r14 verdict's open items. */
class Round15Spec extends SparkSpec {
  import spark.implicits._

  test("THREE-WAY concurrent overlapping-key deletes all auto-heal: " +
      "no throw, index equals a fresh build, zero intervention (r15)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val spec = IndexSpec(Seq("cat"))
    (0 until 2).foreach { round =>
      val dir = tempDir("r15race3")
      (0 until 120).map(i => (i.toLong, s"c${i % 4}"))
        .toDF("id", "cat").write.mode("overwrite")
        .parquet(s"$dir/raw") // seed via Store.write below
      val df = spark.read.parquet(s"$dir/raw")
      Store.write(df, s"$dir/s", spec)
      def tryDel(step: Int) = Future {
        try Right(Store.delete(spark, s"$dir/s", spec, "id",
          (0 until 120 by step).map(_.toLong).toDF("id")))
        catch { case e: IllegalStateException => Left(e) }
      }
      // pairwise-overlapping victim sets (%6, %10, %15 shared)
      val results = Await.result(
        Future.sequence(Seq(tryDel(2), tryDel(3), tryDel(5))), 300.seconds)
      val thrown = results.collect { case Left(e) => e }
      assert(thrown.isEmpty, s"round $round: " +
        thrown.map(_.getMessage).mkString("; "))
      val st = Store.open(spark, s"$dir/s", spec)
      val ids = st.frame.df.select("id").collect().map(_.getLong(0)).toSet
      assert(ids === (0 until 120)
        .filter(i => i % 2 != 0 && i % 3 != 0 && i % 5 != 0)
        .map(_.toLong).toSet, s"round $round: data must be exact")
      def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(asMap(st.persistedIndex) ===
        asMap(graft.core.IndexedFrame(st.frame.df, spec).entries),
        s"round $round: merged index must equal a fresh build")
    }
  }

  test("dsir store-incr SERVE plan is delta/artifact-bounded: exactly " +
      "one live-data scan (the corpus-sized scored output itself) plus " +
      "the 1024-bucket counts artifact — never a second corpus pass " +
      "(r14 verdict #4: the ×1.59-at-3× growth is output-shaped)") {
    val docs = Tables.documents(spark, sfDir)
    val spec = IndexSpec(Seq("lang"))
    val dir = tempDir("r15dsir")
    def counts(df: org.apache.spark.sql.DataFrame) =
      Curation.dsirBucketCounts(df, col("text"), col("doc_id"),
        col("lang") === "en")
    Store.write(docs.where(col("doc_id") % 2 === 0), dir, spec)
    Store.append(docs.where(col("doc_id") % 2 === 1), dir, spec)
    Store.delete(spark, dir, spec, "doc_id",
      docs.where(col("doc_id") % 5 === 0).select("doc_id"))
    // first call refreshes the partials (O(batch), plan-asserted in
    // Round13Spec); the SERVE below runs in steady state
    SegmentedAgg.have(spark, dir, "dsir", "doc_id")(counts)
    val c = SegmentedAgg.have(spark, dir, "dsir", "doc_id")(counts)
    val w = Curation.dsirWeightsFromCounts(c)
    val live = Store.open(spark, dir, spec).frame.df
    val serve = Curation.dsirScoreWithWeights(live,
      col("text"), col("doc_id"), w)
    def dataScans(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("Location"))
        .count(_.contains("/data/"))
    // the serve's ONLY corpus-sized reads are the live view's own
    // scan branches — the pass that produces the per-doc output rows.
    // Everything else it touches is the bounded counts artifact.
    assert(dataScans(serve) === dataScans(live),
      "serve must not add corpus scans beyond the live view itself")
    assert(serve.queryExecution.executedPlan.toString.contains("agg/dsir"),
      "serve must read the persisted counts artifact, not re-count")
    // and the answer is the real one (weights from netted partials)
    val expect = Curation.dsirScores(live, col("text"), col("doc_id"),
      col("lang") === "en")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m(serve) === m(expect))
  }
}
