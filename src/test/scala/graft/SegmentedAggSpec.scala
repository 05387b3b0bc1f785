package graft

import graft.core.{IndexSpec, SegmentedAgg, Store, Tables}
import graft.ops.Knn
import org.apache.spark.sql.functions._

/** r12: segment-incremental derived AGGREGATES (SegmentedAgg) — count
  * partials per segment + negative partials per tombstone, netting to
  * exactly the from-scratch aggregate over the live rows.
  */
class SegmentedAggSpec extends SparkSpec {
  import spark.implicits._

  private val spec = IndexSpec(Seq("cat"))

  private def mkDf(ids: Range) =
    ids.map(i => (i.toLong, s"c${i % 5}", i % 3 == 0)).toDF("id", "cat", "hit")

  private def counts(df: org.apache.spark.sql.DataFrame) =
    Knn.weightCounts(df, Seq("cat"), col("hit"))

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3))).toMap

  test("netted counts equal the from-scratch counts over live rows") {
    val dir = tempDir("segagg")
    Store.write(mkDf(0 until 60), dir, spec)
    Store.append(mkDf(60 until 100), dir, spec)
    Store.delete(spark, dir, spec, "id",
      (0 until 100 by 7).map(_.toLong).toDF("id"))
    Store.append(mkDf(0 until 100).where($"id" % 21 === 0), dir, spec)
    val incr = SegmentedAgg.have(spark, dir, "kc", "id")(counts)
    val live = Store.open(spark, dir, spec).frame.df
    assert(asMap(incr) === asMap(counts(live)))
    // and the sentinel row is the live row count
    assert(asMap(incr)(("__total__", ""))._1 === live.count())
  }

  test("no double negation: overlapping deletes with a re-append between") {
    val dir = tempDir("segagg")
    Store.write(mkDf(0 until 50), dir, spec)
    // delete evens, re-append ids 0..9, then delete multiples of 4 —
    // the second tombstone's victims in seg_0 must EXCLUDE rows the
    // first tombstone already killed, or their counts subtract twice
    Store.delete(spark, dir, spec, "id",
      (0 until 50 by 2).map(_.toLong).toDF("id"))
    Store.append(mkDf(0 until 10), dir, spec)
    Store.delete(spark, dir, spec, "id",
      (0 until 50 by 4).map(_.toLong).toDF("id"))
    val incr = SegmentedAgg.have(spark, dir, "kc", "id")(counts)
    val live = Store.open(spark, dir, spec).frame.df
    assert(asMap(incr) === asMap(counts(live)))
  }

  test("refresh after an append scans only the delta segment") {
    val dir = tempDir("segagg")
    Store.write(mkDf(0 until 60), dir, spec)
    SegmentedAgg.have(spark, dir, "kc", "id")(counts)
    Store.append(mkDf(60 until 90), dir, spec)
    var scans = Seq.empty[String]
    val built = SegmentedAgg.refresh(spark, dir, "kc", "id") { delta =>
      scans = scans :+ delta.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("Location")).mkString("\n")
      counts(delta)
    }
    assert(built === Seq("seg_1"))
    assert(scans.size === 1)
    assert(scans.head.contains("seg_1"))
    assert(!scans.head.contains("seg_0"), scans.head)
  }

  test("a delete's negative partial scans only the affected segment") {
    val dir = tempDir("segagg")
    Store.write(mkDf(0 until 60), dir, spec)
    Store.append(mkDf(60 until 90), dir, spec)
    SegmentedAgg.have(spark, dir, "kc", "id")(counts)
    // victims all live in seg_0; both segments get a negative partial
    // build call but each scans ITS OWN files only
    Store.delete(spark, dir, spec, "id", Seq(1L, 3L).toDF("id"))
    val built = SegmentedAgg.refresh(spark, dir, "kc", "id")(counts)
    assert(built.toSet === Set("del_2_seg_0", "del_2_seg_1"))
    val incr = SegmentedAgg.read(spark, dir, "kc")
    val live = Store.open(spark, dir, spec).frame.df
    assert(asMap(incr) === asMap(counts(live)))
  }

  test("compact retires partials and the fold rebuilds identically") {
    val dir = tempDir("segagg")
    Store.write(mkDf(0 until 60), dir, spec)
    Store.append(mkDf(60 until 90), dir, spec)
    Store.delete(spark, dir, spec, "id",
      (0 until 90 by 9).map(_.toLong).toDF("id"))
    val before = asMap(SegmentedAgg.have(spark, dir, "kc", "id")(counts))
    Store.compact(spark, dir)
    val after = asMap(SegmentedAgg.have(spark, dir, "kc", "id")(counts))
    assert(after === before)
    // no del_ partials survive the fold
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/agg/kc"))
      .map(_.getPath.getName).toSeq
    assert(parts.count(_.startsWith("del_")) === 0, parts)
  }

  test("weights from netted counts equal keyValueWeights over live rows") {
    val dir = tempDir("segagg")
    val part = Tables.part(spark, sfDir)
    val kspec = IndexSpec(Seq("p_brand"))
    Store.write(part.where($"p_partkey" % 2 === 0), dir, kspec)
    Store.append(part.where($"p_partkey" % 2 =!= 0), dir, kspec)
    Store.delete(spark, dir, kspec, "p_partkey",
      part.where($"p_partkey" % 7 === 0).select("p_partkey"))
    val kc = SegmentedAgg.have(spark, dir, "kw", "p_partkey")(
      Knn.weightCounts(_, Seq("p_brand", "p_size"),
        col("p_type") === "ECONOMY"))
    val incr = Knn.weightsFromCounts(kc).collect().toSeq
    val live = Store.open(spark, dir, kspec).frame.df
    val full = Knn.keyValueWeights(live, Seq("p_brand", "p_size"),
      col("p_type") === "ECONOMY").collect().toSeq
    assert(incr === full) // bit-identical doubles from equal counts
  }
}
