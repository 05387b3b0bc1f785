package graft

import graft.core.{IndexSpec, SegmentedAgg, Store}
import org.apache.spark.sql.functions._

/** r13 advice fixes:
  *  - PointRead prunes in parquet's unsigned UTF-8 byte order, so
  *    values with supplementary characters (where UTF-16 String order
  *    inverts against byte order) are never falsely pruned;
  *  - SegmentedAgg validates the buildCounts schema contract loudly;
  *  - write/append reject user columns/index fields in the reserved
  *    __graft_dropped_* namespace.
  */
class Round13Spec extends SparkSpec {
  import spark.implicits._

  test("point read is not pruned by UTF-16 vs UTF-8 order inversion") {
    // "" (UTF-8: EE 80 80) byte-compares BELOW the emoji
    // (U+1F600, UTF-8: F0 9F 98 80) but UTF-16-compares ABOVE it
    // (surrogate 0xD83D < 0xE000) — a String-ordered prune against
    // parquet's byte-ordered stats drops the file holding the emoji.
    val emoji = new String(Character.toChars(0x1F600))
    val priv = ""
    val dir = tempDir("r13pt")
    val df = (0 until 60).map { i =>
      val cat = i % 3 match {
        case 0 => emoji
        case 1 => priv
        case _ => "plain"
      }
      (i.toLong, cat)
    }.toDF("id", "cat")
    val spec = IndexSpec(Seq("cat")).withRowRefs("id")
    Store.write(df.coalesce(1), s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    for (v <- Seq(emoji, priv, "plain")) {
      val plan = st.rowsOf("cat", v).collect().map(_.getLong(0)).sorted.toSeq
      val fast = st.rowsOfPoint("cat", v).map(_.asInstanceOf[Long]).sorted
      assert(plan.nonEmpty, s"oracle setup: '$v' must have rows")
      assert(fast === plan, s"fast path lost rows for '$v'")
      assert(st.fPoint("cat", v) ===
        st.f("cat", v).collect().map(_.getLong(0)).sum)
    }
  }

  test("SegmentedAgg rejects a buildCounts output with no Long column") {
    val dir = tempDir("r13agg")
    val spec = IndexSpec(Seq("cat"))
    Store.write((0 until 40).map(i => (i.toLong, s"c${i % 4}"))
      .toDF("id", "cat"), dir, spec)
    val e = intercept[IllegalArgumentException] {
      SegmentedAgg.have(spark, dir, "bad", "id")(
        d => d.groupBy("cat").agg(count(lit(1)).cast("int").as("n")))
    }
    assert(e.getMessage.contains("no LongType column"))
  }

  test("SegmentedAgg rejects the delete key carried through as Long") {
    val dir = tempDir("r13agg")
    val spec = IndexSpec(Seq("cat"))
    Store.write((0 until 40).map(i => (i.toLong, s"c${i % 4}"))
      .toDF("id", "cat"), dir, spec)
    val e = intercept[IllegalArgumentException] {
      SegmentedAgg.have(spark, dir, "bad2", "id")(
        d => d.groupBy("cat", "id").agg(count(lit(1)).as("n")))
    }
    assert(e.getMessage.contains("delete key column"))
  }

  test("DSIR counts as a SegmentedAgg family: delta-only refresh, " +
      "weights bit-identical to a from-scratch fit") {
    import graft.core.{IndexSpec, SegmentedAgg, Store, Tables}
    import graft.ops.Curation
    val docs = Tables.documents(spark, sfDir)
    val spec = IndexSpec(Seq("lang"))
    val dir = tempDir("r13dsir")
    def counts(df: org.apache.spark.sql.DataFrame) =
      Curation.dsirBucketCounts(df, col("text"), col("doc_id"),
        col("lang") === "en")
    Store.write(docs.where(col("doc_id") % 2 === 0), dir, spec)
    Store.delete(spark, dir, spec, "doc_id",
      docs.where(col("doc_id") % 5 === 0).select("doc_id"))
    SegmentedAgg.have(spark, dir, "dsir", "doc_id")(counts)
    Store.append(docs.where(col("doc_id") % 2 === 1), dir, spec)
    // the refresh builds EXACTLY the new segment's partial, scanning
    // only its files
    var scans = Seq.empty[String]
    val built = SegmentedAgg.refresh(spark, dir, "dsir", "doc_id") { d =>
      scans = scans :+ d.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("Location")).mkString("\n")
      counts(d)
    }
    assert(built.size === 1 && built.head.startsWith("seg_"))
    assert(scans.head.contains(s"data/${built.head}") &&
      !scans.head.contains("data/seg_0"), scans.head)
    // fitted weights from the netted counts == a from-scratch fit
    val incrW = Curation.dsirWeightsFromCounts(
      SegmentedAgg.read(spark, dir, "dsir"))
    val live = Store.open(spark, dir, spec).frame.df
    val freshW = Curation.dsirWeights(live, col("text"), col("doc_id"),
      col("lang") === "en")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(incrW) === m(freshW))
  }

  test("classifier moments as a SegmentedAgg family: netted cells " +
      "equal a from-scratch build, zero-valued cells included") {
    import graft.core.{IndexSpec, SegmentedAgg, Store, Tables}
    import graft.ops.TextAnalysis
    val docs = Tables.documents(spark, sfDir)
    val spec = IndexSpec(Seq("lang"))
    val dir = tempDir("r13clf")
    def mom(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.clfMomentsObs(
        TextAnalysis.plantC4Docs(df, col("text"), col("doc_id")),
        col("text"), col("doc_id"))
    Store.write(docs.where(col("doc_id") % 4 < 2), dir, spec)
    Store.append(docs.where(col("doc_id") % 4 === 2), dir, spec)
    Store.delete(spark, dir, spec, "doc_id",
      docs.where(col("doc_id") % 5 === 0).select("doc_id"))
    Store.append(docs.where(col("doc_id") % 4 === 3), dir, spec)
    val incr = SegmentedAgg.have(spark, dir, "clfm", "doc_id")(mom)
      .select("i", "j", "v")
    val live = Store.open(spark, dir, spec).frame.df
    val fresh = TextAnalysis.clfMoments(
      TextAnalysis.plantC4Docs(live, col("text"), col("doc_id")),
      col("text"), col("doc_id"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val (im, fm) = (m(incr), m(fresh))
    assert(im === fm)
    // steady state: nothing rebuilds
    assert(SegmentedAgg.refresh(spark, dir, "clfm", "doc_id")(mom).isEmpty)
  }

  test("VecUnit: the no-null static path and the null-branch path " +
      "yield identical vectors") {
    import org.apache.spark.sql.types._
    import graft.functions.VecMath.vecUnit
    // array(non-null cols) types containsNull=false → static path;
    // the same data via parquet types containsNull=true → null path
    // +/* only: % types as nullable (div-by-zero), which would flip
    // the array's containsNull and skip the static path
    val dense = spark.range(2000).selectExpr("id",
      "array(CAST(id + 1 AS FLOAT), CAST(id * 2 + 3 AS FLOAT), " +
        "CAST(id * 5 + 7 AS FLOAT)) AS v")
    assert(dense.schema("v").dataType ===
      ArrayType(FloatType, containsNull = false))
    val p = tempDir("vu")
    dense.write.mode("overwrite").parquet(p)
    val viaFile = spark.read.parquet(p)
    assert(viaFile.schema("v").dataType ===
      ArrayType(FloatType, containsNull = true))
    def m(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), vecUnit(col("v")).as("u"))
      .selectExpr("id", "CAST(aggregate(u, 0D, (s,x) -> s + x) AS DECIMAL(20,12)) AS s")
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(m(dense) === m(viaFile))
    // output type mirrors the input's containsNull on both routes
    assert(dense.select(vecUnit(col("v")).as("u")).schema("u").dataType ===
      ArrayType(FloatType, containsNull = false))
    // and genuine null elements still propagate on the null path
    val withNull = spark.sql(
      "SELECT array(CAST(1 AS FLOAT), CAST(NULL AS FLOAT)) AS v")
    val r = withNull.select(vecUnit(col("v")).as("u")).head.getSeq[Any](0)
    assert(r(1) == null && r(0) != null)
  }

  test("upsertBatch: batch-keyed upserts replace by key, redelivery " +
      "is a no-op, the half-committed window self-repairs") {
    import graft.core.{IndexSpec, Store}
    val spec = IndexSpec(Seq("cat"))
    def mk(ids: Range, tag: String) =
      ids.map(i => (i.toLong, s"c${i % 4}", s"$tag-$i")).toDF("id", "cat", "pay")
    val dir = tempDir("r13ub")
    // three batches with overlapping keys: 0..19, 10..29 (replaces
    // 10..19), 5..14 (replaces again)
    assert(Store.upsertBatch(mk(0 until 20, "b0"), dir, spec, "id", 0L))
    assert(Store.upsertBatch(mk(10 until 30, "b1"), dir, spec, "id", 1L))
    assert(Store.upsertBatch(mk(5 until 15, "b2"), dir, spec, "id", 2L))
    def state(d: String) = Store.open(spark, d, spec).frame.df
      .select("id", "pay").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = state(dir)
    val want = (0 until 30).map { i =>
      val tag = if (5 <= i && i < 15) "b2" else if (10 <= i && i < 30) "b1" else "b0"
      i.toLong -> s"$tag-$i"
    }.toMap
    assert(got === want)
    // the index nets identically to a from-scratch build
    val st = Store.open(spark, dir, spec)
    def ix(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ix(st.persistedIndex) ===
      ix(graft.core.IndexedFrame(st.frame.df, spec).entries))
    // redelivery of every batch: no-op, state unchanged
    assert(!Store.upsertBatch(mk(0 until 20, "b0"), dir, spec, "id", 0L))
    assert(!Store.upsertBatch(mk(10 until 30, "b1"), dir, spec, "id", 1L))
    assert(!Store.upsertBatch(mk(5 until 15, "b2"), dir, spec, "id", 2L))
    assert(state(dir) === want)
    // half-committed window: segment landed, tombstone marker did not
    // — simulate the crash by deleting batch 2's marker; redelivery
    // must FINISH the commit (both copies visible in between)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/index/del_4/_COMMITTED"),
      false)
    assert(Store.open(spark, dir, spec).frame.df.count() > want.size,
      "setup: duplicates visible")
    assert(Store.upsertBatch(mk(5 until 15, "b2"), dir, spec, "id", 2L))
    assert(state(dir) === want)
    // equals the manual batch-upsert spelling on a twin store
    val dir2 = tempDir("r13ub2")
    Store.write(mk(0 until 20, "b0"), dir2, spec)
    Store.upsert(mk(10 until 30, "b1"), dir2, spec, "id")
    Store.upsert(mk(5 until 15, "b2"), dir2, spec, "id")
    assert(state(dir2) === want)
  }

  test("write/append reject the reserved dropped-column namespace") {
    val dir = tempDir("r13ns")
    val bad = (0 until 10).map(i => (i.toLong, s"c$i"))
      .toDF("id", "__graft_dropped_0_x")
    val spec = IndexSpec(Seq("id"))
    val e1 = intercept[IllegalArgumentException] {
      Store.write(bad, s"$dir/s", spec)
    }
    assert(e1.getMessage.contains("reserved"))
    // a good store refuses a bad APPEND batch too
    val good = (0 until 10).map(i => (i.toLong, s"c$i")).toDF("id", "cat")
    Store.write(good, s"$dir/s2", IndexSpec(Seq("cat")))
    val e2 = intercept[IllegalArgumentException] {
      Store.append(bad, s"$dir/s2", IndexSpec(Seq("cat")))
    }
    assert(e2.getMessage.contains("reserved"))
    // and an index spec naming a hidden field is refused
    val e3 = intercept[IllegalArgumentException] {
      Store.write(good, s"$dir/s3", IndexSpec(Seq("__graft_dropped_1_y")))
    }
    assert(e3.getMessage.contains("reserved"))
  }
}
