package graft

import graft.core.{IndexSpec, Store}
import org.apache.spark.sql.functions._

/** r12: the driver-side single-point read path (core/PointRead) —
  * fPoint/rowsOfPoint must equal the plan path exactly, take the
  * fast (no-Spark-job) route only when the store is eligible, and
  * fall back transparently after delete/rename.
  */
class PointReadSpec extends SparkSpec {
  import spark.implicits._

  private val spec = IndexSpec(Seq("cat", "tag")).withRowRefs("id")

  private def mkDf(ids: Range) =
    ids.map(i => (i.toLong, s"c${i % 7}", s"t${i % 13}", i * 1.5))
      .toDF("id", "cat", "tag", "v")

  private def planRows(st: graft.core.StoredFrame, f: String, v: String) =
    st.rowsOf(f, v).collect().map(_.getLong(0)).sorted.toSeq

  private def fastRows(st: graft.core.StoredFrame, f: String, v: String) =
    st.rowsOfPoint(f, v).map(_.asInstanceOf[Long]).sorted

  private def planF(st: graft.core.StoredFrame, f: String, v: String) =
    st.f(f, v).collect().map(_.getLong(0)).sum

  test("point reads equal the plan path on a written store") {
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkDf(0 until 500), s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    for (v <- Seq("c0", "c3", "c6")) {
      assert(fastRows(st, "cat", v) === planRows(st, "cat", v))
      assert(st.fPoint("cat", v) === planF(st, "cat", v))
    }
    assert(fastRows(st, "tag", "t11") === planRows(st, "tag", "t11"))
    // absent entries: empty refs, zero frequency
    assert(st.rowsOfPoint("cat", "zzz").isEmpty)
    assert(st.fPoint("cat", "zzz") === 0L)
    assert(st.fPoint("nosuchfield", "c0") === 0L)
  }

  test("multi-segment store: point read unions segments like the plan") {
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkDf(0 until 200), s"$dir/s", spec)
    Store.append(mkDf(200 until 350), s"$dir/s", spec)
    Store.append(mkDf(350 until 420), s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    for (v <- Seq("c1", "c5")) {
      assert(fastRows(st, "cat", v) === planRows(st, "cat", v))
      // f is summed across the three raw segments
      assert(st.fPoint("cat", v) === planF(st, "cat", v))
    }
  }

  test("no Spark job runs on the fast path") {
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkDf(0 until 300), s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    st.rowsOfPoint("cat", "c2") // warm the footer cache too
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val r = st.rowsOfPoint("cat", "c4")
    val fq = st.fPoint("cat", "c4")
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after === before, "fast point read must not schedule a Spark job")
    assert(r.nonEmpty && fq > 0)
  }

  test("tombstoned store is served FAST: netting + scoping, no job") {
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkDf(0 until 280), s"$dir/s", spec)
    val victims = (0 until 280 by 7).map(_.toLong).toDF("id")
    Store.delete(spark, s"$dir/s", spec, "id", victims) // all of c0
    // a victim key RE-APPENDED after the delete is live again — the
    // fast path must honor the id scoping, not just subtract keys
    Store.append(mkDf(Range(0, 14)), s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    for (v <- Seq("c0", "c3", "c6")) {
      assert(fastRows(st, "cat", v) === planRows(st, "cat", v))
      assert(st.fPoint("cat", v) === planF(st, "cat", v))
    }
    // the re-appended id 0 and 7 are live (cat c0 via i%7==0 rows)
    assert(fastRows(st, "cat", "c0").nonEmpty)
    // warm, then assert the tombstoned store still runs NO Spark job
    st.rowsOfPoint("cat", "c1"); st.fPoint("cat", "c1")
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    st.rowsOfPoint("cat", "c2"); st.fPoint("cat", "c2")
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after === before,
      "point reads on a tombstoned store must stay driver-side")
    // compact folds the tombstone physically: still identical
    Store.compact(spark, s"$dir/s")
    val st2 = Store.open(spark, s"$dir/s", spec)
    assert(st2.rowsOfPoint("cat", "zzz").isEmpty)
    assert(fastRows(st2, "cat", "c3") === planRows(st2, "cat", "c3"))
    assert(st2.fPoint("cat", "c3") === planF(st2, "cat", "c3"))
  }

  test("renamed store is served FAST via the reverse name map") {
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    val sp = IndexSpec(Seq("cat"))
    Store.write(mkDf(0 until 100), s"$dir/s", sp)
    Store.renameColumn(spark, s"$dir/s", "cat", "category")
    val st = Store.open(spark, s"$dir/s", IndexSpec(Seq("category")))
    // raw segment files still carry 'cat'; the fast path reverse-maps
    assert(st.fPoint("category", "c2") === planF(st, "category", "c2"))
    assert(st.fPoint("category", "c2") > 0L)
    // the OLD name serves nothing (it no longer names a column)
    assert(st.fPoint("cat", "c2") === 0L)
    st.fPoint("category", "c1") // warm
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    assert(st.fPoint("category", "c3") > 0L)
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after === before,
      "point reads on a renamed store must stay driver-side")
  }

  test("dropped-and-readded field: old entries never resurface") {
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    val sp = IndexSpec(Seq("cat"))
    Store.write(mkDf(0 until 70), s"$dir/s", sp)
    Store.dropColumn(spark, s"$dir/s", "cat")
    // re-add 'cat' as a brand-new column in a later segment
    Store.append(mkDf(700 until 720), s"$dir/s", sp)
    val st = Store.open(spark, s"$dir/s", sp)
    for (v <- Seq("c0", "c1", "c4")) {
      assert(st.fPoint("cat", v) === planF(st, "cat", v),
        s"fast/plan divergence for re-added cat=$v")
    }
    // only the 20 re-appended rows count toward the new column
    val total = (0 until 7).map(c => st.fPoint("cat", s"c$c")).sum
    assert(total === 20L)
  }

  test("delete + rename composed: fast equals plan on every route") {
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkDf(0 until 210), s"$dir/s", spec)
    Store.delete(spark, s"$dir/s", spec, "id",
      (0 until 210 by 3).map(_.toLong).toDF("id"))
    Store.renameColumn(spark, s"$dir/s", "cat", "category")
    Store.append(mkDf(210 until 280)
      .withColumnRenamed("cat", "category"), s"$dir/s",
      IndexSpec(Seq("category", "tag")).withRowRefs("id"))
    val sp2 = IndexSpec(Seq("category", "tag")).withRowRefs("id")
    val st = Store.open(spark, s"$dir/s", sp2)
    for (v <- Seq("c0", "c2", "c5")) {
      assert(st.fPoint("category", v) === planF(st, "category", v))
      assert(fastRows(st, "category", v) === planRows(st, "category", v))
    }
    assert(fastRows(st, "tag", "t4") === planRows(st, "tag", "t4"))
  }

  test("a handle's point face is pinned to its open-time snapshot") {
    // an append committed AFTER open() must not surface through
    // fPoint/rowsOfPoint while the same handle's plan DataFrames
    // still serve the open-time segments
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkDf(0 until 140), s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    val before = st.fPoint("cat", "c1")
    Store.append(mkDf(140 until 280), s"$dir/s", spec)
    assert(st.fPoint("cat", "c1") === before)
    assert(st.fPoint("cat", "c1") === planF(st, "cat", "c1"))
    // a FRESH open serves the appended rows through both faces
    val st2 = Store.open(spark, s"$dir/s", spec)
    assert(st2.fPoint("cat", "c1") === planF(st2, "cat", "c1"))
    assert(st2.fPoint("cat", "c1") > before)
    // every face of a handle is first used only after an append, a
    // delete and a compact committed behind it: the plan faces are
    // built on that first access, yet all of them serve the
    // open-time rows 0..279 and agree with the point face
    val st3 = Store.open(spark, s"$dir/s", spec)
    Store.append(mkDf(280 until 350), s"$dir/s", spec)
    Store.delete(spark, s"$dir/s", spec, "id",
      (0 until 350 by 4).map(_.toLong).toDF("id"))
    Store.compact(spark, s"$dir/s")
    assert(st3.frame.df.count() === 280L)
    for (v <- Seq("c1", "c4")) {
      val want = (0 until 280).filter(i => s"c${i % 7}" == v).map(_.toLong)
      assert(st3.frame.df.where(col("cat") === v).count() === want.size)
      assert(planF(st3, "cat", v) === want.size)
      assert(planRows(st3, "cat", v) === want)
      assert(st3.fPoint("cat", v) === want.size)
      assert(fastRows(st3, "cat", v) === want)
    }
  }

  test("fAndPoint equals the plan-path pair intersection, no job") {
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkDf(0 until 400), s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    def planAnd(f1: String, v1: String, f2: String, v2: String) =
      (planRows(st, f1, v1).toSet intersect planRows(st, f2, v2).toSet).size
    for ((cv, tv) <- Seq(("c0", "t0"), ("c2", "t11"), ("c6", "t3"))) {
      assert(st.fAndPoint("cat", cv, "tag", tv) ===
        planAnd("cat", cv, "tag", tv).toLong)
      assert(st.rowsOfAndPoint("cat", cv, "tag", tv).toSet ===
        (planRows(st, "cat", cv).toSet intersect
          planRows(st, "tag", tv).toSet))
    }
    // co-occurrence with an absent entry is empty, cheaply
    assert(st.fAndPoint("cat", "zzz", "tag", "t0") === 0L)
    // warm, then: still no Spark job
    st.fAndPoint("cat", "c1", "tag", "t1")
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val n = st.fAndPoint("cat", "c3", "tag", "t5")
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after === before, "fAndPoint must stay driver-side")
    assert(n === planAnd("cat", "c3", "tag", "t5").toLong)
    // and it composes with tombstones (both sides ride the netted
    // point path)
    Store.delete(spark, s"$dir/s", spec, "id",
      (0 until 400 by 5).map(_.toLong).toDF("id"))
    val st2 = Store.open(spark, s"$dir/s", spec)
    def planAnd2(f1: String, v1: String, f2: String, v2: String) =
      (planRows(st2, f1, v1).toSet intersect planRows(st2, f2, v2).toSet).size
    assert(st2.fAndPoint("cat", "c1", "tag", "t2") ===
      planAnd2("cat", "c1", "tag", "t2").toLong)
  }

  test("prefixPoint enumerates a field's values like the plan, no job") {
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkDf(0 until 200), s"$dir/s", spec)
    Store.append(mkDf(200 until 300), s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    def plan(f: String, p: String) = st.persistedIndex
      .where(col("field") === f && col("value").startsWith(p))
      .select("value", "f").collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(st.prefixPoint("tag", "t1") === plan("tag", "t1"))
    assert(st.prefixPoint("tag", "t1").map(_._1) ===
      Seq("t1", "t10", "t11", "t12"))
    // empty prefix = full field enumeration
    assert(st.prefixPoint("cat", "") === plan("cat", ""))
    assert(st.prefixPoint("cat", "zz").isEmpty)
    st.prefixPoint("tag", "t0") // warm
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    assert(st.prefixPoint("tag", "t2").nonEmpty)
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after === before, "prefixPoint must stay driver-side")
    // tombstones net; renames map
    Store.delete(spark, s"$dir/s", spec, "id",
      (0 until 300 by 2).map(_.toLong).toDF("id"))
    val st2 = Store.open(spark, s"$dir/s", spec)
    def plan2(f: String, p: String) = st2.persistedIndex
      .where(col("field") === f && col("value").startsWith(p))
      .select("value", "f").collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(st2.prefixPoint("tag", "t") === plan2("tag", "t"))
    Store.renameColumn(spark, s"$dir/s", "tag", "tags")
    val sp3 = IndexSpec(Seq("cat", "tags")).withRowRefs("id")
    val st3 = Store.open(spark, s"$dir/s", sp3)
    val plan3 = st3.persistedIndex
      .where(col("field") === "tags" && col("value").startsWith("t1"))
      .select("value", "f").collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(st3.prefixPoint("tags", "t1") === plan3)
    assert(st3.prefixPoint("tag", "t1").isEmpty)
  }

  test("boolPoint: k-entry AND/OR/NOT equals set identities over " +
      "plan rows on clean/tombstoned/renamed stores, no job (r15)") {
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkDf(0 until 420), s"$dir/s", spec)
    Store.append(mkDf(420 until 500), s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    val terms = Seq(("cat", "c1"), ("tag", "t3"), ("tag", "t7"))
    def checkAgainstPlan(s: graft.core.StoredFrame,
                         ts: Seq[(String, String)]): Unit = {
      val sets = ts.map { case (f, v) => planRows(s, f, v).toSet }
      val bp = s.boolPoint(ts)
      assert(bp.fs === sets.map(_.size.toLong))
      assert(bp.and === sets.reduce(_ & _).size.toLong)
      assert(bp.or === sets.reduce(_ | _).size.toLong)
      val n = s.frame.df.count()
      assert(bp.n === n, "n must ride the cached nPoint field scan")
      assert(bp.none === n - bp.or)
      assert(bp.notAll === n - bp.and)
      // the enumeration half: composed AND/OR row sets, ascending
      val andRows = s.rowsOfAllPoint(ts).map(_.asInstanceOf[Long])
      val orRows = s.rowsOfAnyPoint(ts).map(_.asInstanceOf[Long])
      assert(andRows.toSet === sets.reduce(_ & _), s"rowsOfAllPoint $ts")
      assert(orRows.toSet === sets.reduce(_ | _), s"rowsOfAnyPoint $ts")
      assert(andRows === andRows.sorted && orRows === orRows.sorted,
        "enumerations must come back key-ascending")
    }
    checkAgainstPlan(st, terms)
    checkAgainstPlan(st, Seq(("cat", "c0"), ("cat", "c1"))) // disjoint: and=0
    checkAgainstPlan(st, Seq(("cat", "c2")))                // k=1
    // 4 terms, mixed presence/absence
    checkAgainstPlan(st,
      Seq(("cat", "c1"), ("tag", "t1"), ("tag", "t8"), ("cat", "zzz")))
    // warm, then: the k-entry walk stays driver-side
    st.boolPoint(terms)
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val bpFast = st.boolPoint(terms)
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after === before, "boolPoint must not schedule a Spark job")
    // the gate falls back to the PLAN spelling with identical counts
    val bpGated = st.boolPoint(terms, maxF = 3)
    assert(bpGated === bpFast,
      "gated plan fallback must compute identical counts")
    // tombstoned store: both paths net
    Store.delete(spark, s"$dir/s", spec, "id",
      (0 until 500 by 3).map(_.toLong).toDF("id"))
    val st2 = Store.open(spark, s"$dir/s", spec)
    checkAgainstPlan(st2, terms)
    // renamed store: terms speak the NEW name through the reverse map
    Store.renameColumn(spark, s"$dir/s", "tag", "tags")
    val sp3 = IndexSpec(Seq("cat", "tags")).withRowRefs("id")
    val st3 = Store.open(spark, s"$dir/s", sp3)
    checkAgainstPlan(st3, Seq(("cat", "c1"), ("tags", "t3"), ("tags", "t7")))
  }

  test("rangePoint: numeric-range navigation equals the plan in " +
      "native numeric order on clean/tombstoned/renamed stores, no job (r15)") {
    val nspec = IndexSpec(Seq("cat", "num")).withRowRefs("id")
    def mkN(ids: Range) = ids.map(i =>
      (i.toLong, s"c${i % 5}", (i % 25).toLong, i * 1.0))
      .toDF("id", "cat", "num", "v")
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkN(0 until 300), s"$dir/s", nspec)
    Store.append(mkN(300 until 400), s"$dir/s", nspec)
    val st = Store.open(spark, s"$dir/s", nspec)
    def plan(s: graft.core.StoredFrame, f: String,
             lo: Double, hi: Double) = s.persistedIndex
      .where(col("field") === f &&
        col("value").cast("double").between(lo, hi))
      .select("value", "f").collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .sortBy { case (v, _) => (v.toDouble, v) }.toSeq
    assert(st.rangePoint("num", 3, 11) === plan(st, "num", 3, 11))
    assert(st.rangePoint("num", 0, 24) === plan(st, "num", 0, 24))
    // NATIVE numeric order: "10" lands after "9", never after "1"
    assert(st.rangePoint("num", 9, 11).map(_._1) === Seq("9", "10", "11"))
    val all = st.rangePoint("num", 0, 24).map(_._1.toDouble)
    assert(all.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
      "entries must come back strictly ascending by numeric value")
    // boundary inclusivity + empty range
    assert(st.rangePoint("num", 24, 24).map(_._1) === Seq("24"))
    assert(st.rangePoint("num", 100, 200).isEmpty)
    // warm, then: no Spark job
    st.rangePoint("num", 1, 2)
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    assert(st.rangePoint("num", 5, 15).nonEmpty)
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after === before, "rangePoint must stay driver-side")
    // tombstone nets: delete every row whose num == 7 — the entry
    // must disappear from the range enumeration entirely
    Store.delete(spark, s"$dir/s", nspec, "id",
      (0 until 400).filter(_ % 25 == 7).map(_.toLong).toDF("id"))
    val st2 = Store.open(spark, s"$dir/s", nspec)
    assert(st2.rangePoint("num", 6, 8).map(_._1) === Seq("6", "8"))
    assert(st2.rangePoint("num", 0, 24) === plan(st2, "num", 0, 24))
    // renamed field: the new name serves through the reverse map
    Store.renameColumn(spark, s"$dir/s", "num", "size")
    val sp3 = IndexSpec(Seq("cat", "size")).withRowRefs("id")
    val st3 = Store.open(spark, s"$dir/s", sp3)
    assert(st3.rangePoint("size", 3, 5) === plan(st3, "size", 3, 5))
    assert(st3.rangePoint("num", 3, 5).isEmpty)
  }

  test("knnPoint: k<=0 serves empty like the plan's limit(0), and a " +
      "large-|baseline| query still pins to the plan row (r15: the " +
      "two r14-advice knnPoint fixes)") {
    import graft.ops.Knn
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    val df = mkDf(0 until 240)
    Store.write(df, s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    val w = Knn.keyValueWeights(df, Seq("cat", "tag"), col("v") > 200.0)
    w.coalesce(1).write.mode("overwrite").parquet(s"$dir/w")
    val wDrv = Store.readWeightsDriver(spark, s"$dir/w")
    // k <= 0: the r14 spelling threw NoSuchElementException on
    // heap.head of an empty PriorityQueue; now it answers the plan's
    // limit(0) result on the FAST path (Some, not a fallback)
    assert(st.knnPoint(wDrv, Map("cat" -> "c1"), 0) === Some(Seq.empty))
    assert(st.knnPoint(wDrv, Map("cat" -> "c1"), -3) === Some(Seq.empty))
    // large-|baseline| regime: w2 ≈ 2e9 on every entry, so a 2-field
    // query's baseline ≈ 4e9 — where ulp(s+baseline) ≈ 9.5e-7 rivals
    // the 6dp rounding grain (the r14 advice #1 failure regime: the
    // old code pruned on raw s but rounded s+baseline, so the fp add
    // could collapse a gap wider than the prune threshold). w1
    // carries sub-1e-6 gaps so top-k boundaries are genuinely tight.
    // Every row matches exactly 2 weighted entries (its cat + its
    // tag), so each per-row sum is one commutative fp add —
    // deterministic on both the plan and the driver path.
    val bigW = ((0 until 7).map(i =>
        ("cat", s"c$i", 1.0 + i * 3e-7, 2.0e9)) ++
      (0 until 13).map(j =>
        ("tag", s"t$j", 2.0 + j * 7e-7, 2.0e9)))
      .toDF("field", "value", "w1", "w2")
    bigW.coalesce(1).write.mode("overwrite").parquet(s"$dir/bw")
    val bwDrv = Store.readWeightsDriver(spark, s"$dir/bw")
    val q = Map("cat" -> "c2", "tag" -> "t5")
    val plan = Knn.topK(df, spark.read.parquet(s"$dir/bw"),
        Seq("cat", "tag"), q, "id", 12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fast = st.knnPoint(bwDrv, q, 12)
    assert(fast.isDefined)
    assert(fast.get.map { case (k, d) => (k.asInstanceOf[Long], d) } === plan)
  }

  test("boolCountsPoint equals the set identities over plan rows") {
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkDf(0 until 350), s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    val a = planRows(st, "cat", "c2").toSet
    val b = planRows(st, "tag", "t5").toSet
    val (and, or, diff, xor) = st.boolCountsPoint("cat", "c2", "tag", "t5")
    assert(and === (a & b).size.toLong)
    assert(or === (a | b).size.toLong)
    assert(diff === (a -- b).size.toLong)
    assert(xor === ((a | b) -- (a & b)).size.toLong)
  }

  test("string row keys read back as strings") {
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    val df = (0 until 120)
      .map(i => (s"k$i", s"c${i % 4}")).toDF("name", "cat")
    val sp = IndexSpec(Seq("cat")).withRowRefs("name")
    Store.write(df, s"$dir/s", sp)
    val st = Store.open(spark, s"$dir/s", sp)
    val fast = st.rowsOfPoint("cat", "c1").map(_.asInstanceOf[String]).sorted
    val plan = st.rowsOf("cat", "c1").collect().map(_.getString(0)).sorted.toSeq
    assert(fast === plan && fast.nonEmpty)
  }

  test("pair ops fall back transparently above the f gate (r14)") {
    // maxF=0 gates EVERY entry: counts must equal the streaming
    // answer through the plan join instead — the hot-entry contract
    // (a 100 TB store's stopword-class pair should cost a Spark job,
    // not a driver merge of tens of millions of keys)
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkDf(0 until 300), s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    val fastAnd = st.fAndPoint("cat", "c2", "tag", "t5")
    assert(st.fAndPoint("cat", "c2", "tag", "t5", maxF = 0L) === fastAnd)
    val fast4 = st.boolCountsPoint("cat", "c2", "tag", "t5")
    assert(st.boolCountsPoint("cat", "c2", "tag", "t5", maxF = 0L) === fast4)
  }

  test("hidden dropped-column names serve 0/empty on the fast path (r14 advice)") {
    // the PLAN path filters the __graft_dropped_* namespace out of
    // every merged read; the fast path must not resurrect the dropped
    // column's entries when queried BY its reserved physical name
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    val sp = IndexSpec(Seq("cat", "tag")).withRowRefs("id")
    Store.write(mkDf(0 until 90), s"$dir/s", sp)
    Store.dropColumn(spark, s"$dir/s", "cat")
    val spAfter = IndexSpec(Seq("tag")).withRowRefs("id")
    val st = Store.open(spark, s"$dir/s", spAfter)
    // find the actual hidden physical name from the index files'
    // namespace contract: any __graft_dropped_*_cat name must serve
    // nothing (unit id varies; probe a range)
    val hiddenNames = (0 to 8).map(i => s"__graft_dropped_${i}_cat")
    hiddenNames.foreach { h =>
      assert(st.fPoint(h, "c1") === 0L, s"resurrected freq via $h")
      assert(st.rowsOfPoint(h, "c1").isEmpty, s"resurrected rows via $h")
      assert(st.prefixPoint(h, "").isEmpty, s"resurrected prefix via $h")
    }
    // the live field still serves
    assert(st.fPoint("tag", "t3") === planF(st, "tag", "t3"))
  }

  test("point Reader rejects lookups after close (r14 advice: fd leak)") {
    // the defect was on the Reader itself: after close() its one-shot
    // Cleaner action is SPENT, so a lookup re-opening file handles
    // leaves them unreleasable by a second close() or by GC. (A
    // closed StorePoint is fine — it builds FRESH Readers with fresh
    // cleanables.)
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkDf(0 until 50), s"$dir/s", spec)
    val rd = new graft.core.PointRead.Reader(
      spark.sparkContext.hadoopConfiguration,
      Seq(new org.apache.hadoop.fs.Path(s"$dir/s/index/seg_0")), "f")
    assert(rd.lookup("cat", "c1").nonEmpty) // open the handles
    rd.close()
    intercept[IllegalStateException] { rd.lookup("cat", "c1") }
  }

  test("coStatsPoint pins to the plan CoStats on clean and tombstoned stores, no job") {
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    Store.write(mkDf(0 until 420), s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    def planStats(s: graft.core.StoredFrame, v1: String, v2: String) =
      s.frame.coStats(s.frame.predicate("cat", v1), s.frame.predicate("tag", v2))
    // exact count equality (same CoStats class ⇒ identical smoothed
    // stats); several value pairs including an empty intersection
    for ((cv, tv) <- Seq(("c0", "t0"), ("c3", "t7"), ("c6", "t12"))) {
      assert(st.coStatsPoint("cat", cv, "tag", tv) === planStats(st, cv, tv))
    }
    // derived stats equal to 6dp as well (mi is the deepest formula)
    val fastMi = st.coStatsPoint("cat", "c2", "tag", "t5").mi
    val planMi = planStats(st, "c2", "t5").mi
    assert(math.abs(fastMi - planMi) < 1e-12)
    // warm, then: no Spark job
    st.coStatsPoint("cat", "c1", "tag", "t1")
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    st.coStatsPoint("cat", "c4", "tag", "t9")
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after === before, "coStatsPoint must stay driver-side")
    // tombstoned store: n, fA, fB, fAB all net like the plan
    Store.delete(spark, s"$dir/s", spec, "id",
      (0 until 420 by 4).map(_.toLong).toDF("id"))
    val st2 = Store.open(spark, s"$dir/s", spec)
    for ((cv, tv) <- Seq(("c1", "t2"), ("c5", "t11"))) {
      assert(st2.coStatsPoint("cat", cv, "tag", tv) === planStats(st2, cv, tv))
    }
  }

  test("knnPoint pins to the Knn.topK plan row, no job") {
    import graft.ops.Knn
    val dir = java.nio.file.Files.createTempDirectory("pt").toString
    val df = mkDf(0 until 360)
    Store.write(df, s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    // build + persist the weight artifact exactly like knn_topk does
    val weights = Knn.keyValueWeights(df, Seq("cat", "tag"), col("v") > 300.0)
    weights.coalesce(1).write.mode("overwrite").parquet(s"$dir/w")
    val query = Map("cat" -> "c1", "tag" -> "t2")
    val plan = Knn.topK(df, spark.read.parquet(s"$dir/w"),
        Seq("cat", "tag"), query, "id", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val w = Store.readWeightsDriver(spark, s"$dir/w")
    assert(w.nonEmpty)
    val fast0 = st.knnPoint(w, query, 10)
    assert(fast0.isDefined, "knnPoint should be eligible on a clean store")
    assert(fast0.get.map { case (k, d) => (k.asInstanceOf[Long], d) } === plan)
    // warm, then: no Spark job on the fast path
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val fast = st.knnPoint(w, query, 10).get
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after === before, "knnPoint must stay driver-side")
    assert(fast.map { case (k, d) => (k.asInstanceOf[Long], d) } === plan)
    // row-count gate: maxRows=0 declines, caller falls back to topK
    assert(st.knnPoint(w, query, 10, maxRows = 0L).isEmpty)
    // a different query point also pins (baseline changes)
    val q2 = Map("cat" -> "c3", "tag" -> "t10")
    val plan2 = Knn.topK(df, spark.read.parquet(s"$dir/w"),
        Seq("cat", "tag"), q2, "id", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(st.knnPoint(w, q2, 5).get
      .map { case (k, d) => (k.asInstanceOf[Long], d) } === plan2)
  }
}
