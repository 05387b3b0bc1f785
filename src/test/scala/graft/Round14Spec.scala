package graft

import graft.core.{IndexSpec, Store}
import org.apache.spark.sql.functions._

/** r14 — randomized lifecycle fuzz for the streaming interactive
  * point ops: a SEEDED random sequence of appends/deletes over a
  * store, then every pair-op answer must equal the plan path on
  * random (field,value) pairs. The targeted PointReadSpec
  * interleavings prove the known cases; this sweeps the composed
  * ones (multi-era stores where victim sets straddle segments and
  * both streams merge across eras).
  */
class Round14Spec extends SparkSpec {
  import spark.implicits._

  private def mkDf(ids: Range) =
    ids.map(i => (i.toLong, s"c${i % 7}", s"t${i % 13}", i * 1.5))
      .toDF("id", "cat", "tag", "v")

  test("fuzz: random append/delete lifecycle keeps every point pair op == plan") {
    val spec = IndexSpec(Seq("cat", "tag")).withRowRefs("id")
    val rnd = new scala.util.Random(14L) // seeded — no flaky reruns
    val dir = tempDir("r14fuzz")
    Store.write(mkDf(0 until 120), s"$dir/s", spec)
    var next = 120
    (1 to 5).foreach { _ =>
      if (rnd.nextBoolean()) {
        val n = 40 + rnd.nextInt(80)
        Store.append(mkDf(next until (next + n)), s"$dir/s", spec)
        next += n
      } else {
        val step = 2 + rnd.nextInt(5)
        val off = rnd.nextInt(step)
        Store.delete(spark, s"$dir/s", spec, "id",
          (off until next by step).map(_.toLong).toDF("id"))
      }
    }
    val st = Store.open(spark, s"$dir/s", spec)
    def planRows(f: String, v: String) =
      st.rowsOf(f, v).collect().map(_.getLong(0)).toSet
    val pairs = (1 to 8).map(_ =>
      (s"c${rnd.nextInt(8)}", s"t${rnd.nextInt(14)}")) // incl. absent values
    pairs.foreach { case (cv, tv) =>
      val a = planRows("cat", cv)
      val b = planRows("tag", tv)
      assert(st.fPoint("cat", cv) === a.size.toLong, s"fPoint cat=$cv")
      assert(st.rowsOfPoint("cat", cv).map(_.asInstanceOf[Long]).toSet === a)
      assert(st.fAndPoint("cat", cv, "tag", tv) === (a & b).size.toLong,
        s"fAnd $cv/$tv")
      assert(st.rowsOfAndPoint("cat", cv, "tag", tv)
        .map(_.asInstanceOf[Long]).toSet === (a & b), s"rowsOfAnd $cv/$tv")
      val (and, or, diff, xor) = st.boolCountsPoint("cat", cv, "tag", tv)
      assert((and, or, diff, xor) === ((a & b).size.toLong,
        (a | b).size.toLong, (a -- b).size.toLong,
        ((a | b) -- (a & b)).size.toLong), s"bool $cv/$tv")
      // the f-gate fallback agrees with the streamed answer
      assert(st.fAndPoint("cat", cv, "tag", tv, maxF = 0L) ===
        (a & b).size.toLong, s"gated fAnd $cv/$tv")
      // coStats over the composed store equals the plan's class
      val cs = st.coStatsPoint("cat", cv, "tag", tv)
      val plan = st.frame.coStats(
        st.frame.predicate("cat", cv), st.frame.predicate("tag", tv))
      assert(cs === plan, s"coStats $cv/$tv")
    }
    // r15: the K-ENTRY walk over the same composed store — random
    // term lists (2..4 terms, absent values included) must match the
    // set identities over plan rows, and the gated fallback must
    // agree with the streamed answer
    val n = st.frame.df.count()
    (1 to 6).foreach { _ =>
      val k = 2 + rnd.nextInt(3)
      val terms = (1 to k).map(_ =>
        if (rnd.nextBoolean()) ("cat", s"c${rnd.nextInt(8)}")
        else ("tag", s"t${rnd.nextInt(14)}"))
      val sets = terms.map { case (f, v) => planRows(f, v) }
      val bp = st.boolPoint(terms, nField = Some("cat"))
      assert(bp.fs === sets.map(_.size.toLong), s"boolPoint fs $terms")
      assert(bp.and === sets.reduce(_ & _).size.toLong, s"and $terms")
      assert(bp.or === sets.reduce(_ | _).size.toLong, s"or $terms")
      assert(bp.n === n, s"n $terms")
      val gated = st.boolPoint(terms, maxF = 0L, nField = Some("cat"))
      assert(gated === bp, s"gated boolPoint $terms")
    }
  }

  test("upsertBatch fails loudly on a FOREIGN committed segment at its id " +
      "(r14 advice: was a silent batch drop)") {
    val spec = IndexSpec(Seq("cat"))
    val dir = tempDir("r14up")
    val df0 = mkDf(0 until 40).select("id", "cat", "v")
    Store.write(df0, s"$dir/s", spec)
    assert(Store.upsertBatch(mkDf(40 until 60).select("id", "cat", "v"),
      s"$dir/s", spec, "id", batchId = 1L)) // seg 3, del 2 namespace
    // an interleaved append() claims the NEXT id = 4 — exactly where
    // batch 2's replacement segment (2*2+1=5)... make it collide:
    // append twice so a manifest lands at seg 4 AND seg 5
    Store.append(mkDf(100 until 110).select("id", "cat", "v"), s"$dir/s", spec)
    Store.append(mkDf(110 until 120).select("id", "cat", "v"), s"$dir/s", spec)
    // batch 2 (del 4 / seg 5): seg_5 is committed and carries NO
    // _STREAM marker — pre-r14 this read as "already delivered" and
    // DROPPED the batch; now it must throw
    val e = intercept[IllegalArgumentException] {
      Store.upsertBatch(mkDf(60 until 80).select("id", "cat", "v"),
        s"$dir/s", spec, "id", batchId = 2L)
    }
    assert(e.getMessage.contains("FOREIGN"), e.getMessage)
  }

  test("a failed delete precondition does not leak a claim file " +
      "(r14 advice: requires run before claimUnitId)") {
    val spec = IndexSpec(Seq("cat")).withRowRefs("id")
    val dir = tempDir("r14cl")
    Store.write(mkDf(0 until 30), s"$dir/s", spec)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def claims() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/s/index"))
      .map(_.getPath.getName).filter(_.startsWith("_claim_")).toSet
    val before = claims()
    // refs keyed on 'id' — deleting by 'cat' must fail BEFORE claiming
    intercept[IllegalArgumentException] {
      Store.delete(spark, s"$dir/s", spec, "cat",
        Seq("c1").toDF("cat"))
    }
    // a key column absent from the data — same (checked pre-claim)
    val noRefs = IndexSpec(Seq("cat"))
    intercept[IllegalArgumentException] {
      Store.delete(spark, s"$dir/s", noRefs, "nope",
        Seq(1L).toDF("nope"))
    }
    assert(claims() === before,
      "failed preconditions must not burn unit ids")
    // and a VALID delete still works, consuming the next id
    Store.delete(spark, s"$dir/s", spec, "id", Seq(2L).toDF("id"))
    assert(claims().size === before.size + 1)
  }

  test("TRUE RACE: concurrent overlapping-key deletes net correctly " +
      "with NO manual intervention — auto-heal at commit (r15)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val spec = IndexSpec(Seq("cat"))
    (0 until 3).foreach { round =>
      val dir = tempDir("r14race")
      Store.write(mkDf(0 until 60).select("id", "cat", "v"), s"$dir/s", spec)
      def tryDel(step: Int) = Future {
        try Right(Store.delete(spark, s"$dir/s", spec, "id",
          (0 until 60 by step).map(_.toLong).toDF("id")))
        catch { case e: IllegalStateException => Left(e) }
      }
      val (a, b) = (tryDel(2), tryDel(3))
      val results = Await.result(Future.sequence(Seq(a, b)), 300.seconds)
      // r15: the conflict AUTO-HEALS at commit (versioned rescan of
      // the stale unit) — neither side throws anymore
      val conflicts = results.collect { case Left(e) => e }
      assert(conflicts.isEmpty,
        s"round $round: delete ∥ delete must auto-heal, got " +
          conflicts.map(_.getMessage).mkString("; "))
      // DATA is exact regardless of interleaving (keys-based)
      val st = Store.open(spark, s"$dir/s", spec)
      val ids = st.frame.df.select("id").collect().map(_.getLong(0)).toSet
      assert(ids === (0 until 60).filter(i => i % 2 != 0 && i % 3 != 0)
        .map(_.toLong).toSet, s"round $round: data must be exact")
      // the INDEX is exact WITHOUT any manual rescan or compact
      val fresh = graft.core.IndexedFrame(st.frame.df, spec).entries
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val served = Store.open(spark, s"$dir/s", spec).persistedIndex
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(served === fresh, s"round $round: index must equal fresh")
    }
  }

  test("fuzz: knnPoint == Knn.topK across a random lifecycle store") {
    import graft.ops.Knn
    val spec = IndexSpec(Seq("cat", "tag")).withRowRefs("id")
    val rnd = new scala.util.Random(41L)
    val dir = tempDir("r14knn")
    Store.write(mkDf(0 until 150), s"$dir/s", spec)
    Store.append(mkDf(150 until 260), s"$dir/s", spec)
    Store.delete(spark, s"$dir/s", spec, "id",
      (0 until 260 by 3).map(_.toLong).toDF("id"))
    Store.append(mkDf(260 until 320), s"$dir/s", spec)
    val st = Store.open(spark, s"$dir/s", spec)
    // weights fit on the LIVE rows (the plan's own view of the store)
    val live = st.frame.df
    val weights = Knn.keyValueWeights(live, Seq("cat", "tag"),
      col("v") > 200.0)
    weights.coalesce(1).write.mode("overwrite").parquet(s"$dir/w")
    val w = Store.readWeightsDriver(spark, s"$dir/w")
    (1 to 3).foreach { _ =>
      val q = Map("cat" -> s"c${rnd.nextInt(7)}", "tag" -> s"t${rnd.nextInt(13)}")
      val plan = Knn.topK(live, spark.read.parquet(s"$dir/w"),
          Seq("cat", "tag"), q, "id", 7)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fast = st.knnPoint(w, q, 7)
      assert(fast.isDefined, s"knnPoint ineligible for $q")
      assert(fast.get.map { case (k, d) => (k.asInstanceOf[Long], d) } ===
        plan, s"knnPoint != plan for $q")
    }
  }
}
