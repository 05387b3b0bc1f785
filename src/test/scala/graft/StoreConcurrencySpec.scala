package graft

import graft.core.{IndexSpec, Store}
import org.apache.spark.sql.functions._

/** r12: the concurrent-writer commit protocol (claimed unit ids) and
  * the r11-advice protocol fixes — upsert crash-atomicity, the
  * compact high-water idempotence gate, and mixed (legacy+manifest)
  * stores, which every op but compact refuses and one compact
  * upgrades.
  */
class StoreConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private val spec = IndexSpec(Seq("cat"))

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def touch(p: String): Unit = {
    val fs = fsOf(p)
    fs.mkdirs(new org.apache.hadoop.fs.Path(p).getParent)
    fs.create(new org.apache.hadoop.fs.Path(p), true).close()
  }

  test("concurrent appenders commit independent segments — no clobber") {
    val dir = tempDir("conc")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // 4 writers × 3 appends each, racing on one store: under the r11
    // listing-based max+1 two of them claim the same seg id and the
    // later Overwrite destroys the earlier segment (rows lost); under
    // claimed ids every append commits its own unit
    val writers = (0 until 4).map { w =>
      Future {
        (0 until 3).foreach { b =>
          val base = (w * 3 + b) * 10
          val batch = (base until base + 10)
            .map(i => (i.toLong, s"c${i % 5}", i.toDouble))
            .toDF("id", "cat", "v")
          Store.append(batch, dir, spec)
        }
      }
    }
    Await.result(Future.sequence(writers), 300.seconds)
    val st = Store.open(spark, dir, spec)
    assert(st.frame.df.count() === 120)
    assert(st.frame.df.select("id").distinct().count() === 120)
    // 12 committed segments with 12 DISTINCT ids, each claim-backed
    val snaps = Store.snapshots(spark, dir)
    assert(snaps.size === 12 && snaps.distinct.size === 12)
    val fs = fsOf(dir)
    snaps.foreach { id =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/index/_claim_$id")), s"claim missing for unit $id")
    }
    // merged index agrees with a one-shot ground truth
    val perCat = st.persistedIndex.orderBy("value").collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(perCat === (0 until 120).groupBy(i => s"c${i % 5}")
      .map { case (k, v) => k -> v.size.toLong })
  }

  test("append concurrent with delete (disjoint keys): both units survive") {
    val dir = tempDir("concdel")
    Store.write((0L until 40L).map(i => (i, s"c${i % 4}", i.toDouble))
      .toDF("id", "cat", "v"), dir, spec)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val del = Future {
      Store.delete(spark, dir, spec, "id",
        (0L until 10L).toDF("id")) // keys live only in seg_0
    }
    val app = Future {
      Store.append((100L until 120L).map(i => (i, s"c${i % 4}", i.toDouble))
        .toDF("id", "cat", "v"), dir, spec)
    }
    Await.result(Future.sequence(Seq(del.map(_ => ()), app)), 300.seconds)
    val live = Store.open(spark, dir, spec).frame.df
    assert(live.count() === 50) // 40 - 10 deleted + 20 appended
    assert(live.where($"id" < 10).count() === 0)
    assert(live.where($"id" >= 100).count() === 20)
    // ids never reused: the delete and the append own distinct units
    val hist = Store.history(spark, dir)
    assert(hist.map(_._1).distinct.size === hist.size)
    assert(hist.count(_._2 == "delete") === 1)
    assert(hist.count(_._2 == "append") === 2)
  }

  test("a crashed writer's bare claim is skipped, never reused") {
    val dir = tempDir("claim")
    Store.append(Seq((1L, "a", 1.0)).toDF("id", "cat", "v"), dir, spec)
    // simulate a writer that claimed id 1 and died before committing
    touch(s"$dir/index/_claim_1")
    Store.append(Seq((2L, "b", 2.0)).toDF("id", "cat", "v"), dir, spec)
    // the second append must take id 2 — reusing the crashed claim
    // would collide with a writer that might still be alive
    assert(Store.snapshots(spark, dir) === Seq(0, 2))
    assert(Store.open(spark, dir, spec).frame.df.count() === 2)
  }

  test("upsert is ordered tombstone-then-segment and both commit") {
    val dir = tempDir("upsord")
    Store.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "cat", "v"),
      dir, spec)
    Store.upsert(Seq((2L, "bb", 20.0), (3L, "c", 3.0)).toDF("id", "cat", "v"),
      dir, spec, "id")
    val hist = Store.history(spark, dir)
    val delId = hist.find(_._2 == "delete").get._1
    val segIds = hist.filter(_._2 == "append").map(_._1)
    // the tombstone precedes its replacement segment, so its scope is
    // exactly the pre-existing segments
    assert(delId < segIds.max)
    val live = Store.open(spark, dir, spec).frame.df
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(live.toSeq === Seq((1L, "a"), (2L, "bb"), (3L, "c")))
  }

  test("an uncommitted tombstone (upsert crash before append commit) is invisible and vacuumable") {
    val dir = tempDir("upscrash")
    Store.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "cat", "v"),
      dir, spec)
    val before = Store.open(spark, dir, spec).frame.df.orderBy("id")
      .collect().toSeq
    // simulate the crash window: a fully-written tombstone unit with
    // NO _COMMITTED (what upsert leaves if it dies before its append
    // commits — the r11 eager commit left the keys DELETED here)
    val root = s"$dir/index"
    Seq(2L).toDF("key").write.parquet(s"$root/del_9/keys")
    Seq(("cat", "b", -1L)).toDF("field", "value", "f")
      .write.parquet(s"$root/del_9/ixdelta")
    val kc = fsOf(dir).create(
      new org.apache.hadoop.fs.Path(s"$root/del_9/_KEYCOL"), true)
    kc.write("id".getBytes("UTF-8")); kc.close()
    touch(s"$root/_claim_9")
    // readers serve the store byte-for-byte unchanged
    assert(Store.open(spark, dir, spec).frame.df.orderBy("id")
      .collect().toSeq === before)
    assert(Store.open(spark, dir, spec).f("cat", "b").head().getLong(0) === 1L)
    // vacuum reclaims the orphaned tombstone
    Store.vacuum(spark, dir)
    assert(!fsOf(dir).exists(new org.apache.hadoop.fs.Path(s"$root/del_9")))
    // and the repair path: re-running the upsert covers both windows
    Store.upsert(Seq((2L, "bb", 20.0)).toDF("id", "cat", "v"), dir, spec, "id")
    assert(Store.open(spark, dir, spec).frame.df.where($"cat" === "bb")
      .count() === 1L)
  }

  test("compact high-water: a folded batchId redelivery is a no-op") {
    val dir = tempDir("hw")
    def batch(b: Int) = (0 until 5)
      .map(i => ((b * 5 + i).toLong, s"c${i % 2}", i.toDouble))
      .toDF("id", "cat", "v")
    assert(Store.appendBatch(batch(0), dir, spec, 0L))
    assert(Store.appendBatch(batch(1), dir, spec, 1L))
    assert(Store.appendBatch(batch(2), dir, spec, 2L))
    Store.compact(spark, dir)
    // r11 bug: the fold keeps only the max retired id's manifest, so a
    // redelivery of batch 1 (a stream restarted from an old
    // checkpoint) passed the manifest gate and duplicated its rows
    assert(!Store.appendBatch(batch(1), dir, spec, 1L))
    assert(Store.open(spark, dir, spec).frame.df.count() === 15)
    // later batches still land
    assert(Store.appendBatch(batch(3), dir, spec, 3L))
    assert(Store.open(spark, dir, spec).frame.df.count() === 20)
  }

  test("high-water never swallows a batch that only CLAIMED before the compact") {
    def batch(b: Int) = (0 until 5)
      .map(i => ((b * 5 + i).toLong, s"c${i % 2}", i.toDouble))
      .toDF("id", "cat", "v")
    // batch 5's first attempt died right after claiming, or after its
    // data and index units but before its _MANIFEST
    Seq[String => Unit](
      dir => touch(s"$dir/index/_claim_5"),
      dir => {
        assert(Store.appendBatch(batch(5), dir, spec, 5L))
        assert(new java.io.File(s"$dir/index/seg_5/_MANIFEST").delete())
      }).foreach { crash =>
      val dir = tempDir("hwclaim")
      assert(Store.appendBatch(batch(0), dir, spec, 0L))
      assert(Store.appendBatch(batch(1), dir, spec, 1L))
      crash(dir)
      Store.compact(spark, dir)
      // the fold id (and high-water) must NOT have been raised to the
      // crashed batch — batch 5's redelivery is legitimate new data
      assert(Store.appendBatch(batch(5), dir, spec, 5L))
      assert(Store.open(spark, dir, spec).frame.df.count() === 15)
    }
  }

  test("mixed legacy+manifest store: refused until compact modernizes it; vacuum keeps its rows") {
    val dir = tempDir("mixed")
    Store.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "cat", "v"),
      dir, spec)
    // hand-plant a PRE-MANIFEST segment (the r11-advice scenario: a
    // store migrated by the pre-diff append, whose seg carries no
    // _MANIFEST and no claim): loose data file + bare index segment
    Seq((3L, "c", 3.0)).toDF("id", "cat", "v")
      .coalesce(1).write.parquet(s"$dir/data/legacy_extra")
    val fs = fsOf(dir)
    // move the part file up to the data root (legacy layout)
    val part = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/data/legacy_extra"))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/data/${part.getName}"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/data/legacy_extra"), true)
    Seq(("cat", "c", 1L)).toDF("field", "value", "f")
      .write.parquet(s"$dir/index/seg_7")
    // r11 served the manifest-scoped read here: row 3 silently gone
    // and vacuum then DELETED its file. Now every op but compact
    // refuses rather than mis-serves, vacuum included
    def refused(op: => Any) = assert(intercept[IllegalStateException](op)
      .getMessage.contains("older store layout (pre-manifest segments)"))
    refused(Store.open(spark, dir, spec))
    refused(Store.vacuum(spark, dir))
    refused(Store.delete(spark, dir, spec, "id", Seq(1L).toDF("id")))
    refused(Store.appendBatch(Seq((9L, "z", 9.0)).toDF("id", "cat", "v"),
      dir, spec, 9L))
    // compact folds the mixed store into a fully-modern one
    Store.compact(spark, dir)
    assert(Store.open(spark, dir, spec).frame.df.count() === 3)
    assert(Store.open(spark, dir, spec).f("cat", "c").head().getLong(0) === 1L)
    Store.vacuum(spark, dir)
    assert(Store.open(spark, dir, spec).frame.df.count() === 3,
      "vacuum must never reclaim the legacy segment's data files")
    Store.delete(spark, dir, spec, "id", Seq(3L).toDF("id"))
    assert(Store.open(spark, dir, spec).frame.df.count() === 2)
  }

  // ---- overlapped commit writes: crash atomicity and job attribution

  private def live(dir: String, sp: IndexSpec) = Store.open(spark, dir, sp)
    .frame.df.orderBy("id").collect()
    .map(r => (r.getLong(0), r.getString(1))).toSeq

  /** the served index equals a from-scratch index of the live rows */
  private def assertIndexExact(dir: String, sp: IndexSpec): Unit = {
    val st = Store.open(spark, dir, sp)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(asMap(st.persistedIndex) ===
      asMap(graft.core.IndexedFrame(st.frame.df, sp).entries))
  }

  private def exists(dir: String, rel: String) =
    fsOf(dir).exists(new org.apache.hadoop.fs.Path(s"$dir/index/$rel"))

  /** an injected fault: a string UDF that passes its input through,
    * but throws on `on` while armed; returns (udf, arm, clear)
    */
  private def fault(on: String) = {
    val flag = java.io.File.createTempFile("fault", "")
    flag.delete()
    val path = flag.getPath
    val f = udf { (x: String) =>
      if (x == on && new java.io.File(path).exists())
        throw new IllegalStateException(s"injected fault on '$x'")
      x
    }
    (f, () => { flag.createNewFile(); () }, () => { flag.delete(); () })
  }

  private val base = Seq((1L, "a", 1.0), (2L, "b", 2.0))
  private val repl = Seq((2L, "bb", 20.0), (3L, "c", 3.0))
  private val want = Seq((1L, "a"), (2L, "bb"), (3L, "c"))

  /** the tombstone branch fails: the analyzer throws on "b", a value
    * only the victim row (id 2) carries, so only the tombstone's
    * victim index build hits it
    */
  private def tombstoneFault() = {
    val (f, arm, clear) = fault("b")
    (IndexSpec(Seq("cat")).withAnalyzer("cat", c => array(f(c))), arm, clear)
  }

  /** the segment branch fails: the batch's `cat` throws on "bb"; the
    * key column alone (all the tombstone branch reads) computes fine.
    * An RDD-backed frame, so the optimizer cannot fold the UDF into a
    * local relation before pruning it from the key projection.
    */
  private def segmentFault() = {
    val (f, arm, clear) = fault("bb")
    val batch = spark.sparkContext.parallelize(repl, 1).toDF("id", "cat0", "v")
      .select($"id", f($"cat0").as("cat"), $"v")
    (batch, arm, clear)
  }

  test("overlapped upsert: a failed tombstone branch commits no segment; re-run converges") {
    val dir = tempDir("upsfailT")
    val (tspec, arm, clear) = tombstoneFault()
    Store.write(base.toDF("id", "cat", "v"), dir, tspec)
    val before = live(dir, tspec)
    val batch = repl.toDF("id", "cat", "v")
    arm()
    intercept[Exception](Store.upsert(batch, dir, tspec, "id")) // del_1, seg_2
    clear()
    // the segment branch ran to completion beside it, but its manifest
    // waits for the tombstone: nothing was published
    assert(exists(dir, "seg_2/_SCHEMA"))
    assert(!exists(dir, "seg_2/_MANIFEST"))
    assert(!exists(dir, "del_1/_COMMITTED"))
    assert(Store.snapshots(spark, dir) === Seq(0))
    assert(live(dir, tspec) === before)
    assertIndexExact(dir, tspec)
    Store.upsert(batch, dir, tspec, "id")
    assert(live(dir, tspec) === want)
    assertIndexExact(dir, tspec)
  }

  test("overlapped upsert: a failed segment branch commits no tombstone; re-run converges") {
    val dir = tempDir("upsfailS")
    Store.write(base.toDF("id", "cat", "v"), dir, spec)
    val before = live(dir, spec)
    val (batch, arm, clear) = segmentFault()
    arm()
    intercept[Exception](Store.upsert(batch, dir, spec, "id"))
    clear()
    // the tombstone was fully written beside it, never committed
    assert(exists(dir, "del_1/_KEYCOL"))
    assert(!exists(dir, "del_1/_COMMITTED"))
    assert(!exists(dir, "seg_2/_MANIFEST"))
    assert(Store.snapshots(spark, dir) === Seq(0))
    assert(live(dir, spec) === before)
    assertIndexExact(dir, spec)
    Store.upsert(batch, dir, spec, "id")
    assert(live(dir, spec) === want)
    assertIndexExact(dir, spec)
  }

  test("overlapped upsertBatch: a failed tombstone branch commits no segment; redelivery converges") {
    val dir = tempDir("upbfailT")
    val (tspec, arm, clear) = tombstoneFault()
    assert(Store.upsertBatch(base.toDF("id", "cat", "v"), dir, tspec, "id", 0L))
    val before = live(dir, tspec)
    val batch = repl.toDF("id", "cat", "v")
    arm()
    intercept[Exception](Store.upsertBatch(batch, dir, tspec, "id", 1L)) // del_2, seg_3
    clear()
    assert(exists(dir, "seg_3/_SCHEMA"))
    assert(!exists(dir, "seg_3/_MANIFEST"))
    assert(!exists(dir, "del_2/_COMMITTED"))
    assert(live(dir, tspec) === before)
    assertIndexExact(dir, tspec)
    assert(Store.upsertBatch(batch, dir, tspec, "id", 1L))
    assert(!Store.upsertBatch(batch, dir, tspec, "id", 1L))
    assert(live(dir, tspec) === want)
    assertIndexExact(dir, tspec)
  }

  test("overlapped upsertBatch: a failed segment branch commits no tombstone; redelivery converges") {
    val dir = tempDir("upbfailS")
    assert(Store.upsertBatch(base.toDF("id", "cat", "v"), dir, spec, "id", 0L))
    val before = live(dir, spec)
    val (batch, arm, clear) = segmentFault()
    arm()
    intercept[Exception](Store.upsertBatch(batch, dir, spec, "id", 1L))
    clear()
    assert(exists(dir, "del_2/_KEYCOL"))
    assert(!exists(dir, "del_2/_COMMITTED"))
    assert(!exists(dir, "seg_3/_MANIFEST"))
    assert(live(dir, spec) === before)
    assertIndexExact(dir, spec)
    assert(Store.upsertBatch(batch, dir, spec, "id", 1L))
    assert(!Store.upsertBatch(batch, dir, spec, "id", 1L))
    assert(live(dir, spec) === want)
    assertIndexExact(dir, spec)
  }

  test("overlapped commits carry the caller's job group and description; cancelJobGroup stops both branches") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.jdk.CollectionConverters._
    val rspec = IndexSpec(Seq("cat")).withRowRefs("id")
    val dir = tempDir("props")
    Store.write((0L until 40L).map(i => (i, s"c${i % 4}", i.toDouble))
      .toDF("id", "cat", "v"), dir, rspec)
    val sc = spark.sparkContext
    val rec = new JobRecorder(spark)
    try {
      rec.flush()
      val mark = rec.started.size
      val group = s"props-${java.util.UUID.randomUUID}"
      sc.setJobGroup(group, "overlapped store commits")
      try {
        Store.append((40L until 60L).map(i => (i, s"c${i % 4}", i.toDouble))
          .toDF("id", "cat", "v"), dir, rspec)
        Store.upsert((10L until 30L).map(i => (i, s"u${i % 3}", i.toDouble))
          .toDF("id", "cat", "v"), dir, rspec, "id")
        Store.compact(spark, dir)
      } finally sc.clearJobGroup()
      rec.flush()
      val during = rec.started.asScala.toSeq.drop(mark).map(_._2)
        .filterNot(p => Option(p.getProperty("spark.jobGroup.id"))
          .exists(_.startsWith("flush-")))
      assert(during.nonEmpty)
      during.foreach { p =>
        assert(p.getProperty("spark.jobGroup.id") === group)
        assert(p.getProperty("spark.job.description") === "overlapped store commits")
      }

      // cancelling the caller's group stops both branches of an upsert
      // whose tombstone and segment jobs are both running
      val snaps = Store.snapshots(spark, dir)
      val slow = udf { (i: Long) => Thread.sleep(250); i }
      val batch = (100L until 120L).map(i => (i, s"s${i % 2}", i.toDouble))
        .toDF("id0", "cat", "v").select(slow($"id0").as("id"), $"cat", $"v")
      val cancelled = s"cancel-${java.util.UUID.randomUUID}"
      val run = Future {
        sc.setJobGroup(cancelled, "cancel me", interruptOnCancel = true)
        try Store.upsert(batch, dir, rspec, "id") finally sc.clearJobGroup()
      }
      def active = rec.jobsOf(cancelled).map(_._1)
        .filterNot(id => rec.ended.containsKey(id))
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (active.size < 2) {
        assert(System.nanoTime() < deadline, "both branches never ran at once")
        Thread.sleep(10)
      }
      val both = active
      sc.cancelJobGroup(cancelled)
      intercept[Exception](Await.result(run, 60.seconds))
      rec.flush()
      both.foreach(id => assert(
        rec.ended.get(id).isInstanceOf[org.apache.spark.scheduler.JobFailed],
        s"job $id of the cancelled group did not fail"))
      assert(Store.snapshots(spark, dir) === snaps)
    } finally rec.close()
  }
}
