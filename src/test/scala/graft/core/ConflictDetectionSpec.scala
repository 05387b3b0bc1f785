package graft.core

import org.apache.spark.sql.functions._

/** conflict handling for key-overlapping delete ∥ append and
  * delete ∥ delete: every commit heals the tombstone index netting
  * over a fresh snapshot right after its own publish (publish-then-
  * check, so the later publisher sees the earlier one), and open
  * heals what a crashed writer left before it serves.
  *
  * The specs drive the EXACT interleavings through the private[core]
  * seams (claim / appendSegment / writeTombstone / commitTombstone),
  * freeze crash states by hand, then true thread races check the
  * invariant end-to-end. The invariant everywhere: the merged index
  * equals a from-scratch index of the live data, and the live data
  * equals the expected survivor set.
  */
class ConflictDetectionSpec extends graft.SparkSpec {
  import spark.implicits._

  private val spec = IndexSpec(Seq("cat"))

  private def mkDf(ids: Seq[Int]) =
    ids.map(i => (i.toLong, s"c${i % 5}", i.toDouble)).toDF("id", "cat", "v")

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def indexAsMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap

  /** ground truth: a from-scratch index of the live rows */
  private def check(dir: String): Unit = {
    val st = Store.open(spark, dir, spec)
    val fresh = indexAsMap(IndexedFrame(st.frame.df, spec).entries)
    val served = indexAsMap(st.persistedIndex)
    assert(served === fresh,
      s"merged index diverged from a from-scratch build in $dir")
  }

  test("append commits AFTER the victim scan, BEFORE the marker: " +
      "validate loop covers it") {
    val dir = java.nio.file.Files.createTempDirectory("cds").toString
    Store.write(mkDf(0 until 40), dir, spec)
    val fs = fsOf(dir)
    val root = s"$dir/index"
    // an in-flight appender claims id 1 before the delete claims 2
    val apId = Store.claimUnitId(fs, root)
    assert(apId === 1)
    // the delete's scan runs now — seg_1 is uncommitted, unseen
    val delId = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 100 by 4).map(_.toLong).toDF("id"), commit = false)
    assert(delId === 2)
    // the appender's segment (WRITING victim keys) commits in between
    Store.appendSegment(mkDf(40 until 80), dir, spec, apId, root)
    // ... and the heal after the delete's marker repairs it
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delId)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/_scope_$apId")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/ixrepair_$apId/_SUCCESS")),
      "the racing segment's victims must be netted via an ixrepair")
    check(dir)
    // both segments' %4 keys are gone (the tombstone postdates both)
    val live = Store.open(spark, dir, spec).frame.df
    assert(live.count() === (0 until 80).count(_ % 4 != 0))
  }

  test("append's manifest lands AFTER the marker: the appender's " +
      "post-commit check repairs") {
    val dir = java.nio.file.Files.createTempDirectory("cds").toString
    Store.write(mkDf(0 until 40), dir, spec)
    val fs = fsOf(dir)
    val root = s"$dir/index"
    val apId = Store.claimUnitId(fs, root)
    val delId = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 100 by 4).map(_.toLong).toDF("id"), commit = false)
    // the tombstone commits first — seg_1 still invisible to it
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delId)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/_scope_$apId")))
    // the appender commits second; its post-commit check must find
    // the committed tombstone that missed it and write the repair
    Store.appendSegment(mkDf(40 until 80), dir, spec, apId, root)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/ixrepair_$apId/_SUCCESS")),
      "appender-side conflict repair missing")
    check(dir)
    val live = Store.open(spark, dir, spec).frame.df
    assert(live.count() === (0 until 80).count(_ % 4 != 0))
  }

  test("racing append of NON-victim keys: token only, no repair dir") {
    val dir = java.nio.file.Files.createTempDirectory("cds").toString
    Store.write(mkDf(0 until 40), dir, spec)
    val fs = fsOf(dir)
    val root = s"$dir/index"
    val apId = Store.claimUnitId(fs, root)
    val delId = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 40 by 4).map(_.toLong).toDF("id"), commit = false)
    Store.appendSegment(mkDf(1000 until 1040), dir, spec, apId, root)
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delId)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/_scope_$apId")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/ixrepair_$apId")),
      "no victims in the racing segment — a repair dir is waste")
    check(dir)
  }

  test("then-live repair: an intermediate tombstone's kills are " +
      "not negated twice") {
    val dir = java.nio.file.Files.createTempDirectory("cds").toString
    Store.write(mkDf(0 until 40), dir, spec) // seg 0
    val fs = fsOf(dir)
    val root = s"$dir/index"
    // in-flight appender claims 1 (will write ids 40..79)
    val apId = Store.claimUnitId(fs, root)
    // tombstone A (id 2) deletes %3 keys — scans seg 0 only
    val delA = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 80 by 3).map(_.toLong).toDF("id"), commit = false)
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delA)
    // tombstone B (id 3) deletes %2 keys — also scans seg 0 only
    val delB = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 80 by 2).map(_.toLong).toDF("id"), commit = false)
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delB)
    // the appender commits LAST: its post-commit check must repair
    // BOTH tombstones, and B's repair must exclude rows A killed
    // (ids divisible by 6 would otherwise be negated twice)
    Store.appendSegment(mkDf(40 until 80), dir, spec, apId, root)
    check(dir)
    val live = Store.open(spark, dir, spec).frame.df
    assert(live.count() === (0 until 80).count(i => i % 3 != 0 && i % 2 != 0))
  }

  test("racing earlier-id tombstone triggers a full rescan at commit") {
    val dir = java.nio.file.Files.createTempDirectory("cds").toString
    Store.write(mkDf(0 until 60), dir, spec) // seg 0
    // tombstone A claims 1, tombstone B claims 2; B scans while A is
    // uncommitted (B's victim set still contains rows A will kill),
    // then A commits, then B commits — the heal after B's marker must
    // find the unseen tombstone and rescan B, or the %6 rows net twice
    val delA = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 60 by 3).map(_.toLong).toDF("id"), commit = false)
    val delB = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 60 by 2).map(_.toLong).toDF("id"), commit = false)
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delA)
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delB)
    check(dir)
    val live = Store.open(spark, dir, spec).frame.df
    assert(live.count() === (0 until 60).count(i => i % 3 != 0 && i % 2 != 0))
  }

  test("delete ∥ delete, overlapping keys, markers inside each other's " +
      "gap: AUTO-HEALED at commit (r15 — was detect-and-throw in r14)") {
    val dir = java.nio.file.Files.createTempDirectory("cds").toString
    Store.write(mkDf(0 until 60), dir, spec) // seg 0
    // A claims 1, B claims 2; BOTH scan while the other is
    // uncommitted. B commits first — A is invisible to the heal after
    // B's marker (uncommitted), so B's ixdelta counts the shared %6 rows.
    // Then A's marker lands inside what used to be the undetectable
    // window: pre-r14 both committed silently and the merged index
    // over-negated the %6 rows until compact; r14 threw; r15 heals.
    val delA = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 60 by 3).map(_.toLong).toDF("id"), commit = false)
    val delB = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 60 by 2).map(_.toLong).toDF("id"), commit = false)
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delB)
    // the later publisher ALWAYS sees the earlier one: the heal after
    // A's marker finds del_2 missing _delseen_1 and RESCANS the stale
    // unit (del_B) itself — versioned write + atomic publish, no
    // throw, no manual intervention
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delA)
    val fs = fsOf(dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/index/del_$delB/ixdelta_v1/_IXPUBLISHED")),
      "the heal must publish a versioned rescan of the stale unit")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/index/del_$delB/_delseen_$delA")))
    // DATA reads were exact throughout (keys-based netting)...
    val live = Store.open(spark, dir, spec).frame.df
    assert(live.select("id").collect().map(_.getLong(0)).toSet ===
      (0 until 60).filter(i => i % 3 != 0 && i % 2 != 0)
        .map(_.toLong).toSet)
    // ...and the INDEX is exact immediately — no rescan call, no
    // compact needed
    check(dir)
    // compact stays correct over the healed store
    Store.compact(spark, dir)
    check(dir)
  }

  test("compact on a refs-carrying store rebuilds entries from refs " +
      "and heals conflict-damaged netting (r14)") {
    // same undetectable-window interleaving, but the store carries
    // row-refs: the refs view is keys-based (exact under any
    // interleaving), so the fold's refs-derived entries heal the
    // index WITHOUT a rescan
    val rspec = IndexSpec(Seq("cat")).withRowRefs("id")
    val dir = java.nio.file.Files.createTempDirectory("cds").toString
    Store.write(mkDf(0 until 60), dir, rspec)
    val delA = Store.writeTombstone(spark, dir, rspec, "id",
      (0 until 60 by 3).map(_.toLong).toDF("id"), commit = false)
    val delB = Store.writeTombstone(spark, dir, rspec, "id",
      (0 until 60 by 2).map(_.toLong).toDF("id"), commit = false)
    Store.commitTombstone(spark, dir, s"$dir/index", rspec, delB)
    Store.commitTombstone(spark, dir, s"$dir/index", rspec, delA) // r15: auto-heals
    Store.compact(spark, dir)
    val st = Store.open(spark, dir, rspec)
    val fresh = indexAsMap(IndexedFrame(st.frame.df, rspec).entries)
    assert(indexAsMap(st.persistedIndex) === fresh)
    // the healed store still serves point reads and refs
    assert(st.fPoint("cat", "c1") === fresh(("cat", "c1")))
  }

  test("vacuum reclaims superseded rescan versions and the original " +
      "ixdelta; the healed store still serves exactly (r15)") {
    val dir = java.nio.file.Files.createTempDirectory("cds").toString
    Store.write(mkDf(0 until 60), dir, spec)
    val delA = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 60 by 3).map(_.toLong).toDF("id"), commit = false)
    val delB = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 60 by 2).map(_.toLong).toDF("id"), commit = false)
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delB)
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delA) // heals B → v1
    // a second (manual) heal supersedes v1 with v2
    Store.rescanTombstoneIndex(spark, dir, spec, delB)
    val fs = fsOf(dir)
    val base = s"$dir/index/del_$delB"
    def ex(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    assert(ex(s"$base/ixdelta") && ex(s"$base/ixdelta_v1") &&
      ex(s"$base/ixdelta_v2/_IXPUBLISHED"))
    Store.vacuum(spark, dir)
    assert(!ex(s"$base/ixdelta"), "superseded original must be reclaimed")
    assert(!ex(s"$base/ixdelta_v1"), "superseded version must be reclaimed")
    assert(ex(s"$base/ixdelta_v2/_IXPUBLISHED"), "live version survives")
    check(dir)
    // ...and the whole lifecycle still composes after the reclaim
    Store.compact(spark, dir)
    check(dir)
  }

  test("REPAIR-ON-OPEN: an uncovered (tombstone, segment) pair left " +
      "by a crashed writer is healed before the first read (r15)") {
    val dir = java.nio.file.Files.createTempDirectory("cds").toString
    Store.write(mkDf(0 until 40), dir, spec)
    val fs = fsOf(dir)
    val root = s"$dir/index"
    // the r14-documented transient window, frozen by a crash: the
    // appender committed its manifest but died before its post-publish
    // heal — simulate by letting the repair run,
    // then deleting its artifacts (token + ixrepair), exactly the
    // on-disk state a crash right after the manifest commit leaves
    val apId = Store.claimUnitId(fs, root)
    val delId = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 100 by 4).map(_.toLong).toDF("id"), commit = false)
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delId)
    Store.appendSegment(mkDf(40 until 80), dir, spec, apId, root)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/_scope_$apId"), false)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/ixrepair_$apId"), true)
    // the FIRST reader repairs before serving: exact netting, no
    // transient over-count of the racing segment's %4 victims
    check(dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/_scope_$apId")),
      "open() must have re-run the coverSegment pass")
    val live = Store.open(spark, dir, spec).frame.df
    assert(live.count() === (0 until 80).count(_ % 4 != 0))
  }

  test("coverSegment crash states self-heal: a published repair " +
      "missing its token is re-tokenized, a staging orphan is never " +
      "read and vacuum reclaims it (r15 — token now claimed LAST)") {
    val dir = java.nio.file.Files.createTempDirectory("cds").toString
    Store.write(mkDf(0 until 40), dir, spec)
    val fs = fsOf(dir)
    val root = s"$dir/index"
    val apId = Store.claimUnitId(fs, root)
    val delId = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 100 by 4).map(_.toLong).toDF("id"), commit = false)
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delId)
    Store.appendSegment(mkDf(40 until 80), dir, spec, apId, root)
    // crash state A (the ONLY mid-crash state the r15 ordering can
    // leave): repair published, token not yet claimed
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/_scope_$apId"), false)
    // crash state B: a staging dir a dead writer abandoned
    val orphan = new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/_ixtmp_${apId}_dead1234")
    fs.mkdirs(orphan)
    fs.create(new org.apache.hadoop.fs.Path(s"$orphan/part-junk"))
      .close()
    // the first reader: exact netting (repair still served, orphan
    // ignored), token re-claimed, and NO second repair dir
    check(dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/_scope_$apId")),
      "open must finish the crashed coverer's token claim")
    val repairs = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$root/del_$delId")).map(_.getPath.getName)
      .filter(_.startsWith("ixrepair_"))
    assert(repairs.toSeq === Seq(s"ixrepair_$apId"),
      "healing must not publish a duplicate repair")
    Store.vacuum(spark, dir)
    assert(!fs.exists(orphan), "vacuum must reclaim staging orphans")
    check(dir)
  }

  test("delete ∥ delete, DISJOINT keys, same interleaving: cleared " +
      "with a coverage token, index exact (r14)") {
    val dir = java.nio.file.Files.createTempDirectory("cds").toString
    Store.write(mkDf(0 until 60), dir, spec)
    val delA = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 10).map(_.toLong).toDF("id"), commit = false)
    val delB = Store.writeTombstone(spark, dir, spec, "id",
      (30 until 40).map(_.toLong).toDF("id"), commit = false)
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delB)
    // disjoint pair: the then-live rule is vacuous between them; the
    // heal after A's marker rescans B anyway (correct for disjoint
    // keys too) and writes the missing token instead of throwing
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delA)
    val fs = fsOf(dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/index/del_$delB/_delseen_$delA")))
    check(dir)
    val live = Store.open(spark, dir, spec).frame.df
    assert(live.count() === 40)
  }

  test("crash after an append's manifest, before its repair: compact " +
      "refuses until an open heals the pair") {
    val dir = java.nio.file.Files.createTempDirectory("cds").toString
    Store.write(mkDf(0 until 40), dir, spec)
    val fs = fsOf(dir)
    val root = s"$dir/index"
    val apId = Store.claimUnitId(fs, root)
    val delId = Store.delete(spark, dir, spec, "id",
      (0 until 100 by 4).map(_.toLong).toDF("id"))
    assert(delId === 2)
    Store.appendSegment(mkDf(40 until 80), dir, spec, apId, root)
    // the on-disk state of an appender that died right after its
    // manifest: the pair (del_2, seg_1) has neither repair nor token
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/ixrepair_$apId"), true)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/_scope_$apId"), false)
    // compact has no IndexSpec to heal with: it must not fold the
    // un-netted counts in for good
    val e = intercept[IllegalStateException](Store.compact(spark, dir))
    assert(e.getMessage.contains("open it once with its IndexSpec"))
    check(dir) // the open heals the pair
    Store.compact(spark, dir)
    check(dir)
    assert(Store.open(spark, dir, spec).frame.df.count() ===
      (0 until 80).count(_ % 4 != 0))
  }

  test("crash after a tombstone's marker, before its check: an earlier " +
      "tombstone it never saw is healed by open") {
    val dir = java.nio.file.Files.createTempDirectory("cds").toString
    Store.write(mkDf(0 until 40), dir, spec)
    // B scans while A is uncommitted, so B's victims hold the %8 rows
    // A kills; A commits, then B's marker lands and B dies before its
    // post-marker check
    val delA = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 40 by 4).map(_.toLong).toDF("id"), commit = false)
    val delB = Store.writeTombstone(spark, dir, spec, "id",
      (0 until 40 by 8).map(_.toLong).toDF("id"), commit = false)
    Store.commitTombstone(spark, dir, s"$dir/index", spec, delA)
    fsOf(dir).create(new org.apache.hadoop.fs.Path(
      s"$dir/index/del_$delB/_COMMITTED")).close()
    val e = intercept[IllegalStateException](Store.compact(spark, dir))
    assert(e.getMessage.contains("open it once with its IndexSpec"))
    check(dir) // the open rescans B
    Store.compact(spark, dir)
    check(dir)
    assert(Store.open(spark, dir, spec).frame.df.count() ===
      (0 until 40).count(_ % 4 != 0))
  }

  test("true race: concurrent delete and append of overlapping keys " +
      "always net correctly") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    (0 until 3).foreach { round =>
      val dir = java.nio.file.Files.createTempDirectory("cdr").toString
      Store.write(mkDf(0 until 50), dir, spec)
      val del = Future {
        Store.delete(spark, dir, spec, "id",
          (0 until 200 by 4).map(_.toLong).toDF("id"))
      }
      val app = Future {
        Store.append(mkDf(50 until 100), dir, spec)
      }
      Await.result(Future.sequence(Seq(del.map(_ => ()), app)), 300.seconds)
      check(dir)
      // whichever side committed first, the DATA semantics hold: keys
      // in segments below the tombstone id are gone, keys above live
      val live = Store.open(spark, dir, spec).frame.df
      val ids = live.select("id").collect().map(_.getLong(0)).toSet
      assert((0 until 50).filter(_ % 4 != 0).forall(i => ids(i.toLong)),
        s"round $round: non-victim seg-0 rows must survive")
    }
  }

  test("true race: two overlapping-key deletes and an append writing " +
      "their victim keys, all at once, net correctly") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val steps = Seq(2, 3)
    (0 until 3).foreach { round =>
      val dir = java.nio.file.Files.createTempDirectory("cdr3").toString
      Store.write(mkDf(0 until 50), dir, spec)
      val dels = steps.map(step => Future {
        Store.delete(spark, dir, spec, "id",
          (0 until 100 by step).map(_.toLong).toDF("id"))
      })
      val app = Future(Store.append(mkDf(50 until 100), dir, spec))
      val delIds = Await.result(Future.sequence(dels), 300.seconds)
      Await.result(app, 300.seconds)
      // a tombstone deletes its keys from the segments below its id
      // only, so the survivors follow the ids the race handed out
      val appId = Store.history(spark, dir)
        .collect { case (id, "append", _) if id > 0 => id }.head
      def segOf(i: Int) = if (i < 50) 0 else appId
      val expected = (0 until 100).filterNot(i => delIds.zip(steps).exists {
        case (t, step) => t > segOf(i) && i % step == 0
      }).map(_.toLong).toSet
      // every writer healed after its own publish: open finds nothing
      val snap = Store.resolveSnapshot(spark, dir)
      assert(snap.uncovered.isEmpty && snap.unseen.isEmpty,
        s"round $round: netting left unhealed by the writers")
      val live = Store.open(spark, dir, spec).frame.df
      assert(live.select("id").collect().map(_.getLong(0)).toSet === expected,
        s"round $round: data must equal the expected survivors")
      check(dir)
    }
  }
}
