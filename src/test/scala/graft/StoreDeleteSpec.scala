package graft

import graft.core.{IndexSpec, Store}
import org.apache.spark.sql.functions._

/** Round-11 store capabilities: row-level DELETE (merge-on-read
  * tombstones folded physically by compact) and exactly-once
  * batchId-keyed streaming ingest.
  */
class StoreDeleteSpec extends SparkSpec {
  import spark.implicits._

  private val spec = IndexSpec(Seq("cat"))
  private val refSpec = IndexSpec(Seq("cat")).withRowRefs("id")

  private def data = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0)
  ).toDF("id", "cat", "v")

  private def tmp(p: String) = tempDir(p)

  private def liveIds(st: graft.core.StoredFrame): Seq[Long] =
    st.frame.df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  private def ixMap(st: graft.core.StoredFrame): Map[String, Long] =
    st.persistedIndex.collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap

  test("delete removes rows, nets the index, and reports via f()") {
    val dir = tmp("del")
    Store.write(data, dir, spec)
    val id = Store.delete(spark, dir, spec, "id",
      Seq(1L, 3L).toDF("id"))
    assert(id === 1) // seg_0 took 0; the tombstone takes the next id
    val st = Store.open(spark, dir, spec)
    assert(liveIds(st) === Seq(2L, 4L))
    // index nets: 'a' had f=2 and both rows died — the entry is GONE,
    // not served at zero
    assert(ixMap(st) === Map("b" -> 1L, "c" -> 1L))
    assert(st.f("cat", "a").collect().isEmpty)
  }

  test("delete is segment-scoped: a re-appended key is live again") {
    val dir = tmp("delre")
    Store.write(data, dir, spec)                        // seg_0
    Store.delete(spark, dir, spec, "id", Seq(1L).toDF("id")) // del_1
    Store.append(Seq((1L, "z", 99.0)).toDF("id", "cat", "v"), dir, spec) // seg_2
    val st = Store.open(spark, dir, spec)
    assert(liveIds(st) === Seq(1L, 2L, 3L, 4L))
    val r1 = st.frame.df.where($"id" === 1L).collect()
    assert(r1.length === 1 && r1.head.getString(1) === "z") // the NEW row
    assert(ixMap(st) === Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "z" -> 1L))
  }

  test("openAt time travel composes with deletes") {
    val dir = tmp("delt")
    Store.write(data, dir, spec)                              // snapshot 0
    Store.delete(spark, dir, spec, "id", Seq(2L).toDF("id"))  // snapshot 1
    Store.append(Seq((5L, "b", 50.0)).toDF("id", "cat", "v"), dir, spec) // 2
    assert(Store.snapshots(spark, dir) === Seq(0, 1, 2))
    // before the delete: everything
    assert(liveIds(Store.openAt(spark, dir, spec, 0)) === Seq(1L, 2L, 3L, 4L))
    assert(ixMap(Store.openAt(spark, dir, spec, 0))("b") === 1L)
    // at the delete: row 2 gone, index netted
    assert(liveIds(Store.openAt(spark, dir, spec, 1)) === Seq(1L, 3L, 4L))
    assert(!ixMap(Store.openAt(spark, dir, spec, 1)).contains("b"))
    // after the re-append of another b: back to f(b)=1
    assert(liveIds(Store.openAt(spark, dir, spec, 2)) === Seq(1L, 3L, 4L, 5L))
    assert(ixMap(Store.openAt(spark, dir, spec, 2))("b") === 1L)
  }

  test("delete keeps row-refs consistent; non-key deletes are refused") {
    val dir = tmp("delref")
    Store.write(data, dir, refSpec)
    Store.delete(spark, dir, refSpec, "id", Seq(3L).toDF("id"))
    val st = Store.open(spark, dir, refSpec)
    // rowsOf must not serve the deleted row
    assert(st.rowsOf("cat", "a").collect().map(_.getLong(0)).toSeq === Seq(1L))
    // and refs count == netted f for every surviving entry
    val f = ixMap(st)
    f.foreach { case (v, n) =>
      assert(st.rowsOf("cat", v).count() === n, v)
    }
    val err = intercept[IllegalArgumentException] {
      Store.delete(spark, dir, refSpec, "cat", Seq("a").toDF("cat"))
    }
    assert(err.getMessage.contains("row-refs"))
  }

  test("compact folds tombstones into the data physically; vacuum reclaims the old files") {
    val dir = tmp("delc")
    Store.write(data, dir, spec)
    Store.append(Seq((5L, "a", 50.0)).toDF("id", "cat", "v"), dir, spec)
    Store.delete(spark, dir, spec, "id", Seq(1L, 5L).toDF("id"))
    val before = Store.open(spark, dir, spec)
    val beforeIds = liveIds(before)
    val beforeIx = ixMap(before)
    Store.compact(spark, dir)
    // same logical content after the fold
    val after = Store.open(spark, dir, spec)
    assert(liveIds(after) === beforeIds)
    assert(ixMap(after) === beforeIx)
    // the new generation is tombstone-free and single-segment, at
    // the preserved max retired id (seg_0, seg_1, del_2 -> 2)
    assert(Store.snapshots(spark, dir) === Seq(2))
    // physical delete completes at vacuum: the only data files left
    // are the folded ones, and re-reading still serves the survivors
    Store.vacuum(spark, dir)
    assert(liveIds(Store.open(spark, dir, spec)) === beforeIds)
    val dataDir = new java.io.File(s"$dir/data")
    def allFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(allFiles)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    // folded = one write of 3 surviving rows; pre-fold files (write +
    // append) would at least double the count — assert the reclaim by
    // reading the files directly: they contain ONLY survivors
    val direct = spark.read.parquet(s"$dir/data/*.parquet")
    assert(direct.select("id").collect().map(_.getLong(0)).toSeq.sorted ===
      beforeIds, "vacuum left pre-fold data files behind")
    assert(allFiles(dataDir).nonEmpty)
  }

  test("delete of every row of a segment still serves the store (empty branch)") {
    val dir = tmp("delall")
    Store.write(data, dir, spec)
    Store.delete(spark, dir, spec, "id", Seq(1L, 2L, 3L, 4L).toDF("id"))
    val st = Store.open(spark, dir, spec)
    assert(st.frame.df.count() === 0)
    assert(st.persistedIndex.count() === 0)
  }

  test("upsert replaces matched keys, inserts new ones, and is content-idempotent") {
    val dir = tmp("ups")
    Store.write(data, dir, spec)
    val batch = Seq((2L, "q", 21.0), (9L, "q", 90.0)).toDF("id", "cat", "v")
    val segId = Store.upsert(batch, dir, spec, "id")
    // the returned id is the upsert's own segment: the last append row
    assert(Store.history(spark, dir).filter(_._2 == "append").last._1 === segId)
    def state() = {
      val st = Store.open(spark, dir, spec)
      (st.frame.df.select("id", "cat", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .sortBy(_._1).toSeq, ixMap(st))
    }
    val (rows1, ix1) = state()
    assert(rows1 === Seq((1L, "a", 10.0), (2L, "q", 21.0), (3L, "a", 30.0),
      (4L, "c", 40.0), (9L, "q", 90.0)))
    assert(ix1 === Map("a" -> 2L, "c" -> 1L, "q" -> 2L)) // b replaced by q
    // content idempotence: the same batch again deletes its own
    // previous copy and re-appends identical rows
    Store.upsert(batch, dir, spec, "id")
    assert(state() === ((rows1, ix1)))
    // and the whole thing folds/vacuums cleanly
    Store.compact(spark, dir); Store.vacuum(spark, dir)
    assert(state() === ((rows1, ix1)))
  }

  test("deleteWhere resolves keys from the live data under the predicate") {
    val dir = tmp("delw")
    Store.write(data, dir, refSpec)
    Store.deleteWhere(spark, dir, refSpec, "id", col("cat") === "a")
    val st = Store.open(spark, dir, refSpec)
    assert(liveIds(st) === Seq(2L, 4L))
    assert(ixMap(st) === Map("b" -> 1L, "c" -> 1L))
    assert(st.rowsOf("cat", "a").collect().isEmpty)
  }

  test("a crashed append's index and refs segments are as invisible as its data") {
    // the manifest is the commit point for the WHOLE unit: an append
    // that wrote data + index + refs but died before its manifest
    // must contribute nothing anywhere — data (manifest-scoped read),
    // index (f would count ghost rows), refs (rowsOf would serve
    // ghost keys)
    val dir = tmp("ghost")
    Store.write(data, dir, refSpec)
    Store.append(Seq((9L, "z", 90.0)).toDF("id", "cat", "v"), dir, refSpec)
    assert(new java.io.File(s"$dir/index/seg_1/_MANIFEST").delete())
    val st = Store.open(spark, dir, refSpec)
    assert(liveIds(st) === Seq(1L, 2L, 3L, 4L))
    assert(!ixMap(st).contains("z"))
    assert(st.rowsOf("cat", "z").collect().isEmpty)
    // redelivery completes it and everything reappears consistently
    Store.append(Seq((9L, "z", 90.0)).toDF("id", "cat", "v"), dir, refSpec)
    val st2 = Store.open(spark, dir, refSpec)
    assert(liveIds(st2) === Seq(1L, 2L, 3L, 4L, 9L))
    assert(ixMap(st2)("z") === 1L)
    assert(st2.rowsOf("cat", "z").collect().map(_.getLong(0)).toSeq === Seq(9L))
  }

  test("appendBatch: redelivery of a committed batch is a byte-identical no-op") {
    val dir = tmp("batch")
    val b0 = data.where($"id" <= 2)
    val b1 = data.where($"id" > 2)
    assert(Store.appendBatch(b0, dir, spec, 0L))
    assert(Store.appendBatch(b1, dir, spec, 1L))
    def snapshot(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val before = snapshot()
    // redelivery (same batchId): the store is untouched — not even
    // an mtime moves
    assert(!Store.appendBatch(b1, dir, spec, 1L))
    assert(snapshot() === before)
    val st = Store.open(spark, dir, spec)
    assert(liveIds(st) === Seq(1L, 2L, 3L, 4L))
    assert(ixMap(st) === Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
  }

  test("appendBatch: a crashed half-write repairs to the clean store on redelivery") {
    val dirClean = tmp("batchclean")
    val dirCrash = tmp("batchcrash")
    val b0 = data.where($"id" <= 2)
    val b1 = data.where($"id" > 2)
    Store.appendBatch(b0, dirClean, spec, 0L)
    Store.appendBatch(b1, dirClean, spec, 1L)
    // crash sim: batch 1's DATA landed but nothing else (no index
    // segment, no manifest => uncommitted, invisible)
    Store.appendBatch(b0, dirCrash, spec, 0L)
    b1.write.parquet(s"$dirCrash/data/batch_1")
    assert(liveIds(Store.open(spark, dirCrash, spec)) === Seq(1L, 2L))
    // redelivery completes the batch exactly once
    assert(Store.appendBatch(b1, dirCrash, spec, 1L))
    val clean = Store.open(spark, dirClean, spec)
    val crashed = Store.open(spark, dirCrash, spec)
    assert(liveIds(crashed) === liveIds(clean))
    assert(ixMap(crashed) === ixMap(clean))
    assert(Store.snapshots(spark, dirCrash) === Store.snapshots(spark, dirClean))
  }

  test("appendBatch streams exactly-once through foreachBatch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("batchstream")
    val stream = MemoryStream[(Long, String, Double)]
    val q = stream.toDF().toDF("id", "cat", "v")
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => {
        Store.appendBatch(b, dir, spec, id)
        // double-fire inside the same epoch — the dedupe the sink
        // contract guarantees
        Store.appendBatch(b, dir, spec, id)
        ()
      })
      .start()
    stream.addData((1L, "a", 10.0), (2L, "b", 20.0))
    q.processAllAvailable()
    stream.addData((3L, "a", 30.0), (4L, "c", 40.0))
    q.processAllAvailable()
    q.stop()
    val st = Store.open(spark, dir, spec)
    assert(liveIds(st) === Seq(1L, 2L, 3L, 4L))
    assert(ixMap(st) === Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
  }

  test("storeIngest face ingests with in-stream compaction; history reads the commits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("ingestface")
    val stream = MemoryStream[(Long, String, Double)]
    val q = graft.streaming.EventPipeline.storeIngest(
      stream.toDF().toDF("id", "cat", "v"), dir, spec, compactEvery = 2)
      .start()
    stream.addData((1L, "a", 10.0)); q.processAllAvailable()
    stream.addData((2L, "b", 20.0)); q.processAllAvailable()
    stream.addData((3L, "a", 30.0)); q.processAllAvailable()
    q.stop()
    val st = Store.open(spark, dir, spec)
    assert(liveIds(st) === Seq(1L, 2L, 3L))
    assert(ixMap(st) === Map("a" -> 2L, "b" -> 1L))
    // the compact after batch 2 folded all three batches into the
    // preserved max id (2): one segment, three files, ids unrewound
    val h = Store.history(spark, dir)
    assert(h === Seq((2, "append", "files=3")), h)
  }

  test("storeUpsert face: CDC batches replace by key across batch " +
      "breaks; final state equals the batch upsert spelling") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("upsertface")
    val stream = MemoryStream[(Long, String, Double)]
    val q = graft.streaming.EventPipeline.storeUpsert(
      stream.toDF().toDF("id", "cat", "v"), dir, spec, "id")
      .start()
    stream.addData((1L, "a", 10.0), (2L, "b", 20.0)); q.processAllAvailable()
    stream.addData((2L, "b", 21.0), (3L, "a", 30.0)); q.processAllAvailable()
    stream.addData((1L, "c", 12.0)); q.processAllAvailable()
    q.stop()
    val st = Store.open(spark, dir, spec)
    val got = st.frame.df.select("id", "cat", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === Set((1L, "c", 12.0), (2L, "b", 21.0), (3L, "a", 30.0)))
    // index netting matches a from-scratch build of the live rows
    assert(ixMap(st) === Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
    // the same upserts through the manual batch spelling agree
    val dir2 = tmp("upsertface2")
    Store.write(Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("id", "cat", "v"), dir2, spec)
    Store.upsert(Seq((2L, "b", 21.0), (3L, "a", 30.0))
      .toDF("id", "cat", "v"), dir2, spec, "id")
    Store.upsert(Seq((1L, "c", 12.0)).toDF("id", "cat", "v"),
      dir2, spec, "id")
    val got2 = Store.open(spark, dir2, spec).frame.df
      .select("id", "cat", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got2 === got)
  }

  test("a reader planned before an in-stream compact materializes after it") {
    // the generation-retention guarantee under the streaming face
    // (r11 verdict #8): storeIngest's in-foreachBatch compact writes
    // a NEW generation and must leave the previous one's files on
    // disk — a frame opened (planned, file lists resolved) before
    // the compact fires materializes correctly after it, serving the
    // snapshot it planned over. Retention window: ONE compact — the
    // next compact's reclaim may retire it, which is the documented
    // sink contract (readers re-open per query cycle).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("readercmp")
    val stream = MemoryStream[(Long, String, Double)]
    val q = graft.streaming.EventPipeline.storeIngest(
      stream.toDF().toDF("id", "cat", "v"), dir, spec, compactEvery = 2)
      .start()
    stream.addData((1L, "a", 10.0)); q.processAllAvailable()
    stream.addData((2L, "b", 20.0)); q.processAllAvailable()
    // reader plans NOW: open() resolves manifests + file lists of the
    // current (pre-compact) generation; nothing materialized yet
    val reader = Store.open(spark, dir, spec)
    val plannedData = reader.frame.df
    val plannedIndex = reader.persistedIndex
    // batch 2 triggers the in-stream compact (id % 2 == 0): new
    // generation committed, old one retained
    stream.addData((3L, "a", 30.0)); q.processAllAvailable()
    q.stop()
    // the pre-compact reader materializes AFTER the compact and sees
    // exactly the snapshot it planned over (batches 0-1)
    assert(plannedData.select("id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L))
    assert(plannedIndex.collect().map(r => r.getString(1) -> r.getLong(2))
      .toMap === Map("a" -> 1L, "b" -> 1L))
    // and a fresh open serves the post-compact truth
    assert(liveIds(Store.open(spark, dir, spec)) === Seq(1L, 2L, 3L))
  }

  test("history lists appends and deletes in commit order") {
    val dir = tmp("hist")
    Store.write(data, dir, spec)
    Store.delete(spark, dir, spec, "id", Seq(1L).toDF("id"))
    Store.append(Seq((5L, "d", 50.0)).toDF("id", "cat", "v"), dir, spec)
    assert(Store.history(spark, dir).map(x => (x._1, x._2)) ===
      Seq((0, "append"), (1, "delete"), (2, "append")))
    assert(Store.history(spark, dir)(1)._3 === "key=id")
  }

  test("appendBatch redelivery after an in-stream compact is still a no-op") {
    // the race the id-preserving fold closes: compact runs inside
    // foreachBatch right after batch 1 commits; a crash before the
    // engine's epoch commit redelivers batchId 1 — the folded
    // segment keeps id 1, so the idempotence gate still answers
    val dir = tmp("batchcmp")
    val b0 = data.where($"id" <= 2)
    val b1 = data.where($"id" > 2)
    Store.appendBatch(b0, dir, spec, 0L)
    Store.appendBatch(b1, dir, spec, 1L)
    Store.compact(spark, dir)
    assert(!Store.appendBatch(b1, dir, spec, 1L))
    assert(liveIds(Store.open(spark, dir, spec)) === Seq(1L, 2L, 3L, 4L))
    assert(Store.appendBatch(
      Seq((5L, "d", 50.0)).toDF("id", "cat", "v"), dir, spec, 2L))
    assert(liveIds(Store.open(spark, dir, spec)) === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("appendBatch composes with delete and compact") {
    val dir = tmp("batchdel")
    Store.appendBatch(data.where($"id" <= 2), dir, spec, 0L)
    Store.appendBatch(data.where($"id" > 2), dir, spec, 1L)
    // a tombstone takes the next shared id (2); later batches must
    // come after it — the guard refuses an out-of-order batch id
    Store.delete(spark, dir, spec, "id", Seq(2L).toDF("id"))
    val err = intercept[IllegalArgumentException] {
      Store.appendBatch(data, dir, spec, 2L)
    }
    assert(err.getMessage.contains("tombstone"))
    assert(Store.appendBatch(
      Seq((6L, "d", 60.0)).toDF("id", "cat", "v"), dir, spec, 3L))
    val st = Store.open(spark, dir, spec)
    assert(liveIds(st) === Seq(1L, 3L, 4L, 6L))
    Store.compact(spark, dir)
    Store.vacuum(spark, dir)
    assert(liveIds(Store.open(spark, dir, spec)) === Seq(1L, 3L, 4L, 6L))
  }
}
