package graft

import graft.core.{IndexSpec, Store}
import org.apache.spark.sql.functions._

class StoreSpec extends SparkSpec {
  import spark.implicits._

  private val spec = IndexSpec(Seq("cat"))

  private def data = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0)
  ).toDF("id", "cat", "v")

  test("write/open round-trips rows and index") {
    val dir = tempDir("store")
    Store.write(data, dir, spec)
    val st = Store.open(spark, dir, spec)
    assert(st.frame.df.count() === 4)
    val ix = st.persistedIndex.orderBy("value").collect()
    assert(ix.map(r => (r.getString(1), r.getLong(2))).toSeq ===
      Seq(("a", 2L), ("b", 1L), ("c", 1L)))
    assert(st.f("cat", "a").head().getLong(0) === 2L)
  }

  test("have() writes once, then reopens without rewriting") {
    val dir = tempDir("store2")
    var calls = 0
    def provide = { calls += 1; data }
    Store.have(spark, dir, spec)(provide)
    Store.have(spark, dir, spec)(provide)
    assert(calls === 1)
  }

  test("have() re-provides after a write() that died before its manifest") {
    val dir = tempDir("store3")
    Store.write(data, dir, spec)
    // the state a write() leaves when it dies after its index write:
    // seg_0 claimed and indexed, no manifest
    assert(new java.io.File(s"$dir/index/seg_0/_MANIFEST").delete())
    var calls = 0
    val fresh = data.where($"id" <= 2)
    val st = Store.have(spark, dir, spec) { calls += 1; fresh }
    assert(calls === 1)
    assert(st.frame.df.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("incremental appends equal a one-shot write of the union") {
    val dirA = tempDir("inc")
    val dirB = tempDir("oneshot")
    val batch1 = data.where($"id" <= 2)
    val batch2 = data.where($"id" > 2)
    Store.append(batch1, dirA, spec)
    Store.append(batch2, dirA, spec)
    Store.write(data, dirB, spec)
    val inc = Store.open(spark, dirA, spec)
    val one = Store.open(spark, dirB, spec)
    assert(inc.frame.df.count() === one.frame.df.count())
    def ix(s: graft.core.StoredFrame) = s.persistedIndex
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ix(inc) === ix(one))
  }

  test("streaming foreachBatch ingest builds the same store as a batch write") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("ingest")
    val stream = MemoryStream[(Long, String, Double)]
    val q = stream.toDF().toDF("id", "cat", "v")
      .writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Store.append(batch, dir, spec))
      .start()
    try {
      stream.addData((1L, "a", 10.0), (2L, "b", 20.0))
      q.processAllAvailable()
      stream.addData((3L, "a", 30.0), (4L, "c", 40.0))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = Store.open(spark, dir, spec)
    assert(streamed.frame.df.count() === 4)
    val ix = streamed.persistedIndex.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ix === Map(("cat", "a") -> 2L, ("cat", "b") -> 1L, ("cat", "c") -> 1L))
  }

  test("append never reads or rewrites existing index segments") {
    val dir = tempDir("seg")
    Store.append(data.where($"id" <= 2), dir, spec)
    val seg0 = new java.io.File(s"$dir/index/seg_0")
    val before = seg0.listFiles().map(f => f.getName -> f.lastModified()).toMap
    Thread.sleep(1100) // parquet mtime granularity
    Store.append(data.where($"id" > 2), dir, spec)
    // old segment untouched byte-for-byte (append cost is O(batch),
    // independent of accumulated index size)
    val after = seg0.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after === before)
    assert(new java.io.File(s"$dir/index/seg_1").isDirectory)
  }

  test("compact folds segments to one generation and preserves the merged index") {
    val dir = tempDir("cmp")
    Store.append(data.where($"id" <= 2), dir, spec)
    Store.append(data.where($"id" > 2), dir, spec)
    val beforeIx = Store.open(spark, dir, spec).persistedIndex
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    Store.compact(spark, dir)
    // the compacted index is a NEW committed generation with one segment
    val segs = new java.io.File(s"$dir/index_g1").listFiles()
      .filter(_.getName.startsWith("seg_"))
    // the fold keeps the max retired unit id (ids never rewind —
    // what appendBatch's idempotence gate needs across a compact)
    assert(segs.map(_.getName).toSeq === Seq("seg_1"))
    assert(new java.io.File(s"$dir/index_g1/_COMMITTED").exists())
    val afterIx = Store.open(spark, dir, spec).persistedIndex
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(afterIx === beforeIx)
  }

  test("a reader opened before compact survives the compact (reader-safe)") {
    val dir = tempDir("cmpr")
    Store.append(data.where($"id" <= 2), dir, spec)
    Store.append(data.where($"id" > 2), dir, spec)
    val reader = Store.open(spark, dir, spec) // planned against gen 0 segs
    Store.compact(spark, dir)
    // the pre-compact frame re-executes AFTER the compact: its input
    // files (previous generation) must still exist — counts exact, no
    // FileNotFound. A sink that invalidates concurrent readers would
    // fail right here.
    val ix = reader.persistedIndex.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ix === Map(("cat", "a") -> 2L, ("cat", "b") -> 1L, ("cat", "c") -> 1L))
    // appends continue into the compacted generation, and a second
    // compact folds them again; counts stay exact throughout
    Store.append(data.select($"id" + 10, $"cat", $"v")
      .toDF("id", "cat", "v"), dir, spec)
    Store.compact(spark, dir)
    val ix2 = Store.open(spark, dir, spec).persistedIndex.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ix2 === Map(("cat", "a") -> 4L, ("cat", "b") -> 2L, ("cat", "c") -> 2L))
  }

  test("a loose-index store is refused until compact upgrades it; append then keeps the original index") {
    val dir = tempDir("leg")
    // fabricate the legacy layout: index parquet directly under
    // <dir>/index, no seg_* dirs
    data.write.parquet(s"$dir/data")
    graft.core.IndexedFrame(data, spec).entries
      .write.parquet(s"$dir/index")
    // appending seg_* beside the loose files would silently drop the
    // whole original index from merges: every op but compact refuses
    val e = intercept[IllegalStateException] {
      Store.append(data.select($"id" + 10, $"cat", $"v").toDF("id", "cat", "v"),
        dir, spec)
    }
    assert(e.getMessage.contains("older store layout (loose index files)"))
    // compact upgrades it once; the upgraded store serves its index
    Store.compact(spark, dir)
    val legacyIx = Store.open(spark, dir, spec).persistedIndex.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(legacyIx === Map(("cat", "a") -> 2L, ("cat", "b") -> 1L, ("cat", "c") -> 1L))
    Store.append(data.select($"id" + 10, $"cat", $"v").toDF("id", "cat", "v"),
      dir, spec)
    val ix = Store.open(spark, dir, spec).persistedIndex.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ix === Map(("cat", "a") -> 4L, ("cat", "b") -> 2L, ("cat", "c") -> 2L))
  }

  test("crashed-migration orphan is invisible to reads and reclaimed by compact") {
    // an earlier version's migration that died AFTER its _COMMITTED
    // publish but BEFORE the legacy delete: committed g1 + a
    // still-present loose <dir>/index. That dir is only the generation
    // below the live one: reads must resolve g1, append must land in
    // g1, and the next compact reclaims the dir.
    val dir = tempDir("legorphan")
    data.write.parquet(s"$dir/data")
    graft.core.IndexedFrame(data, spec).entries
      .write.parquet(s"$dir/index")                  // legacy (orphan)
    graft.core.IndexedFrame(data, spec).entries
      .write.parquet(s"$dir/index_g1/seg_0")         // migrated copy
    // the migration published a manifest (the legacy data files)
    // inside the same commit — fabricate what it wrote
    val names = new java.io.File(s"$dir/data").listFiles()
      .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
    val mw = new java.io.PrintWriter(s"$dir/index_g1/seg_0/_MANIFEST")
    try mw.print(names.sorted.mkString("\n")) finally mw.close()
    // ... and the schema sidecar (one footer read, once)
    val sw = new java.io.PrintWriter(s"$dir/index_g1/seg_0/_SCHEMA")
    try sw.print(spark.read.parquet(s"$dir/data").schema.json) finally sw.close()
    new java.io.File(s"$dir/index_g1/_COMMITTED").createNewFile()
    Store.append(data.select($"id" + 10, $"cat", $"v").toDF("id", "cat", "v"),
      dir, spec)
    // counts come from g1 (+ the new segment), never double-served
    // from the orphan
    val ix = Store.open(spark, dir, spec).persistedIndex.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ix === Map(("cat", "a") -> 4L, ("cat", "b") -> 2L, ("cat", "c") -> 2L))
    assert(new java.io.File(s"$dir/index_g1/seg_1").exists())
    Store.compact(spark, dir)
    assert(!new java.io.File(s"$dir/index").exists()) // orphan reclaimed
    val ix2 = Store.open(spark, dir, spec).persistedIndex.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ix2 === ix)
  }

  test("partitioned write prunes non-matching partitions at the scan") {
    val dir = tempDir("storep")
    Store.writePartitioned(data, dir, "cat")
    val q = Store.openPartitioned(spark, dir).where($"cat" === "a")
    // correctness: only cat=a rows come back
    assert(q.select("cat").distinct().collect().map(_.getString(0)).toSeq === Seq("a"))
    // plan: the predicate lands in PartitionFilters (directory-level
    // pruning), not in the row-level data filters
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cat"), scan)
    // and the non-matching partition directories are never read:
    // selected partitions carry only the cat=a directory
    val files = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files.map(_.getPath.toString))
    }.get
    assert(files.nonEmpty && files.forall(_.contains("cat=a")), files)
  }

  private val refsSpec = IndexSpec(Seq("cat")).withRowRefs("id")

  test("row-refs artifact serves rowsOf index-only and matches a live scan") {
    val dir = tempDir("rowref")
    Store.write(data, dir, refsSpec)
    val st = Store.open(spark, dir, refsSpec)
    val served = st.rowsOf("cat", "a")
    assert(served.collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    // index-only: every file the plan scans lives under index*/rows_*,
    // the base data parquet is never touched (the analog of answering
    // from the bitmap alone)
    val files = served.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files.map(_.getPath.toString))
    }.flatten
    assert(files.nonEmpty && files.forall(_.contains("rows_")), files)
    assert(files.forall(!_.contains("/data/")), files)
    // live-frame spelling agrees
    assert(st.frame.rowsOf("cat", "a").collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L))
    // a store written WITHOUT refs refuses rowsOf rather than rescanning
    val bare = tempDir("norefs")
    Store.write(data, bare, spec)
    intercept[IllegalStateException] {
      Store.open(spark, bare, spec).rowsOf("cat", "a")
    }
  }

  test("have() re-provides when the spec demands row-refs the store lacks") {
    val dir = tempDir("uprefs")
    var calls = 0
    def provide = { calls += 1; data }
    Store.have(spark, dir, spec)(provide)          // refs-less store
    val st = Store.have(spark, dir, refsSpec)(provide) // upgrade in place
    assert(calls === 2)
    assert(st.rowsOf("cat", "a").collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L))
    Store.have(spark, dir, refsSpec)(provide)      // now satisfied
    assert(calls === 2)
  }

  test("row-refs segments mirror index segments across append and compact") {
    val dir = tempDir("rowrefseg")
    Store.append(data.where($"id" <= 2), dir, refsSpec)
    Store.append(data.where($"id" > 2), dir, refsSpec)
    assert(new java.io.File(s"$dir/index/rows_0").isDirectory)
    assert(new java.io.File(s"$dir/index/rows_1").isDirectory)
    val st = Store.open(spark, dir, refsSpec)
    assert(st.rowsOf("cat", "a").collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L))
    // bitmap invariant across segments: every entry's f == refs count
    val f = st.persistedIndex.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val refs = st.rowRefs.get.collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues(_.length.toLong).toMap
    assert(refs === f)
    // compact folds refs into the new generation alongside the index
    // (at the preserved max id, like the seg fold)
    Store.compact(spark, dir)
    assert(new java.io.File(s"$dir/index_g1/rows_1").isDirectory)
    val st2 = Store.open(spark, dir, refsSpec)
    assert(st2.rowsOf("cat", "a").collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L))
  }

  test("second compact reclaims generations two compacts old; vacuum trims the rest") {
    val dir = tempDir("gc")
    Store.append(data.where($"id" <= 2), dir, spec)
    Store.append(data.where($"id" > 2), dir, spec)
    Store.compact(spark, dir) // publishes g1, retains gen0 (index/)
    assert(new java.io.File(s"$dir/index").exists())
    val reader = Store.open(spark, dir, spec) // planned against g1
    Store.append(data.select($"id" + 10, $"cat", $"v").toDF("id", "cat", "v"),
      dir, spec)
    Store.compact(spark, dir) // publishes g2, retains g1, reclaims gen0
    assert(!new java.io.File(s"$dir/index").exists(), "gen0 not reclaimed")
    assert(new java.io.File(s"$dir/index_g1").exists(), "retained gen gone")
    // the reader planned before the second compact stays correct (its
    // generation g1 was retained)
    val ix = reader.persistedIndex.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ix === Map(("cat", "a") -> 2L, ("cat", "b") -> 1L, ("cat", "c") -> 1L))
    // vacuum trims the last retained generation; a FRESH reader is exact
    Store.vacuum(spark, dir)
    assert(!new java.io.File(s"$dir/index_g1").exists(), "vacuum kept g1")
    assert(new java.io.File(s"$dir/index_g2").exists(), "vacuum ate the live gen")
    val ix2 = Store.open(spark, dir, spec).persistedIndex.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ix2 === Map(("cat", "a") -> 4L, ("cat", "b") -> 2L, ("cat", "c") -> 2L))
  }

  test("persisted index f() matches live recount") {
    val dir = tempDir("store3")
    Store.write(data, dir, spec)
    val st = Store.open(spark, dir, spec)
    val live = st.frame.fDF("cat", "a").head().getLong(0)
    assert(st.f("cat", "a").head().getLong(0) === live)
  }

  test("openAt serves each append snapshot; latest equals open()") {
    val dir = tempDir("tt")
    val b1 = data.where($"id" <= 2)
    val b2 = data.where($"id" === 3)
    val b3 = data.where($"id" === 4)
    Store.append(b1, dir, spec)
    Store.append(b2, dir, spec)
    Store.append(b3, dir, spec)
    assert(Store.snapshots(spark, dir) === Seq(0, 1, 2))

    def ids(st: graft.core.StoredFrame) =
      st.frame.df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    def ix(st: graft.core.StoredFrame) = st.persistedIndex.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    assert(ids(Store.openAt(spark, dir, spec, 0)) === Seq(1L, 2L))
    assert(ids(Store.openAt(spark, dir, spec, 1)) === Seq(1L, 2L, 3L))
    assert(ids(Store.openAt(spark, dir, spec, 2)) === Seq(1L, 2L, 3L, 4L))
    // the snapshot index equals a fresh store built from the same rows
    val dirRef = tempDir("ttref")
    Store.write(data.where($"id" <= 3), dirRef, spec)
    assert(ix(Store.openAt(spark, dir, spec, 1)) ===
      ix(Store.open(spark, dirRef, spec)))
    // latest snapshot == the live view
    assert(ix(Store.openAt(spark, dir, spec, 2)) ===
      ix(Store.open(spark, dir, spec)))
    // a snapshot read is planned over ONLY the manifest files — the
    // later append's rows are invisible even though they share data/
    assert(!ids(Store.openAt(spark, dir, spec, 1)).contains(4L))

    // a store with a tombstone, a rename and a drop: at the latest id
    // openAt serves exactly open()'s index, rows and row refs
    val rspec = IndexSpec(Seq("cat", "tag")).withRowRefs("id")
    val dirEv = tempDir("ttev")
    val tagged = data.withColumn("tag",
      concat(lit("t"), ($"id" % 2).cast("string")))
    Store.append(tagged.where($"id" <= 2), dirEv, rspec)
    Store.append(tagged.where($"id" > 2), dirEv, rspec)
    Store.delete(spark, dirEv, rspec, "id", Seq(2L).toDF("id"))
    Store.renameColumn(spark, dirEv, "cat", "kind")
    val latest = Store.dropColumn(spark, dirEv, "tag")
    assert(Store.snapshots(spark, dirEv).last === latest)
    val live = Store.open(spark, dirEv, rspec)
    val asOf = Store.openAt(spark, dirEv, rspec, latest)
    def rows(st: graft.core.StoredFrame) =
      st.frame.df.collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    def refs(st: graft.core.StoredFrame) = st.rowRefs.get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(ix(live).keySet.map(_._1) === Set("kind"))
    assert(ix(asOf) === ix(live))
    assert(asOf.frame.df.columns.toSeq === live.frame.df.columns.toSeq)
    assert(rows(asOf) === rows(live))
    assert(rows(live).map(_.head) === Seq(1L, 3L, 4L))
    assert(refs(asOf) === refs(live))
  }

  test("compact folds only committed segments: a crashed append stays invisible") {
    val rspec = IndexSpec(Seq("cat")).withRowRefs("id")
    val dir = tempDir("cmpcrash")
    Store.append(data.where($"id" <= 2), dir, rspec)
    Store.append(data.where($"id" > 2), dir, rspec)
    // the state a crash between the second append's index writes and
    // its manifest leaves: data, entries, refs and sidecar written,
    // the `_claim_` file kept, no `_MANIFEST`
    assert(new java.io.File(s"$dir/index/seg_1/_MANIFEST").delete())
    assert(new java.io.File(s"$dir/index/_claim_1").exists())
    val crashed = new java.io.File(s"$dir/data/seg_1").listFiles()
      .filter(_.getName.endsWith(".parquet")).toSeq
    assert(crashed.nonEmpty)
    def ix(st: graft.core.StoredFrame) = st.persistedIndex.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val before = Store.open(spark, dir, rspec)
    assert(before.frame.df.count() === 2)
    val ixBefore = ix(before)
    Store.compact(spark, dir)
    val after = Store.open(spark, dir, rspec)
    assert(after.frame.df.count() === 2)
    assert(ix(after) === ixBefore)
    assert(after.rowRefs.get.select("row_key").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(Store.history(spark, dir).nonEmpty)
    // the crashed id stays claimed: the next unit takes the one above
    assert(Store.delete(spark, dir, rspec, "id", Seq(1L).toDF("id")) === 2)
    assert(Store.open(spark, dir, rspec).frame.df.select("id").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    Store.vacuum(spark, dir)
    assert(crashed.forall(!_.exists()))
    assert(Store.open(spark, dir, rspec).frame.df.count() === 1)
  }

  test("compact collapses snapshot history to the manifest union") {
    val dir = tempDir("ttc")
    Store.append(data.where($"id" <= 2), dir, spec)
    Store.append(data.where($"id" > 2), dir, spec)
    Store.compact(spark, dir)
    // one snapshot survives — at the max retired id (ids never
    // rewind) — and it serves the full data + index
    assert(Store.snapshots(spark, dir) === Seq(1))
    val st = Store.openAt(spark, dir, spec, 1)
    assert(st.frame.df.count() === 4)
    assert(st.f("cat", "a").head().getLong(0) === 2L)
    // snapshots keep working across a post-compact append
    Store.append(Seq((5L, "a", 50.0)).toDF("id", "cat", "v"), dir, spec)
    assert(Store.snapshots(spark, dir) === Seq(1, 2))
    assert(Store.openAt(spark, dir, spec, 1).frame.df.count() === 4)
    assert(Store.openAt(spark, dir, spec, 2).frame.df.count() === 5)
  }

  test("openAt serves row-refs of only the snapshot's segments") {
    val rspec = IndexSpec(Seq("cat")).withRowRefs("id")
    val dir = tempDir("ttr")
    Store.append(data.where($"id" <= 2), dir, rspec)
    Store.append(data.where($"id" > 2), dir, rspec)
    val snap = Store.openAt(spark, dir, rspec, 0)
    assert(snap.rowRefs.isDefined)
    val keys = snap.rowRefs.get.select("row_key").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(keys.forall(_ <= 2L))
  }

  test("schema evolution: appended column reads as null for old rows") {
    val dir = tempDir("ev")
    Store.append(data.where($"id" <= 2), dir, spec)
    val withQ = data.where($"id" > 2).withColumn("quality", $"v" * 2)
    Store.append(withQ, dir, spec)
    val live = Store.open(spark, dir, spec).frame.df
    assert(live.columns.toSeq === Seq("id", "cat", "v", "quality"))
    val rows = live.select("id", "quality").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty)
    assert(rows(3L) === Some(60.0) && rows(4L) === Some(80.0))
    // index is unaffected by the extra column
    val f = Store.open(spark, dir, spec).persistedIndex
      .where(col("value") === "a").select("f").collect().map(_.getLong(0)).sum
    assert(f === 2L)
  }

  test("schema evolution: time travel serves the schema as of the snapshot") {
    val dir = tempDir("ev2")
    Store.append(data.where($"id" <= 2), dir, spec)
    Store.append(data.where($"id" > 2).withColumn("quality", $"v" * 2),
      dir, spec)
    val snap0 = Store.openAt(spark, dir, spec, 0).frame.df
    assert(snap0.columns.toSeq === Seq("id", "cat", "v"))
    val snap1 = Store.openAt(spark, dir, spec, 1).frame.df
    assert(snap1.columns.toSeq === Seq("id", "cat", "v", "quality"))
  }

  test("schema evolution: compact folds to one segment with the union schema") {
    val dir = tempDir("ev3")
    Store.append(data.where($"id" <= 2), dir, spec)
    Store.append(data.where($"id" > 2).withColumn("quality", $"v" * 2),
      dir, spec)
    Store.compact(spark, dir)
    val live = Store.open(spark, dir, spec).frame.df
    assert(live.columns.toSeq === Seq("id", "cat", "v", "quality"))
    assert(live.where($"quality".isNull).count() === 2)
    assert(live.count() === 4)
  }

  test("z-ordered write clusters both dimensions; plain sort only one") {
    import org.apache.spark.sql.DataFrame
    // 64x64 grid, one row per cell — every file of a 1-D sorted write
    // spans the full b-domain; z-order gives small squares
    val grid = spark.range(0, 64L * 64)
      .select((col("id") / 64).cast("long").as("a"),
        pmod(col("id"), lit(64L)).as("b"))
    val zDir = tempDir("zo")
    val sDir = tempDir("so")
    Store.writeZOrdered(grid, zDir, col("a"), col("b"), numFiles = 16)
    grid.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.parquet(s"$sDir/data")

    def meanBoxArea(dir: String): Double = {
      val boxes = spark.read.parquet(s"$dir/data")
        .groupBy(input_file_name().as("f"))
        .agg(min("a").as("a0"), max("a").as("a1"),
          min("b").as("b0"), max("b").as("b1"))
        .select(((col("a1") - col("a0") + 1) *
          (col("b1") - col("b0") + 1)).as("area"))
        .collect().map(_.getLong(0))
      boxes.sum.toDouble / boxes.length
    }
    val zArea = meanBoxArea(zDir)
    val sArea = meanBoxArea(sDir)
    // 16 z-files over a 64x64 grid ≈ 16x16 squares (area ~256);
    // 1-D sorted files are 4x64 stripes (area ~256 too!) — so assert
    // on the B-DIMENSION span, where the stripe layout cannot prune
    def meanBSpan(dir: String): Double = {
      val spans = spark.read.parquet(s"$dir/data")
        .groupBy(input_file_name().as("f"))
        .agg((max("b") - min("b") + 1).as("s"))
        .select("s")
        .collect().map(_.getLong(0))
      spans.sum.toDouble / spans.length
    }
    val zB = meanBSpan(zDir); val sB = meanBSpan(sDir)
    assert(sB >= 60.0, s"1-D layout should span b fully, got $sB")
    assert(zB <= sB / 2, s"z-order b-span $zB vs 1-D $sB")
    assert(zArea <= 4096.0 / 4, s"z-order box area $zArea (full 4096)")
    // layout changes nothing about the DATA
    val back = spark.read.parquet(s"$zDir/data")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back.size === 64 * 64)
    assert(sArea > 0) // (computed above; stripes area ≈ squares area)
  }

  test("z-order clusters negative and wildly-unequal key domains") {
    // bucket normalization makes ANY long domain legal and well-
    // ordered — the raw-interleave contract hole (negative keys /
    // bits above 31 silently breaking the Morton order) cannot occur.
    // 64×64 grid, a ∈ [-32, 31] (negative half), b ∈ [0, 63·2^26]
    // (wide domain — raw interleave would put every significant b bit
    // above every a bit and degenerate to a 1-D b sort)
    val grid = spark.range(0, 64L * 64)
      .select(((col("id") / 64).cast("long") - 32L).as("a"),
        (pmod(col("id"), lit(64L)) * (1L << 26)).as("b"))
    val dir = tempDir("zdom")
    Store.writeZOrdered(grid, dir, col("a"), col("b"), numFiles = 16)
    val spans = spark.read.parquet(s"$dir/data")
      .groupBy(input_file_name().as("f"))
      .agg(((max("a") - min("a") + 1)).cast("long").as("sa"),
        ((max("b") - min("b")) / (1L << 26) + 1).cast("long").as("sb"))
      .collect()
    val meanA = spans.map(_.getLong(1)).sum.toDouble / spans.length
    val meanB = spans.map(_.getLong(2)).sum.toDouble / spans.length
    // 16 files over a 64×64 grid ≈ 16×16 squares: BOTH dimensions'
    // per-file spans must be far below the 64-wide full-domain stripe
    assert(meanA <= 32.0, s"a-span $meanA")
    assert(meanB <= 32.0, s"b-span $meanB")
    // layout changes nothing about the data
    assert(spark.read.parquet(s"$dir/data").count() === 64L * 64)
  }

  test("schema evolution rejects a type change BEFORE mutating the store") {
    val dir = tempDir("ev4")
    Store.append(data.where($"id" <= 2), dir, spec)
    // the violating append must fail while the store is still intact —
    // a rejection only at open()/compact() time would come AFTER the
    // incompatible data files and sidecar persisted, leaving the store
    // unreadable with no in-API repair path (r9 advice)
    val e = intercept[IllegalArgumentException] {
      Store.append(data.where($"id" > 2).withColumn("v", $"v".cast("string")),
        dir, spec)
    }
    assert(e.getMessage.contains("not a widening"))
    // and the store remains fully readable with the original rows
    assert(Store.open(spark, dir, spec).frame.df.count() === 2L)
  }

  test("a point-only handle plans nothing: each plan face is built on first access") {
    val rspec = IndexSpec(Seq("cat")).withRowRefs("id")
    val dir = tempDir("lazyfaces")
    Store.write(data, dir, rspec)
    val st0 = Store.open(spark, dir, rspec)
    val (f0, rows0) = (st0.fPoint("cat", "a"), st0.rowsOfPoint("cat", "a"))
    assert((f0, rows0) === (2L, Seq(1L, 3L)))
    // without its data files, only a face that plans the data can fail
    new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    val st = Store.open(spark, dir, rspec)
    assert(st.fPoint("cat", "a") === f0)
    assert(st.rowsOfPoint("cat", "a") === rows0)
    intercept[org.apache.spark.sql.AnalysisException](st.frame.df)
  }

  test("commit job counts: append, delete and upsert on a row-refs store") {
    // counts, not timings: exact and repeatable for a fixed input. A
    // change that re-adds the tombstone key-set de-duplication shuffle
    // (one more job per delete and per upsert), or a schema-inference
    // read-back of a written batch (one more per appendBatch and per
    // upsertBatch), fails here.
    val rspec = IndexSpec(Seq("cat")).withRowRefs("id")
    val rec = new JobRecorder(spark)
    val sc = spark.sparkContext
    def jobsOf(kind: String)(commit: String => Unit): Int = {
      val dir = tempDir(s"jobs_$kind")
      Store.write(data, dir, rspec) // fresh store: no tombstones
      val group = s"jobs-$kind-${java.util.UUID.randomUUID}"
      sc.setJobGroup(group, kind)
      try commit(dir) finally sc.clearJobGroup()
      rec.flush()
      rec.jobsOf(group).size
    }
    try {
      val counts = Map(
        "append" -> jobsOf("append")(d => Store.append(
          Seq((5L, "a", 50.0), (6L, "d", 60.0)).toDF("id", "cat", "v"), d, rspec)),
        "delete" -> jobsOf("delete")(d => Store.delete(spark, d, rspec, "id",
          Seq(1L, 4L).toDF("id"))),
        "upsert" -> jobsOf("upsert")(d => Store.upsert(
          Seq((2L, "bb", 20.0), (7L, "e", 70.0)).toDF("id", "cat", "v"),
          d, rspec, "id")),
        "appendBatch" -> jobsOf("appendBatch")(d => Store.appendBatch(
          Seq((5L, "a", 50.0), (6L, "d", 60.0)).toDF("id", "cat", "v"),
          d, rspec, 1L)),
        "upsertBatch" -> jobsOf("upsertBatch")(d => Store.upsertBatch(
          Seq((2L, "bb", 20.0), (7L, "e", 70.0)).toDF("id", "cat", "v"),
          d, rspec, "id", 1L)))
      assert(counts === Map("append" -> 8, "delete" -> 6, "upsert" -> 12,
        "appendBatch" -> 8, "upsertBatch" -> 12))
    } finally rec.close()
  }

  /** an orders-like store: three indexed string fields, refs on `id` */
  private val churnSpec =
    IndexSpec(Seq("prio", "status", "cust")).withRowRefs("id")
  private def churnRows(ids: Range, status: String) = ids.map(i =>
    (i.toLong, s"p${i % 3}", status, f"c${i % 17}%02d")).toDF("id", "prio", "status", "cust")

  test("one-file commits plan each index unit as one stage: append 3, delete 4, upsert 8 jobs") {
    // each commit's index units are built at the parallelism of the
    // data they index. A one-file batch reads back as one split, so
    // its entries and refs sort in the scan's stage, and a delete's
    // victims (bounded by a one-split key set) are indexed in one
    // task; a compaction keeps its range-partitioned
    // plans, so its count does not move.
    val dir = tempDir("jobs_onefile")
    Store.write(churnRows(0 until 400, "O").repartition(2), dir, churnSpec)
    val rec = new JobRecorder(spark)
    val sc = spark.sparkContext
    def jobsOf(kind: String)(commit: => Unit): Int = {
      val group = s"onefile-$kind-${java.util.UUID.randomUUID}"
      sc.setJobGroup(group, kind)
      try commit finally sc.clearJobGroup()
      rec.flush()
      rec.jobsOf(group).size
    }
    try {
      val counts = Seq(
        "append" -> jobsOf("append")(Store.append(
          churnRows(400 until 440, "O").coalesce(1), dir, churnSpec)),
        "delete" -> jobsOf("delete")(Store.delete(spark, dir, churnSpec, "id",
          (0L until 40L).toDF("id").coalesce(1))),
        "upsert" -> jobsOf("upsert")(Store.upsert(
          churnRows(100 until 140, "F").coalesce(1), dir, churnSpec, "id")),
        "compact" -> jobsOf("compact")(Store.compact(spark, dir)))
      assert(counts === Seq("append" -> 3, "delete" -> 4, "upsert" -> 8,
        "compact" -> 13))
    } finally rec.close()
    // the commits still serve the right rows and counts
    val st = Store.open(spark, dir, churnSpec)
    assert(st.frame.df.count() === 400L)
    assert(st.fPoint("status", "F") === 40L)
    assert(st.rowsOfPoint("status", "F").map(_.asInstanceOf[Long]).sorted ===
      (100L until 140L))
  }

  test("a multi-split append and upsert keep parallel index units, sorted in file-name order") {
    val dir = tempDir("multifile")
    Store.write(churnRows(0 until 200, "O").coalesce(1), dir, churnSpec)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = plans.add(qe.executedPlan.treeString)
      def onFailure(f: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    val rec = new JobRecorder(spark)
    spark.listenerManager.register(listener)
    val batch = churnRows(200 until 600, "P").repartition(4)
    // each of the 4 small files reads back as its own split (a split
    // is at least a file's open cost). AQE would coalesce the tiny
    // range partitions back into one file; keeping them makes the
    // name-order check span files
    val coalescing = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalescing, "false")
    def units(root: String, prefix: String) =
      new java.io.File(s"$dir/$root").listFiles().map(_.getName)
        .filter(_.startsWith(prefix)).toSet
    val (root, id, dels) = try {
      Store.append(batch, dir, churnSpec)
      val root = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("index")).max
      val id = units(root, "seg_").max.stripPrefix("seg_")
      // an upsert whose key set reads as 4 splits, like a large batch's
      val delsBefore = units(root, "del_")
      Store.upsert(churnRows(300 until 400, "Q").repartition(4), dir,
        churnSpec, "id")
      rec.flush() // the execution-end events are on the same queue
      (root, id, units(root, "del_") -- delsBefore)
    } finally {
      spark.conf.unset(coalescing)
      spark.listenerManager.unregister(listener)
      rec.close()
    }
    import scala.jdk.CollectionConverters._
    // the write command names its output dir, followed by a comma
    def written(unit: String) =
      plans.asScala.filter(_.contains(s"/$root/$unit,")).toSeq
    for (unit <- Seq(s"seg_$id", s"rows_$id")) {
      val ps = written(unit)
      assert(ps.size === 1, plans.asScala.mkString("\n----\n"))
      assert(ps.head.contains("rangepartitioning(field"), ps.head)
    }
    // the upsert's victims are indexed in parallel, not in one task
    assert(dels.size === 1, dels)
    val victimPlans = written(s"${dels.head}/ixdelta")
    assert(victimPlans.size === 1, plans.asScala.mkString("\n----\n"))
    assert(!victimPlans.head.contains("SinglePartition"), victimPlans.head)
    val dataFiles = new java.io.File(s"$dir/data/seg_$id").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(dataFiles === 4)
    // the part files, read one by one in name order, are sorted
    def partFiles(unit: String) =
      new java.io.File(s"$dir/$root/$unit").listFiles().map(_.getName)
        .filter(_.startsWith("part-")).sorted.toSeq
    assert(partFiles(s"seg_$id").size > 1 && partFiles(s"rows_$id").size > 1)
    def inNameOrder(unit: String, cols: String*) = partFiles(unit)
      .flatMap(n => spark.read.parquet(s"$dir/$root/$unit/$n")
        .select(cols.map(col): _*).collect().toSeq)
    val entries = inNameOrder(s"seg_$id", "field", "value")
      .map(r => (r.getString(0), r.getString(1)))
    assert(entries.size > 1 && entries === entries.sorted)
    val refs = inNameOrder(s"rows_$id", "field", "value", "row_key")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.size === 400 * 3 && refs === refs.sorted)
    // the point faces agree with the plan faces on the new segment
    val st = Store.open(spark, dir, churnSpec)
    assert(st.fPoint("status", "Q") === 100L)
    for ((f, v) <- Seq("status" -> "P", "status" -> "O", "status" -> "Q",
                       "cust" -> "c03", "prio" -> "p1", "cust" -> "zz")) {
      assert(st.fPoint(f, v) ===
        st.f(f, v).collect().headOption.map(_.getLong(0)).getOrElse(0L), (f, v))
      assert(st.rowsOfPoint(f, v).map(_.asInstanceOf[Long]).sorted ===
        st.rowsOf(f, v).collect().map(_.getLong(0)).toSeq.sorted, (f, v))
    }
  }
}
