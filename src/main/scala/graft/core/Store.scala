package graft.core

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Persistence for indexed frames — Spark-native analog of the
  * reference's write/open/have lifecycle
  * (/root/reference/src/main/scala/com/futurice/iodf/Dfs.scala:489-554:
  * writeIndexedDf / openIndexedDf / haveIndexedDf over a memory-mapped
  * dir).
  *
  * Layout: `<dir>/data` (the rows, parquet) and the live index
  * generation `<dir>/index` or `<dir>/index_g<k>`, which holds one
  * dir per committed unit: `seg_<id>` (the segment's (field,value,f)
  * entries, parquet sorted by field,value so min/max stats prune
  * index lookups, with its `_MANIFEST` of data files and `_SCHEMA`
  * sidecar), `rows_<id>` (row refs), `del_<id>` (tombstones) and
  * `ren_<id>` (renames), plus the `_claim_<id>` of every writer.
  * Parquet is the mmap analog — reopening is O(footers), columns
  * decode on demand, and both parts scale out instead of living in
  * one file. This is the only layout the store serves: [[compact]]
  * upgrades an older one once, and every other op refuses it (see
  * the older-layouts notes below).
  */
object Store {

  // ------------------------------------------------------- generations
  //
  // Index GENERATIONS make compaction reader-safe. The live index is
  // the HIGHEST COMMITTED generation: `<dir>/index` is generation 0,
  // each compact writes a complete replacement under
  // `<dir>/index_g<k+1>` and marks it live by creating `_COMMITTED`
  // (created only after the parquet write finishes — the atomic
  // publish point). Readers resolve the highest committed generation
  // when their frame is built; compact retains the immediately
  // previous generation, so a reader planned before a compact keeps
  // reading files that still exist. Only generations at least two
  // compacts old are reclaimed. This is the standard log-structured
  // publish protocol (what table formats do with a manifest), done
  // with directories + a marker file so it works on any Hadoop FS.

  private def fsFor(spark: SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** run `a` and `b` concurrently: the independent Spark writes of one
    * commit (disjoint paths, no data dependency) overlap instead of
    * queueing behind each other's scheduler floor. `b` runs on a fresh
    * thread, which inherits a clone of the caller's SparkContext local
    * properties (job group, description, scheduler pool — they live in
    * an InheritableThreadLocal) and gets the caller's active session,
    * so its jobs are attributed to, and cancelled with, the caller's.
    * Waits for BOTH before returning or rethrowing (a's failure first,
    * b's attached as suppressed): no write of the pair is still running
    * when the caller publishes a marker or handles the error.
    */
  private def inParallel[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    @volatile var rb: Either[Throwable, B] = null
    val t = new Thread(() => {
      SparkSession.setActiveSession(spark)
      rb = try Right(b) catch { case e: Throwable => Left(e) }
    }, "graft-store-write")
    t.setDaemon(true)
    t.start()
    val ra = try Right(a) catch { case e: Throwable => Left(e) }
    var interrupted = false
    while (t.isAlive)
      try t.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread.interrupt()
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(e), other) => other.left.foreach(e.addSuppressed); throw e
      case (_, Left(e)) => throw e
    }
  }

  /** (root path, generation number) of the highest committed index
    * generation; generation 0 is the base `<dir>/index` layout.
    */
  private def currentIndexRoot(spark: SparkSession,
                               dir: String): (String, Int) = {
    val (fs, base) = fsFor(spark, dir)
    val gens =
      if (!fs.exists(base)) Seq.empty[Int]
      else fs.listStatus(base).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("index_g"))
        .flatMap(n => scala.util.Try(n.stripPrefix("index_g").toInt).toOption)
        .filter(g => fs.exists(
          new org.apache.hadoop.fs.Path(s"$dir/index_g$g/_COMMITTED")))
    if (gens.isEmpty) (s"$dir/index", 0)
    else (s"$dir/index_g${gens.max}", gens.max)
  }

  // -------------------------------------------------- snapshot manifests
  // Each index segment records WHICH data files its append persisted
  // (a `_MANIFEST` text file inside the segment dir — parquet readers
  // ignore `_`-prefixed files). The manifest is what makes segments
  // SNAPSHOTS: "the store as of segment N" = the union of manifests
  // 0..N, which is exactly the manifest-list protocol table formats
  // (Iceberg/Delta) use for time travel — no data is ever copied, a
  // snapshot read just plans over fewer files. File NAMES are stored
  // relative to <dir>/data so the store directory can be relocated.

  /** the data files a write left in `dataDir`, by name (markers and
    * hidden files skipped); empty when the dir does not exist
    */
  private def dataFileNames(fs: org.apache.hadoop.fs.FileSystem,
                            dataDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dataDir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq.sorted
  }

  /** does `df`'s scan plan a single split? The count comes from
    * planning the scan over its already-listed files, so no job runs.
    * A small file is one split and a large one is cut by size, so an
    * input handed to one task on this test is one the scan would
    * have read in one task anyway.
    */
  private def oneSplit(df: DataFrame): Boolean = df.rdd.getNumPartitions == 1

  /** a persisted read handed to its index build: one partition when
    * the scan plans one split, so the entries aggregate and sort and
    * the refs sort run in the scan's own stage; as scanned otherwise
    */
  private def indexShaped(persisted: DataFrame): DataFrame =
    if (oneSplit(persisted)) persisted.coalesce(1) else persisted

  /** a tombstone's victims handed to their index build: shuffled to
    * one partition when the persisted key set bounding them reads as
    * one split, so the entries aggregate and sort need no further
    * exchange; as scanned otherwise (an upsert's key set is as large
    * as its batch)
    */
  private def victimsShaped(victims: DataFrame, keys: DataFrame): DataFrame =
    if (oneSplit(keys)) victims.repartition(1) else victims

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                            segDir: String, files: Seq[String]): Unit =
    // the manifest IS the segment's commit marker, and with concurrent
    // writers another writer may LIST manifests (resolveSnapshot) at
    // any moment — so it must appear atomically
    publishFile(fs, s"$segDir/_MANIFEST", files.sorted.mkString("\n"))

  /** write a small file so that it appears atomically: a temp file,
    * then a rename (atomic on HDFS and local FS). A plain
    * create+write+close has a window where a reader sees an empty or
    * partial file.
    */
  private def publishFile(fs: org.apache.hadoop.fs.FileSystem,
                          p: String, text: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    val tmp = new org.apache.hadoop.fs.Path(path.getParent, s".${path.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
    fs.rename(tmp, path)
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                           segDir: String): Option[Seq[String]] =
    readSmall(fs, s"$segDir/_MANIFEST")
      .map(_.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))

  /** the text of a small metadata file, None when there is none: one
    * `open`, with no existence or length probe before it
    */
  private def readSmall(fs: org.apache.hadoop.fs.FileSystem,
                        p: String): Option[String] =
    try {
      val in = fs.open(new org.apache.hadoop.fs.Path(p))
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  // ------------------------------------------------------ schema sidecars
  // Each segment also records the PHYSICAL SCHEMA of the data files
  // its append persisted (`_SCHEMA`, the StructType json) — the
  // add-column schema-evolution protocol table formats use: readers
  // build the live schema from metadata (union of segment schemas in
  // first-seen field order) instead of sniffing parquet footers
  // (Spark's mergeSchema — O(files) footer reads, the wrong shape at
  // 100 TB), and old segments' missing columns read as null. Because
  // the union is computed over the SNAPSHOT's segments, time travel
  // ([[openAt]]) automatically serves the schema as of that snapshot.
  // Evolution is ADD-COLUMN ONLY: a changed type for an existing
  // field fails loudly at open (silent coercion corrupts data).

  private[core] def writeSchemaSidecar(fs: org.apache.hadoop.fs.FileSystem,
                                 segDir: String,
                                 schema: org.apache.spark.sql.types.StructType): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$segDir/_SCHEMA"), true)
    try out.write(schema.json.getBytes("UTF-8"))
    finally out.close()
  }

  private[core] def readSchemaSidecar(fs: org.apache.hadoop.fs.FileSystem,
                                segDir: String): Option[org.apache.spark.sql.types.StructType] =
    readSmall(fs, s"$segDir/_SCHEMA").map(json =>
      org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** WIDENING promotions (r12 schema evolution): the type a field may
    * grow into across segments. Integral chain byte→short→int→long
    * plus float→double — exactly the promotions Spark 4's parquet
    * readers perform when the requested schema is wider than the
    * file's physical type (SPARK-40876), so historical segments keep
    * their narrower physical files and every read serves the widest
    * type with NO rewrite. Anything else (narrowing, int→string,
    * decimal scale changes) is refused loudly — silent coercion
    * corrupts data.
    */
  private def widened(a: org.apache.spark.sql.types.DataType,
                      b: org.apache.spark.sql.types.DataType): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val rank: Map[DataType, Int] =
      Map(ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    if (a == b) Some(a)
    else if (rank.contains(a) && rank.contains(b))
      Some(if (rank(a) >= rank(b)) a else b)
    else if ((a == FloatType && b == DoubleType) ||
             (a == DoubleType && b == FloatType)) Some(DoubleType)
    else None
  }

  /** union of per-segment schemas, first-seen field order. Fields
    * absent from any contributing segment become nullable (their
    * rows read as null); a same-name field whose types differ takes
    * their WIDENED type ([[widened]] — the reader serves the narrower
    * physical segments promoted); a non-widenable type change is a
    * contract violation, failed loudly.
    */
  private[core] def unionSchema(
      ss: Seq[org.apache.spark.sql.types.StructType]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val order = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    val seenIn = scala.collection.mutable.HashMap.empty[String, Int]
    ss.foreach(_.fields.foreach { f =>
      seenIn(f.name) = seenIn.getOrElse(f.name, 0) + 1
      order.get(f.name) match {
        case None => order(f.name) = f
        case Some(g) =>
          val w = widened(g.dataType, f.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"schema evolution: field '${f.name}' type " +
                s"${g.dataType.simpleString} -> ${f.dataType.simpleString} " +
                s"is not a widening (supported: add-column, " +
                s"byte/short/int/long widening, float->double, rename)"))
          order(f.name) =
            StructField(f.name, w, g.nullable || f.nullable)
      }
    })
    StructType(order.values.toSeq.map { f =>
      if (seenIn(f.name) < ss.size) f.copy(nullable = true) else f
    })
  }

  /** append-side schema validation: the batch must union cleanly AND
    * no batch field may be strictly NARROWER than the store's current
    * type for it — narrowing fails loudly at the write (the verdict
    * contract), while the read-side union stays direction-agnostic
    * (historical segments are legitimately narrower than a column
    * that widened over time).
    */
  private def validateAppendSchema(
      existing: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType): Unit = {
    unionSchema(Seq(existing, batch))
    existing.fields.foreach { g =>
      batch.fields.find(_.name == g.name).foreach { f =>
        if (f.dataType != g.dataType)
          require(widened(g.dataType, f.dataType).contains(f.dataType),
            s"field '${f.name}': batch type ${f.dataType.simpleString} is " +
              s"narrower than the store's ${g.dataType.simpleString} — " +
              s"cast the batch up (reads always serve the widest type)")
      }
    }
  }

  // --------------------------------------------------- tombstone deletes
  // Row-level DELETE as merge-on-read delete vectors (the
  // Iceberg/Delta device) on the store's own manifest protocol: a
  // delete writes a TOMBSTONE unit `del_<id>` into the live index
  // root — the deleted key set (`keys` parquet), a NEGATIVE index
  // segment (`ixdelta`: the victims' (field,value,f) with f negated,
  // so merge-on-read nets the index with no data rescan), the key
  // column name (`_KEYCOL`), committed atomically by `_COMMITTED`.
  // Tombstone ids share the segment id counter, which totally orders
  // deletes against appends: a tombstone applies to the data of
  // segments with SMALLER ids only, so a key re-appended after its
  // delete is live again (the table-format semantics), and openAt
  // time travel composes — a snapshot read applies exactly the
  // tombstones committed at or before it. compact() folds live
  // tombstones into the data (physical delete: surviving rows
  // rewritten, old files left for the retained generation's readers
  // and reclaimed by vacuum()).

  private[core] def readSmallText(fs: org.apache.hadoop.fs.FileSystem,
                            p: String): String =
    readSmall(fs, p).getOrElse(throw new java.io.FileNotFoundException(p)).trim

  /** the committed tombstones among the listing `names` of `root`:
    * (id, keyCol), id ascending
    */
  private def tombstonesIn(fs: org.apache.hadoop.fs.FileSystem, root: String,
                           names: Seq[String]): Seq[(Int, String)] =
    unitIds(names, "del_")
      .filter(id => fs.exists(
        new org.apache.hadoop.fs.Path(s"$root/del_$id/_COMMITTED")))
      .map(id => (id, readSmallText(fs, s"$root/del_$id/_KEYCOL")))

  /** the entry names directly under a generation root (none before
    * its first unit)
    */
  private def rootNames(fs: org.apache.hadoop.fs.FileSystem,
                        root: String): Seq[String] = {
    val rp = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(rp)) Nil
    else fs.listStatus(rp).map(_.getPath.getName).toSeq
  }

  /** ids of the `<prefix><int>` unit dirs among `names`, ascending */
  private def unitIds(names: Seq[String], prefix: String): Seq[Int] =
    names.collect { case s if s.startsWith(prefix) => s.drop(prefix.length) }
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .sorted

  // ----------------------------------------------------------- id claims
  // Unit ids (seg_/del_) are allocated by CLAIM, not by listing: a
  // writer takes the next free id by atomically creating
  // `_claim_<id>` in the live index root (create-if-absent — the
  // Iceberg/Delta optimistic-commit idiom applied to this manifest
  // protocol) and retries upward on collision. Two CONCURRENT writers
  // therefore can never own the same id — the r11 listing-based max+1
  // handed both writers the same id and the later Overwrite silently
  // clobbered the earlier segment (r11 verdict #1). Each writer's
  // files live under its own claimed unit dir (data/seg_<id>,
  // index/seg_<id>, del_<id>), so claimed writers never touch each
  // other's paths; commit stays marker-last per unit, so readers see
  // each unit all-or-nothing regardless of interleaving. Claim files
  // are tiny and persist for the life of the generation (they keep
  // ids monotone past crashed writers); compact retires them with
  // their generation.
  //
  // ATOMICITY: HDFS/ABFS create(overwrite=false) is an atomic
  // namespace operation server-side. The Hadoop LOCAL filesystem's
  // create is check-then-create (a TOCTOU window), so file:// routes
  // through java.nio Files.createFile (O_EXCL — truly atomic). S3
  // without a consistency layer cannot express create-if-absent at
  // all; concurrent writers there need an external lock service, as
  // every filesystem table format documents.
  //
  // CONCURRENCY CONTRACT (what claims do and do not give):
  //  - append ∥ append: safe — distinct ids, disjoint paths, each
  //    commits independently; readers see any prefix of commits.
  //  - append ∥ delete on DISJOINT keys: safe — the tombstone scopes
  //    over smaller ids only, so a concurrently-appended segment with
  //    a larger id is untouched.
  //  - delete ∥ an append WRITING the deleted keys, and delete ∥
  //    delete: safe, settled at ONE point after each publish (the
  //    Delta Lake idiom, VLDB 2020: conflicts resolve after a commit
  //    lands, not inside it). The DATA read is race-free by
  //    construction (the anti-join uses each tombstone's complete key
  //    set, scoped by id); only the INDEX netting is scan-derived: a
  //    tombstone's `ixdelta` negates the then-live victims of the
  //    segments its scan saw (rows an earlier tombstone already
  //    deleted are not negated twice). Each scan records what it saw
  //    as tokens in the tombstone's dir — `_scope_<seg>` per segment,
  //    `_delseen_<t>` per earlier tombstone — and the snapshot lists
  //    them, so two pure questions name what a scan missed:
  //    [[UnitSnapshot.uncovered]] (a committed segment below the
  //    tombstone with neither token nor published repair) and
  //    [[UnitSnapshot.unseen]] (an earlier committed tombstone the
  //    scan never saw). [[heal]] answers each with one rule: a
  //    segment the scan missed gets an `ixrepair_<seg>` scan of just
  //    that segment ([[coverSegment]]); a tombstone that missed an
  //    earlier one gets one versioned rescan ([[rescanTombstoneIndex]]).
  //    Every commit heals over a fresh snapshot right AFTER its
  //    publish (the heal step of [[commit]], after a segment's
  //    `_MANIFEST` and a tombstone's `_COMMITTED`), so whichever of two
  //    racing writers publishes second sees the other's unit: at least
  //    one side heals, and the two heals of one pair compute the same
  //    entries (the first publish wins). A repair's token lands after
  //    the repair, so a token never stands for missing entries.
  //    CRASH window: a writer that dies between its publish and its
  //    heal leaves the pair unhealed. open, openAt and have heal before
  //    they serve, so no handle serves the un-netted index; compact,
  //    which has no IndexSpec to heal with, refuses a refs-less store
  //    holding such a pair until one open has healed it (a store with
  //    row refs rebuilds exact entries from them). DATA reads are exact
  //    throughout.
  //  - compact/vacuum: exclusive — they rewrite/reclaim shared state
  //    and may not run concurrently with any other writer.

  private def atomicCreate(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): Boolean = {
    fs.mkdirs(p.getParent)
    if (fs.getScheme == "file") {
      try {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(p.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try { fs.create(p, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException => if (fs.exists(p)) false else throw e
      }
    }
  }

  private[core] def claimPath(root: String, id: Int) =
    new org.apache.hadoop.fs.Path(s"$root/_claim_$id")

  /** atomically claim the next free unit id under `root` */
  private[core] def claimUnitId(fs: org.apache.hadoop.fs.FileSystem,
                          root: String): Int = {
    var id = nextUnitId(fs, root)
    var attempts = 0
    while (!atomicCreate(fs, claimPath(root, id))) {
      id += 1
      attempts += 1
      require(attempts < 10000, s"could not claim a unit id under $root")
    }
    id
  }

  // ------------------------------------------------------ older layouts
  // Earlier versions of the store wrote layouts no current writer
  // produces: loose index part files directly under the generation
  // root (pre-segment), `seg_` dirs with NEITHER a manifest NOR a
  // writer's claim (pre-manifest, alone or mixed with current
  // segments), and committed segments or tombstone key sets without a
  // `_SCHEMA` sidecar. A manifest-scoped read would silently drop the
  // rows no manifest names, and vacuum would then delete their files,
  // so the store refuses them, the way a table format refuses a
  // protocol version it does not read (Delta Lake, VLDB 2020):
  // [[resolveSnapshot]] spots them in the metadata it reads anyway
  // ([[UnitSnapshot.older]]), [[UnitSnapshot.checked]] refuses them
  // with one message, and [[compact]] upgrades them once. A crashed
  // current append (claim present, manifest absent) is not an older
  // layout: its ghost stays invisible.

  /** the refusal of an older layout, which [[UnitSnapshot.older]] names */
  private[core] def olderLayout(dir: String, which: String): Nothing =
    throw new IllegalStateException(
      s"$dir holds an older store layout ($which): run " +
        s"Store.compact(spark, dir) once to upgrade it")

  /** a root listing name that is none of the current layout's entries:
    * a loose index part file of the pre-segment layout
    */
  private def looseIndexFile(n: String): Boolean =
    !n.startsWith("_") && !n.startsWith(".") &&
      !Seq("seg_", "rows_", "del_", "ren_").exists(n.startsWith)

  // -------------------------------------------------------- rename units
  // Column RENAME as a metadata-only unit `ren_<id>` sharing the
  // segment/tombstone id counter (r12 schema evolution): nothing is
  // rewritten — a rename applies AT READ to every unit with a SMALLER
  // id (whose files physically carry the old name), while units
  // appended after it write the new name physically. The shared
  // counter makes renames compose with time travel for free: openAt
  // applies exactly the renames committed at or before the snapshot,
  // so a historical read serves the AS-OF schema. Chained renames
  // (a→b then b→c) fold in id order; re-using a retired name for a
  // brand-new column later is legal (the old segments' physical name
  // maps away before the new column's name is considered). compact()
  // folds renames into the data physically, so a generation never
  // carries them forever.

  /** the committed renames among the listing `names` of `root`:
    * (id, from, to), id ascending
    */
  private def renamesIn(fs: org.apache.hadoop.fs.FileSystem, root: String,
                        names: Seq[String]): Seq[(Int, String, String)] =
    unitIds(names, "ren_")
      .filter(id => fs.exists(
        new org.apache.hadoop.fs.Path(s"$root/ren_$id/_COMMITTED")))
      .map(id => (id,
        readSmallText(fs, s"$root/ren_$id/_FROM"),
        readSmallText(fs, s"$root/ren_$id/_TO")))

  /** a physical name mapped through the renames that apply to its
    * unit (ascending id order — chains fold left)
    */
  private def currentName(physical: String,
                          renames: Seq[(Int, String, String)]): String =
    renames.foldLeft(physical) { case (n, (_, from, to)) =>
      if (n == from) to else n
    }

  /** the index `field` column mapped through applicable renames — the
    * expression form of [[currentName]] for index/refs segments
    */
  private def mappedFieldExpr(renames: Seq[(Int, String, String)]): Column =
    renames.foldLeft(col("field")) { case (e, (_, from, to)) =>
      org.apache.spark.sql.functions.when(e === from, to).otherwise(e)
    }

  /** reserved name prefix for dropped columns — DROP is a rename to
    * a hidden unique name (`__graft_dropped_<unitId>_<name>`), so the
    * whole rename machinery (era-scoped reads, openAt as-of schema,
    * chain folding, physical fold at compact) applies verbatim;
    * readers filter the hidden names out of data, index and refs.
    */
  private[core] val DroppedPrefix = "__graft_dropped_"

  /** the index-entry table shape — (field, value, f) — shared by
    * every seg/ixdelta/ixrepair unit. Passing it explicitly to
    * parquet reads skips the one-task schema-inference JOB a
    * schema-less read runs per call (~0.1 s; r15 optimization
    * round — the merged-index read paid it once per unit group).
    */
  private[core] val IxEntriesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("field",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("f",
        org.apache.spark.sql.types.LongType)))

  private[core] def readIx(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(IxEntriesSchema).parquet(paths: _*)

  /** store unit dirs (row refs, a tombstone's key set) read with the
    * first dir's `_SCHEMA` sidecar — same inference-job-avoidance as
    * [[readIx]]; a unit without one is an older layout
    */
  private def readUnits(spark: SparkSession, dirs: String*): DataFrame = {
    val (fs, _) = fsFor(spark, dirs.head)
    val schema = readSchemaSidecar(fs, dirs.head).getOrElse(
      olderLayout(dirs.head, "a store unit without a _SCHEMA sidecar"))
    spark.read.schema(schema).parquet(dirs: _*)
  }

  /** the hidden-namespace guard every data write runs (r12 advice):
    * a USER column named into the reserved dropped-column namespace
    * would be silently hidden by every read (dataAsOf drops it
    * unconditionally; its index/refs entries vanish once any drop
    * commits) — reject it at the write, where the mistake is visible,
    * and reject index specs that would index such a field.
    */
  private def rejectReservedNames(
      schema: org.apache.spark.sql.types.StructType,
      spec: IndexSpec): Unit = {
    val bad = schema.fieldNames.filter(_.startsWith(DroppedPrefix))
    require(bad.isEmpty,
      s"column name(s) ${bad.mkString(", ")} use the reserved " +
        s"$DroppedPrefix* namespace (dropColumn's hidden names) — " +
        s"readers would silently hide them; rename before writing")
    val badSpec = spec.fields.filter(_.startsWith(DroppedPrefix))
    require(badSpec.isEmpty,
      s"index field(s) ${badSpec.mkString(", ")} use the reserved " +
        s"$DroppedPrefix* namespace — their entries would be " +
        s"filtered from every index read")
  }

  /** DROP a column, metadata-only (r12 — completes the evolution
    * triple: add r9, widen+rename r12, drop here): commits a rename
    * unit to a reserved hidden name. Nothing is rewritten; segments
    * with smaller ids serve the column as absent, later appends may
    * re-add the NAME as a brand-new column (old values never
    * resurrect — they live under the hidden name until compact folds
    * them away physically). openAt before the drop still serves the
    * column (as-of schema). Returns the drop's snapshot id.
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Int = {
    require(!name.startsWith(DroppedPrefix),
      s"'$name' is a reserved dropped-column name")
    val snap = resolveSnapshot(spark, dir).checked
    val cur = snap.schema
    require(cur.fieldNames.contains(name),
      s"no column '$name' in store schema (${cur.fieldNames
        .filterNot(_.startsWith(DroppedPrefix)).mkString(",")})")
    // the tombstone key columns in use must survive: dropping one
    // would break the anti-join scoping of existing deletes
    snap.dels.foreach { case (id, kc) =>
      require(snap.keyColAt(id, kc) != name,
        s"column '$name' keys tombstone del_$id — compact() first")
    }
    renameColumnUnchecked(spark, snap, name,
      id => s"$DroppedPrefix${id}_$name")
  }

  /** rename a column, metadata-only: claims a unit id and commits a
    * `ren_<id>` unit (marker-last, like every unit). `from` must
    * exist and `to` must be free in the CURRENT schema, the union of
    * the segments' sidecars. Returns the rename's snapshot id.
    */
  def renameColumn(spark: SparkSession, dir: String,
                   from: String, to: String): Int = {
    require(from != to, "rename to the same name is a no-op")
    require(!from.startsWith(DroppedPrefix) && !to.startsWith(DroppedPrefix),
      s"the $DroppedPrefix* namespace is reserved for dropColumn")
    val snap = resolveSnapshot(spark, dir).checked
    val cur = snap.schema
    require(cur.fieldNames.contains(from),
      s"no column '$from' in store schema (${cur.fieldNames.mkString(",")})")
    require(!cur.fieldNames.contains(to),
      s"column '$to' already exists — rename would collide")
    renameColumnUnchecked(spark, snap, from, _ => to)
  }

  /** the shared ren_ unit commit for [[renameColumn]]/[[dropColumn]]
    * (both validate `snap` first); `toOf` sees the claimed unit id so
    * drops can mint a unique hidden name
    */
  private def renameColumnUnchecked(spark: SparkSession, snap: UnitSnapshot,
                                    from: String,
                                    toOf: Int => String): Int = {
    val root = snap.root
    val (fs, _) = fsFor(spark, root)
    val id = claimUnitId(fs, root)
    def put(name: String, v: String): Unit = {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$root/ren_$id/$name"), true)
      try out.write(v.getBytes("UTF-8")) finally out.close()
    }
    put("_FROM", from)
    put("_TO", toOf(id))
    fs.create(
      new org.apache.hadoop.fs.Path(s"$root/ren_$id/_COMMITTED")).close()
    id
  }

  /** `df` joined on `keyCol` against the UNION of tombstone key sets
    * `keySets`: `how` is "left_anti" (the rows they delete removed) or
    * "left_semi" (only those rows kept). Key sets are SET-SEMANTIC:
    * every consumer — these joins and PointRead's driver-side victim
    * sets — gives the same answer for
    * a key listed twice, so neither the persisted sets nor their union
    * is de-duplicated (a `distinct` would only add a shuffle stage to
    * every scan branch).
    */
  private def keyJoin(df: DataFrame, keyCol: String, keySets: Seq[DataFrame],
                      how: String): DataFrame = {
    val keys = keySets.reduce(_ unionByName _)
      .select(col("key").as("__graft_del_key"))
    df.join(keys, df(keyCol) === col("__graft_del_key"), how)
  }

  /** all data files under `<dir>/data`, as paths RELATIVE to it
    * (recursive — appendBatch writes per-batch subdirs); `_`/`.`
    * prefixed names skipped at every level
    */
  private def dataFilesRel(fs: org.apache.hadoop.fs.FileSystem,
                           dir: String): Set[String] = {
    val base = new org.apache.hadoop.fs.Path(s"$dir/data")
    if (!fs.exists(base)) Set.empty
    else {
      def walk(p: org.apache.hadoop.fs.Path, prefix: String): Seq[String] =
        fs.listStatus(p).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("_") || n.startsWith(".")) Nil
          else if (st.isDirectory) walk(st.getPath, s"$prefix$n/")
          else Seq(s"$prefix$n")
        }
      walk(base, "").toSet
    }
  }

  // ------------------------------------------------------ unit snapshots
  // [[resolveSnapshot]] is the one reader of a generation's units:
  // every op that asks which segments, tombstones, renames or older-
  // layout units exist reads them from a [[UnitSnapshot]], never from
  // a listing of its own, so the answers of one question set always
  // come from one generation.
  //
  // A handle is pinned to the units that were committed when it was
  // made: every face of the handle — the data, the merged index, the
  // row refs and the driver-side point reads — is built from its
  // open-time snapshot. A face built long after open() (the plan
  // faces are built on first access) still serves the open-time
  // units: segment, tombstone and refs units are immutable once
  // committed, and compact retains the generation they live in.
  //
  // Within one op, questions with no write of the op between them
  // share a snapshot: that is the schedule in which any other writer
  // committed a moment later, which the protocol already allows. So a
  // commit resolves twice: once before its claim (its validation, and
  // the [[Commit]] its write step runs over: a tombstone's victim scan
  // covers the ids below it, [[UnitSnapshot.upTo]]), and once in its
  // heal step, after its publish, which must see every unit another
  // writer published before it (the later publisher sees the earlier
  // one). A unit that commits between the two is what that heal
  // catches. write() resolves nothing: it commits over
  // [[UnitSnapshot.empty]]. A rescan resolves afresh; open() resolves
  // again only when its heal wrote.
  //
  // Resolving refuses nothing. The refusals the metadata decides
  // ([[UnitSnapshot.checked]]: an older layout, a non-widening schema
  // union) are raised at the entry of every op that serves, extends or
  // reclaims the store — open, openAt, have, append, appendBatch,
  // upsert, upsertBatch, delete, deleteWhere, rename, drop, vacuum and
  // the [[SegmentedArtifact]]/[[SegmentedAgg]] refreshes and reads — so the
  // snapshots resolved later inside such an op (the heal passes)
  // need no check of their own. [[compact]] upgrades an older layout
  // instead; history and snapshots only inspect.
  //
  // The snapshot also owns the SCOPING rule, so no reader spells it
  // out: a tombstone or rename applies to the units with smaller ids
  // (units sharing the applicable sets form a read ERA, served newest
  // first), tombstones remove rows by one anti-join over their union
  // of key sets, a tombstone nets only the victims still live when it
  // was written, and dropped fields stay out of the entry faces. Every
  // face, the victim scans and repairs, and
  // [[SegmentedArtifact]]/[[SegmentedAgg]] read through its helpers. A tombstone being committed is not in its own
  // snapshot, so its key set is read by path ([[readUnits]]).

  /** the units of one generation, as resolved from its metadata: the
    * root listing, each committed segment's manifest and schema
    * sidecar (the served schema is their union), each tombstone's key
    * column, dir listing (its coverage tokens), index-delta dirs and
    * key-set sidecar, the renames, the `rows_` ids and the older
    * layouts found.
    */
  private[core] final case class UnitSnapshot(
      dir: String,
      root: String,
      gen: Int,
      names: Seq[String],
      segIds: Seq[Int],
      manifests: Map[Int, Seq[String]],
      sidecars: Map[Int, org.apache.spark.sql.types.StructType],
      dels: Seq[(Int, String)],
      delNames: Map[Int, Seq[String]],
      delIxDirs: Map[Int, Seq[String]],
      keySchemas: Map[Int, org.apache.spark.sql.types.StructType],
      rens: Seq[(Int, String, String)],
      rowsIds: Seq[Int],
      older: Seq[String]) {

    /** the served schema: the union of the committed segments'
      * sidecars, each mapped from its PHYSICAL names through the
      * renames that postdate it, so the union speaks the (as-of-
      * [[upTo]]) names. Throws on a non-widening union.
      */
    lazy val schema: org.apache.spark.sql.types.StructType =
      unionSchema(segIds.map { id =>
        val applicable = rensAfter(id)
        org.apache.spark.sql.types.StructType(sidecars(id).fields.map(f =>
          f.copy(name = currentName(f.name, applicable))))
      })

    /** this snapshot, once the refusals its metadata decides have
      * passed: an older layout ([[olderLayout]]), and a non-widening
      * schema union
      */
    def checked: UnitSnapshot = {
      if (older.nonEmpty) olderLayout(dir, older.mkString(", "))
      schema
      this
    }

    /** this snapshot as of unit `id`: only the units with ids at or
      * below it (time travel, a tombstone's victim scan)
      */
    def upTo(id: Int): UnitSnapshot = {
      def within[V](m: Map[Int, V]) = m.filter(_._1 <= id)
      copy(segIds = segIds.filter(_ <= id), manifests = within(manifests),
        sidecars = within(sidecars), dels = dels.filter(_._1 <= id),
        delNames = within(delNames), delIxDirs = within(delIxDirs),
        keySchemas = within(keySchemas), rens = rens.filter(_._1 <= id),
        rowsIds = rowsIds.filter(_ <= id))
    }

    /** the ids named by tombstone `t`'s coverage tokens `prefix<id>` */
    private def tokens(t: Int, prefix: String): Set[Int] =
      unitIds(delNames(t), prefix).toSet

    /** (tombstone t, segment s < t) pairs without t's `_scope_s`
      * token: no scan of t saw s, though t may serve a repair of it
      */
    def unscoped: Seq[(Int, Int)] = dels.flatMap { case (t, _) =>
      val scoped = tokens(t, "_scope_")
      segIds.filter(s => s < t && !scoped(s)).map(t -> _)
    }

    /** does tombstone `t` serve a published repair of segment `s`? */
    def repaired(t: Int, s: Int): Boolean =
      delIxDirs(t).contains(s"$root/del_$t/ixrepair_$s")

    /** the [[unscoped]] pairs whose victims t's index netting misses:
      * no published repair either */
    def uncovered: Seq[(Int, Int)] =
      unscoped.filterNot { case (t, s) => repaired(t, s) }

    /** (tombstone t, tombstone t' < t) pairs without t's
      * `_delseen_t'` token: t's scan ran before t' committed, so its
      * netting may negate rows t' already deleted
      */
    def unseen: Seq[(Int, Int)] = dels.flatMap { case (t, _) =>
      val seen = tokens(t, "_delseen_")
      dels.collect { case (u, _) if u < t && !seen(u) => t -> u }
    }

    /** the `rows_` ids that serve row refs: committed segments' only
      * (a crashed append's refs segment, written before its manifest,
      * must stay as invisible as its data)
      */
    def refsIds: Seq[Int] = rowsIds.filter(segIds.toSet)

    /** segment `id`'s data files, read with its sidecar */
    def segData(spark: SparkSession, id: Int): DataFrame =
      spark.read.schema(sidecars(id))
        .parquet(manifests(id).map(n => s"$dir/data/$n"): _*)

    /** tombstone `id`'s persisted key set, read with its sidecar */
    def keys(spark: SparkSession, id: Int): DataFrame =
      spark.read.schema(keySchemas(id)).parquet(s"$root/del_$id/keys")

    /** the renames with ids in (`lo`, `hi`]: they map the names a unit
      * at `lo` was written with to the names current at `hi` */
    def rensBetween(lo: Int, hi: Int): Seq[(Int, String, String)] =
      rens.filter(r => r._1 > lo && r._1 <= hi)

    /** the renames that apply to unit `s`: every one with a larger id */
    def rensAfter(s: Int): Seq[(Int, String, String)] =
      rensBetween(s, Int.MaxValue)

    /** tombstone `t`'s key column `kc`, recorded in the names of its
      * own era, under the names current at `hi` — renames that
      * postdate it map it forward, or its anti-join would miss the
      * (now renamed) data column
      */
    def keyColAt(t: Int, kc: String, hi: Int = Int.MaxValue): String =
      currentName(kc, rensBetween(t, hi))

    /** `ids` grouped into read ERAS: the units the same tombstones
      * and the same renames apply to (those with larger ids). A reader
      * plans one branch per era, not per unit. Eras come newest first
      * (fewest applicable tombstones, then renames), a fixed order: a
      * plan's union order, and the exchange reuse AQE finds along it,
      * must not hang on hash order.
      */
    def eras(ids: Seq[Int]): Seq[Era] =
      ids.groupBy(s => (dels.filter(_._1 > s), rensAfter(s))).toSeq
        .map { case ((ds, rs), g) => Era(g, ds, rs) }
        .sortBy(e => (e.dels.size, e.rens.size))

    /** `ids` grouped by the renames that apply to them alone, newest
      * first: the eras of index entries, which tombstones net through
      * their own ixdelta units, not through an anti-join */
    def renameEras(ids: Seq[Int]): Seq[Era] =
      ids.groupBy(rensAfter).toSeq
        .map { case (rs, g) => Era(g, Nil, rs) }
        .sortBy(_.rens.size)

    /** `df` without the rows tombstones `ds` delete, each given as
      * (id, its key column in `df`'s names): tombstones sharing a key
      * column probe as ONE anti-join over the union of their key sets
      */
    def withoutDeleted(spark: SparkSession, df: DataFrame,
                       ds: Seq[(Int, String)]): DataFrame =
      ds.groupBy(_._2).toSeq.sortBy(_._1).foldLeft(df) {
        case (acc, (keyCol, g)) =>
          keyJoin(acc, keyCol, g.map { case (id, _) => keys(spark, id) },
            "left_anti")
      }

    /** the THEN-LIVE victims of tombstone `id` in segment `segId`: the
      * rows of `seg` (named as of `id`) whose `keyCol` is in `keys`
      * (`id`'s key set), minus the rows a tombstone t' with
      * segId < t' < id already deleted — negating those again would
      * net them twice
      */
    def thenLiveVictims(spark: SparkSession, seg: DataFrame, segId: Int,
                        id: Int, keyCol: String, keys: DataFrame): DataFrame = {
      val killed = dels.collect {
        case (t, kc) if t > segId && t < id => (t, keyColAt(t, kc, id))
      }.filter { case (_, kc) => seg.columns.contains(kc) }
      keyJoin(withoutDeleted(spark, seg, killed), keyCol, Seq(keys),
        "left_semi")
    }

    /** a `field`-keyed entry frame (index or refs) without the entries
      * of dropped columns, once this snapshot holds a drop */
    def visibleEntries(df: DataFrame): DataFrame =
      if (rens.exists(_._3.startsWith(DroppedPrefix)))
        df.where(!col("field").startsWith(DroppedPrefix))
      else df
  }

  private[core] object UnitSnapshot {
    /** the snapshot of a store with no unit yet, which write() commits
      * over */
    def empty(dir: String): UnitSnapshot = UnitSnapshot(dir, s"$dir/index", 0,
      Nil, Nil, Map.empty, Map.empty, Nil, Map.empty, Map.empty, Map.empty,
      Nil, Nil, Nil)
  }

  /** a read era: unit ids and the tombstones and renames that apply */
  private[core] final case class Era(ids: Seq[Int], dels: Seq[(Int, String)],
                                     rens: Seq[(Int, String, String)])

  /** resolve the [[UnitSnapshot]] of the live generation of `dir` —
    * metadata reads only, no Spark job and no parquet footer
    */
  private[core] def resolveSnapshot(spark: SparkSession, dir: String): UnitSnapshot = {
    val (root, gen) = currentIndexRoot(spark, dir)
    val (fs, _) = fsFor(spark, dir)
    val names = rootNames(fs, root)
    val manifests = unitIds(names, "seg_").flatMap(id =>
      readManifest(fs, s"$root/seg_$id").map(id -> _))
    val segIds = manifests.map(_._1)
    // committed segments only: an in-flight append writes its sidecar
    // before its manifest, so an uncommitted one may be partial
    val sidecars = segIds.flatMap(id =>
      readSchemaSidecar(fs, s"$root/seg_$id").map(id -> _)).toMap
    val dels = tombstonesIn(fs, root, names)
    val keySchemas = dels.flatMap { case (id, _) =>
      readSchemaSidecar(fs, s"$root/del_$id/keys").map(id -> _) }.toMap
    val delNames = dels.map { case (id, _) =>
      id -> fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/del_$id"))
        .map(_.getPath.getName).toSeq }.toMap
    val older = Seq(
      "loose index files" -> names.exists(looseIndexFile),
      // neither a manifest nor a writer's claim
      "pre-manifest segments" -> unitIds(names, "seg_").exists(id =>
        !segIds.contains(id) && !names.contains(claimPath(root, id).getName)),
      "segments without a _SCHEMA sidecar" ->
        segIds.exists(!sidecars.contains(_)),
      "tombstone key sets without a _SCHEMA sidecar" ->
        dels.exists(d => !keySchemas.contains(d._1)))
    UnitSnapshot(dir, root, gen, names,
      segIds = segIds,
      manifests = manifests.toMap,
      sidecars = sidecars,
      dels = dels,
      delNames = delNames,
      delIxDirs = delNames.map { case (id, ns) =>
        id -> tombstoneIxDirs(fs, root, id, ns) },
      keySchemas = keySchemas,
      rens = renamesIn(fs, root, names),
      rowsIds = unitIds(names, "rows_"),
      older = older.collect { case (which, true) => which })
  }

  /** The store's data as of `snap`: planned over exactly the files
    * the committed segments' manifests name — the table-format
    * posture (orphans from crashed writes are invisible; no
    * directory-listing race) — with the applicable tombstones
    * anti-joined, SCOPED by the id order: a tombstone deletes only
    * from segments that precede it, so a re-appended key survives.
    * Segments of one read era share one applicable set, so the plan
    * is one scan branch per era ([[UnitSnapshot.eras]]), not per
    * segment — and compact returns the store to a single clean
    * branch.
    */
  private def dataAsOf(spark: SparkSession, snap: UnitSnapshot): DataFrame = {
    import snap.{dir, rens, schema}
    val parts = snap.eras(snap.segIds)
      .flatMap { case Era(ids, eraDels, groupRens) =>
        val files = ids.flatMap(snap.manifests)
          .distinct.map(n => s"$dir/data/$n")
        if (files.isEmpty) None
        else {
          val df0 =
            if (rens.isEmpty) spark.read.schema(schema).parquet(files: _*)
            else {
              // RENAME ERA read: request the era's PHYSICAL names
              // (from the group's sidecars — the union's names would
              // read as missing), types widened to the global union's
              // (the reader promotes), then alias physical -> current
              // and align to the union
              val phys = org.apache.spark.sql.types.StructType(
                unionSchema(ids.map(snap.sidecars)).fields.map { f =>
                  val cur = currentName(f.name, groupRens)
                  schema.fields.find(_.name == cur)
                    .map(uf => f.copy(dataType = uf.dataType,
                      nullable = uf.nullable))
                    .getOrElse(f)
                })
              val raw = spark.read.schema(phys).parquet(files: _*)
              val renamed = raw.select(raw.columns.map(c =>
                col(c).as(currentName(c, groupRens))).toSeq: _*)
              val missing = schema.fields
                .filterNot(f => renamed.columns.contains(f.name))
              val withAll = missing.foldLeft(renamed)((d, f) =>
                d.withColumn(f.name,
                  org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
              withAll.select(schema.fieldNames.map(col).toSeq: _*)
            }
          Some(snap.withoutDeleted(spark, df0, eraDels.map {
            case (id, kc) => (id, snap.keyColAt(id, kc)) }))
        }
      }
    val out =
      if (parts.nonEmpty) parts.reduce(_ unionByName _)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // dropped columns are renamed into the hidden namespace — filter
    // them out of the served frame (compact folds them away physically)
    val hidden = out.columns.filter(_.startsWith(DroppedPrefix))
    if (hidden.isEmpty) out else out.drop(hidden.toSeq: _*)
  }

  // ------------------------------------------------------------ commits
  // Every write of the store commits through ONE step list: the single
  // commit protocol of a table format (Delta Lake, VLDB 2020), spelled
  // with marker files. A [[Commit]] names the units one op adds (a
  // segment, a tombstone, or both for an upsert) at ids the op already
  // owns, and three steps, each callable alone, commit them:
  //  1. [[writeUnits]]: the segment's data under `data/<sub>` and its
  //     index units, built from a read-back of that data, side by side
  //     with the tombstone's key set, victim `ixdelta`, coverage tokens
  //     and, last, `_KEYCOL`. No reader sees any of it yet.
  //  2. [[publish]]: the segment's `_MANIFEST`, which lands only after
  //     the tombstone's `_KEYCOL` (step 1 waits for both sides), then
  //     the tombstone's `_COMMITTED`.
  //  3. [[heal]], once, over a snapshot resolved after the publish (see
  //     the concurrency contract).
  // [[commit]] runs the three; [[finish]] runs steps 2 and 3 over units
  // already on disk. Each op keeps only its own part: its validation
  // on one snapshot, how it gets its ids (a claim or a batch id) and
  // its idempotence gates. write() runs steps 1 and 2 for `seg_0`, with
  // its data directly under `data/`; compact publishes its own fold
  // ([[publishFold]]); rename and drop commit a metadata-only `ren_`
  // unit.
  //
  // CRASH STATES, by the last step that finished: within step 1 no
  // unit has a marker, so the commit is invisible and vacuum reclaims
  // its files; between an upsert's manifest and its tombstone's marker
  // both copies of a replaced row are visible (see [[upsert]]); after
  // step 2 the commit is whole, and open heals what step 3 did not.

  /** a segment to commit: `batch` at unit id `id`, its data files under
    * `data/<sub>`, or directly under `data/` when `sub` is empty. A
    * batch that writes no data file commits only with `commitEmpty`.
    */
  private[core] final case class SegUnit(id: Int, batch: DataFrame, sub: String,
                                         commitEmpty: Boolean)

  /** a tombstone to commit at unit id `id`: the rows whose `keyCol` is
    * in `keys`, a one-column frame, are deleted from the segments below
    * it
    */
  private[core] final case class DelUnit(id: Int, keyCol: String, keys: DataFrame)

  /** the units one op commits, over `snap`, the snapshot it validated:
    * a tombstone's key set is cast to its key column's type in `snap`,
    * and its victim scan covers `snap`'s units below its id
    */
  private[core] final case class Commit(snap: UnitSnapshot, spec: IndexSpec,
                                        seg: Option[SegUnit] = None,
                                        del: Option[DelUnit] = None)

  /** commit `c`: write its units, publish them, heal */
  private[core] def commit(spark: SparkSession, c: Commit): Boolean =
    finish(spark, c, writeUnits(spark, c))

  /** steps 2 and 3 of `c`, whose units are written: publish, then heal
    * once over a snapshot resolved after the publish. `manifest` is
    * what step 1 returned, or None for a segment that is already
    * published (an upsertBatch redelivery finishing its tombstone).
    * Returns whether a unit was published.
    */
  private[core] def finish(spark: SparkSession, c: Commit,
                           manifest: Option[Seq[String]]): Boolean = {
    val published = publish(spark, c, manifest)
    if (published) heal(spark, resolveSnapshot(spark, c.snap.dir), c.spec)
    published
  }

  /** step 1 of `c`: every file of its units but their markers, the
    * tombstone's on the calling thread and the segment's beside it.
    * Returns the segment's manifest (its data files, named relative to
    * `data/`) when the segment commits.
    */
  private[core] def writeUnits(spark: SparkSession, c: Commit): Option[Seq[String]] =
    inParallel(spark)(c.del.foreach(writeTombstoneUnits(spark, c, _)),
      c.seg.flatMap(writeSegmentUnits(spark, c, _)))._2

  /** step 2 of `c`: the segment's `_MANIFEST` when step 1 returned one,
    * then the tombstone's `_COMMITTED`. Each marker lands after the
    * files it covers. Returns whether a unit was published.
    */
  private[core] def publish(spark: SparkSession, c: Commit,
                            manifest: Option[Seq[String]]): Boolean = {
    val root = c.snap.root
    val (fs, _) = fsFor(spark, root)
    for (s <- c.seg; files <- manifest) writeManifest(fs, s"$root/seg_${s.id}", files)
    c.del.foreach(d => fs.create(
      new org.apache.hadoop.fs.Path(s"$root/del_${d.id}/_COMMITTED")).close())
    manifest.nonEmpty || c.del.nonEmpty
  }

  /** a segment's files: `s.batch` written under its data dir, then its
    * index units ([[writeSegmentIndex]]) built from a READ-BACK of the
    * written files, declared with the batch's own schema, which skips
    * the schema-inference job a schema-less read runs. Re-executing
    * the batch for the index would recompute its upstream (2× cost)
    * and, for a nondeterministic batch (sample/rand/changing source),
    * index a DIFFERENT row set than the one just persisted. The index
    * is built at the parallelism the read-back scans at
    * ([[indexShaped]]): a small batch that reads back as one split
    * plans each index unit as one stage with no exchange, while one
    * that scans as several splits keeps the aggregate and range
    * exchanges. A batch that wrote no data file commits only with
    * `commitEmpty`, its empty index units written as one task each so
    * their parquet still gets a readable footer. Returns the manifest
    * when the segment commits.
    */
  private def writeSegmentUnits(spark: SparkSession, c: Commit,
                                s: SegUnit): Option[Seq[String]] = {
    val (fs, _) = fsFor(spark, c.snap.dir)
    val rel = if (s.sub.isEmpty) "" else s"${s.sub}/"
    val data = s"${c.snap.dir}/data" + (if (s.sub.isEmpty) "" else s"/${s.sub}")
    s.batch.write.mode(SaveMode.Overwrite).parquet(data)
    val names = dataFileNames(fs, data)
    if (names.isEmpty && !s.commitEmpty) None
    else {
      val persisted =
        if (names.nonEmpty)
          indexShaped(spark.read.schema(s.batch.schema).parquet(data))
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.batch.schema)
      writeSegmentIndex(spark, IndexedFrame(persisted, c.spec), c.snap.root,
        s.id, oneTask = names.isEmpty)
      Some(names.map(rel + _))
    }
  }

  /** a tombstone's files: its key set, cast to the key column's type;
    * the negated entries of its then-live victims among the units below
    * it; the coverage tokens of that scan; and, last, `_KEYCOL`, whose
    * presence means the unit is fully written (upsertBatch's redelivery
    * gate relies on it)
    */
  private def writeTombstoneUnits(spark: SparkSession, c: Commit,
                                  d: DelUnit): Unit = {
    val base = s"${c.snap.root}/del_${d.id}"
    val (fs, _) = fsFor(spark, base)
    // no distinct: key sets are set-semantic (see keyJoin)
    val k = d.keys.select(col(d.keys.columns.head)
      .cast(c.snap.schema(d.keyCol).dataType).as("key"))
    k.write.mode(SaveMode.Overwrite).parquet(s"$base/keys")
    writeSchemaSidecar(fs, s"$base/keys", k.schema)
    val scan = c.snap.upTo(d.id - 1)
    scanVictimEntriesTo(spark, scan, c.spec, d.keyCol, d.id, s"$base/ixdelta")
    writeTokens(fs, scan, d.id)
    val kc = fs.create(new org.apache.hadoop.fs.Path(s"$base/_KEYCOL"), true)
    try kc.write(d.keyCol.getBytes("UTF-8")) finally kc.close()
  }

  /** Row-level DELETE: remove every live row whose `keyCol` value
    * appears in `keys` (any single-column frame; values cast to the
    * data column's type). Merge-on-read: nothing is rewritten — the
    * call commits one tombstone unit (key set + negative index
    * segment). Indexing the victims scans every committed segment
    * below the tombstone's id, semi-joined to the persisted key set
    * (only the matching rows reach the index build), but never
    * rewrites the corpus. `keys` should be driver-small: the point
    * reads hold each tombstone's key set on the driver.
    * When the persisted key set reads as one split, the victims it
    * bounds are indexed in one task after the parallel scan; a key
    * set too large for one split (an upsert's is as large as its
    * batch) keeps the parallel index build.
    * Every open/openAt/rowsOf read serves the
    * post-delete state, and [[compact]] later folds the tombstones
    * into the data physically. Returns the tombstone's snapshot id.
    *
    * Applies to data appended BEFORE the delete only — a key
    * re-appended afterwards is live (the Iceberg/Delta semantics).
    * When the store carries row-refs, `keyCol` must be the refs key
    * column — deleting by any other column would leave the refs
    * artifact serving deleted rows (checked against `spec`). Safe to
    * run concurrently with appends — even appends WRITING the victim
    * keys — and with other deletes: the post-publish [[heal]] nets
    * whatever the victim scan missed (see the concurrency-contract
    * notes above). compact/vacuum stay exclusive.
    */
  def delete(spark: SparkSession, dir: String, spec: IndexSpec,
             keyCol: String, keys: DataFrame): Int =
    deleteOn(spark, resolveSnapshot(spark, dir), spec, keyCol, keys)

  /** commit a delete of `keys` over `snap` ([[deleteCommit]]) */
  private def deleteOn(spark: SparkSession, snap: UnitSnapshot, spec: IndexSpec,
                       keyCol: String, keys: DataFrame): Int = {
    val c = deleteCommit(spark, snap, spec, keyCol, keys)
    commit(spark, c)
    c.del.get.id
  }

  /** a delete's own part: validated over `snap`, then a claimed id */
  private[core] def deleteCommit(spark: SparkSession, snap: UnitSnapshot,
                                 spec: IndexSpec, keyCol: String,
                                 keys: DataFrame): Commit = {
    validateDelete(snap, spec, keyCol)
    val id = claimUnitId(fsFor(spark, snap.root)._1, snap.root)
    Commit(snap, spec, del = Some(DelUnit(id, keyCol, keys)))
  }

  /** a delete's preconditions, checked over `snap`. Run BEFORE the
    * unit id is claimed (r13 advice #5 — the r13 claim-first ordering
    * permanently leaked a _claim_<id> file on any failed require,
    * skipping that id for the rest of the generation).
    */
  private def validateDelete(snap: UnitSnapshot, spec: IndexSpec,
                             keyCol: String): Unit = {
    spec.rowRefs.foreach(rk => require(rk == keyCol,
      s"store has row-refs keyed on '$rk' — delete must key on it too " +
        s"(got '$keyCol'), or the refs artifact would serve deleted rows"))
    // the columns the data read serves: the sidecars' union without
    // the hidden dropped names, so no merge-on-read frame is planned
    val live = snap.checked.schema.fieldNames.filterNot(_.startsWith(DroppedPrefix))
    require(live.contains(keyCol),
      s"no column '$keyCol' in store data (${live.mkString(",")})")
  }

  /** the victim scan of tombstone `id` over `scan`, a snapshot of the
    * units below it — shared by the first scan ([[writeTombstoneUnits]],
    * the unit's main `ixdelta`) and [[rescanTombstoneIndex]] (a fresh
    * VERSIONED delta): index the then-live victims (in one task when
    * the key set bounding them reads as one split) and write the
    * negated entries to `outDir`. SCOPED to ids below the tombstone's
    * own: it does not delete rows of HIGHER-id segments, so indexing
    * them as victims would over-negate; nor is its own key set
    * applied (a rescan of a committed tombstone would otherwise net
    * its victims to the empty set). The plan is built from `scan`
    * alone, so the coverage tokens the caller records from it equal
    * what the scan saw exactly.
    */
  private def scanVictimEntriesTo(spark: SparkSession, scan: UnitSnapshot,
                                  spec: IndexSpec, keyCol: String, id: Int,
                                  outDir: String): Unit = {
    // index the victims read back from the PERSISTED key set (the
    // write()/append() read-back discipline: a nondeterministic keys
    // plan must not net a different row set than the one recorded);
    // the then-live rule is the scoping dataAsOf already applies
    val keys = readUnits(spark, s"${scan.root}/del_$id/keys")
    IndexedFrame(victimsShaped(
        keyJoin(dataAsOf(spark, scan), keyCol, Seq(keys), "left_semi"), keys),
      spec).entries
      .select(col("field"), col("value"), (-col("f")).as("f"))
      .write.mode(SaveMode.Overwrite)
      .options(PointRead.SegWriteOptions).parquet(outDir)
  }

  /** tombstone `id`'s coverage tokens for a victim scan over `scan`:
    * `_scope_<seg>` for each segment it covered and `_delseen_<t>` for
    * each earlier tombstone whose victims the then-live rule excluded
    */
  private def writeTokens(fs: org.apache.hadoop.fs.FileSystem,
                          scan: UnitSnapshot, id: Int): Unit = {
    def token(name: String) = atomicCreate(fs,
      new org.apache.hadoop.fs.Path(s"${scan.root}/del_$id/$name"))
    scan.segIds.foreach(s => token(s"_scope_$s"))
    scan.dels.foreach { case (t, _) => token(s"_delseen_$t") }
  }

  /** the one healer of tombstone index netting (see the concurrency
    * contract). Each tombstone of `snap` with an
    * [[UnitSnapshot.unseen]] earlier tombstone gets one versioned
    * [[rescanTombstoneIndex]], which re-covers its segments too; each
    * other [[UnitSnapshot.unscoped]] pair gets [[coverSegment]]. A
    * fully tokened snapshot — every commit of a lone writer — costs
    * no I/O and no job. Returns whether it wrote, so a caller that
    * serves `snap` resolves again.
    */
  private def heal(spark: SparkSession, snap: UnitSnapshot,
                   spec: IndexSpec): Boolean = {
    val stale = snap.unseen.map(_._1).distinct
    stale.foreach(rescanTombstoneIndex(spark, snap.dir, spec, _))
    val pairs = snap.unscoped.filterNot(p => stale.contains(p._1))
    pairs.foreach { case (t, s) => coverSegment(spark, snap, spec, t, s) }
    stale.nonEmpty || pairs.nonEmpty
  }

  /** `live`, healed ([[heal]]): resolved again when the heal wrote */
  private def healed(spark: SparkSession, live: UnitSnapshot,
                     spec: IndexSpec): UnitSnapshot =
    if (heal(spark, live, spec)) resolveSnapshot(spark, live.dir) else live

  /** READER-SAFE index-netting repair for one committed tombstone,
    * run by [[heal]]: re-run its victim scan against everything
    * committed NOW — the rescan resolves afresh, so the then-live
    * rule lands correctly even when the original scan raced an
    * earlier delete (for disjoint key sets it rewrites the same
    * entries). O(victims), never a corpus pass.
    *
    * SAFE UNDER CONCURRENT READERS: the fresh delta is written to a
    * brand-new `ixdelta_v<k>` directory (version slot claimed by
    * `_ixvclaim_<k>`, create-if-absent) and published by an atomic
    * `_IXPUBLISHED` marker — a concurrent [[mergedIndex]] /
    * [[openAt]] / point read either still sees the previous delta
    * (the pre-heal state, exactly what it was already serving) or
    * the complete new one, never a partial write. The version
    * records which per-segment `ixrepair_*` units its scan folded
    * (a `_folds` sidecar, underscore-named so the parquet reader
    * skips it); [[tombstoneIxDirs]] serves the highest published
    * version plus only the UNfolded repairs. Superseded versions
    * are reclaimed when the generation retires (compact/vacuum).
    */
  private[core] def rescanTombstoneIndex(spark: SparkSession, dir: String,
                                         spec: IndexSpec, id: Int): Unit = {
    val live = resolveSnapshot(spark, dir)
    val root = live.root
    // the key column it recorded, named as of its id — the names its
    // scan reads the data in
    val keyCol = live.dels.toMap.getOrElse(id, throw new IllegalArgumentException(
      s"del_$id is not a committed tombstone under $root"))
    val (fs, _) = fsFor(spark, dir)
    // claim a fresh version slot — two concurrent healers (both
    // sides of a race may try) land on distinct slots; both rescans
    // are post-conflict and self-consistent, so either winning the
    // "highest published" read is correct
    var k = 1
    while (!atomicCreate(fs, new org.apache.hadoop.fs.Path(
      s"$root/del_$id/_ixvclaim_$k"))) k += 1
    val out = s"$root/del_$id/ixdelta_v$k"
    val scan = live.upTo(id - 1)
    scanVictimEntriesTo(spark, scan, spec, keyCol, id, out)
    // record the repairs this version folds: its scan covered every
    // segment it listed, so those segments' ixrepair units (complete
    // OR in flight — a racer that resolved before our listing
    // publishes into a segment we cover) must not be summed on top
    val folds = fs.create(
      new org.apache.hadoop.fs.Path(s"$out/_folds"), true)
    try folds.write(scan.segIds.mkString("\n").getBytes("UTF-8"))
    finally folds.close()
    // publish LAST — the marker flips readers to this version
    atomicCreate(fs, new org.apache.hadoop.fs.Path(s"$out/_IXPUBLISHED"))
    writeTokens(fs, scan, id)
  }

  /** idempotent repair of one (tombstone, segment) pair of `snap`:
    * scan JUST that segment for the tombstone's victims under the
    * then-live rule (rows an intermediate tombstone already killed
    * are excluded) and publish their negated index entries as
    * `del_<id>/ixrepair_<segId>` (read by every index merge
    * alongside the main ixdelta). O(segment), never a corpus pass.
    * A pair whose repair is already published (its coverer died
    * before the token), whose segment is empty, or whose segment has
    * no key column gets the token alone.
    *
    * CRASH-SAFE ORDERING: the entries are written to a
    * `_ixtmp_*` staging dir, atomically RENAMED to
    * `ixrepair_<segId>`, and the `_scope_<segId>` coverage token is
    * claimed LAST — so a token can never exist without the repair it
    * stands for. Tmp orphans are never read (and are reclaimed by
    * vacuum); a published repair missing its token is re-tokenized by
    * the next heal. Two healers of one pair compute identical
    * entries, so either publication is correct. The loser of the
    * rename race deletes its tmp, or, where a rename onto an existing
    * dir moves the source INTO it (HDFS, local), leaves it under the
    * published repair, where its `_` prefix keeps every reader off it.
    */
  private def coverSegment(spark: SparkSession, snap: UnitSnapshot,
                           spec: IndexSpec, id: Int, segId: Int): Unit = {
    import snap.root
    val (fs, _) = fsFor(spark, root)
    val keyCol = snap.dels.toMap.apply(id)
    // the segment's files carry the names of ITS era; map them to the
    // names current at the tombstone's id so the repair entries match
    // the ixdelta's vocabulary (renames after `id` then apply to both
    // uniformly at read)
    lazy val seg = {
      val raw = snap.segData(spark, segId)
      val rens = snap.rensBetween(segId, id)
      if (rens.isEmpty) raw
      else raw.select(raw.columns.map(c =>
        col(c).as(currentName(c, rens))).toSeq: _*)
    }
    if (!snap.repaired(id, segId) && snap.manifests(segId).nonEmpty &&
        seg.columns.contains(keyCol)) {
      val keys = readUnits(spark, s"$root/del_$id/keys")
      val victims = snap.thenLiveVictims(spark, seg, segId, id, keyCol, keys)
      if (!victims.isEmpty) { // else the token alone records the coverage
        val repaired = new org.apache.hadoop.fs.Path(
          s"$root/del_$id/ixrepair_$segId")
        val tmp = new org.apache.hadoop.fs.Path(s"$root/del_$id/_ixtmp_" +
          s"${segId}_${java.util.UUID.randomUUID.toString.take(8)}")
        IndexedFrame(victimsShaped(victims, keys), spec).entries
          .select(col("field"), col("value"), (-col("f")).as("f"))
          .write.mode(SaveMode.Overwrite)
          .options(PointRead.SegWriteOptions)
          .parquet(tmp.toString)
        if (!fs.rename(tmp, repaired)) fs.delete(tmp, true)
      }
    }
    atomicCreate(fs,
      new org.apache.hadoop.fs.Path(s"$root/del_$id/_scope_$segId"))
  }

  /** the index-delta directories of committed tombstone `id`, from its
    * dir listing `names`: first the live main delta — the highest
    * PUBLISHED `ixdelta_v<k>` rescan version if any
    * ([[rescanTombstoneIndex]]), else the original `ixdelta` — plus
    * any completed conflict repairs (`ixrepair_<seg>`, published by
    * their `_SUCCESS`) the live version has not folded (its `_folds`
    * sidecar)
    */
  private def tombstoneIxDirs(fs: org.apache.hadoop.fs.FileSystem,
                              root: String, id: Int,
                              names: Seq[String]): Seq[String] = {
    val base = s"$root/del_$id"
    val published = names.filter(_.startsWith("ixdelta_v"))
      .flatMap(n => scala.util.Try(
        n.stripPrefix("ixdelta_v").toInt).toOption)
      .filter(k => fs.exists(new org.apache.hadoop.fs.Path(
        s"$base/ixdelta_v$k/_IXPUBLISHED")))
    val (main, folded) =
      if (published.isEmpty) (s"$base/ixdelta", Set.empty[Int])
      else {
        val k = published.max
        val f = readSmallText(fs, s"$base/ixdelta_v$k/_folds")
          .split("\n").toSeq.filter(_.nonEmpty).map(_.toInt).toSet
        (s"$base/ixdelta_v$k", f)
      }
    val repairs = names
      .filter(_.startsWith("ixrepair_"))
      .filterNot(n => scala.util.Try(
        n.stripPrefix("ixrepair_").toInt).toOption.exists(folded))
      .filter(n => fs.exists(
        new org.apache.hadoop.fs.Path(s"$base/$n/_SUCCESS")))
      .map(n => s"$base/$n")
    main +: repairs.sorted
  }

  /** the store's commit HISTORY (the DESCRIBE HISTORY analog):
    * one row per committed unit of the live generation, ascending —
    * (snapshot id, kind, detail) where kind is "append" (a data
    * segment; detail = #files its manifest names, batch segments
    * recognizable by their `batch_<id>/` paths) or "delete" (a
    * tombstone; detail = the key column). Driver-side metadata reads
    * only — no Spark job.
    */
  def history(spark: SparkSession, dir: String): Seq[(Int, String, String)] = {
    val snap = resolveSnapshot(spark, dir)
    val appends = snap.segIds.map(id =>
      (id, "append", s"files=${snap.manifests(id).size}"))
    val dels = snap.dels.map { case (id, kc) => (id, "delete", s"key=$kc") }
    val rens = snap.rens.map { case (id, from, to) =>
      (id, "rename", s"$from->$to")
    }
    (appends ++ dels ++ rens).sortBy(_._1)
  }

  /** predicate DELETE — the `DELETE WHERE` face of [[delete]]: keys
    * are resolved from the live data under `condition` (one pruned
    * scan of the matching rows' key column), then the tombstone
    * protocol applies unchanged. Returns the tombstone's snapshot id.
    */
  def deleteWhere(spark: SparkSession, dir: String, spec: IndexSpec,
                  keyCol: String, condition: Column): Int = {
    val snap = resolveSnapshot(spark, dir).checked
    deleteOn(spark, snap, spec, keyCol,
      dataAsOf(spark, snap).where(condition).select(keyCol))
  }

  /** UPSERT (merge-by-key) — the CDC / re-curation path ("replace
    * these docs with their rescrubbed versions, add the new ones"):
    * one tombstone for the batch's keys followed by one append of the
    * batch. Correct BY the segment scoping — the tombstone deletes
    * only pre-existing rows and the appended segment postdates it, so
    * matched keys are replaced, unmatched keys are inserts, untouched
    * rows stay. Cost: O(matching rows) to net the index + O(batch) to
    * append — never a corpus rewrite (the reference's only update
    * path, `Dfs.scala:476-487`, rewrites the whole merge). IDEMPOTENT
    * on content: re-upserting the same batch deletes its own previous
    * copy and re-appends identical rows (spec-pinned). The batch must
    * be key-unique (duplicate keys in one batch all land — they
    * cannot tombstone each other). Returns the append's snapshot id.
    *
    * CRASH-ATOMIC (r11 advice). The tombstone claims its id first,
    * then the segment claims a larger one, so the tombstone scopes
    * over exactly the pre-existing segments. Both units then go
    * through one [[commit]]: step 1 writes the tombstone (keys, victim
    * `ixdelta`, `_KEYCOL`) beside the segment's data, entries and
    * refs; step 2 publishes the segment's `_MANIFEST`, then the
    * tombstone's `_COMMITTED`. So there are two crash states. A crash
    * anywhere before the manifest leaves the store byte-for-byte
    * UNCHANGED for readers (both units unpublished and invisible;
    * vacuum reclaims them), never the matched-keys-deleted-with-no-
    * replacement state an eager commit allowed. A crash between the
    * manifest and the tombstone's marker leaves BOTH copies visible
    * (duplicates, no data loss); re-running the same upsert repairs
    * it, because the new tombstone postdates and covers both copies.
    *
    * Like every write here: single writer; when the store carries
    * row-refs, `keyCol` must be the refs key column (delegated check).
    */
  def upsert(batch: DataFrame, dir: String, spec: IndexSpec,
             keyCol: String): Int = {
    val spark = batch.sparkSession
    rejectReservedNames(batch.schema, spec)
    // both halves validated before either id is claimed
    val snap = checkedForAppend(batch, dir)
    validateDelete(snap, spec, keyCol)
    val (fs, _) = fsFor(spark, dir)
    val delId = claimUnitId(fs, snap.root)
    val segId = claimUnitId(fs, snap.root)
    // the one heal is the segment's post-publish check too (the
    // upsert's own replacement segment has a larger id and is
    // correctly out of the tombstone's scope)
    commit(spark, Commit(snap, spec,
      Some(SegUnit(segId, batch, s"seg_$segId", commitEmpty = false)),
      Some(DelUnit(delId, keyCol, batch.select(keyCol)))))
    segId
  }

  /** next id in the SHARED segment/tombstone counter (their total
    * order is what scopes deletes against appends). Counts CLAIMS as
    * well as unit dirs, so a crashed writer's claimed-but-never-
    * committed id is never re-candidate — ids are monotone for the
    * life of a generation.
    */
  private def nextUnitId(fs: org.apache.hadoop.fs.FileSystem,
                         root: String): Int =
    maxClaimedId(rootNames(fs, root)) + 1

  /** the largest id a unit dir or claim of a root listing holds (-1
    * when none): every later claim stays above it, so ids stay
    * monotone past crashed writers
    */
  private def maxClaimedId(names: Seq[String]): Int =
    Seq("seg_", "del_", "ren_", "_claim_").flatMap(unitIds(names, _))
      .foldLeft(-1)(math.max)

  /** write rows + index as segment 0 (reference writeIndexedDf):
    * steps 1 and 2 of a [[commit]] over an empty store, with the data
    * directly under `data/`; a fresh store has nothing to heal. Only
    * the store-owned `data/` and index subdirs are cleared — never the
    * whole target dir, which may be a path the caller also keeps
    * unrelated files under (a recursive root delete here would
    * silently destroy them).
    */
  def write(df: DataFrame, dir: String, spec: IndexSpec): Unit = {
    val spark = df.sparkSession
    rejectReservedNames(df.schema, spec)
    val (fs, base) = fsFor(spark, dir)
    // store-owned generation dirs are EXACTLY index_g<int> — the same
    // numeric parse currentIndexRoot applies, so a caller's unrelated
    // "index_global/" or "index_gen_notes/" is never deleted
    val stale = Seq(s"$dir/data", s"$dir/index") ++
      (if (fs.exists(base)) fs.listStatus(base).toSeq.map(_.getPath.getName)
          .filter(n => n.startsWith("index_g") &&
            scala.util.Try(n.stripPrefix("index_g").toInt).isSuccess)
          .map(n => s"$dir/$n")
       else Nil)
    stale.foreach { sub => // fresh store: clear prior segments + generations
      fs.delete(new org.apache.hadoop.fs.Path(sub), true)
    }
    // seg_0 is claimed like every unit, so a write() that dies before
    // its manifest leaves an invisible ghost that have() re-provides,
    // never a segment that reads as the pre-manifest layout
    atomicCreate(fs, claimPath(s"$dir/index", 0))
    val c = Commit(UnitSnapshot.empty(dir), spec,
      seg = Some(SegUnit(0, df, "", commitEmpty = true)))
    publish(spark, c, writeUnits(spark, c))
  }

  /** a segment's index units, built from its persisted rows: the
    * (field,value,f) entries at `seg_<id>` with the data's schema
    * sidecar, and — when the spec asks — the per-entry row-refs
    * artifact (the reference's bitmap payload, Dfs.scala:330-408) at
    * `rows_<id>`. The two are independent reads of the same rows onto
    * disjoint paths, so they are written side by side; the caller
    * publishes the manifest only after both have finished. Both plan
    * at `ix.df`'s partition count: callers hand a one-partition frame
    * for a read-back that scans as one split (see [[indexShaped]]),
    * whose entries aggregate and sort and whose refs sort then run in
    * the scan's own stage. `oneTask` writes each
    * as one task, so an empty batch's parquet still gets a readable
    * footer.
    */
  private def writeSegmentIndex(spark: SparkSession, ix: IndexedFrame,
                                root: String, id: Int,
                                oneTask: Boolean): Unit = {
    val (fs, _) = fsFor(spark, root)
    def shaped(df: DataFrame) = if (oneTask) df.repartition(1) else df
    inParallel(spark)({
      shaped(ix.entries).write.mode(SaveMode.Overwrite)
        .options(PointRead.SegWriteOptions).parquet(s"$root/seg_$id")
      writeSchemaSidecar(fs, s"$root/seg_$id", ix.df.schema)
    }, ix.spec.rowRefs.foreach { _ =>
      val rr = shaped(ix.rowRefs)
      rr.write.mode(SaveMode.Overwrite)
        .options(PointRead.RefsWriteOptions).parquet(s"$root/rows_$id")
      writeSchemaSidecar(fs, s"$root/rows_$id", rr.schema)
    })
  }

  /** DRIVER-SIDE read of a small persisted weight artifact (the
    * [[graft.ops.Knn.haveWeights]] parquet) — no Spark job, for
    * [[StoredFrame.knnPoint]]'s interactive path. Column reads share
    * one deterministic file order (name-sorted part files, row order
    * within), so per-column seqs zip back into aligned rows. Weight
    * tables are bounded (one row per distinct (field,value)) by
    * construction.
    */
  def readWeightsDriver(spark: SparkSession,
                        dir: String): Seq[(String, String, Double, Double)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = PointRead.readColumn(conf, p, "field")
    val v = PointRead.readColumn(conf, p, "value")
    val w1 = PointRead.readColumn(conf, p, "w1")
    val w2 = PointRead.readColumn(conf, p, "w2")
    f.indices.map(i => (f(i).asInstanceOf[String], v(i).asInstanceOf[String],
      w1(i).asInstanceOf[Double], w2(i).asInstanceOf[Double]))
  }

  /** reopen a written frame + its persisted index (openIndexedDf);
    * the served index is the merge-on-read union of all segments.
    * Runs [[heal]] first: netting a crashed or still-racing writer
    * left unhealed is healed before the merged index is served, so
    * the first reader already sees exact netting.
    *
    * COST: metadata only, like the reference's O(footers) reopen.
    * open() resolves the committed units once ([[resolveSnapshot]]:
    * listings, manifests and sidecars), heals over them — resolving
    * again only when the heal wrote — and builds the point face from
    * them; the plan faces — `frame`
    * (the data with its tombstone anti-joins), `persistedIndex` and
    * `rowRefs` — are planned from the same snapshot on their first
    * access, so a handle that only makes point reads plans no
    * DataFrame at all.
    * Errors the metadata decides (an older layout, a non-widening
    * schema union, no committed segment) still throw here; one that
    * only planning meets (say, a data file gone missing) throws at the
    * first access of the face that plans it.
    */
  def open(spark: SparkSession, dir: String, spec: IndexSpec): StoredFrame =
    openOn(spark, resolveSnapshot(spark, dir).checked, spec)

  /** [[open]] over `live`, a checked snapshot */
  private def openOn(spark: SparkSession, live: UnitSnapshot,
                     spec: IndexSpec): StoredFrame = {
    require(live.segIds.nonEmpty, s"no committed segment in ${live.dir}")
    val snap = healed(spark, live, spec)
    new StoredFrame(
      IndexedFrame(dataAsOf(spark, snap), spec),
      mergedIndex(spark, snap),
      refsAsOf(spark, snap),
      pointReader(spark, snap))
  }

  /** the driver-side point-read face for [[StoredFrame.fPoint]] /
    * [[StoredFrame.rowsOfPoint]], built from the handle's snapshot
    * with no I/O (footers, file handles and victim key sets load on
    * the first point lookup). Tombstones and renames are SERVED, not
    * fallback-ed (r13): the freq side sums segment entries plus the
    * tombstones' negative ixdelta/ixrepair units (the id scoping is
    * already encoded there), and the rows side groups segments by
    * their (tombstone, rename) era exactly like [[refsAsOf]], with
    * each era's victim key sets subtracted driver-side and the
    * queried field reverse-mapped to the era's physical name.
    */
  private def pointReader(spark: SparkSession,
                          snap: UnitSnapshot): PointRead.StorePoint = {
    // SNAPSHOT AT OPEN: the unit lists and era groups come from the
    // snapshot the handle's plan faces are built from, so
    // fPoint/rowsOfPoint answer over the same committed units as the
    // plan faces — a unit committed between open() and the first
    // lookup must not make the faces of one handle disagree
    import snap.{root, segIds}
    // freq units: index segments AND tombstone ix units, each at its
    // own id's rename era
    val unitDirs =
      segIds.map(id => id -> Seq(s"$root/seg_$id")).toMap ++ snap.delIxDirs
    val freqGroups: Seq[PointRead.FreqGroup] =
      snap.renameEras(segIds ++ snap.dels.map(_._1)).map { e =>
        (e.ids.flatMap(unitDirs).map(new org.apache.hadoop.fs.Path(_)),
          e.rens)
      }
    // committed segments only, mirroring refsAsOf's scoping
    val rowsGroups: Seq[PointRead.RowsGroup] = snap.eras(snap.refsIds)
      .map { e =>
        (e.ids.sorted.map(id =>
          new org.apache.hadoop.fs.Path(s"$root/rows_$id")),
          e.rens, e.dels.map(_._1))
      }
    val keyDirs = snap.dels.map { case (id, _) =>
      id -> new org.apache.hadoop.fs.Path(s"$root/del_$id/keys")
    }.toMap
    new PointRead.StorePoint(spark.sparkContext.hadoopConfiguration,
      freqGroups, rowsGroups, keyDirs)
  }

  /** Available snapshot ids of the live generation, ascending: each
    * append segment with a manifest is one snapshot, and each
    * committed tombstone is one too (openAt at a tombstone id reads
    * "just after that delete"); pass an id to [[openAt]].
    */
  def snapshots(spark: SparkSession, dir: String): Seq[Int] = {
    val snap = resolveSnapshot(spark, dir)
    (snap.segIds ++ snap.dels.map(_._1) ++ snap.rens.map(_._1)).sorted
  }

  /** TIME-TRAVEL read: the store AS OF append snapshot `upToSeg` —
    * data is planned over exactly the files the manifests of segments
    * 0..upToSeg name (later appends invisible; nothing copied), the
    * served index is the merge of the same segments, row-refs
    * likewise. This is the reproducibility contract a training
    * pipeline needs ("train on snapshot N while ingest continues"):
    * at 100 TB a snapshot read costs the same as a live read over the
    * same rows, because both are just file lists handed to the
    * parquet scan. Snapshots live within the current generation;
    * [[compact]] collapses history to the latest (manifest union) —
    * the table-format log-compaction semantics.
    */
  def openAt(spark: SparkSession, dir: String, spec: IndexSpec,
             upToSeg: Int): StoredFrame = {
    val live = healed(spark, resolveSnapshot(spark, dir).checked, spec)
    // the snapshot holds only the segments, tombstones and renames
    // committed at or before upToSeg, so every face below — data,
    // merged index and refs — serves the AS-OF rows and schema
    val snap = live.upTo(upToSeg)
    require(snap.segIds.nonEmpty,
      s"no snapshot <= $upToSeg in $dir (available: ${snapshots(spark, dir)})")
    new StoredFrame(IndexedFrame(dataAsOf(spark, snap), spec),
      mergedIndex(spark, snap), refsAsOf(spark, snap), pointReader(spark, snap))
  }

  /** write-if-absent then open (haveIndexedDf). "Present" means a
    * committed segment — a write() that died before its manifest left
    * only a claimed ghost, which is repaired by re-providing, not
    * served half-broken forever. An older layout is refused, never
    * overwritten.
    */
  def have(spark: SparkSession, dir: String, spec: IndexSpec)
          (provide: => DataFrame): StoredFrame = {
    val snap = resolveSnapshot(spark, dir).checked
    // a spec asking for row-refs is not satisfied by a store written
    // without them — re-provide rather than serve a refs-less frame
    if (snap.segIds.isEmpty || (spec.rowRefs.nonEmpty && snap.refsIds.isEmpty)) {
      write(provide, dir, spec)
      open(spark, dir, spec)
    } else openOn(spark, snap, spec)
  }

  /** incremental SEGMENTED append — the reference's merge-sorted
    * segment story (writeMergedIndexedDf, Dfs.scala:476-487) as
    * streaming ingest: new rows append as a parquet data segment and
    * the batch's index is written as a NEW index segment under
    * `<dir>/index/seg_<n>` — the existing index is neither read nor
    * rewritten, so append cost is O(batch), independent of how much
    * index already exists (the r2 version rewrote the full index per
    * batch — O(index) per append, quadratic over a stream's life).
    * Readers merge on read ([[mergedIndex]]); [[compact]] folds
    * accumulated segments back to one when read amplification grows.
    * Usable directly as a foreachBatch sink:
    * `.foreachBatch((b, _) => Store.append(b, dir, spec))`.
    *
    * CONCURRENT APPENDERS ARE SAFE (r12): each append claims its unit
    * id atomically (`_claim_<id>` create-if-absent — see the id-claims
    * protocol notes above) and writes only under its claimed paths,
    * so two pipelines appending to one store commit independent
    * segments with distinct ids, and a concurrent [[delete]] — even
    * of keys this append is writing — nets correctly via the
    * post-publish [[heal]] (see the concurrency contract above).
    * What remains EXCLUSIVE: [[compact]] and [[vacuum]] (they
    * supersede/reclaim shared state — a compact racing an in-flight
    * append would strand its segment in the retired generation).
    * foreachBatch already serializes batches; schedule compact
    * between batches (e.g. inside the same foreachBatch, every N
    * batches).
    *
    * DELIVERY: at-least-once — the segment is published by its
    * `_MANIFEST` (step 2 of [[commit]]). A crash before it leaves the
    * files step 1 wrote ORPHANED but INVISIBLE (the manifest-scoped
    * read plans only over committed segments' files; vacuum reclaims
    * orphans), so redelivery appends the rows exactly once into a
    * fresh segment — but a redelivery of a batch whose first attempt
    * DID publish appends it twice. For true exactly-once under
    * redelivery use [[appendBatch]], whose batchId-keyed segments make
    * the re-append a no-op.
    */
  def append(batch: DataFrame, dir: String, spec: IndexSpec): Unit = {
    val spark = batch.sparkSession
    rejectReservedNames(batch.schema, spec)
    // validated before the claim, so a refused batch leaves no trace
    val snap = checkedForAppend(batch, dir)
    // shared counter with tombstones: the seg/del total order is what
    // scopes deletes against later appends (a re-appended key lives).
    // CLAIMED atomically, so concurrent appenders get distinct ids, and
    // the batch's data files live under the claimed unit's own subdir
    // (data/seg_<id>): concurrent appenders write disjoint paths, and
    // a crashed attempt leaves an invisible orphan subdir. The heal
    // after the manifest covers a tombstone with a larger id that
    // scanned before this segment committed. An empty batch commits
    // nothing.
    val id = claimUnitId(fsFor(spark, dir)._1, snap.root)
    commit(spark, Commit(snap, spec,
      seg = Some(SegUnit(id, batch, s"seg_$id", commitEmpty = false))))
  }

  /** the live snapshot of `dir`, checked, once `batch` has passed
    * its schema validation. VALIDATE BEFORE MUTATING: a type-changed
    * column rejected only by unionSchema at open()/compact() time
    * would already have persisted its data files and sidecar —
    * leaving the store unreadable (both open and compact throw) with
    * no in-API repair path. Checking the incoming batch against the
    * existing segments' union here makes the contract violation fail
    * while the store is still intact. COST: resolveSnapshot reads
    * every segment's schema sidecar — O(segments) small reads per
    * append. That is the deliberate price of fail-before-mutate; an
    * append-heavy store keeps it cheap by compacting (which folds the
    * segments back to one) — the same cadence merge-on-read
    * amplification already demands.
    */
  private def checkedForAppend(batch: DataFrame, dir: String): UnitSnapshot = {
    val snap = resolveSnapshot(batch.sparkSession, dir).checked
    validateAppendSchema(snap.schema, batch.schema)
    snap
  }

  /** IDEMPOTENT batchId-keyed append — the exactly-once face of
    * [[append]] for streaming ingest (the gap append's DELIVERY note
    * names): the batch's data files live under their OWN subdir
    * `<dir>/data/batch_<id>` (an Overwrite target, so a partial crash
    * leaves nothing a retry cannot cleanly replace) and the segment
    * id IS the batchId, so redelivery of a batch the store already
    * committed is a NO-OP — the store is untouched, byte for byte.
    * The commit point is the segment's `_MANIFEST`, published by step
    * 2 of [[commit]]: until it exists the batch is invisible to every
    * reader (the manifest-scoped read), so the crash windows are
    *   - within step 1 (data, then index units): no manifest, data
    *     invisible; the retry Overwrites both;
    *   - after the manifest: the retry is the no-op.
    * Net: at-least-once redelivery × this layout = exactly-once
    * visibility. Returns true iff this call committed the batch.
    *
    * Usable directly as the foreachBatch sink:
    * `.foreachBatch((b, id) => Store.appendBatch(b, dir, spec, id))`
    * — Structured Streaming redelivers with the SAME batchId after a
    * restart, which is exactly the key this layout needs.
    *
    * OWNERSHIP: the stream owns the store's id namespace (segment id
    * = batchId). Do not interleave [[append]] (it takes max+1, which
    * would collide with a future batch), and run [[delete]] only at
    * ids below the next batch — checked: a tombstone at or above this
    * batchId fails loudly. Single writer, as for append/compact.
    */
  def appendBatch(batch: DataFrame, dir: String, spec: IndexSpec,
                  batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val snap = resolveSnapshot(spark, dir).checked
    import snap.root
    rejectReservedNames(batch.schema, spec)
    require(batchId >= 0 && batchId <= Int.MaxValue.toLong,
      s"batchId out of segment-id range: $batchId")
    val segId = batchId.toInt
    val (fs, _) = fsFor(spark, dir)
    require(!snap.dels.exists(_._1 >= segId),
      s"a tombstone at id >= $segId exists — its delete would " +
        s"wrongly scope over this later batch; compact first or " +
        s"delete at reserved ids below the stream's next batch")
    require(!snap.rens.exists(_._1 >= segId),
      s"a rename at id >= $segId exists — it would wrongly remap " +
        s"this later batch's (already-current) column names; " +
        s"compact first or rename at ids below the stream's next batch")
    // IDEMPOTENCE GATE, two halves: (1) a batch at or below the
    // compact HIGH-WATER mark was folded away — its own manifest no
    // longer exists, but it IS committed (r11 advice: without this, a
    // stream restarted from a pre-compact checkpoint re-appends every
    // folded batch); (2) manifest presence == committed, as before.
    if (readHighWater(fs, root).exists(segId <= _)) return false
    if (snap.manifests.contains(segId)) return false
    // fail-before-mutate schema validation, as in append()
    validateAppendSchema(snap.schema, batch.schema)
    // claim the id (idempotent: re-creating our own claim after a
    // crashed attempt is a no-op) — the claim marks this as a current
    // writer's unit, so a crashed attempt's bare segment dir reads as
    // an invisible ghost, never as a pre-manifest segment
    atomicCreate(fs, claimPath(root, segId))
    commit(spark, Commit(snap, spec,
      seg = Some(SegUnit(segId, batch, s"batch_$segId", commitEmpty = true))))
  }

  /** STREAMING UPSERT — the exactly-once CDC face (r13, the r12
    * verdict's #6): the foreachBatch sink for a stream whose batches
    * REPLACE rows by key ("re-curated docs arrive; swap them in, add
    * the new ones"). Each micro-batch is one [[upsert]] whose BOTH
    * unit ids key on the batchId — tombstone at `2*batchId`, segment
    * at `2*batchId + 1` — so at-least-once redelivery composes to
    * exactly-once visibility, the [[appendBatch]] contract extended
    * to the two-unit [[commit]]:
    *   - before anything persisted: redelivery re-runs in full;
    *   - within step 1 (the tombstone and the segment written side by
    *     side, before the segment's manifest): redelivery Overwrites
    *     the same unit dirs — byte-idempotent;
    *   - after the segment's manifest, before the tombstone's marker
    *     (the [[upsert]] duplicate window): redelivery FINISHES the
    *     commit ([[finish]]: the tombstone's marker, then the heal)
    *     instead of re-appending — the one window manual upsert
    *     retries cannot repair without re-running;
    *   - fully committed (or folded below `_HIGHWATER`): no-op.
    * The interleaved id layout preserves the scoping invariant a
    * CDC stream needs: batch N+1's tombstone (2N+2) postdates batch
    * N's segment (2N+1), so a key re-upserted every batch always
    * nets to exactly its latest copy. The commit's one heal follows
    * its last publish, as for every commit.
    *
    * Usable directly as the sink:
    * `.foreachBatch((b, id) => Store.upsertBatch(b, dir, spec, "k", id))`
    *
    * OWNERSHIP: the stream owns the store's id namespace under THIS
    * mapping — do not interleave [[append]]/[[appendBatch]]/manual
    * [[delete]] (checked like appendBatch: foreign units at or above
    * the batch's ids fail loudly). The batch must be key-unique, as
    * for [[upsert]]. Returns true iff this call changed the store.
    */
  def upsertBatch(batch: DataFrame, dir: String, spec: IndexSpec,
                  keyCol: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    rejectReservedNames(batch.schema, spec)
    require(batchId >= 0 && batchId < (Int.MaxValue / 2).toLong,
      s"batchId out of the 2*batchId segment-id range: $batchId")
    val delId = (2 * batchId).toInt
    val segId = delId + 1
    val snap = resolveSnapshot(spark, dir).checked
    val root = snap.root
    val (fs, _) = fsFor(spark, dir)
    // idempotence gates FIRST (a redelivered batch must see its own
    // prior progress before any ownership require can misfire on the
    // later batches that legitimately followed it)
    if (readHighWater(fs, root).exists(segId <= _)) return false
    val segCommitted = snap.manifests.contains(segId)
    // ownership proof for the committed-segment no-op (r13 advice #2):
    // this stream drops a `_STREAM` marker into its del unit dir
    // BEFORE writing anything else, so a committed segment at segId
    // with no marker is necessarily FOREIGN (an interleaved append()
    // that claimed 2b+1) — without this check the idempotence gate
    // would read it as "already delivered" and silently drop the
    // batch's data. (A store streamed by a pre-marker version fails
    // loudly here on REdelivery of an old batch — conservative, and
    // one compact() raises `_HIGHWATER` past the old ids.)
    val streamMarked = fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/_STREAM"))
    require(!segCommitted || streamMarked,
      s"a FOREIGN committed segment occupies seg_$segId — upsertBatch " +
        s"owns the id namespace (tombstone 2b, segment 2b+1) and would " +
        s"otherwise silently no-op and DROP this batch; keep append()s " +
        s"off upsert-streamed stores")
    val delStarted = fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/_KEYCOL"))
    val delCommitted = fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/del_$delId/_COMMITTED"))
    if (segCommitted && (delCommitted || !delStarted)) return false
    // a tombstone only when prior segments exist (the first batch on an
    // empty store has nothing to replace)
    val hasPrior = snap.segIds.exists(_ < delId)
    val c = Commit(snap, spec,
      Some(SegUnit(segId, batch, s"batch_$segId", commitEmpty = true)),
      if (hasPrior) Some(DelUnit(delId, keyCol, batch.select(keyCol))) else None)
    // the upsert duplicate window: the replacement segment landed but
    // the tombstone's marker did not — finish the commit (a started
    // tombstone means a prior segment existed)
    if (segCommitted) return finish(spark, c, manifest = None)
    // ownership: no FOREIGN committed unit at or above this batch's
    // ids (later batches of this stream sit strictly above segId and
    // are handled by the gates; an append()'s max+1 unit or a manual
    // delete would collide exactly here). A COMMITTED tombstone at
    // delId itself with our segment uncommitted is necessarily
    // foreign — ours commits only after the segment — and rewriting
    // its unit dirs would corrupt it.
    require(!delCommitted,
      s"a foreign committed tombstone occupies del_$delId — " +
        s"upsertBatch owns the id namespace (tombstone 2b, segment " +
        s"2b+1); keep manual deletes below the stream's ids")
    require(!snap.dels.exists(_._1 > delId),
      s"a foreign tombstone at id > $delId exists — upsertBatch owns " +
        s"the id namespace (tombstone 2b, segment 2b+1); compact first " +
        s"or keep manual deletes below the stream's ids")
    require(!snap.rens.exists(_._1 >= delId),
      s"a rename at id >= $delId exists — it would wrongly remap this " +
        s"later batch's columns; compact first")
    // both halves validated before any id is claimed, as in upsert
    validateAppendSchema(snap.schema, batch.schema)
    if (hasPrior) validateDelete(snap, spec, keyCol)
    // claim both ids (idempotent re-creates after a crash) and stamp
    // stream ownership FIRST — everything later (tombstone subdirs,
    // segment manifest) postdates the marker, so committed-without-
    // marker can only mean a foreign unit
    atomicCreate(fs, new org.apache.hadoop.fs.Path(s"$root/del_$delId/_STREAM"))
    atomicCreate(fs, claimPath(root, delId))
    atomicCreate(fs, claimPath(root, segId))
    commit(spark, c)
  }

  /** the generation's committed-batch HIGH-WATER mark: every unit id
    * at or below it is committed (its segment may have been folded
    * away by compact). Written by [[compact]]; consumed by
    * [[appendBatch]]'s idempotence gate.
    */
  private def readHighWater(fs: org.apache.hadoop.fs.FileSystem,
                            root: String): Option[Int] =
    readSmall(fs, s"$root/_HIGHWATER")
      .flatMap(t => scala.util.Try(t.trim.toInt).toOption)

  /** merge-on-read over all index segments: union of the per-segment
    * (field,value,f) frames re-aggregated. One shuffle over index
    * entries (small by construction — the index is the aggregate, not
    * the data); parquet's field/value column stats still prune
    * per-segment point reads.
    *
    * SINGLE-SEGMENT FAST PATH: a store that was write()n once or has
    * been compacted holds exactly one segment, which is already
    * aggregated and written in sorted (field, value) clustering — it
    * is served AS-IS, so a point f() lookup is a pruned parquet read
    * with no shuffle at all (the mmap-bitmap-open analog; this is the
    * steady-state shape, since compact exists precisely to return a
    * store to one segment). Row ORDER of the returned frame is
    * unspecified in both paths — consumers order as needed (they all
    * do); an always-on global sort here would bill every point lookup
    * for a display order nothing consumes.
    */
  private[core] def mergedIndex(spark: SparkSession,
                                snap: UnitSnapshot): DataFrame = {
    import org.apache.spark.sql.functions._
    import snap.{root, rens}
    // COMMITTED segments only: a crashed append may have written its
    // index segment but died before the manifest (the commit point) —
    // its data files are invisible to the manifest-scoped read, so its
    // index entries must be equally invisible or f() counts ghost rows
    val segPaths = snap.segIds.map(id => s"$root/seg_$id")
    val delFrames = snap.dels.map { case (id, _) =>
      // a tombstone's ixdelta (and its conflict repairs) speak the
      // names current at its id — later renames map their field
      // column like any older unit's
      val d = readIx(spark, snap.delIxDirs(id))
      if (rens.isEmpty) d
      else d.select(mappedFieldExpr(snap.rensAfter(id)).as("field"),
        col("value"), col("f"))
    }
    if (segPaths.length == 1 && delFrames.isEmpty && rens.isEmpty)
      readIx(spark, segPaths)
    else {
      // index segments written before a rename carry the OLD field
      // name — map per rename era (id-suffix grouping, as in the
      // data read); with no renames this is one glob read, as in r11
      val segFrames =
        if (rens.isEmpty) Seq(readIx(spark, segPaths))
        else snap.renameEras(snap.segIds)
          .map { e =>
            readIx(spark, e.ids.map(id => s"$root/seg_$id"))
              .select(mappedFieldExpr(e.rens).as("field"),
                col("value"), col("f"))
          }
      // tombstone ixdeltas ride the same sum: the negated victim
      // counts net the deleted rows out with no data rescan, and a
      // fully-deleted entry (f = 0) disappears
      val summed = (segFrames ++ delFrames)
        .reduce(_ unionByName _)
        .groupBy("field", "value").agg(sum("f").as("f"))
      // entries of DROPPED fields map into the hidden namespace —
      // filter them like the data read drops the hidden columns
      snap.visibleEntries(
        if (delFrames.isEmpty) summed else summed.where(col("f") =!= 0L))
    }
  }

  /** the persisted row-refs (field, value, row_key) of `snap`'s
    * segments, or None if the store was written without
    * [[IndexSpec.withRowRefs]]. No merge shuffle: row keys are unique
    * across segments by construction (each data row is appended
    * once), so the union IS the merged refs table; per-segment
    * (field,value) parquet stats still prune point reads. Tombstones
    * apply with the same segment scoping as the data (delete()
    * requires the delete key to BE the refs key column, so the
    * anti-join is on row_key). A store without tombstones or
    * renames is one era: a single glob read.
    */
  private def refsAsOf(spark: SparkSession,
                       snap: UnitSnapshot): Option[DataFrame] = {
    import snap.root
    val segIds = snap.refsIds
    if (segIds.isEmpty) None
    else Some(snap.eras(segIds).map { e =>
      val raw = readUnits(spark, e.ids.map(id => s"$root/rows_$id"): _*)
      // refs written before a rename carry the OLD field name
      val refs0 =
        if (e.rens.isEmpty) raw
        else raw.select(mappedFieldExpr(e.rens).as("field"),
          col("value"), col("row_key"))
      snap.withoutDeleted(spark, snap.visibleEntries(refs0),
        e.dels.map { case (id, _) => (id, "row_key") })
    }.reduce(_ unionByName _))
  }

  /** fold all index segments into one — run when a stream has
    * accumulated enough segments that merge-on-read amplification
    * matters (the reference's explicit writeMergedIndexedDf step).
    *
    * READER-SAFE: the merged index is written as a brand-new
    * generation and published by its `_COMMITTED` marker; nothing the
    * previous generation's readers hold is touched. Only generations
    * OLDER than the one being replaced are reclaimed, so a frame
    * opened before this compact stays readable until the NEXT compact
    * — `append` is advertised as a foreachBatch sink, and a sink must
    * never invalidate a concurrent reader mid-query.
    *
    * SINGLE WRITER: reader-safe does not mean writer-safe — see the
    * contract on [[append]]; do not run compact concurrently with an
    * in-flight append on the same store.
    *
    * SNAPSHOT HISTORY COLLAPSES (like table-format log compaction):
    * the folded segment's manifest is the union of the old
    * generation's manifests, so "latest" stays time-travel-readable
    * while intermediate snapshots retire with their generation. The
    * fold covers the committed segments; a claimed segment that never
    * committed — a crashed append — stays out, as it stays out of
    * every read, and vacuum reclaims its files.
    *
    * UPGRADE: compact is the one op that reads an older layout (see
    * the older-layouts notes), and one compact publishes it as a
    * current generation. Units that lack only their `_SCHEMA` sidecar
    * get one inferred from their parquet footers ([[backfillSidecars]])
    * before the ordinary fold; loose index files and pre-manifest
    * segments fold with no data rewrite ([[upgradeFold]]). A compact
    * that dies before the `_COMMITTED` marker leaves those layouts in
    * place, still refused, for a rerun. A store with no committed
    * segment and no older layout has nothing to fold.
    *
    * REFUSES a store without row refs whose tombstone netting a
    * crashed writer left unhealed ([[UnitSnapshot.uncovered]],
    * [[UnitSnapshot.unseen]]): compact has no IndexSpec to heal with,
    * and its fold would keep the wrong counts for good. One open with
    * the store's IndexSpec heals it.
    */
  def compact(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    val live = resolveSnapshot(spark, dir)
    val snap =
      if (backfillSidecars(spark, live)) resolveSnapshot(spark, dir) else live
    if (snap.older.nonEmpty) return upgradeFold(spark, snap)
    if (snap.segIds.isEmpty) return
    snap.checked
    // with no IndexSpec there is no heal here, and a refs-less fold
    // would keep the un-netted counts for good (see WHICH index folds)
    if (snap.refsIds.isEmpty && (snap.uncovered.nonEmpty || snap.unseen.nonEmpty))
      throw new IllegalStateException(
        s"$dir holds tombstone index netting no open has healed yet " +
          s"(a writer died before its post-publish heal): open it once " +
          s"with its IndexSpec, then compact")
    // eager checkpoints (independent, so side by side): every read of
    // the old generation's index completes here, before any directory
    // is created or deleted
    val (merged, rows) = inParallel(spark)(
      mergedIndex(spark, snap).localCheckpoint(true),
      refsAsOf(spark, snap).map(_.localCheckpoint(true)))
    val (fs, _) = fsFor(spark, dir)
    val dels = snap.dels
    val rens = snap.rens
    // the folded segment KEEPS the max retired unit id — ids never
    // rewind across a compact. This is what makes compaction safe
    // under appendBatch's exactly-once protocol: a crash between an
    // in-foreachBatch compact and the engine's epoch commit redelivers
    // the just-folded batchId, and the idempotence gate must still
    // find a committed segment at that id (a seg_0 rename would read
    // as "not yet appended" and duplicate the batch).
    // ... but the max COMMITTED unit id: a crashed writer's claim or
    // unit dir above it must not raise the fold id (and with it the
    // high-water mark), or a legitimate redelivery of that
    // never-committed batch would be silently swallowed by the
    // idempotence gate.
    val foldId = (snap.segIds ++ dels.map(_._1) ++ rens.map(_._1)).max
    // WHICH index folds (r14): with live tombstones AND a refs
    // artifact, the entries are REBUILT from the folded refs
    // (f ≡ refs count per entry by construction, and the refs view
    // is keys-based/anti-joined — exact even where a tombstone's
    // scan-derived netting is unhealed). Without refs the merged
    // (netted) index folds as-is, which is why a refs-less store
    // with unhealed netting was refused above.
    val foldedEntries = (dels, rows) match {
      case (ds, Some(r)) if ds.nonEmpty =>
        r.groupBy(col("field"), col("value"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("f"))
      case _ => merged
    }
    publishFold(spark, snap, foldId, foldedEntries, rows,
      if (dels.isEmpty && rens.isEmpty)
        (snap.segIds.flatMap(snap.manifests).distinct, snap.schema)
      else {
        // PHYSICAL DELETE: live tombstones fold into the data — the
        // surviving rows are rewritten as fresh files and the folded
        // segment's manifest names ONLY those, so the new generation
        // is tombstone-free and every read is one clean scan branch
        // again; RENAMES fold too, since no rename unit can apply to
        // the fold id and only a rewrite gives its files the CURRENT
        // names. The superseded files are NOT touched (the retained
        // generation's readers still plan over them); vacuum()
        // reclaims everything the live manifests no longer reference.
        // The mergedIndex/refsAsOf checkpoints above already carry the
        // tombstones netted/anti-joined, so index, refs and data fold
        // consistently inside the same atomic publish. Nothing else
        // writes under <dir>/data while compact runs (it is exclusive;
        // the index folds write under the new root), so the listing
        // diff is exactly this rewrite's files.
        val before = dataFilesRel(fs, dir)
        val data = dataAsOf(spark, snap)
        data.write.mode(SaveMode.Append).parquet(s"$dir/data")
        ((dataFilesRel(fs, dir) -- before).toSeq.sorted, data.schema)
      })
  }

  /** write the `_SCHEMA` sidecar, inferred from the parquet footers,
    * of every unit of `snap` that the store reads with one but which
    * has none: committed segments (the sidecar describes their data
    * files) and tombstone key sets, both known from the snapshot, and
    * the refs units served, each probed once. Each sidecar appears
    * atomically, so a crash leaves every unit with a complete sidecar
    * or none. Returns whether any was written.
    */
  private def backfillSidecars(spark: SparkSession, snap: UnitSnapshot): Boolean = {
    import snap.{dir, root}
    val (fs, _) = fsFor(spark, dir)
    val missing =
      snap.segIds.filterNot(snap.sidecars.contains).map(id =>
        s"$root/seg_$id" -> snap.manifests(id).map(n => s"$dir/data/$n")) ++
      snap.dels.map(_._1).filterNot(snap.keySchemas.contains).map { id =>
        val keys = s"$root/del_$id/keys"
        keys -> Seq(keys)
      } ++
      snap.refsIds.map(id => s"$root/rows_$id")
        .filterNot(rows => fs.exists(new org.apache.hadoop.fs.Path(s"$rows/_SCHEMA")))
        .map(rows => rows -> Seq(rows))
    missing.foreach { case (unit, files) =>
      publishFile(fs, s"$unit/_SCHEMA", spark.read.parquet(files: _*).schema.json)
    }
    missing.nonEmpty
  }

  /** the fold of a store holding loose index files or pre-manifest
    * segments, which no version of the store wrote beside tombstones
    * or renames, so nothing is rewritten: the folded segment's
    * manifest names every data file under `data/` (what the old
    * layouts served, by a recursive directory read), its sidecar is
    * the schema that read infers, and its entries and refs are the sum
    * and union of every index and refs unit but a claimed one that
    * never committed (a crashed current append, invisible before too)
    */
  private def upgradeFold(spark: SparkSession, snap: UnitSnapshot): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    import snap.{dir, names, root}
    require(snap.dels.isEmpty && snap.rens.isEmpty,
      s"$dir holds an older layout beside tombstones or renames, which " +
        s"no version of the store wrote; rewrite it with write()")
    val (fs, _) = fsFor(spark, dir)
    def served(prefix: String) = unitIds(names, prefix).filterNot(id =>
      !snap.manifests.contains(id) && names.contains(claimPath(root, id).getName))
    val segs = served("seg_")
    val entries = readIx(spark, names.filter(looseIndexFile).map(n => s"$root/$n") ++
        segs.map(id => s"$root/seg_$id"))
      .groupBy(col("field"), col("value")).agg(sum("f").as("f"))
    val rows = Some(served("rows_").map(id => s"$root/rows_$id"))
      .filter(_.nonEmpty).map(dirs => spark.read.parquet(dirs: _*))
    publishFold(spark, snap, (segs :+ 0).max, entries, rows,
      (dataFilesRel(fs, dir).toSeq.sorted,
        spark.read.option("recursiveFileLookup", "true")
          .parquet(s"$dir/data").schema))
  }

  /** write a fold into generation gen+1 of `snap` and publish it: the
    * `entries` as `seg_<foldId>`, sorted by (field, value) so its
    * parquet stats prune point reads like a write()n segment's do,
    * and the `refs` re-clustered as `rows_<foldId>`, beside `data`,
    * which yields the folded segment's manifest and schema. The three
    * write disjoint paths and read only the retiring generation, so
    * they run side by side, and all finish before the manifest,
    * sidecar, `_HIGHWATER` and `_COMMITTED` land: the publish point
    * covers complete files. Generations two compacts old are then
    * reclaimed.
    */
  private def publishFold(spark: SparkSession, snap: UnitSnapshot, foldId: Int,
                          entries: DataFrame, refs: Option[DataFrame],
                          data: => (Seq[String], org.apache.spark.sql.types.StructType)): Unit = {
    import org.apache.spark.sql.functions.col
    val (fs, base) = fsFor(spark, snap.dir)
    val newRoot = s"${snap.dir}/index_g${snap.gen + 1}"
    // a compact that died before its marker left this generation
    // uncommitted: its units must not leak into this one
    fs.delete(new org.apache.hadoop.fs.Path(newRoot), true)
    val ((files, schema), _) = inParallel(spark)(data,
      inParallel(spark)(
        entries.orderBy("field", "value")
          .write.mode(SaveMode.Overwrite)
          .options(PointRead.SegWriteOptions)
          .parquet(s"$newRoot/seg_$foldId"),
        // row-refs fold to one re-clustered segment inside the same
        // atomic publish (the _COMMITTED marker below covers both)
        refs.foreach { r =>
          r.repartitionByRange(col("field"), col("value"), col("row_key"))
            .sortWithinPartitions("field", "value", "row_key")
            .write.mode(SaveMode.Overwrite)
            .options(PointRead.RefsWriteOptions)
            .parquet(s"$newRoot/rows_$foldId")
          writeSchemaSidecar(fs, s"$newRoot/rows_$foldId", r.schema)
        }))
    writeManifest(fs, s"$newRoot/seg_$foldId", files)
    writeSchemaSidecar(fs, s"$newRoot/seg_$foldId", schema)
    // HIGH-WATER: every unit id <= foldId is committed-and-folded —
    // appendBatch's idempotence gate consults this so a stream
    // restarted from a pre-compact checkpoint cannot re-append a
    // folded batch (r11 advice). Monotone across compacts (the fold
    // id never rewinds) and rides inside the same _COMMITTED publish.
    val hw = fs.create(
      new org.apache.hadoop.fs.Path(s"$newRoot/_HIGHWATER"), true)
    try hw.write(foldId.toString.getBytes("UTF-8")) finally hw.close()
    // a crashed writer's id above the fold carries over as a claim:
    // no later claim reuses it, and a redelivered batch still lands
    // on it (appendBatch re-creates its own claim as a no-op)
    val claimed = maxClaimedId(snap.names)
    if (claimed > foldId) atomicCreate(fs, claimPath(newRoot, claimed))
    fs.create(new org.apache.hadoop.fs.Path(s"$newRoot/_COMMITTED")).close()
    // reclaim generations at least two compacts old (never `gen`
    // itself — in-flight readers may still be planned against it)
    reclaimBelow(fs, base, snap.dir, snap.gen)
  }

  private def reclaimBelow(fs: org.apache.hadoop.fs.FileSystem,
                           base: org.apache.hadoop.fs.Path,
                           dir: String, gen: Int): Unit = {
    val stale =
      (if (gen > 0) Seq(s"$dir/index") else Nil) ++
      fs.listStatus(base).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("index_g"))
        .flatMap(n => scala.util.Try(n.stripPrefix("index_g").toInt).toOption)
        .filter(_ < gen)
        .map(g => s"$dir/index_g$g")
    stale.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
  }

  /** reclaim every superseded generation INCLUDING the one the last
    * compact retained — without paying for a merge. Use when the
    * retention window has served its purpose (no reader still holds a
    * frame planned before the last compact); a reader that does hold
    * one will fail on its next execution, which is exactly the
    * contract violation the caller asserted away. [[compact]] already
    * reclaims generations two compacts old on its own, so vacuum is
    * only needed to trim the LAST retained generation of a store that
    * has stopped compacting.
    */
  def vacuum(spark: SparkSession, dir: String): Unit = {
    val (fs, base) = fsFor(spark, dir)
    // an older layout is refused before anything is reclaimed: no
    // manifest describes its rows, so "unreferenced" files are live
    val snap = resolveSnapshot(spark, dir).checked
    val root = snap.root
    // here gen IS the live generation (inside compact it is the one
    // being superseded), so "strictly below gen" spares exactly the
    // live index and reclaims everything else
    reclaimBelow(fs, base, dir, snap.gen)
    // DATA files the live generation's manifests no longer reference
    // are unreachable by any future read — crashed appends' orphans,
    // and the pre-fold copies a tombstone-folding compact left for
    // the (just reclaimed) previous generation's readers. A dir with
    // no committed segment has no manifest to judge its files by.
    if (snap.segIds.nonEmpty) {
      val referenced = snap.segIds.flatMap(snap.manifests).toSet
      (dataFilesRel(fs, dir) -- referenced).foreach { rel =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/data/$rel"), false)
      }
      // prune batch subdirs emptied by the reclaim
      val dp = new org.apache.hadoop.fs.Path(s"$dir/data")
      if (fs.exists(dp)) fs.listStatus(dp).foreach { st =>
        if (st.isDirectory && fs.listStatus(st.getPath).isEmpty)
          fs.delete(st.getPath, false)
      }
      // uncommitted tombstone/rename units (a delete()/rename that
      // died before its marker) are invisible to every reader —
      // reclaim them too
      val committed = (snap.dels.map(d => s"del_${d._1}") ++
        snap.rens.map(r => s"ren_${r._1}")).toSet
      snap.names.filter(n => (n.startsWith("del_") || n.startsWith("ren_")) &&
          !committed(n))
        .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(s"$root/$n"), true))
      // SUPERSEDED tombstone-rescan versions (r15): within a committed
      // del unit, every `ixdelta_v<j>` other than the live main delta
      // [[tombstoneIxDirs]] serves — and the original `ixdelta` once a
      // version is live — is unreachable, as are the repair dirs the
      // live version's `_folds` subsumes. Unpublished versions crashed.
      // Reclaim under vacuum's existing no-stale-readers contract (a
      // reader planned before the heal may still hold the old delta's
      // files).
      snap.dels.foreach { case (id, _) =>
        val base = s"$root/del_$id"
        val names = snap.delNames(id)
        // crashed coverSegment staging dirs are never read — reclaim
        names.filter(_.startsWith("_ixtmp_")).foreach(n =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$base/$n"), true))
        val served = snap.delIxDirs(id)
        val live = served.head.stripPrefix(s"$base/")
        if (live != "ixdelta") names.foreach { n =>
          val stale =
            if (n == "ixdelta") true
            else if (n.startsWith("ixdelta_v")) n != live
            else if (n.startsWith("ixrepair_"))
              // folded by the live version's scan, or crashed
              // (no _SUCCESS) — either way never served again
              !served.contains(s"$base/$n")
            else false
          if (stale)
            fs.delete(new org.apache.hadoop.fs.Path(s"$base/$n"), true)
        }
      }
    }
  }

  /** Hive-layout partitioned write: `<dir>/data/<col>=<value>/…`. A
    * read with an equality/range predicate on the partition column
    * lists and scans ONLY the matching directories (partition
    * pruning: `PartitionFilters` in the scan, zero bytes read from
    * other partitions). This is the coarse-grained sibling of the
    * (field,value) index — at 100 TB the directory layout is the
    * first index any query hits, and it composes with the row-group
    * pushdown the plain layout already gets.
    */
  def writePartitioned(df: DataFrame, dir: String, partCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol)
      .parquet(s"$dir/data")

  /** reopen a partitioned write (partition column comes back as a
    * directory-derived column)
    */
  def openPartitioned(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/data")

  /** Z-ORDER clustered write (§2a.12i — the OPTIMIZE ZORDER layout
    * device of the table formats): rows sort by the Morton interleave
    * of two non-negative long keys ([[graft.functions.ZInterleave]],
    * a codegen'd expression), so each parquet file's (a, b) min/max
    * bounding box is a small square of the key plane instead of a
    * full-domain stripe — and a RANGE PREDICATE ON EITHER column (or
    * both) prunes most files from their footer stats alone. The 1-D
    * sorted layout ([[write]]'s index clustering, or a plain sort)
    * gives that pruning for one leading column only; z-order is what
    * a 100 TB store does when two query dimensions matter at once.
    * One range-partition exchange on the z key + a within-partition
    * sort — the layout cost is a single extra shuffle at write time,
    * amortized over every pruned read. StoreSpec asserts the actual
    * pruning property: per-file bounding-box area ≪ the unclustered
    * write's, on both dimensions.
    */
  def writeZOrdered(df: DataFrame, dir: String, a: Column, b: Column,
                    numFiles: Int = 16): Unit = {
    import org.apache.spark.sql.functions.{col, floor, least, lit, max, min}
    val al = a.cast("long")
    val bl = b.cast("long")
    // DOMAIN NORMALIZATION (what the table formats' OPTIMIZE ZORDER
    // does before interleaving): each key is min/max-scaled to a
    // 16-bit bucket id, then the BUCKETS are Morton-interleaved.
    // Interleaving raw values breaks on unequal domains — with
    // a ∈ [0, 2^20) and b ∈ [0, 2^14) the top 6 z bits come from `a`
    // alone, so the top-level file split degenerates to a 1-D sort on
    // `a` and a b-range predicate prunes almost nothing (measured:
    // 58% of rows still read; buckets cut it to ~12% — see
    // SURVEY §5). Normalization also makes ANY long domain (negative
    // keys included) legal and well-ordered — the contract hole
    // ZInterleave's low-32-bit read would otherwise leave opens only
    // on 2^32-wide BUCKET ids, which cannot occur. The min/max pass
    // is one agg over the write set — write-time cost, amortized over
    // every pruned read. Scaling is double-math: it shapes the LAYOUT
    // only (the data columns are untouched), so float rounding at
    // bucket edges is harmless.
    val stats = df.agg(min(al), max(al), min(bl), max(bl)).head()
    val clustered =
      if (stats.isNullAt(0) || stats.isNullAt(2)) df // empty/all-null keys
      else {
        def bucket(c: Column, lo: Long, hi: Long): Column =
          if (hi == lo) lit(0L)
          else least(lit(65535L), floor(
            (c.cast("double") - lit(lo.toDouble)) /
              (lit(hi.toDouble) - lit(lo.toDouble) + 1.0) * 65536.0)
            .cast("long"))
        val z = graft.functions.ZInterleave(
          bucket(al, stats.getLong(0), stats.getLong(1)),
          bucket(bl, stats.getLong(2), stats.getLong(3)))
        df.withColumn("__z", z)
          .repartitionByRange(numFiles, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
      }
    clustered.write.mode(SaveMode.Overwrite).parquet(s"$dir/data")
  }

  /** bucketed write for co-located joins: tables bucketed+sorted on
    * the same key join with NO shuffle on either side (the 100 TB
    * answer to "this join is run every day on the same key" — the
    * reference's single-node analog is its presorted merge,
    * Dfs.scala:222-228). Bucketing requires the table catalog, hence
    * saveAsTable rather than a path write.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
}

/** the k-entry interactive boolean result ([[StoredFrame.boolPoint]]):
  * the frame row count, per-term frequencies aligned with the query's
  * term order, and the n-way AND / OR counts — every other boolean
  * combination is a set identity over these
  */
final case class BoolPoint(n: Long, fs: Seq[Long], and: Long, or: Long) {
  /** rows matching NO term — the NOT of the union */
  def none: Long = n - or
  /** rows failing at least one term — the NOT of the intersection */
  def notAll: Long = n - and
}

/** a reopened store: the live IndexedFrame, the persisted index
  * table (pre-aggregated — index_freqs-style lookups hit the small
  * sorted parquet instead of rescanning the data), the row refs when
  * the store has them, and the driver-side point face.
  *
  * The three plan faces are passed BY NAME and built on their first
  * access: [[Store.open]] and [[Store.openAt]] hand over builders bound
  * to the handle's unit snapshot, which the point face reads too, so a
  * handle that only makes point reads plans no
  * DataFrame, and a face first used after later commits still serves
  * the open-time units (see the unit-snapshot notes in [[Store]]). A
  * face whose build throws is built again on its next access. A plain class, not a case class: there is no
  * structural equality or `copy`, which would have to build every
  * face.
  */
final class StoredFrame(frameOf: => IndexedFrame,
                        persistedIndexOf: => DataFrame,
                        rowRefsOf: => Option[DataFrame],
                        val point: PointRead.StorePoint) {
  lazy val frame: IndexedFrame = frameOf
  lazy val persistedIndex: DataFrame = persistedIndexOf
  lazy val rowRefs: Option[DataFrame] = rowRefsOf

  /** frequency of (field,value) from the persisted index — a pruned
    * point read, the analog of opening one bitmap's popcount.
    */
  def f(field: String, value: String): DataFrame = {
    import org.apache.spark.sql.functions._
    persistedIndex
      .where(col("field") === field && col("value") === value)
      .select(col("f"))
  }

  /** row keys matching one (field,value) served INDEX-ONLY from the
    * persisted row-refs — the analog of opening one bitmap and reading
    * its set bits (the base table is never touched; the point
    * predicate prunes to the refs files whose (field,value) stats
    * straddle the entry). Requires the store to have been written
    * with [[IndexSpec.withRowRefs]].
    */
  def rowsOf(field: String, value: String): DataFrame = {
    import org.apache.spark.sql.functions._
    rowRefs.getOrElse(throw new IllegalStateException(
        s"store has no row-refs artifact — write with withRowRefs"))
      .where(col("field") === field && col("value") === value)
      .select(col("row_key"))
  }

  /** INTERACTIVE single-point frequency: the total f for one
    * (field,value), served by the driver-side footer-pruned parquet
    * read (see [[PointRead]]; tombstones and renames applied, as [[f]]
    * applies them) — no Spark job, so the per-op floor is page I/O,
    * not scheduler round-trip. The BATCH spelling stays [[f]] / a
    * semi-join on the persisted index — Spark amortizes hundreds of
    * point ops far better than a driver loop would.
    */
  def fPoint(field: String, value: String): Long = point.freq(field, value)

  /** INTERACTIVE single-point row-refs membership: all row keys of
    * one (field,value) entry, driver-side (the analog of opening one
    * warm bitmap and reading its set bits). Requires
    * [[IndexSpec.withRowRefs]].
    */
  def rowsOfPoint(field: String, value: String): Seq[Any] =
    point.rows(field, value)

  /** INTERACTIVE point CO-OCCURRENCE rows (r13 — the reference's
    * second-most-used interactive op, `LBits.fAnd` over two opened
    * bitmaps): row keys matching BOTH (field,value) entries, as the
    * driver-side intersection of two point membership reads. Each
    * side rides [[rowsOfPoint]]'s fast path (warm footer caches,
    * page-pruned reads, no Spark job) with its transparent fallback;
    * the intersection is one linear pass. The BULK spelling stays
    * [[graft.core.IndexedFrame.countsDF]] — hundreds of pair counts
    * amortize better through one Spark plan.
    *
    * ORDERING (r14 semantics, documented per advice #4): results are
    * globally KEY-ASCENDING ([[PointRead.rowKeyCmp]] order — unsigned
    * UTF-8 for strings, matching Spark's sort), not first-argument
    * read order as in r13's Set-based spelling. Both paths agree: the
    * streaming merge emits ascending by construction and the plan
    * fallback sorts. Duplicate row_keys in the refs artifact violate
    * the refs contract; both paths DEDUP so a violation degrades to
    * set semantics rather than multiplying counts.
    */
  def rowsOfAndPoint(f1: String, v1: String,
                     f2: String, v2: String): Seq[Any] =
    rowsOfAllPoint(Seq((f1, v1), (f2, v2)))

  /** per-side frequency bound for the driver-side pair ops: above
    * this the two-pointer merge is no longer interactive-latency work
    * (tens of millions of key decodes single-threaded) and the plan
    * join amortizes it across executors — the pair ops fall back
    * transparently. 2M keys/side ≈ tens of ms of merge; memory is
    * O(1) either way (r13 verdict #2: the merge never holds a side).
    */
  val pairPointMaxF: Long = 2L * 1000 * 1000

  /** INTERACTIVE point co-occurrence count — popcount(a AND b), the
    * exact number `index_fand`'s plan spelling computes for the same
    * pair. Served as a STREAMING two-pointer merge of the two
    * entries' sorted row-key runs (O(1) memory — neither side is
    * materialized; see [[PointRead.StorePoint.andCount]]), f-gated
    * at [[pairPointMaxF]] per side with transparent plan fallback.
    */
  def fAndPoint(f1: String, v1: String, f2: String, v2: String,
                maxF: Long = pairPointMaxF): Long =
    point.andCount(f1, v1, f2, v2, maxF)
      .getOrElse(rowsOf(f1, v1).distinct()
        .join(rowsOf(f2, v2).distinct(), Seq("row_key")).count())

  /** INTERACTIVE point BOOLEAN ALGEBRA (r13 — `index_bool`'s
    * two-bitmap half served driver-side): (AND, OR, a∖b DIFF, XOR)
    * counts for two (field,value) entries from two freq point reads
    * plus ONE streaming merge-intersection — set identities do the
    * rest; no side is ever held in memory, and above the
    * [[pairPointMaxF]] gate the AND count comes from the plan join
    * instead (counts identical). (NOT needs the row count, a
    * frame-level fact — the plan spelling keeps it.)
    */
  def boolCountsPoint(f1: String, v1: String, f2: String, v2: String,
                      maxF: Long = pairPointMaxF): (Long, Long, Long, Long) = {
    val (fa, fb, and) =
      point.multiStats(Seq((f1, v1), (f2, v2)), maxF)
        .map { case (fs, and, _) => (fs(0), fs(1), and) }.getOrElse {
        val a = fPoint(f1, v1)
        val b = fPoint(f2, v2)
        (a, b, rowsOf(f1, v1).distinct()
          .join(rowsOf(f2, v2).distinct(), Seq("row_key")).count())
      }
    (and, fa + fb - and, fa - and, fa + fb - 2 * and)
  }

  /** K-ENTRY INTERACTIVE BOOLEAN ALGEBRA (r15 — closes the
    * reference's composed-bitmap-expression surface: chained `&`/`|`
    * over many open bitmaps, utils/LBits.scala:141-207
    * fAnd/createAnd/createOr and ioseq/IoBits.scala:24-90, which the
    * r14 face served for exactly two entries): per-term frequencies,
    * n-way AND and OR counts for ANY number of (field,value) terms
    * from ONE simultaneous streaming walk of the k merged row-key
    * runs ([[PointRead.StorePoint.multiStats]] — O(k) state, no side
    * held, the same inline [[pairPointMaxF]] gate per side), plus
    * the NOT counts the r14 face omitted: n rides the cached
    * [[nPoint]] field scan (exact for an identity-indexed never-null
    * `nField`, defaulting to the first term's field — the
    * [[coStatsPoint]] convention), so `none`/`notAll` are one
    * subtraction away. Transparent plan fallback (a gated hot entry,
    * or no term) computes identical counts from index-only refs
    * joins — never the base table.
    */
  def boolPoint(terms: Seq[(String, String)],
                maxF: Long = pairPointMaxF,
                nField: Option[String] = None): BoolPoint = {
    val nf = nField.orElse(terms.headOption.map(_._1))
    val fast = for {
      s <- point.multiStats(terms, maxF)
      n <- nf.map(nPoint)
    } yield BoolPoint(n, s._1, s._2, s._3)
    fast.getOrElse {
      // plan fallback: per-term f from the merged index, AND from
      // the k-way refs join, OR from the distinct union — index-only
      val fs = terms.map { case (f, v) => fPoint(f, v) }
      val sides = terms.map { case (f, v) => rowsOf(f, v).distinct() }
      val and =
        if (sides.isEmpty) 0L
        else sides.reduce(_.join(_, Seq("row_key"))).count()
      val or =
        if (sides.isEmpty) 0L
        else sides.reduce(_.unionByName(_)).distinct().count()
      val n = nf.map(nPoint).getOrElse(frame.df.count())
      BoolPoint(n, fs, and, or)
    }
  }

  /** K-ENTRY row ENUMERATION, AND (r15 — the other half of 8e's
    * composed-bitmap surface: after composing `createAnd` bitmaps
    * the reference READS the set bits): the row keys matching ALL
    * `terms`, globally key-ascending, from one simultaneous k-stream
    * walk ([[PointRead.StorePoint.multiRows]] — memory is the answer
    * plus victim sets, like [[rowsOfAndPoint]]).
    */
  def rowsOfAllPoint(terms: Seq[(String, String)]): Seq[Any] =
    point.multiRows(terms, intersect = true)

  /** K-ENTRY row ENUMERATION, OR: the row keys matching ANY term —
    * the union of k sorted-run sets is itself one de-duplicated
    * k·m-run merge, so it never holds a side either.
    */
  def rowsOfAnyPoint(terms: Seq[(String, String)]): Seq[Any] =
    point.multiRows(terms, intersect = false)

  /** INTERACTIVE prefix NAVIGATION (r13 — the reference's index-nav
    * loop: enumerate a field's values under a prefix with their
    * frequencies, `index_prefix`'s single-op face): served by one
    * driver-side byte-range scan per era (no Spark job), tombstone
    * netting and rename mapping applied like [[fPoint]]. Empty
    * prefix lists the whole field. The BULK spelling stays the
    * `persistedIndex` filter — hundreds of prefixes amortize better
    * through one plan.
    */
  def prefixPoint(field: String, prefix: String): Seq[(String, Long)] =
    point.prefix(field, prefix)

  /** INTERACTIVE numeric-range NAVIGATION (r15 — the numeric sibling
    * of [[prefixPoint]], closing the reference's sorted typed entry
    * ordering, Dfs.scala:310-408 / `index_nav_num`'s plan row, as a
    * single-op driver-side face): every (value, net f) of `field`
    * whose value parses into [lo, hi], ordered by NATIVE numeric
    * value. Served by the same per-era byte-range field scan as
    * [[prefixPoint]] (bounded by entry cardinality — no Spark job),
    * tombstone netting and rename mapping riding the same sum. The
    * BULK spelling stays the `persistedIndex` filter — hundreds of
    * ranges amortize better through one plan.
    */
  def rangePoint(field: String, lo: Double,
                 hi: Double): Seq[(String, Long)] =
    point.range(field, lo, hi)

  /** net frame ROW COUNT served driver-side from the freq index:
    * Σ net f over one field's entries (one [[prefixPoint]]-style
    * range scan per era, tombstone netting riding the same sum) —
    * exact when `field` is identity-indexed and never null, because
    * each live row then contributes exactly one entry occurrence.
    * Cached per field for the handle's lifetime (the warm-mmap
    * model).
    */
  private val nPointCache = scala.collection.mutable.HashMap.empty[String, Long]
  def nPoint(field: String): Long =
    nPointCache.getOrElseUpdate(field, point.prefix(field, "").map(_._2).sum)

  /** INTERACTIVE CoStats (r14 — closes the reference's hot cofreq
    * loop, CoStats.scala:7-35 + DfTest.scala:236-253: open two
    * bitmaps, fAnd, then the smoothed statistics on the four
    * counts): CoStats is closed-form over (n, fA, fB, fAB), so the
    * whole op is the SAME two point reads [[fAndPoint]] pays — n
    * rides f1's field scan ([[nPoint]], cached after the first
    * call; exact for an identity-indexed never-null field) and
    * fA/fB/fAB come from one [[PointRead.StorePoint.multiStats]]
    * streaming walk. Transparent plan fallback (a gated hot entry)
    * computes the identical counts with one aggregation pass.
    */
  def coStatsPoint(f1: String, v1: String, f2: String, v2: String,
                   maxF: Long = pairPointMaxF): CoStats =
    point.multiStats(Seq((f1, v1), (f2, v2)), maxF)
      .map(s => CoStats(nPoint(f1), s._1(0), s._1(1), s._2))
      .getOrElse(frame.coStats(frame.predicate(f1, v1), frame.predicate(f2, v2)))

  /** INTERACTIVE single-query knn (r14 — the reference's `knn(k, v)`
    * posture, ml/Knn.scala:71-76: ONE query row served from the held
    * weights, no per-query build): walk every weighted entry's
    * membership stream into a driver-side distance accumulator —
    * the reference's bitmap-walk algorithm (Knn.scala:28-69) over
    * [[PointRead]] streams instead of mmap'd bitmaps. distance(r) =
    * baseline + Σ_{kv∈r∩W∖q} w1 − Σ_{kv∈r∩W∩q} w2 with baseline =
    * Σ_{kv∈q∩W} w2 — term-for-term what [[graft.ops.Knn.topK]]'s
    * plan computes, so the top-k (ties by key) pins to the plan row.
    *
    * The accumulator is O(n) driver memory — the reference's own
    * single-node posture — so the op self-gates: None when there is
    * no weight, when n (from [[nPoint]] on `weights`' first
    * field) exceeds `maxRows`, or when some rows carry NO weighted
    * feature (their keys are unenumerable driver-side but could tie
    * into the top-k at exactly `baseline`). Callers fall back to
    * [[graft.ops.Knn.topK]]. `weights` is the persisted artifact
    * read driver-side ([[Store.readTableDriver]] — no Spark job).
    */
  def knnPoint(weights: Seq[(String, String, Double, Double)],
               queryKVs: Map[String, String], k: Int,
               maxRows: Long = pairPointMaxF): Option[Seq[(Any, Double)]] =
    // k <= 0 mirrors the plan path's limit(0): empty, never a heap
    // probe on an empty PriorityQueue (r14 advice #2)
    if (k <= 0) Some(Seq.empty)
    else {
      val nFieldOpt = weights.headOption.map(_._1)
      val n = nFieldOpt.map(nPoint).getOrElse(0L)
      if (nFieldOpt.isEmpty || n > maxRows) None
      else {
        val baseline = weights.collect {
          case (f, v, _, w2) if queryKVs.get(f).contains(v) => w2
        }.sum
        // presize to ~n (capped — a caller-raised maxRows must not
        // overflow the int ctor); HashMap grows past the cap fine
        val acc = new java.util.HashMap[Any, Double](
          math.min(n * 2, 1L << 26).toInt)
        weights.foreach { case (f, v, w1, w2) =>
          val delta = if (queryKVs.get(f).contains(v)) -w2 else w1
          point.rowStreams(f, v).foreach(_.foreach { key =>
            acc.merge(key, delta, (a, b) => a + b)
          })
        }
        if (acc.size.toLong != n) None
        else {
          // top-k by (round(score+baseline, 6), key) — the plan's
          // orderBy(distance, idCol) tie rule. Rounding every row
          // through BigDecimal + a full sort measured 312 ms of the
          // 671 ms op at 600k rows (SURVEY §2a row 14c); 6dp HALF_UP
          // rounding is MONOTONE in the raw double, so the top-k is
          // selected on RAW distances with a k-bounded max-heap and
          // only the boundary window (raws that could round into a
          // tie with the k-th) pays the exact BigDecimal — identical
          // results, O(n log k) + O(|window|) instead of
          // O(n·BigDecimal + n log n).
          // selection, pruning, and rounding all operate on the SAME
          // s + baseline doubles (r14 advice #1 — pruning on raw s
          // while rounding s + baseline let a large-|baseline| fp add
          // collapse a gap wider than the threshold, so a pruned
          // candidate could round equal to the k-th and win the key
          // tie-break; folding baseline first makes the monotonicity
          // argument airtight at every magnitude)
          val heap = scala.collection.mutable.PriorityQueue.empty[Double]
          acc.forEach((_, s) => {
            val t = s + baseline
            if (heap.size < k) heap.enqueue(t)
            else if (t < heap.head) { heap.dequeue(); heap.enqueue(t) }
          })
          // anything with raw ≤ kthRaw + 1e-6 can round equal to the
          // k-th rounded value and win on the key tie-break
          val threshold =
            if (heap.size < k) Double.PositiveInfinity
            else heap.head + 1.001e-6
          val cand = scala.collection.mutable.ArrayBuffer.empty[(Any, Double)]
          acc.forEach((key, s) => {
            val t = s + baseline
            if (t <= threshold) cand += ((key,
              BigDecimal(t).setScale(6,
                BigDecimal.RoundingMode.HALF_UP).toDouble))
          })
          val ord = new Ordering[(Any, Double)] {
            override def compare(a: (Any, Double), b: (Any, Double)): Int = {
              val c = java.lang.Double.compare(a._2, b._2)
              if (c != 0) c else PointRead.rowKeyCmp(a._1, b._1)
            }
          }
          Some(cand.sorted(ord).take(k).toSeq)
        }
      }
    }
}
