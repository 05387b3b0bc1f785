package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** INCREMENTAL derived artifacts, maintained SEGMENT-PARALLEL to a
  * [[Store]] (r11 verdict #3): the netted-index device applied to
  * derived tables.
  *
  * A derived artifact (BM25 postings, ExactSubstr windows, per-doc
  * fingerprints …) whose build is PER-ROW DECOMPOSABLE — build(A ∪ B)
  * = build(A) ∪ build(B) — does not need a full corpus pass when the
  * store ingests a batch. The artifact mirrors the store's segment
  * structure: for each committed data segment `seg_<id>` the family
  * holds `<dir>/art/<family>/seg_<id>`, built from THAT segment's
  * manifest files only. Refresh after an append therefore scans
  * exactly the delta segment (plan-asserted in SegmentedArtifactSpec)
  * — steady-state ingest cost is O(batch), independent of corpus
  * size. DELETES need no artifact write at all: reads anti-join the
  * store's own tombstone key sets with the store's id scoping (a
  * tombstone applies to artifact segments with smaller ids), exactly
  * how the store nets its index. The read result is row-identical to
  * a from-scratch build over the live data (hash-oracled end-to-end
  * by the search_bm25_store_incr query).
  *
  * Lifecycle: artifact segments whose store segment retired (a
  * compact fold) are GC'd and the fold segment's artifact builds
  * fresh from the folded files — compact is already an O(corpus)
  * event, so the artifact rebuild rides its cadence. Renames are
  * refused (the artifact's columns embed names/values of its build
  * era; a renamed store compacts first, which folds the renames and
  * retires the old artifact segments with their generation's ids).
  *
  * Reference lifecycle analog: writeIndexedDf / openIndexedDf
  * (Dfs.scala:489-554) — build-once artifacts — upgraded from
  * rebuild-on-change to append-the-delta.
  */
object SegmentedArtifact {

  private def famRoot(dir: String, family: String) = s"$dir/art/$family"

  private def fsFor(spark: SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** artifact partial dirs read with the first one's `_SCHEMA`
    * sidecar, skipping the per-call schema-inference job (r15), or by
    * inference for partials built before the sidecars
    */
  private[core] def readPartials(spark: SparkSession,
                                 dirs: Seq[String]): DataFrame = {
    val (fs, _) = fsFor(spark, dirs.head)
    Store.readSchemaSidecar(fs, dirs.head)
      .fold(spark.read)(spark.read.schema(_)).parquet(dirs: _*)
  }

  /** identity of a store segment's INPUT: the hash of its manifest's
    * sorted file list (what the artifact build read)
    */
  private[core] def manifestFingerprint(files: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    files.sorted.foreach(f => md.update((f + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** refresh-then-read: bring the family up to date with the store's
    * committed segments (building only the MISSING artifact segments,
    * each from its own segment's files) and return the live artifact
    * — per-segment artifacts unioned, tombstoned `keyCol` rows
    * anti-joined under the store's id scoping.
    *
    * `buildFor` must be per-row decomposable and must carry `keyCol`
    * through (the store's delete key column), or deletes cannot be
    * netted.
    */
  def have(spark: SparkSession, dir: String, family: String,
           keyCol: String)(buildFor: DataFrame => DataFrame): DataFrame = {
    refresh(spark, dir, family)(buildFor)
    read(spark, dir, family, keyCol)
  }

  /** build artifact segments for store segments that lack one;
    * returns the segment ids built THIS call (empty in steady state
    * between appends). GCs artifact segments whose store segment
    * retired (compact fold).
    */
  def refresh(spark: SparkSession, dir: String, family: String)
             (buildFor: DataFrame => DataFrame): Seq[Int] = {
    val snap = Store.resolveSnapshot(spark, dir).checked
    require(snap.rens.isEmpty,
      s"segmented artifacts on a renamed store: compact() first " +
        s"(folds the renames; the artifact rebuilds at the fold) ($dir)")
    val fam = famRoot(dir, family)
    val (fs, _) = fsFor(spark, dir)
    val segs = snap.segIds
    require(segs.nonEmpty, s"no committed segments in $dir")
    // fresh = the artifact segment exists AND was built from the
    // CURRENT manifest. The `_SRC` fingerprint guards the compact
    // fold that reuses the max retired unit id: the folded seg_<id>'s
    // manifest names the whole corpus while a pre-compact artifact at
    // the same id covered only the old delta — id equality alone
    // would silently serve it stale.
    val missing = segs.filterNot { id =>
      val art = s"$fam/seg_$id"
      fs.exists(new org.apache.hadoop.fs.Path(s"$art/_SUCCESS")) &&
        scala.util.Try(Store.readSmallText(fs, s"$art/_SRC")).toOption
          .contains(manifestFingerprint(snap.manifests(id)))
    }
    missing.foreach { id =>
      // read THIS segment's files with its own sidecar schema (the
      // delta read must not union-plan over other segments)
      val out = buildFor(snap.segData(spark, id))
      out.write.mode(SaveMode.Overwrite).parquet(s"$fam/seg_$id")
      Store.writeSchemaSidecar(fs, s"$fam/seg_$id", out.schema)
      val src = fs.create(
        new org.apache.hadoop.fs.Path(s"$fam/seg_$id/_SRC"), true)
      try src.write(manifestFingerprint(snap.manifests(id))
        .getBytes("UTF-8")) finally src.close()
    }
    // GC: artifact segments for retired (folded-away) store segments
    val live = segs.toSet
    val famPath = new org.apache.hadoop.fs.Path(fam)
    if (fs.exists(famPath)) fs.listStatus(famPath).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("seg_") &&
          scala.util.Try(n.drop(4).toInt).toOption.exists(!live.contains(_)))
        fs.delete(st.getPath, true)
    }
    missing
  }

  /** the live artifact: union of per-segment artifacts with the
    * store's committed tombstones anti-joined on `keyCol`, scoped by
    * id order exactly like the store's own data read — a key deleted
    * at tombstone id T disappears from artifact segments with ids
    * < T and survives in later ones (re-append semantics).
    */
  def read(spark: SparkSession, dir: String, family: String,
           keyCol: String): DataFrame = {
    val snap = Store.resolveSnapshot(spark, dir).checked
    val (fs, _) = fsFor(spark, dir)
    val fam = famRoot(dir, family)
    val segs = snap.segIds
    require(segs.nonEmpty, s"no committed segments in $dir")
    val parts = snap.eras(segs).map { e =>
      val segDirs = e.ids.map(id => s"$fam/seg_$id")
      val art = readPartials(spark, segDirs)
      snap.withoutDeleted(spark, art,
        e.dels.map { case (id, _) => (id, keyCol) })
    }
    parts.reduce(_ unionByName _)
  }
}

/** INCREMENTAL derived AGGREGATES, segment-parallel to a [[Store]] —
  * the negative-index-segment device ([[Store.delete]]'s ixdelta)
  * applied to derived COUNT tables (r11 verdict #3's "Knn weights"
  * case, where the artifact is an aggregation, not a row-keyed
  * table).
  *
  * A count artifact whose build is a per-row-decomposable SUM —
  * build(A ∪ B) nets to build(A) ⊎ build(B) under groupBy-sum — is
  * maintained as PARTIALS: one per committed data segment (built
  * from that segment's manifest files only, so an ingest batch costs
  * O(batch)) plus one NEGATIVE partial per (tombstone, earlier
  * segment) pair, built by scanning ONLY that segment's files
  * semi-joined to the tombstone's keys (O(segment ∩ victims), never
  * the corpus). Reads union the partials and groupBy-sum; a group
  * whose counts all net to zero disappears, exactly like a
  * fully-deleted index entry. Double-negation is impossible: the
  * victims of tombstone T in segment S exclude rows already killed
  * by an earlier tombstone T' (S < T' < T), mirroring how
  * [[Store.delete]] computes each ixdelta from the then-live data.
  *
  * Schema contract for `buildCounts`: group columns are every
  * non-LongType column; every LongType column is a summable count.
  * The contract is VALIDATED, not assumed (r12 advice): a build with
  * no LongType column fails loudly at refresh/read (previously an
  * opaque NoSuchElementException), and a build that carries the
  * store's delete key column through as a LongType fails too — that
  * column would be silently SUMMED as a count, corrupting the netted
  * aggregate without error. Group keys that are ids must be cast to
  * string/int by the build (the partials are small aggregates; the
  * cast costs nothing at read).
  */
object SegmentedAgg {

  /** the schema-contract gate shared by refresh (fail at build time,
    * before any partial persists) and read (legacy partials)
    */
  private def validateCountsSchema(
      schema: org.apache.spark.sql.types.StructType,
      keyCol: Option[String], where: String): Unit = {
    val longs = schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.LongType)
      .map(_.name)
    require(longs.nonEmpty,
      s"SegmentedAgg $where: buildCounts output has no LongType column " +
        s"— the contract is 'every LongType column is a summable " +
        s"count' (schema: ${schema.simpleString})")
    keyCol.foreach(k => require(!longs.contains(k),
      s"SegmentedAgg $where: the delete key column '$k' appears in the " +
        s"buildCounts output as LongType — it would be summed as a " +
        s"count and corrupt the netted aggregate; group on a " +
        s"non-Long cast of it or drop it from the output"))
  }

  private def famRoot(dir: String, family: String) = s"$dir/agg/$family"

  private def fsFor(spark: SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** refresh-then-read: build the missing partials, then serve the
    * netted aggregate. `keyCol` is the store's delete key (every
    * committed tombstone must be keyed on it).
    */
  def have(spark: SparkSession, dir: String, family: String,
           keyCol: String)(buildCounts: DataFrame => DataFrame): DataFrame = {
    refresh(spark, dir, family, keyCol)(buildCounts)
    read(spark, dir, family)
  }

  /** build partials missing for the store's committed segments and
    * tombstones; returns the partial dir names built THIS call
    * (empty in steady state). GC's partials for retired units.
    */
  def refresh(spark: SparkSession, dir: String, family: String,
              keyCol: String)
             (buildCounts: DataFrame => DataFrame): Seq[String] = {
    val snap = Store.resolveSnapshot(spark, dir).checked
    require(snap.rens.isEmpty,
      s"segmented aggregates on a renamed store: compact() first ($dir)")
    val fam = famRoot(dir, family)
    val (fs, _) = fsFor(spark, dir)
    val segs = snap.segIds
    require(segs.nonEmpty, s"no committed segments in $dir")
    val dels = snap.dels
    dels.foreach { case (_, dk) => require(dk == keyCol,
      s"tombstone keyed on '$dk' but the aggregate family nets on " +
        s"'$keyCol' — they must agree or deletes cannot be netted") }
    val built = Seq.newBuilder[String]

    // a partial is keyed to the manifest of the store segment it read
    def fingerprint(segId: Int) =
      SegmentedArtifact.manifestFingerprint(snap.manifests(segId))

    def fresh(art: String, segId: Int): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(s"$art/_SUCCESS")) &&
        scala.util.Try(Store.readSmallText(fs, s"$art/_SRC")).toOption
          .contains(fingerprint(segId))

    def stamp(art: String, segId: Int): Unit = {
      val src = fs.create(new org.apache.hadoop.fs.Path(s"$art/_SRC"), true)
      try src.write(fingerprint(segId).getBytes("UTF-8")) finally src.close()
    }

    // per-segment positive partials
    segs.foreach { id =>
      val art = s"$fam/seg_$id"
      if (!fresh(art, id)) {
        val counts = buildCounts(snap.segData(spark, id))
        validateCountsSchema(counts.schema, Some(keyCol), s"refresh($fam)")
        counts.write.mode(SaveMode.Overwrite).parquet(art)
        Store.writeSchemaSidecar(fs, art, counts.schema)
        stamp(art, id)
        built += s"seg_$id"
      }
    }

    // per-(tombstone, earlier segment) negative partials over the
    // then-live victims (the snapshot's rule, as for the store's own
    // ixdelta/ixrepair units)
    dels.foreach { case (t, _) =>
      segs.filter(_ < t).foreach { s =>
        val art = s"$fam/del_${t}_seg_$s"
        if (!fresh(art, s)) {
          val counts = buildCounts(snap.thenLiveVictims(spark,
            snap.segData(spark, s), s, t, keyCol, snap.keys(spark, t)))
          validateCountsSchema(counts.schema, Some(keyCol),
            s"refresh($fam)")
          val negated = counts.select(counts.schema.fields.map { f =>
            if (f.dataType == org.apache.spark.sql.types.LongType)
              (-col(f.name)).as(f.name)
            else col(f.name)
          }.toSeq: _*)
          negated.write.mode(SaveMode.Overwrite).parquet(art)
          Store.writeSchemaSidecar(fs, art, negated.schema)
          stamp(art, s)
          built += s"del_${t}_seg_$s"
        }
      }
    }

    // GC partials of retired units (a compact fold retires both the
    // old segments and every tombstone)
    val liveSeg = segs.toSet
    val liveDel = dels.map(_._1).toSet
    val famPath = new org.apache.hadoop.fs.Path(fam)
    if (fs.exists(famPath)) fs.listStatus(famPath).foreach { st =>
      val n = st.getPath.getName
      val retired = n match {
        case s if s.startsWith("del_") =>
          s.stripPrefix("del_").split("_seg_") match {
            case Array(t, g) => scala.util.Try(
              !liveDel.contains(t.toInt) || !liveSeg.contains(g.toInt))
              .getOrElse(false)
            case _ => false
          }
        case s if s.startsWith("seg_") =>
          scala.util.Try(!liveSeg.contains(s.drop(4).toInt))
            .getOrElse(false)
        case _ => false
      }
      if (retired) fs.delete(st.getPath, true)
    }
    built.result()
  }

  /** the netted aggregate: union of all live partials, groupBy-sum
    * over the non-count columns; all-zero groups disappear
    */
  def read(spark: SparkSession, dir: String, family: String): DataFrame = {
    import org.apache.spark.sql.functions.sum
    val fam = famRoot(dir, family)
    val snap = Store.resolveSnapshot(spark, dir).checked
    val segs = snap.segIds
    require(segs.nonEmpty, s"no committed segments in $dir")
    val dels = snap.dels.map(_._1)
    val dirs = segs.map(id => s"$fam/seg_$id") ++
      (for (t <- dels; s <- segs if s < t) yield s"$fam/del_${t}_seg_$s")
    val all = SegmentedArtifact.readPartials(spark, dirs)
    validateCountsSchema(all.schema, None, s"read($fam)")
    val countCols = all.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.LongType)
      .map(_.name).toSeq
    val groupCols = all.columns.filterNot(countCols.contains).toSeq
    val summed = all.groupBy(groupCols.map(col): _*)
      .agg(sum(countCols.head).as(countCols.head),
        countCols.tail.map(c => sum(c).as(c)): _*)
    summed.where(countCols.map(c => col(c) =!= 0L).reduce(_ || _))
  }
}
