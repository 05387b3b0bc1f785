package graft

import graft.core.{IndexSpec, SegmentedArtifact, Store, Tables}
import org.apache.spark.sql.functions._

/** r12: incremental derived artifacts maintained segment-parallel to
  * a Store — refresh scans ONLY the delta segment, deletes net from
  * the store's tombstones at read, and the result is row-identical
  * to a from-scratch build over the live data.
  */
class SegmentedArtifactSpec extends SparkSpec {
  import spark.implicits._

  private val spec = IndexSpec(Seq("lang"))

  private def postings(df: org.apache.spark.sql.DataFrame) =
    graft.ops.Search.bm25Postings(df, col("text"), col("doc_id"))

  private def freshStore(slice: org.apache.spark.sql.Column): String = {
    val dir = tempDir("segart")
    Store.write(Tables.documents(spark, sfDir).where(slice), dir, spec)
    dir
  }

  test("refresh after an append reads ONLY the delta segment's files") {
    val dir = freshStore(col("doc_id") % 2 === 0)
    SegmentedArtifact.have(spark, dir, "post", "doc_id")(postings)
    Store.append(Tables.documents(spark, sfDir)
      .where(col("doc_id") % 2 === 1), dir, spec)
    var deltaScans = Seq.empty[String]
    val built = SegmentedArtifact.refresh(spark, dir, "post") { delta =>
      deltaScans = deltaScans :+ delta.queryExecution.executedPlan
        .toString.linesIterator.filter(_.contains("Location"))
        .mkString("\n")
      postings(delta)
    }
    // exactly one new artifact segment, and its input scan names only
    // the NEW segment's data subdir — the corpus (seg_0) untouched
    assert(built.size === 1)
    assert(deltaScans.size === 1)
    assert(deltaScans.head.contains(s"data/seg_${built.head}"),
      deltaScans.head)
    assert(!deltaScans.head.contains("data/seg_0"), deltaScans.head)
    // steady state: nothing to build
    assert(SegmentedArtifact.refresh(spark, dir, "post")(postings).isEmpty)
  }

  test("incremental read == from-scratch build over the live data, through append+delete+re-append") {
    val docs = Tables.documents(spark, sfDir)
    val dir = freshStore(col("doc_id") % 4 < 2)
    Store.append(docs.where(col("doc_id") % 4 === 2), dir, spec)
    Store.delete(spark, dir, spec, "doc_id",
      docs.where(col("doc_id") % 5 === 0).select("doc_id"))
    Store.append(docs.where(col("doc_id") % 4 === 3), dir, spec)
    val incr = SegmentedArtifact.have(spark, dir, "post", "doc_id")(postings)
    val full = postings(Store.open(spark, dir, spec).frame.df)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("tok", "doc_id", "dl", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val (ik, fk) = (key(incr), key(full))
    assert(ik === fk)
    // the delete actually bit: %5 keys from the pre-delete segments
    // are gone, but a %5 ∧ %4==3 doc arrived AFTER the delete → live
    assert(!ik.exists(k => k._2 % 5 == 0 && k._2 % 4 < 3))
    assert(ik.exists(k => k._2 % 5 == 0 && k._2 % 4 == 3))
  }

  test("compact retires stale artifact segments and the fold rebuilds identically") {
    val docs = Tables.documents(spark, sfDir)
    val dir = freshStore(col("doc_id") % 2 === 0)
    Store.append(docs.where(col("doc_id") % 2 === 1), dir, spec)
    Store.delete(spark, dir, spec, "doc_id",
      docs.where(col("doc_id") % 7 === 0).select("doc_id"))
    val before = SegmentedArtifact.have(spark, dir, "post", "doc_id")(postings)
      .count()
    Store.compact(spark, dir)
    val rebuilt = SegmentedArtifact.refresh(spark, dir, "post")(postings)
    assert(rebuilt.nonEmpty) // the fold segment built fresh
    val after = SegmentedArtifact.read(spark, dir, "post", "doc_id")
    assert(after.count() === before)
    // old artifact segments GC'd: only live store segments remain
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val artSegs = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/art/post"))
      .map(_.getPath.getName).filter(_.startsWith("seg_")).toSeq
    assert(artSegs.map(_.drop(4).toInt).sorted === rebuilt.sorted)
  }

  test("compact whose fold REUSES the max segment id does not serve a stale artifact") {
    // write -> append (no tombstone): the fold keeps the max retired
    // unit id, which here IS a segment id (seg_1) with an artifact
    // already built from only seg_1's files; the refreshed artifact
    // must cover the whole folded corpus, not silently serve the
    // stale delta-only build
    val docs = Tables.documents(spark, sfDir)
    val dir = freshStore(col("doc_id") % 2 === 0)
    Store.append(docs.where(col("doc_id") % 2 === 1), dir, spec)
    val before = SegmentedArtifact.have(spark, dir, "post", "doc_id")(postings)
      .count()
    Store.compact(spark, dir)
    val after = SegmentedArtifact.have(spark, dir, "post", "doc_id")(postings)
      .count()
    assert(after === before)
    val full = postings(Store.open(spark, dir, spec).frame.df).count()
    assert(after === full)
  }

  test("ExactSubstr windows as a segmented family: identical to the full build") {
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") % 3 === 0)
    val dir = tempDir("segartw")
    Store.write(docs.where(col("doc_id") % 2 === 0), dir, spec)
    Store.append(docs.where(col("doc_id") % 2 === 1), dir, spec)
    def wins(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Dedup.exactSubstrWindows(df, col("text"), col("doc_id"))
    val incr = SegmentedArtifact.have(spark, dir, "xswin", "doc_id")(wins)
    val full = wins(Store.open(spark, dir, spec).frame.df)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Array[Byte]](2).toSeq)).toSet // w is binary16 since r16
    assert(key(incr) === key(full))
    assert(incr.count() > 0)
  }

  test("IVF codes as a segmented family: artifact serve == inline ivfTopK over live rows") {
    import graft.ops.Similarity
    val e = Tables.embeddings(spark, sfDir)
    val dir = tempDir("segivf")
    val espec = IndexSpec(Seq("vec_id"))
    Store.write(e.where(col("vec_id") % 2 === 0), dir, espec)
    Store.append(e.where(col("vec_id") % 2 =!= 0), dir, espec)
    Store.delete(spark, dir, espec, "vec_id",
      e.where(col("vec_id") % 7 === 0).select("vec_id"))
    val cents = Similarity.leadingCentroids(e, 8)
    // encode each segment with the FROZEN quantizer; refresh after an
    // extra append must scan only the delta
    graft.core.SegmentedArtifact.have(spark, dir, "ivf_codes", "vec_id")(
      Similarity.ivfCodes(_, cents))
    Store.append(e.where(col("vec_id") % 21 === 0), dir, espec)
    var scans = Seq.empty[String]
    val built = SegmentedArtifact.refresh(spark, dir, "ivf_codes") { delta =>
      scans = scans :+ delta.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("Location")).mkString("\n")
      Similarity.ivfCodes(delta, cents)
    }
    assert(built.size === 1)
    assert(!scans.head.contains("seg_0") && !scans.head.contains("seg_1"),
      scans.head)
    val codes = SegmentedArtifact.read(spark, dir, "ivf_codes", "vec_id")
    val queries = e.where(col("vec_id") < 10)
    val served = Similarity.ivfServe(codes, queries, 5, 4, cents)
      .collect().toSeq
    val live = Store.open(spark, dir, espec).frame.df
      .select("vec_id", "embedding")
    val inline = Similarity.ivfTopK(live, queries, 5, nprobe = 4,
      centroids = Some(cents)).collect().toSeq
    assert(served === inline)
    // deleted-and-not-reappended vectors never surface as neighbors
    val nbrs = served.map(_.getAs[Long]("nbr")).toSet
    assert(nbrs.forall(n => n % 7 != 0 || n % 21 == 0))
  }

  test("a renamed store refuses segment-incremental refresh until compacted") {
    val dir = freshStore(col("doc_id") % 50 === 0)
    SegmentedArtifact.have(spark, dir, "post", "doc_id")(postings)
    Store.renameColumn(spark, dir, "n_chars", "chars")
    intercept[IllegalArgumentException] {
      SegmentedArtifact.refresh(spark, dir, "post")(postings)
    }
    Store.compact(spark, dir)
    val ok = SegmentedArtifact.have(spark, dir, "post", "doc_id")(postings)
    assert(ok.count() > 0)
  }
}
