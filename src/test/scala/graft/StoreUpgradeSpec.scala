package graft

import graft.core.{IndexSpec, SegmentedAgg, SegmentedArtifact, Store}
import org.apache.spark.sql.functions._

/** the older store layouts no current writer produces: every op but
  * `compact` refuses them with one message, without touching a file,
  * and one `compact` publishes them as a current generation that
  * serves what the older layouts served on their plan faces.
  */
class StoreUpgradeSpec extends SparkSpec {
  import spark.implicits._

  private val spec = IndexSpec(Seq("cat")).withRowRefs("id")

  private def rows(ids: Int*) = ids.map { i =>
    (i.toLong, Seq("a", "b", "a", "c", "b", "d")(i - 1), i * 10.0)
  }.toDF("id", "cat", "v").coalesce(1)

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rm(p: String): Unit =
    assert(fsOf(p).delete(new org.apache.hadoop.fs.Path(p), true), p)

  private def tmp(name: String) = tempDir(name)

  /** every file under `dir`, relative, with its length */
  private def files(dir: String): Set[(String, Long)] = {
    val base = new java.io.File(dir).toPath
    val walk = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => base.relativize(p).toString -> p.toFile.length).toSet
    } finally walk.close()
  }

  /** an older layout, what the store served from it before the upgrade
    * on its plan faces (rows, merged index, refs), and the layout name
    * the refusal gives
    */
  case class Layout(name: String, which: String, build: () => String,
                    served: Set[(Long, String, Double)],
                    index: Map[String, Long],
                    refs: Map[String, Seq[Long]])

  private val layouts = Seq(
    Layout("loose index", "loose index files", () => {
      // the pre-segment layout: data parquet and the index parquet
      // directly under <dir>/index
      val dir = tmp("loose")
      rows(1, 2, 3, 4).write.parquet(s"$dir/data")
      graft.core.IndexedFrame(rows(1, 2, 3, 4), spec).entries
        .write.parquet(s"$dir/index")
      dir
    }, Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0)),
      Map("a" -> 2L, "b" -> 1L, "c" -> 1L), Map.empty),
    Layout("pre-manifest only", "pre-manifest segments", () => {
      // two segments written by the pre-manifest protocol: neither a
      // manifest nor a writer's claim
      val dir = tmp("premanifest")
      Store.write(rows(1, 2, 3, 4), dir, spec)
      Store.append(rows(5, 6), dir, spec)
      Seq(0, 1).foreach { id =>
        rm(s"$dir/index/seg_$id/_MANIFEST"); rm(s"$dir/index/_claim_$id")
      }
      dir
    }, Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0),
        (5L, "b", 50.0), (6L, "d", 60.0)),
      Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L),
      Map("a" -> Seq(1L, 3L), "b" -> Seq(2L, 5L), "c" -> Seq(4L), "d" -> Seq(6L))),
    Layout("mixed", "pre-manifest segments", () => {
      // a current store plus a pre-manifest segment: a loose data file
      // at the data root and bare index and refs units
      val dir = tmp("mixed")
      Store.write(rows(1, 2), dir, spec)
      rows(4).write.parquet(s"$dir/data/legacy_extra")
      val fs = fsOf(dir)
      val part = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$dir/data/legacy_extra"))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/data/${part.getName}"))
      rm(s"$dir/data/legacy_extra")
      Seq(("cat", "c", 1L)).toDF("field", "value", "f")
        .write.parquet(s"$dir/index/seg_7")
      Seq(("cat", "c", 4L)).toDF("field", "value", "row_key")
        .write.parquet(s"$dir/index/rows_7")
      dir
    }, Set((1L, "a", 10.0), (2L, "b", 20.0), (4L, "c", 40.0)),
      Map("a" -> 1L, "b" -> 1L, "c" -> 1L),
      Map("a" -> Seq(1L), "b" -> Seq(2L), "c" -> Seq(4L))),
    Layout("sidecar-less segment", "segments without a _SCHEMA sidecar", () => {
      // a store from before the schema sidecars: a segment, a
      // tombstone key set and a refs unit without their _SCHEMA
      val dir = tmp("nosidecar")
      Store.write(rows(1, 2, 3, 4), dir, spec)
      Store.append(rows(5, 6), dir, spec)
      Store.delete(spark, dir, spec, "id", Seq(2L).toDF("id"))
      Seq("seg_0", "del_2/keys", "rows_0").foreach(u => rm(s"$dir/index/$u/_SCHEMA"))
      dir
    }, Set((1L, "a", 10.0), (3L, "a", 30.0), (4L, "c", 40.0), (5L, "b", 50.0),
        (6L, "d", 60.0)),
      Map("a" -> 2L, "b" -> 1L, "c" -> 1L, "d" -> 1L),
      Map("a" -> Seq(1L, 3L), "b" -> Seq(5L), "c" -> Seq(4L), "d" -> Seq(6L))))

  /** every op but compact refuses `dir` with the one message, and no
    * file under it changes (vacuum reclaims nothing)
    */
  private def assertRefused(dir: String, which: String): Unit = {
    val before = files(dir)
    val batch = Seq((9L, "z", 9.0)).toDF("id", "cat", "v")
    val ops: Seq[(String, () => Any)] = Seq(
      "open" -> (() => Store.open(spark, dir, spec)),
      "openAt" -> (() => Store.openAt(spark, dir, spec, 0)),
      "have" -> (() => Store.have(spark, dir, spec)(batch)),
      "append" -> (() => Store.append(batch, dir, spec)),
      "appendBatch" -> (() => Store.appendBatch(batch, dir, spec, 50L)),
      "upsert" -> (() => Store.upsert(batch, dir, spec, "id")),
      "upsertBatch" -> (() => Store.upsertBatch(batch, dir, spec, "id", 50L)),
      "delete" -> (() => Store.delete(spark, dir, spec, "id", Seq(1L).toDF("id"))),
      "deleteWhere" -> (() =>
        Store.deleteWhere(spark, dir, spec, "id", col("id") === 1L)),
      "renameColumn" -> (() => Store.renameColumn(spark, dir, "v", "w")),
      "dropColumn" -> (() => Store.dropColumn(spark, dir, "v")),
      "vacuum" -> (() => Store.vacuum(spark, dir)),
      "SegmentedArtifact.refresh" -> (() =>
        SegmentedArtifact.refresh(spark, dir, "fam")(identity)),
      "SegmentedAgg.refresh" -> (() =>
        SegmentedAgg.refresh(spark, dir, "agg", "id")(_.groupBy("cat").count())))
    ops.foreach { case (op, run) =>
      val msg = intercept[IllegalStateException](run()).getMessage
      assert(msg.startsWith(s"$dir holds an older store layout ($which") &&
        msg.endsWith("run Store.compact(spark, dir) once to upgrade it"),
        s"$op: $msg")
    }
    assert(files(dir) === before)
  }

  /** the upgraded store serves `l`'s rows, index and refs, and its
    * point face agrees with its plan faces on every entry
    */
  private def assertServes(dir: String, l: Layout): Unit = {
    val st = Store.open(spark, dir, spec)
    assert(st.frame.df.select("id", "cat", "v").as[(Long, String, Double)]
      .collect().toSet === l.served)
    val ix = st.persistedIndex.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ix === l.index.map { case (v, f) => ("cat", v) -> f })
    val refs = st.rowRefs.map(_.collect()
      .groupBy(_.getString(1)).map { case (v, rs) =>
        v -> rs.map(_.getLong(2)).toSeq.sorted }).getOrElse(Map.empty)
    assert(refs === l.refs)
    l.index.foreach { case (v, f) =>
      assert(st.fPoint("cat", v) === f, s"fPoint(cat, $v)")
      assert(st.f("cat", v).head().getLong(0) === f)
      if (l.refs.nonEmpty) assert(st.rowsOfPoint("cat", v) === l.refs(v))
    }
    assert(st.prefixPoint("cat", "") === l.index.toSeq.sorted)
  }

  layouts.foreach { l =>
    test(s"${l.name}: refused by every op but compact; compact upgrades it once") {
      val dir = l.build()
      assertRefused(dir, l.which)
      Store.compact(spark, dir)
      assertServes(dir, l)
      // the upgraded store is current: it takes commits, and a second
      // compact folds them
      Store.append(Seq((7L, "a", 70.0)).toDF("id", "cat", "v"), dir, spec)
      Store.compact(spark, dir)
      assert(Store.open(spark, dir, spec).fPoint("cat", "a") ===
        l.index("a") + 1)
    }
  }

  test("a compact that dies before its marker leaves the older layout refused; a rerun upgrades it") {
    layouts.filterNot(_.which.contains("_SCHEMA")).foreach { l =>
      val dir = l.build()
      Store.compact(spark, dir)
      // the state of a compact that died just before `_COMMITTED`:
      // every file of the new generation written, no marker
      rm(s"$dir/index_g1/_COMMITTED")
      assertRefused(dir, l.which)
      Store.compact(spark, dir)
      assertServes(dir, l)
    }
  }
}
