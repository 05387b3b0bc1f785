package graft

import graft.core.{IndexSpec, Store}
import org.apache.spark.sql.functions._

/** r12 schema evolution: int→long / float→double WIDENING (reads
  * promote the narrower physical segments — nothing rewritten),
  * metadata-only column RENAME units, narrowing still failing loudly,
  * and openAt serving the as-of schema.
  */
class StoreEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private val spec = IndexSpec(Seq("cat"))

  test("int->long widening: union serves long, old segments promote, narrowing fails") {
    val dir = java.nio.file.Files.createTempDirectory("widen").toString
    Store.write(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "cat", "n"),
      dir, spec)
    // widen: the new segment carries n as LONG (values past int range)
    Store.append(Seq((3L, "a", 5000000000L)).toDF("id", "cat", "n"),
      dir, spec)
    val live = Store.open(spark, dir, spec).frame.df
    assert(live.schema("n").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(live.orderBy("id").select("n").as[Long].collect().toSeq ===
      Seq(10L, 20L, 5000000000L))
    // openAt the first snapshot serves the AS-OF (narrow) schema
    val asOf = Store.openAt(spark, dir, spec, 0)
    assert(asOf.frame.df.schema("n").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // NARROWING fails loudly at the write, store intact
    intercept[IllegalArgumentException] {
      Store.append(Seq((4L, "c", 7)).toDF("id", "cat", "n"), dir, spec)
    }
    assert(Store.open(spark, dir, spec).frame.df.count() === 3)
    // non-widenable change still fails
    intercept[IllegalArgumentException] {
      Store.append(Seq((4L, "c", "oops")).toDF("id", "cat", "n"), dir, spec)
    }
  }

  test("float->double widening composes with compact") {
    val dir = java.nio.file.Files.createTempDirectory("widenf").toString
    Store.write(Seq((1L, "a", 1.5f)).toDF("id", "cat", "v"), dir, spec)
    Store.append(Seq((2L, "b", 2.5d)).toDF("id", "cat", "v"), dir, spec)
    def check(): Unit = {
      val live = Store.open(spark, dir, spec).frame.df
      assert(live.schema("v").dataType ===
        org.apache.spark.sql.types.DoubleType)
      assert(live.orderBy("id").select("v").as[Double].collect().toSeq ===
        Seq(1.5d, 2.5d))
    }
    check()
    Store.compact(spark, dir)
    check()
  }

  test("rename is metadata-only: data, index, f() and later appends all serve the new name") {
    val dir = java.nio.file.Files.createTempDirectory("ren").toString
    Store.write(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L))
      .toDF("id", "cat", "n"), dir, spec)
    val filesBefore = Store.history(spark, dir)
    Store.renameColumn(spark, dir, "cat", "category")
    val spec2 = IndexSpec(Seq("category"))
    val st = Store.open(spark, dir, spec2)
    assert(st.frame.df.columns.toSeq === Seq("id", "category", "n"))
    assert(st.frame.df.where($"category" === "a").count() === 2)
    // the persisted index's field column maps too
    assert(st.f("category", "a").head().getLong(0) === 2L)
    assert(st.persistedIndex.where(col("field") === "cat").count() === 0)
    // an append AFTER the rename writes the new name physically
    Store.append(Seq((4L, "c", 40L)).toDF("id", "category", "n"),
      dir, spec2)
    val st2 = Store.open(spark, dir, spec2)
    assert(st2.frame.df.count() === 4)
    assert(st2.f("category", "c").head().getLong(0) === 1L)
    // nothing was rewritten: same append history, one rename row
    assert(Store.history(spark, dir).count(_._2 == "append") ===
      filesBefore.count(_._2 == "append") + 1)
    assert(Store.history(spark, dir).exists(h =>
      h._2 == "rename" && h._3 == "cat->category"))
  }

  test("openAt before the rename serves the as-of (old) name") {
    val dir = java.nio.file.Files.createTempDirectory("renat").toString
    Store.write(Seq((1L, "a", 10L)).toDF("id", "cat", "n"), dir, spec)
    Store.renameColumn(spark, dir, "cat", "category")
    val asOf = Store.openAt(spark, dir, spec, 0)
    assert(asOf.frame.df.columns.toSeq === Seq("id", "cat", "n"))
    assert(asOf.f("cat", "a").head().getLong(0) === 1L)
    // the live read speaks the new name
    assert(Store.open(spark, dir, IndexSpec(Seq("category")))
      .frame.df.columns.toSeq === Seq("id", "category", "n"))
  }

  test("a tombstone written before a rename of its key column still applies") {
    val dir = java.nio.file.Files.createTempDirectory("rendel").toString
    Store.write(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "cat", "n"),
      dir, spec)
    Store.delete(spark, dir, spec, "id", Seq(1L).toDF("id"))
    Store.renameColumn(spark, dir, "id", "doc_id")
    val st = Store.open(spark, dir, spec)
    assert(st.frame.df.columns.toSeq === Seq("doc_id", "cat", "n"))
    assert(st.frame.df.count() === 1)
    assert(st.frame.df.head().getLong(0) === 2L)
    assert(st.f("cat", "a").collect().isEmpty) // netted out of the index
  }

  test("a delete keyed on a renamed or a dropped column checks the served columns") {
    val dir = java.nio.file.Files.createTempDirectory("delkey").toString
    Store.write(Seq((1L, "a", "x1"), (2L, "b", "x2"), (3L, "a", "x3"))
      .toDF("id", "cat", "flag"), dir, spec)
    Store.renameColumn(spark, dir, "id", "doc_id")
    val e = intercept[IllegalArgumentException] {
      Store.delete(spark, dir, spec, "id", Seq(1L).toDF("id"))
    }
    assert(e.getMessage.contains(
      "no column 'id' in store data (doc_id,cat,flag)"))
    // the renamed key deletes, its keys cast to the column's type
    Store.delete(spark, dir, spec, "doc_id", Seq(1).toDF("k"))
    val st = Store.open(spark, dir, spec)
    assert(st.frame.df.select("doc_id").collect().map(_.getLong(0))
      .sorted.toSeq === Seq(2L, 3L))
    assert(st.f("cat", "a").head().getLong(0) === 1L)
    // a dropped column, by its old or its hidden name, is no key
    val dropId = Store.dropColumn(spark, dir, "flag")
    for (kc <- Seq("flag", s"__graft_dropped_${dropId}_flag")) {
      val e2 = intercept[IllegalArgumentException] {
        Store.delete(spark, dir, spec, kc, Seq("x2").toDF("k"))
      }
      assert(e2.getMessage.contains(
        s"no column '$kc' in store data (doc_id,cat)"))
    }
  }

  test("chained renames fold in order; a retired name is reusable for a new column") {
    val dir = java.nio.file.Files.createTempDirectory("renchain").toString
    Store.write(Seq((1L, "a", 10L)).toDF("id", "cat", "n"), dir, spec)
    Store.renameColumn(spark, dir, "n", "count")
    Store.renameColumn(spark, dir, "count", "tokens")
    // re-use the retired name "n" for a brand-new column
    Store.append(Seq((2L, "b", 20L, 9.9)).toDF("id", "cat", "tokens", "n"),
      dir, spec)
    val live = Store.open(spark, dir, spec).frame.df
    assert(live.columns.toSeq === Seq("id", "cat", "tokens", "n"))
    val rows = live.orderBy("id").collect()
    assert(rows(0).getLong(2) === 10L && rows(0).isNullAt(3))
    assert(rows(1).getLong(2) === 20L && rows(1).getDouble(3) === 9.9)
    // rename collision is refused
    intercept[IllegalArgumentException] {
      Store.renameColumn(spark, dir, "tokens", "n")
    }
  }

  test("compact folds renames physically: the new generation needs no mapping") {
    val dir = java.nio.file.Files.createTempDirectory("renfold").toString
    Store.write(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "cat", "n"),
      dir, spec)
    Store.renameColumn(spark, dir, "cat", "category")
    Store.append(Seq((3L, "c", 5000000000L)).toDF("id", "category", "n"),
      dir, IndexSpec(Seq("category")))
    Store.compact(spark, dir)
    val spec2 = IndexSpec(Seq("category"))
    val st = Store.open(spark, dir, spec2)
    assert(st.frame.df.columns.toSeq === Seq("id", "category", "n"))
    assert(st.frame.df.schema("n").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(st.frame.df.count() === 3)
    assert(st.f("category", "a").head().getLong(0) === 1L)
    // no ren_ units survive into the new generation
    assert(Store.history(spark, dir).forall(_._2 != "rename"))
    // physical files carry the current names: vacuum the pre-fold
    // copies, then a raw recursive read must see only new-name files
    Store.vacuum(spark, dir)
    val folded = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/data")
    assert(folded.columns.sorted.toSeq === Seq("category", "id", "n"))
    // and the store accepts post-fold appends under the new name
    Store.append(Seq((4L, "d", 1L)).toDF("id", "category", "n"), dir, spec2)
    assert(Store.open(spark, dir, spec2).frame.df.count() === 4)
  }

  test("dropColumn hides the column, keeps rows, and re-adding never resurrects") {
    val dir = java.nio.file.Files.createTempDirectory("drop").toString
    Store.write(Seq((1L, "a", "x1"), (2L, "b", "x2")).toDF("id", "cat", "flag"),
      dir, spec)
    Store.dropColumn(spark, dir, "flag")
    val st = Store.open(spark, dir, spec)
    assert(st.frame.df.columns.toSeq === Seq("id", "cat"))
    assert(st.frame.df.count() === 2)
    // openAt BEFORE the drop still serves the column (as-of schema)
    val asOf = Store.openAt(spark, dir, spec, 0)
    assert(asOf.frame.df.columns.toSeq === Seq("id", "cat", "flag"))
    assert(asOf.frame.df.orderBy("id").select("flag")
      .collect().map(_.getString(0)).toSeq === Seq("x1", "x2"))
    // re-add the NAME as a brand-new column: old rows read null —
    // the dropped values never resurrect
    Store.append(Seq((3L, "c", "y3")).toDF("id", "cat", "flag"), dir, spec)
    val re = Store.open(spark, dir, spec).frame.df.orderBy("id")
    assert(re.columns.toSeq === Seq("id", "cat", "flag"))
    assert(re.select("flag").collect().map(r =>
      Option(r.getString(0))).toSeq === Seq(None, None, Some("y3")))
    // compact folds the hidden column away PHYSICALLY
    Store.compact(spark, dir)
    Store.vacuum(spark, dir)
    val folded = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/data")
    assert(folded.columns.sorted.toSeq === Seq("cat", "flag", "id"))
    assert(folded.count() === 3)
    assert(Store.open(spark, dir, spec).frame.df
      .where(col("flag").isNotNull).count() === 1)
    // unknown / reserved names refuse
    intercept[IllegalArgumentException] {
      Store.dropColumn(spark, dir, "nope")
    }
    intercept[IllegalArgumentException] {
      Store.renameColumn(spark, dir, "cat", "__graft_dropped_9_cat")
    }
  }

  test("dropping an INDEXED field removes its entries from the merged index") {
    val dir = java.nio.file.Files.createTempDirectory("dropix").toString
    val two = IndexSpec(Seq("cat", "tag"))
    Store.write(Seq((1L, "a", "t1"), (2L, "b", "t2"))
      .toDF("id", "cat", "tag"), dir, two)
    Store.dropColumn(spark, dir, "tag")
    val ix = Store.open(spark, dir, IndexSpec(Seq("cat"))).persistedIndex
    val fields = ix.select("field").distinct()
      .collect().map(_.getString(0)).toSet
    assert(fields === Set("cat"))
    // the tombstone-key guard: deleting by a column then dropping it
    // is refused until compact folds the tombstone
    val dir2 = java.nio.file.Files.createTempDirectory("dropdel").toString
    Store.write(Seq((1L, "a", "x"), (2L, "b", "y"))
      .toDF("id", "cat", "flag"), dir2, spec)
    Store.delete(spark, dir2, spec, "id", Seq(1L).toDF("id"))
    intercept[IllegalArgumentException] {
      Store.dropColumn(spark, dir2, "id")
    }
    Store.dropColumn(spark, dir2, "flag") // non-key drop is fine
    assert(Store.open(spark, dir2, spec).frame.df.columns.toSeq ===
      Seq("id", "cat"))
  }
}
