package graft

import graft.core.{IndexSpec, Store}
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}

/** a local filesystem under the `countfs` scheme that counts the
  * metadata calls (listStatus, exists, getFileStatus, open) graft code
  * makes on it directly: a call whose immediate caller is Spark,
  * Parquet or Hadoop itself (a committer, a footer read, `exists`
  * delegating to `getFileStatus`) is not counted, so the counts are
  * the Store's own traffic, independent of task counts.
  */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"

  private def counted[T](kind: String)(call: => T): T = {
    if (CountingFileSystem.callerIsGraft()) CountingFileSystem.bump(kind)
    call
  }

  override def listStatus(p: Path): Array[FileStatus] =
    counted("listStatus")(super.listStatus(p))
  override def exists(p: Path): Boolean =
    counted("exists")(super.exists(p))
  override def getFileStatus(p: Path): FileStatus =
    counted("getFileStatus")(super.getFileStatus(p))
  override def open(p: Path): FSDataInputStream =
    counted("open")(super.open(p))
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    counted("open")(super.open(p, bufferSize))
}

object CountingFileSystem {
  val Kinds = Seq("listStatus", "exists", "getFileStatus", "open")
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def bump(kind: String): Unit = counts.merge(kind, 1L, _ + _)

  /** is the first frame outside this class a graft frame? */
  private def callerIsGraft(): Boolean = {
    val self = classOf[CountingFileSystem].getName
    StackWalker.getInstance().walk[Option[String]](frames => {
      val f = frames.filter(!_.getClassName.startsWith(self)).findFirst()
      if (f.isPresent) Some(f.get.getClassName) else None
    }).exists(_.startsWith("graft."))
  }

  /** the calls `op` makes, by kind */
  def during(op: => Unit): Map[String, Long] = synchronized {
    counts.clear()
    op
    Kinds.map(k => k -> counts.getOrDefault(k, 0L)).toMap
  }
}

/** pins the Hadoop metadata calls of a fresh open and of each commit
  * kind on a 3-segment row-refs store, and of an open and a delete
  * once the store holds tombstones. The ceilings are the counts of the
  * code before tombstone netting had one healer, measured in this
  * sequence; an op that makes more calls of any kind fails here.
  */
class StoreMetadataCallsSpec extends SparkSpec {
  import spark.implicits._

  private val spec = IndexSpec(Seq("cat")).withRowRefs("id")

  private def batch(ids: Range) =
    ids.map(i => (i.toLong, s"c${i % 3}", i.toDouble)).toDF("id", "cat", "v")
      .coalesce(1)

  test("metadata calls per op stay within their ceilings") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    val dir = "countfs://" +
      java.nio.file.Files.createTempDirectory("metacalls").toString
    Store.write(batch(0 until 20), dir, spec)
    Store.append(batch(20 until 40), dir, spec)
    Store.append(batch(40 until 60), dir, spec)
    val calls = Seq(
      "open" -> CountingFileSystem.during(Store.open(spark, dir, spec)),
      "append" -> CountingFileSystem.during(
        Store.append(batch(60 until 80), dir, spec)),
      "delete" -> CountingFileSystem.during(
        Store.delete(spark, dir, spec, "id", Seq(5L, 25L).toDF("id"))),
      "upsert" -> CountingFileSystem.during(
        Store.upsert(batch(70 until 90), dir, spec, "id")),
      "open, 2 tombstones" -> CountingFileSystem.during(
        Store.open(spark, dir, spec)),
      "delete, 2 tombstones" -> CountingFileSystem.during(
        Store.delete(spark, dir, spec, "id", Seq(45L, 85L).toDF("id"))),
      "open, 3 tombstones" -> CountingFileSystem.during(
        Store.open(spark, dir, spec)),
      "compact" -> CountingFileSystem.during(Store.compact(spark, dir)))
    calls.foreach { case (op, c) => info(s"$op: $c") }
    // the served store is intact after the measured ops
    assert(Store.open(spark, dir, spec).frame.df.count() === 86)
    // listStatus, exists, getFileStatus, open
    def kinds(n: Long*) = CountingFileSystem.Kinds.zip(n).toMap
    val ceilings = Map(
      "open" -> kinds(2, 2, 0, 6),
      "append" -> kinds(6, 6, 0, 14),
      "delete" -> kinds(13, 22, 0, 43),
      "upsert" -> kinds(23, 35, 0, 69),
      "open, 2 tombstones" -> kinds(4, 12, 0, 14),
      "delete, 2 tombstones" -> kinds(23, 38, 0, 73),
      "open, 3 tombstones" -> kinds(5, 18, 0, 16),
      "compact" -> kinds(16, 12, 0, 18))
    calls.foreach { case (op, c) =>
      CountingFileSystem.Kinds.foreach { k =>
        assert(c(k) <= ceilings(op)(k), s"$op makes ${c(k)} $k calls")
      }
    }
  }
}
