package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.{IndexSpec, IndexedFrame, Store, Tables}
import scala.collection.mutable

/** ingest_churn: writes beside reads on one orders store.
  *
  * Set-up writes about 90% of orders (a seeded hash split) to a store
  * indexed on priority, status and customer with row refs on the order
  * key. The timed part is a seeded sequence of commits: appends of the
  * held-back slices, deletes of seeded key sets, and upserts of seeded
  * keys with a changed status. After each commit the client opens the
  * store afresh and makes point reads; every few commits it runs a
  * plan-path aggregate over the merge-on-read frame; one compaction runs
  * midway. The driver keeps its own model of the live rows, which every
  * read and the end state are checked against.
  */
object IngestChurn {
  val spec = IndexSpec(Seq("o_orderpriority", "o_orderstatus", "o_custkey"))
    .withRowRefs("o_orderkey")
  /** reads after each commit, each a fresh open with an fPoint and a
    * rowsOfPoint of one touched customer. No usage log gives this number;
    * three reads confirm a commit and give 18 read samples in a run of 6
    * commits.
    */
  val freshReads = 3

  /** commits in one run: fixed by --seconds (a round of three commits
    * with its reads takes about 12 s on 4 cores), so every count repeats
    */
  def commitsFor(seconds: Double): Int = 3 * math.max(1, math.round(seconds / 12).toInt)

  /** a commit: its timed call, and the bytes of its batch as parquet and
    * that it added under the store
    */
  private final case class Commit(kind: String, op: OpRec, batchBytes: Long, addedBytes: Long)

  def dirBytes(p: java.io.File): Long =
    if (p.isDirectory) Option(p.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else p.length()

  /** segments and tombstones under the live index generation */
  def units(dir: String): Int = {
    val root = new java.io.File(dir)
    val gens = Option(root.list()).getOrElse(Array.empty[String]).toSeq
      .filter(_.startsWith("index_g"))
      .filter(g => new java.io.File(root, s"$g/_COMMITTED").exists())
      .sortBy(_.stripPrefix("index_g").toInt)
    val live = new java.io.File(root, gens.lastOption.getOrElse("index"))
    Option(live.list()).getOrElse(Array.empty[String])
      .count(n => n.startsWith("seg_") || n.startsWith("del_"))
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    mainOps = Set("append", "delete", "upsert")
    val orders = Tables.orders(spark, dataDir)
    val schema = orders.schema
    val keyIx = schema.fieldIndex("o_orderkey")
    val statusIx = schema.fieldIndex("o_orderstatus")
    val custIx = schema.fieldIndex("o_custkey")
    val split = pmod(xxhash64(col("o_orderkey"), lit(seed)), lit(10))
    val dir = s"$workDir/store"
    tracer.span("core.Store.write") { Store.write(orders.where(split =!= 0), dir, spec) }
    calibrate()
    // the model: every live row by key, and the held-back slices
    val live = mutable.LinkedHashMap.empty[Long, Row]
    orders.where(split =!= 0).collect().foreach(r => live(r.getLong(keyIx)) = r)
    // rounds of append, delete, upsert; the seed picks the split and the
    // keys; the compaction sits after the middle commit
    val nCommits = commitsFor(seconds)
    val kinds = (0 until nCommits).map(i => Seq("append", "delete", "upsert")(i % 3))
    val heldRows = orders.where(split === 0).collect().sortBy(_.getLong(keyIx))
    val held = heldRows.grouped(heldRows.length / (nCommits / 3) + 1).toIndexedSeq
    // deletes and upserts touch as many keys as an append adds, so every
    // commit carries a batch of about the same row count
    val keysPerOp = held.head.length
    def frame(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    def bytesAsParquet(df: DataFrame, name: String): Long = {
      val p = s"$workDir/batches/$name"
      df.write.mode("overwrite").parquet(p)
      dirBytes(new java.io.File(p))
    }
    val statuses = live.values.map(_.getString(statusIx)).toSeq.distinct.sorted

    val rnd = rng(7)
    Store.open(spark, dir, spec).fPoint("o_orderstatus", statuses.head) // warm the reader
    calibrate()

    val commits = mutable.ArrayBuffer.empty[Commit]
    val fresh = mutable.ArrayBuffer.empty[(Double, Double)]
    var nextSlice = 0
    var compact: Option[OpRec] = None
    var unitsBefore, unitsAfter = 0
    startTimed()
    for ((kind, i) <- kinds.zipWithIndex) {
      // prepare the batch outside the timed window
      val (batch, keysDf, touched) = kind match {
        case "append" =>
          val rows = held(nextSlice).toSeq
          nextSlice += 1
          (frame(rows), null, rows)
        case "delete" =>
          val keys = rnd.shuffle(live.keys.toSeq).take(keysPerOp).sorted
          val kdf = spark.createDataFrame(spark.sparkContext.parallelize(
            keys.map(Row(_)), 1),
            org.apache.spark.sql.types.StructType(Seq(schema("o_orderkey"))))
          (null, kdf, keys.map(live))
        case "upsert" =>
          val keys = rnd.shuffle(live.keys.toSeq).take(keysPerOp).sorted
          val rows = keys.map { k =>
            val r = live(k).toSeq.toArray
            r(statusIx) = statuses((statuses.indexOf(r(statusIx)) + 1) % statuses.size)
            Row.fromSeq(r.toSeq)
          }
          (frame(rows), null, rows)
      }
      val batchBytes = bytesAsParquet(Option(batch).getOrElse(keysDf), s"b$i")
      val before = dirBytes(new java.io.File(dir))
      op(kind, Map("commit" -> i)) {
        tracer.span(s"core.Store.$kind") {
          kind match {
            case "append" => Store.append(batch, dir, spec)
            case "delete" => Store.delete(spark, dir, spec, "o_orderkey", keysDf)
            case "upsert" => Store.upsert(batch, dir, spec, "o_orderkey")
          }
        }
      }.foreach { _ =>
        commits += Commit(kind, ops.last, batchBytes, dirBytes(new java.io.File(dir)) - before)
        kind match {
          case "delete" => touched.foreach(r => live.remove(r.getLong(keyIx)))
          case _ => touched.foreach(r => live(r.getLong(keyIx)) = r)
        }
      }

      // read-your-writes: a fresh open and point reads of each of a few
      // touched customers
      var st: graft.core.StoredFrame = null
      for (r <- touched.take(freshReads)) {
        val cust = r.get(custIx).toString
        op("read") {
          val a = System.nanoTime()
          st = tracer.span("core.Store.open") { Store.open(spark, dir, spec) }
          val b = System.nanoTime()
          val n = tracer.span("core.PointRead.fPoint") { st.fPoint("o_custkey", cust) }
          fresh += (((b - a) / 1e6, (System.nanoTime() - b) / 1e6))
          val keys = tracer.span("core.PointRead.rowsOfPoint") {
            st.rowsOfPoint("o_custkey", cust).map(_.toString).sorted
          }
          (n, keys)
        }.foreach { case (n, keys) =>
          val rows = live.values.filter(_.get(custIx).toString == cust)
          if (n != rows.size) fail(s"fresh read after $kind #$i: fPoint(o_custkey,$cust) = $n, want ${rows.size}")
          val exp = rows.map(_.getLong(keyIx).toString).toSeq.sorted
          if (keys != exp) fail(s"rowsOfPoint after $kind #$i: ${keys.size} keys, want ${exp.size}")
        }
      }

      // plan-path aggregate over the merge-on-read frame, after every
      // upsert (the end of each append-delete-upsert round)
      if (kind == "upsert" && st != null) for (_ <- 1 to 3) {
        op("scan") {
          tracer.span("spark.churn_scan") {
            st.frame.df.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          }
        }.foreach { agg =>
          val exp = live.values.groupBy(_.getString(statusIx)).map { case (k, v) => k -> v.size.toLong }
          if (agg != exp) fail(s"scan after #$i: $agg != $exp")
        }
      }

      if (i == nCommits / 2 - 1) {
        unitsBefore = units(dir)
        op("compact") { tracer.span("core.Store.compact") { Store.compact(spark, dir) } }
          .foreach(_ => compact = Some(ops.last))
        unitsAfter = units(dir)
      }
      heapCheckpoint()
    }
    endTimed()

    // end state against the replayed model, outside the timed region
    val st = Store.open(spark, dir, spec)
    val liveDf = frame(live.values.toSeq)
    val nLive = st.frame.df.count()
    if (nLive != live.size) fail(s"end state: $nLive live rows, want ${live.size}")
    def entries(df: DataFrame) =
      df.select(col("field"), col("value"), col("f").cast("long")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val gotIx = entries(st.persistedIndex)
    val wantIx = entries(IndexedFrame(liveDf, spec).entries)
    if (gotIx != wantIx)
      fail(s"end state: persisted index differs in ${(gotIx diff wantIx).size + (wantIx diff gotIx).size} entries")
    val freshDir = s"$workDir/fresh"
    Store.write(liveDf, freshDir, spec)
    val spaceAmp = dirBytes(new java.io.File(dir)).toDouble / dirBytes(new java.io.File(freshDir))
    info("checks") = Map("live_rows" -> nLive, "index_entries" -> gotIx.size)
    info("commits") = commits.size
    info("timed_s") = (timedEndMs - firstTimedOpMs) / 1e3

    // the workload's own figures, for the detail line
    val secs = commits.map(_.op.wallS).toSeq
    val ingest = mutable.LinkedHashMap[String, Any](
      "commit_p50_s" -> Stats.median(secs),
      "fresh_read_p50_ms" -> Stats.median(fresh.toSeq.map(x => x._1 + x._2)),
      "reopen_p50_ms" -> Stats.median(fresh.toSeq.map(_._1)),
      "first_call_p50_ms" -> Stats.median(fresh.toSeq.map(_._2)),
      "scan_p50_s" -> Stats.median(ops.filter(_.kind == "scan").map(_.wallS).toSeq),
      "space_amp" -> spaceAmp,
      "write_amp" -> commits.map(_.addedBytes).sum.toDouble / commits.map(_.batchBytes).sum,
      "units_before_compact" -> unitsBefore, "units_after_compact" -> unitsAfter)
    for (kind <- Seq("append", "delete", "upsert")) {
      val k = commits.filter(_.kind == kind).map(_.op)
      ingest(s"${kind}_p50_s") = Stats.median(k.map(_.wallS).toSeq)
      ingest(s"jobs_per_$kind") = k.map(_.c.jobs).sum.toDouble / k.size
      counts(s"core.Store.jobs_$kind") = k.map(_.c.jobs).sum
    }
    compact.foreach { c =>
      ingest("compact_s") = c.wallS
      counts("core.Store.jobs_compact") = c.c.jobs
    }
    info("ingest") = ingest
    counts("core.Store.space_amp_permille") = math.round(spaceAmp * 1000)
  }
}
