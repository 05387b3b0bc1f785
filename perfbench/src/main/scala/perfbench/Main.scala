package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Everything a workload needs: the session, the probes, its arguments
  * and the result it fills in.
  */
final class Ctx(val spark: SparkSession, val probe: Probe, val tracer: Tracer,
                val workload: String, val seed: Long, val seconds: Double,
                val dataDir: String, val workDir: String, val cpus: Int,
                val setupStartMs: Long) {
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** counts that two runs with the same seed must reproduce exactly */
  val counts = mutable.LinkedHashMap.empty[String, Long]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]
  /** every timed client call, in order */
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** wall seconds of the reference jobs (see [[Calib]]) run during
    * set-up and between the timed calls
    */
  val setupCalibS, timedCalibS = mutable.ArrayBuffer.empty[Double]
  /** live heap readings of the timed region, in MB */
  val heapMb = mutable.ArrayBuffer.empty[Double]
  /** the kinds of the workload's main call, whose median is `op_p50_ms` */
  var mainOps = Set.empty[String]
  var attempted = 0L
  var failed = 0L
  var firstTimedOpMs = 0L
  var timedEndMs = 0L
  /** time spent in heap checkpoints, which are outside every timed window */
  var heapCheckpointS = 0.0

  def rng(stream: Int) = new scala.util.Random(seed * 1000003L + stream)
  /** the last set-up samples of the reference job, then the clock */
  def startTimed(): Unit = {
    for (_ <- 1 to 3) calibrate()
    firstTimedOpMs = System.currentTimeMillis()
  }
  def endTimed(): Unit = timedEndMs = System.currentTimeMillis()
  def calibrate(): Unit =
    (if (firstTimedOpMs == 0) setupCalibS else timedCalibS) += Calib.sampleS(spark, cpus)

  /** one timed client call: its wall, the Spark counters, driver GC time
    * and client-thread allocation of its window, in a span `op.<kind>`.
    * The listener bus is drained outside the window, and a reference job
    * (see [[Calib]]) follows it. A call that throws is counted as failed
    * and leaves no sample.
    */
  def op[T](kind: String, attrs: Map[String, Any] = Map.empty)(body: => T): Option[T] = {
    attempted += 1
    val c0 = probe.snapshot()
    val g0 = Jvm.gcMs()
    val a0 = Jvm.allocatedBytes()
    val t = System.nanoTime()
    val out =
      try Some(tracer.span(s"op.$kind", attrs)(body))
      catch { case e: Throwable => fail(s"$kind: $e"); None }
    val wall = (System.nanoTime() - t) / 1e9
    val a1 = Jvm.allocatedBytes()
    val g1 = Jvm.gcMs()
    if (out.isDefined) ops += OpRec(kind, wall, probe.snapshot() - c0, g1 - g0, a1 - a0)
    calibrate()
    out
  }

  /** reads the live heap (see [[Jvm.liveHeapMb]]) and keeps the reading */
  def heapCheckpoint(settle: Boolean = true): Double = {
    val t = System.nanoTime()
    val mb = Jvm.liveHeapMb(settle)
    heapMb += mb
    heapCheckpointS += (System.nanoTime() - t) / 1e9
    mb
  }
  def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what.take(300)
  }
}

/** One timed client call: wall seconds, Spark counters, driver GC ms and
  * client-thread allocated bytes of its window.
  */
final case class OpRec(kind: String, wallS: Double, c: SparkCounts, gcMs: Long,
                       allocBytes: Long)

/** Runs one workload and writes its raw result as JSON; `perfbench/run.py`
  * builds this program, stages the data and prints the final line.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --data DIR
  *   --work DIR --out FILE --cpus N --setup-start-ms EPOCH_MS
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = a("cpus").toInt
    val tracing = a("trace") == "1"
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe(spark, tracing)
    val runId = s"${a("workload")}-${a("seed")}-${ProcessHandle.current().pid()}"
    val ctx = new Ctx(spark, probe, new Tracer(tracing, runId), a("workload"),
      a("seed").toLong, a("seconds").toDouble, a("data"), work, cpus,
      a("setup-start-ms").toLong)
    ctx.info("session_ready_s") = (System.currentTimeMillis() - ctx.setupStartMs) / 1e3
    for (_ <- 1 to 5) Calib.sampleS(spark, cpus) // warm-up, not kept
    for (_ <- 1 to 3) ctx.calibrate()
    val ok =
      try {
        a("workload") match {
          case "batch_mix"    => BatchMix.run(ctx)
          case "ingest_churn" => IngestChurn.run(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          false
      }
    if (ok) {
      val spans = ctx.tracer.all(probe)
      if (tracing) Json.writeSpans(s"$work/spans.json", runId, spans)
      val self = if (tracing) ctx.tracer.selfTimes(spans) else Map.empty[String, (Double, Int)]
      val raw = Report.endToEnd(ctx)
      val e2e = Calib.scale(ctx, raw)
      ctx.info("calib") = Map(
        "setup_median_s" -> Stats.median(ctx.setupCalibS.toSeq), "setup_n" -> ctx.setupCalibS.size,
        "timed_median_s" -> Stats.median(ctx.timedCalibS.toSeq), "timed_n" -> ctx.timedCalibS.size)
      Report.layers(ctx, if (tracing) Some(spans) else None)
      ctx.info("heap_checkpoint_s") = ctx.heapCheckpointS
      ctx.info("heap_mb") = Map("median" -> Stats.median(ctx.heapMb.toSeq),
        "peak" -> ctx.heapMb.max, "readings" -> ctx.heapMb.size)
      ctx.info("ops") = ctx.ops.groupBy(_.kind).map { case (k, os) =>
        k -> Map("n" -> os.size, "p50_ms" -> Stats.median(os.map(_.wallS * 1e3).toSeq),
          "sum_s" -> os.map(_.wallS).sum)
      }
      Json.write(a("out"), Map(
        "e2e" -> e2e, "e2e_raw" -> raw, "layer" -> ctx.layer.toMap,
        "counts" -> ctx.counts.toMap, "info" -> ctx.info.toMap,
        "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "errors" -> ctx.errors.toSeq,
        "self_time_s" -> self.map { case (k, (s, n)) => k -> Map("self_s" -> s, "count" -> n) },
        "spark_version" -> spark.version,
        "xmx_mb" -> Jvm.maxHeapMb()))
    }
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}

/** The metrics every workload prints, computed from its timed calls. */
object Report {
  /** raw end-to-end values: set-up wall, the summed wall of the timed
    * calls, the median wall of the main calls, and the median live heap
    * of the timed region
    */
  def endToEnd(ctx: Ctx): Map[String, (Double, String)] = {
    val main = ctx.ops.filter(o => ctx.mainOps(o.kind)).map(_.wallS).toSeq
    Map(
      "setup_s" -> ((ctx.firstTimedOpMs - ctx.setupStartMs) / 1e3, "s"),
      "work_wall_s" -> (ctx.ops.map(_.wallS).sum, "s"),
      "op_p50_ms" -> (Stats.median(main) * 1e3, "ms"),
      "driver_heap_mb" -> (Stats.median(ctx.heapMb.toSeq), "MB"))
  }

  /** layers whose self time is reported, by span-name prefix */
  val selfLayers = Seq("graft.queries", "catalyst", "spark", "core.Store", "core.PointRead")

  /** per-layer metrics over the timed calls; self-time shares need spans */
  def layers(ctx: Ctx, spans: Option[Seq[Span]]): Unit = {
    import ctx._
    val c = ops.map(_.c).foldLeft(SparkCounts())(_ + _)
    val wall = ops.map(_.wallS).sum
    layer("catalyst.plan_s") = (c.planMs / 1e3, "s")
    layer("spark.jobs") = (c.jobs.toDouble, "count")
    layer("spark.stages") = (c.stages.toDouble, "count")
    layer("spark.tasks") = (c.tasks.toDouble, "count")
    layer("spark.task_run_s") = (c.taskRunMs / 1e3, "s")
    layer("spark.task_cpu_s") = (c.taskCpuNs / 1e9, "s")
    layer("spark.idle_core_share") = (1 - c.taskRunMs / 1e3 / (cpus * wall), "ratio")
    layer("spark.shuffle_bytes") = ((c.shuffleWriteBytes + c.shuffleReadBytes).toDouble, "bytes")
    layer("spark.input_bytes") = (c.inputBytes.toDouble, "bytes")
    layer("jvm.alloc_bytes") = (ops.map(_.allocBytes).sum.toDouble, "bytes")
    layer("jvm.gc_share") = (ops.map(_.gcMs).sum / 1e3 / wall, "ratio")
    for (k <- Seq("jobs", "stages", "tasks")) counts(s"spark.$k") = layer(s"spark.$k")._1.toLong
    spans.foreach { all =>
      val self = tracer.selfTimesUnder(all, "op.")
      val opWall = all.filter(_.name.startsWith("op.")).map(s => s.endUs - s.startUs).sum / 1e6
      for (l <- selfLayers) {
        val t = self.collect { case (n, s) if n.startsWith(l + ".") => s }.sum
        layer(s"$l.self_share") = (t / opWall, "ratio")
      }
    }
  }
}

/** Host-speed calibration. The host's speed swings by up to 2x between
  * minutes, and every timing of a run moves with it. A fixed Spark job on
  * every core, which runs no graft code, is timed during set-up and after
  * every timed call; each end-to-end time is scaled by the reference
  * time over the run's median job time of the same phase. So the times
  * read as if the job had taken [[refS]], and a change to graft moves
  * them while a slow host does not.
  */
object Calib {
  val refS = 0.1
  def sampleS(spark: SparkSession, cpus: Int): Double = {
    val t = System.nanoTime()
    spark.range(0, 2000000, 1, cpus).selectExpr("sum(crc32(cast(id as string)))").collect()
    (System.nanoTime() - t) / 1e9
  }
  def scale(ctx: Ctx, raw: Map[String, (Double, String)]): Map[String, (Double, String)] = {
    val setup = refS / Stats.median(ctx.setupCalibS.toSeq)
    val timed = refS / Stats.median(ctx.timedCalibS.toSeq)
    raw.map {
      case ("setup_s", (v, u)) => "setup_s" -> (v * setup, u)
      case (k, (v, u)) if u == "s" || u == "ms" => k -> (v * timed, u)
      case kv => kv
    }
  }
}

/** Minimal JSON writer for the result file (maps, seqs, numbers, strings). */
object Json {
  def enc(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => enc(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case (x, y) => enc(Seq(x, y))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => enc(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(enc).mkString("[", ",", "]")
    case o => enc(o.toString)
  }
  def write(path: String, v: Any): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(enc(v)) finally w.close()
  }
  def writeSpans(path: String, runId: String, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(enc(Map("run_id" -> runId, "spans" -> spans.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "run_id" -> runId,
      "attrs" -> s.attrs)))))
    finally w.close()
  }
}

/** Medians and quantiles of samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
