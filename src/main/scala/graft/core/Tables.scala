package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema'd loaders for the test tables (see TESTDATA.md).
  *
  * Spark-first analog of the reference's memory-mapped store
  * (/root/reference/src/main/scala/com/futurice/iodf/store/MMapDir.scala):
  * parquet gives us the same "open columns without deserializing
  * everything" property — column pruning and predicate pushdown reach
  * the scan, so a 2-column projection reads 2 columns.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Driver-side schema cache keyed on (path, file mtime/length):
    * a schema-less `spark.read.parquet` runs a one-task schema-
    * inference Spark JOB per call (~0.1-0.15 s steady-state) — every
    * query pays it for every table it touches, three reps each, so
    * the suite paid hundreds of pure-metadata jobs per bench run
    * (r15 optimization round; OPTIMIZATION_r15.md §Schema-inference
    * jobs: 1 job/140 ms inferred vs 0 jobs/4 ms explicit). The
    * mtime+length key makes a regenerated dataset re-infer — this
    * caches table METADATA the way a catalog/table format would
    * (guide §6), never results.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // snapshot-aware key (file names + lengths + mtimes — handles
    // bare files AND Spark-written directory tables)
    val key = s"$path@${Artifacts.tableSnapshotKey(spark, path)}"
    val schema = schemaCache.computeIfAbsent(key,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** events.ts has shipped with two physical encodings across data
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects unless read as long) and plain timestamp[us]. A
    * loader that hard-codes one encoding breaks on the first upstream
    * regen, so branch on the dtype the scan actually produced and
    * canonicalize to TIMESTAMP_NTZ(micros) either way (matches
    * DuckDB's own ns→us truncation). The reference gets this for free
    * by reopening its own self-describing files
    * (/root/reference/src/main/scala/com/futurice/iodf/Dfs.scala:291-308).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // scope the legacy-nanos conf to THIS relation's creation instead
    // of mutating the session for every later parquet read: the
    // resolved relation snapshots the conf at creation, so the flag
    // can be restored immediately after. Harmless when ts is already
    // a real timestamp (the conf only affects TIMESTAMP(NANOS) cols).
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    val raw =
      try apply(s, d, "events")
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    canonicalizeEventTs(raw)
  }

  /** the dtype-branch drift guard, shared by the batch and streaming
    * events loaders so the two faces can never canonicalize
    * differently (SchemaDriftSpec pins both encodings).
    */
  private def canonicalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }

  /** STREAMING face of [[events]]: a file-source stream over the same
    * parquet with the same dtype-branch drift guard. The physical
    * schema comes from the batch scan (one footer read — streaming
    * sources cannot infer), so schema drift hits the same branch as
    * the batch path instead of a divergent hand-written schema.
    * One deliberate divergence: the canonical type is TIMESTAMP, not
    * the batch TIMESTAMP_NTZ, because Spark only accepts event-time
    * watermarks on TIMESTAMP — value-identical under the library's
    * fixed UTC session timezone.
    *
    * Why the scoped set/restore of the nanos conf is safe here even
    * though file-stream micro-batches read parquet AFTER this method
    * returns: the stream is built with an EXPLICIT schema (the batch
    * probe below), so micro-batches never run parquet schema
    * inference — and `spark.sql.legacy.parquet.nanosAsLong` only
    * gates the inference-time "Illegal Parquet type: INT64
    * (TIMESTAMP(NANOS" rejection, not value decoding. Pinned by
    * SchemaDriftSpec's true-TIMESTAMP(NANOS) streaming test, which
    * passes with the conf restored before the query starts.
    */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    val raw =
      try {
        val physical = apply(s, d, "events").schema
        // the file-stream source requires a DIRECTORY to monitor; the
        // generator writes the table as a BARE FILE, so stream the
        // dataset dir filtered down to that one file (a Spark-written
        // table is a directory and streams directly)
        val p = new org.apache.hadoop.fs.Path(s"$d/events.parquet")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.getFileStatus(p).isDirectory)
          s.readStream.schema(physical).parquet(p.toString)
        else
          s.readStream.schema(physical)
            .option("pathGlobFilter", "events.parquet").parquet(d)
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    canonicalizeEventTs(raw).withColumn("ts", col("ts").cast("timestamp"))
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")

  // NOTE (r13): declaring `embedding: array<float> containsNull=false`
  // at the loader does NOT stick — Spark file sources force any
  // user-provided read schema asNullable, so the parquet-read column
  // always types containsNull=true and VecUnit's static no-null
  // specialization cannot fire on this table. The specialization
  // stays (non-file inputs benefit); the per-element null branch's
  // cost on the file path was measured in r13 (SURVEY §7a: ≈0 —
  // the r12 ANN bench drift is host-epoch, not the kernel; the most
  // drifted rows use VecDot/VecLshSig, which carry no null branch).
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** STREAMING face of [[documents]] — the ingest feed the streaming
    * dedup/curation faces consume. Explicit schema from one batch
    * footer read (streaming sources cannot infer); same
    * bare-file-vs-directory handling as [[eventsStream]].
    */
  def documentsStream(s: SparkSession, d: String): DataFrame = {
    val physical = documents(s, d).schema
    val p = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.getFileStatus(p).isDirectory)
      s.readStream.schema(physical).parquet(p.toString)
    else
      s.readStream.schema(physical)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
  }
}
