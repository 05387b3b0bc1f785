package graft.core

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.BinaryStatistics
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter,
  PrimitiveConverter}
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Driver-side single-point reads over the store's persisted index /
  * row-refs parquet, bypassing Spark job scheduling entirely.
  *
  * WHY: one cold point lookup through a Spark plan pays the per-job
  * floor (~74 ms at local[32] — scheduler round-trip, task launch,
  * result fetch), while the reference serves the same op from a warm
  * mmap'd bitmap in microseconds (BASELINE.md rowrefs_single_point;
  * reference io/test/perf: 1024 bitset opens ≈ 243-257 ms COLD, µs
  * warm). Batched lookups amortize Spark's floor away — this path
  * exists for the genuinely interactive single-op case.
  *
  * HOW: the index (`seg_*`) and row-refs (`rows_*`) parquet of each
  * unit are written totally ordered on (field, value[, row_key]): a
  * unit built in one task as one sorted file, a wider unit (a batch
  * read back as several splits, a compact fold) range-clustered
  * across its files. Either
  * way the part files read in name order are sorted, so footer
  * statistics prune a point key to the file(s) straddling it.
  * Footers are read ONCE per store handle, on its first lookup, and
  * cached; every file is opened with read options built from the
  * session's Hadoop configuration, never a fresh one per file. A
  * lookup then (1) prunes files by the cached (field,value) ranges,
  * (2) lets parquet-mr's column-index machinery prune row groups and pages
  * (readNextFilteredRowGroup — only pages whose min/max straddle the
  * key are decompressed), and (3) reads the three projected columns
  * DIRECTLY through row-synchronized ColumnReaders — no per-record
  * Group materialization, just typed gets + binary equality. Measured
  * ~4-8 ms warm per op on a 180k-row refs segment vs ~74 ms through
  * a Spark job and ~35 ms through the generic ParquetReader path.
  * At 100 TB this is exactly the metadata-then-pages discipline a
  * table format's point-read path uses; the footer cache is O(files)
  * tiny and the data read is O(matching pages).
  *
  * CORRECTNESS GUARDS: the projection is built from each file's OWN
  * schema (required vs optional changes definition levels — borrowing
  * another file's projection silently mis-decodes); every surviving
  * record is re-checked for exact (field,value) equality, so page
  * granularity never leaks neighbors.
  *
  * TOMBSTONES AND RENAMES (r13 — previously ineligible, paying the
  * 74 ms plan floor for exactly the stores the delete/upsert
  * lifecycle produces): the fast path now serves them directly.
  * Frequencies sum the segments' entries PLUS the tombstones'
  * negative ixdelta/ixrepair entries — the id scoping is already
  * encoded in those units, so the sum IS the merge-on-read netting.
  * Row-refs group segments by their (tombstone, rename) era exactly
  * like the plan read, subtract each era's applicable victim key
  * sets (small by contract, read driver-side once and cached), and
  * reverse-map the queried field name to each era's physical name
  * through the rename chain. A store handle's groups are resolved at
  * open, pinning the point face to its open-time snapshot as before.
  */
object PointRead {

  /** Spark write options for point-serving artifacts (the row-refs
    * parquet), tuned so one point lookup touches the minimum bytes:
    *  - pages capped at 8192 rows, so column-index page pruning
    *    leaves a lookup ~8k rows to decode instead of the default
    *    20k (parquet.page.row.count.limit);
    *  - dictionary encoding OFF for the high-cardinality value /
    *    row_key columns — their near-1MB dictionary pages would be
    *    read+decoded on EVERY lookup (measured: the 12 ms → 3 ms
    *    step at sf0.1); `field` keeps its 3-entry dictionary.
    * Net file size is flat (snappy absorbs the plain encoding) and
    * bulk scans get FASTER (A/B at sf0.1, 1024-key membership join:
    * 274 ms vs 418 ms on the default layout — plain-encoded runs
    * decode cheaper than a 600k-entry dictionary indirection).
    */
  val RefsWriteOptions: Map[String, String] = Map(
    "parquet.page.row.count.limit" -> "8192",
    "parquet.enable.dictionary#value" -> "false",
    "parquet.enable.dictionary#row_key" -> "false")

  /** same idea for the index segments (field, value, f): the value
    * dictionary is pure overhead for a point f() (it may be as large
    * as the column at high cardinality) and the segments are small
    * relative to refs, so the layout trade is identical.
    */
  val SegWriteOptions: Map[String, String] = Map(
    "parquet.page.row.count.limit" -> "8192",
    "parquet.enable.dictionary#value" -> "false")

  /** (field min, field max, value min, value max) as raw UTF-8 bytes
    * — kept in PARQUET'S order. Parquet computes binary/UTF8 column
    * stats in unsigned byte (code-point) order, which inverts against
    * Java String (UTF-16 code unit) comparison for supplementary
    * characters (an emoji byte-compares above U+E000 but
    * UTF-16-compares below it), so a String-ordered prune could
    * falsely drop a file that contains the key (r12 advice, medium).
    * All prune comparisons go through [[unsignedCmp]] on UTF-8 bytes.
    */
  private type Rng = Option[(Array[Byte], Array[Byte], Array[Byte], Array[Byte])]

  /** unsigned lexicographic byte comparison — parquet's BINARY/UTF8
    * statistics order
    */
  private def unsignedCmp(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private def minB(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (unsignedCmp(a, b) <= 0) a else b
  private def maxB(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (unsignedCmp(a, b) >= 0) a else b

  /** per-file cached metadata: footer + (field,value) min/max for
    * file-level pruning (None when any row group lacks usable stats —
    * the file then always survives the prune; correct, just unpruned),
    * the same per row group, + the projection built from this file's
    * own schema.
    */
  private final case class FileMeta(file: Path, footer: ParquetMetadata,
      range: Rng, blockRanges: Seq[Rng], proj: MessageType)

  /** open one parquet file with read options built from `conf` — the
    * session's Hadoop configuration. The one-argument
    * `ParquetFileReader.open` builds its options around a fresh
    * `Configuration`, whose first lookup parses the default and site
    * resources again (a classpath search) for every file opened.
    */
  private def openFile(conf: Configuration, file: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())

  private def partFiles(conf: Configuration, dir: Path): Seq[Path] = {
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter { p =>
        val n = p.getName
        !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
      }.sortBy(_.getName)
  }

  /** one shared Cleaner for every [[Reader]]: a Reader that was never
    * close()d has its open ParquetFileReader handles released when it
    * becomes unreachable (the leak the r12 advice flagged — the old
    * comment claimed finalizers that did not exist)
    */
  private val cleaner = java.lang.ref.Cleaner.create()

  /** the Cleaner-owned cleanup state: holds the open file readers so
    * the cleanup action can close them WITHOUT referencing the Reader
    */
  private final class ReaderState extends Runnable {
    val openReaders =
      scala.collection.mutable.HashMap.empty[Path, ParquetFileReader]
    // set before the one-shot Cleaner action runs: a lookup after
    // close() used to silently re-open file handles that NOTHING
    // would ever release (the cleanable is spent, GC re-registration
    // never happens) — a use-after-close fd leak (r13 advice #3)
    @volatile var closed = false
    override def run(): Unit = {
      openReaders.values.foreach(r => scala.util.Try(r.close()))
      openReaders.clear()
    }
  }

  /** converter sink for ColumnReadStoreImpl — values are pulled via
    * the readers' typed getters, nothing is materialized
    */
  private val sink: GroupConverter = new GroupConverter {
    override def getConverter(i: Int): Converter = new PrimitiveConverter {}
    override def start(): Unit = {}
    override def end(): Unit = {}
  }

  /** one payload column read for all rows matching (field, value),
    * across a fixed set of sorted-parquet directories. Values come
    * back as plain JVM primitives/Strings matching what the plan
    * path's collect() yields for the same column.
    *
    * WARM HANDLE: file readers stay open and column/offset indexes
    * stay cached for the Reader's lifetime (the mmap-open-bitmap
    * model) — a repeat lookup does only the page I/O + decode of the
    * pages straddling the key. Not thread-safe; one interactive
    * caller per store handle. close() releases the file handles; a
    * never-closed Reader's handles are released by the shared
    * [[java.lang.ref.Cleaner]] when the Reader becomes unreachable
    * (no caller is forced to thread close() through StoredFrame, and
    * a long-lived process opening many stores does not accumulate
    * open ParquetFileReader fds — r12 advice).
    */
  final class Reader(conf: Configuration, dirs: Seq[Path], payload: String)
      extends AutoCloseable {

    // the open-reader map lives in a state object the Cleaner action
    // owns — the action must not capture `this` or the Reader would
    // never become phantom-reachable
    private val state = new ReaderState
    private val cleanable = cleaner.register(this, state)

    // footers read once per store handle, on first lookup
    private lazy val metas: Seq[FileMeta] =
      dirs.flatMap(partFiles(conf, _)).map { file =>
        val rd = openFile(conf, file)
        try {
          val footer = rd.getFooter
          val schema = footer.getFileMetaData.getSchema
          val want = Set("field", "value", payload)
          val proj = new MessageType("graft_point",
            schema.getFields.asScala.filter(t => want(t.getName)).asJava)
          require(proj.getFieldCount == 3,
            s"point read needs field/value/$payload in $file " +
              s"(have ${schema.getFields.asScala.map(_.getName).mkString(",")})")
          val blockRanges = footer.getBlocks.asScala.toSeq.map(blockRange)
          val fileRange: Rng =
            if (blockRanges.exists(_.isEmpty)) None
            else blockRanges.flatten
              .reduceOption((a, b) => (
                minB(a._1, b._1), maxB(a._2, b._2),
                minB(a._3, b._3), maxB(a._4, b._4)))
          FileMeta(file, footer, fileRange, blockRanges, proj)
        } finally rd.close()
      }

    // open readers (in the Cleaner-owned state) + per-row-group
    // column-index stores, cached for the handle's lifetime
    private def openReaders = state.openReaders
    private val indexStores = scala.collection.mutable.HashMap.empty[
      (Path, Int),
      org.apache.parquet.internal.filter2.columnindex.ColumnIndexStore]

    private def readerFor(m: FileMeta): ParquetFileReader = {
      if (state.closed) throw new IllegalStateException(
        s"point Reader for $dirs is closed — a lookup after close() " +
          "would re-open file handles nothing releases (fd leak)")
      openReaders.getOrElseUpdate(m.file, {
        val r = new ParquetFileReader(conf, m.file, m.footer,
          HadoopReadOptions.builder(conf, m.file).build())
        r.setRequestedSchema(m.proj)
        r
      })
    }

    override def close(): Unit = {
      state.closed = true // reject further lookups (see readerFor)
      cleanable.clean() // runs ReaderState.run at most once
      indexStores.clear()
    }

    private def blockRange(
        b: org.apache.parquet.hadoop.metadata.BlockMetaData): Rng = {
      val cols = b.getColumns.asScala
      def rng(name: String): Option[(Array[Byte], Array[Byte])] =
        cols.find(_.getPath.toDotString == name).flatMap { c =>
          c.getStatistics match {
            case s: BinaryStatistics if !s.isEmpty && s.hasNonNullValue =>
              Some((s.genericGetMin.getBytes, s.genericGetMax.getBytes))
            case _ => None
          }
        }
      (rng("field"), rng("value")) match {
        case (Some((a, b2)), Some((c, d))) => Some((a, b2, c, d))
        case _ => None // statless: never prune this unit
      }
    }

    /** sorted-on-(field,value) prune rule shared by files and row
      * groups: the value range only constrains a unit wholly inside
      * ONE field. Comparisons are unsigned UTF-8 byte order — the
      * order parquet computed the stats in (see [[Rng]]).
      */
    private def straddles(r: Rng, field: Array[Byte],
                          value: Array[Byte]): Boolean =
      r match {
        case None => true
        case Some((fMin, fMax, vMin, vMax)) =>
          if (unsignedCmp(field, fMin) < 0 ||
              unsignedCmp(field, fMax) > 0) false
          else if (unsignedCmp(fMin, fMax) == 0 &&
                   unsignedCmp(fMin, field) == 0)
            unsignedCmp(value, vMin) >= 0 && unsignedCmp(value, vMax) <= 0
          else true
      }

    private def candidates(field: Array[Byte],
                           value: Array[Byte]): Seq[FileMeta] =
      metas.filter(m => straddles(m.range, field, value))

    /** all payload values for rows where field/value match exactly
      * (dir → file → block → row order, exactly the order
      * [[lookupStreams]] yields — this is its eager concatenation)
      */
    def lookup(field: String, value: String): Seq[Any] = {
      val out = Seq.newBuilder[Any]
      lookupStreams(field, value).foreach(_.foreach(out += _))
      out.result()
    }

    /** per-DIR lazy payload streams for one (field,value): each input
      * dir is one segment totally ordered on (field, value,
      * payload-order) — one sorted file, or range-clustered files whose
      * name order is range order — so walking its candidate files,
      * blocks, and rows in
      * sequence yields that dir's payloads in WRITE-SORT order. The
      * caller gets one iterator per dir — k sorted runs it can
      * merge-intersect in O(1) memory instead of materializing a Set
      * per side (r13 verdict #2: a hot entry is tens of millions of
      * keys; a COUNT must not hold them). Page I/O happens lazily as
      * each iterator advances; an unconsumed iterator costs only its
      * first block's read.
      */
    def lookupStreams(field: String, value: String): Seq[Iterator[Any]] = {
      if (state.closed) throw new IllegalStateException(
        s"point Reader for $dirs is closed")
      val fB = Binary.fromString(field)
      val vB = Binary.fromString(value)
      val fBytes = fB.getBytes
      val vBytes = vB.getBytes
      val pred = FilterApi.and(
        FilterApi.eq(FilterApi.binaryColumn("field"), fB),
        FilterApi.eq(FilterApi.binaryColumn("value"), vB))
      val filter = FilterCompat.get(pred)
      val cands = candidates(fBytes, vBytes)
      // one run per PARENT DIR, preserving metas order (= input dir
      // order, file-name order within a dir). Grouping by the file's
      // own parent rather than matching against `dirs` — listStatus
      // returns scheme-QUALIFIED paths that need not equal the
      // caller's unqualified dir Paths.
      val groups = scala.collection.mutable.LinkedHashMap
        .empty[Path, scala.collection.mutable.ArrayBuffer[FileMeta]]
      cands.foreach(m => groups.getOrElseUpdate(m.file.getParent,
        scala.collection.mutable.ArrayBuffer.empty[FileMeta]) += m)
      groups.values.toSeq
        .map { fms =>
          fms.iterator.flatMap { m =>
            val blocks = m.footer.getBlocks.asScala.toSeq
            blocks.indices.iterator
              .filter(bi => straddles(m.blockRanges(bi), fBytes, vBytes))
              .flatMap(bi => blockRows(m, bi, fB, vB, filter))
          }
        }
    }

    /** matching payload values of ONE row group, lazily: page-pruned
      * read + the row-synchronized typed-reader walk as an iterator.
      */
    private def blockRows(m: FileMeta, bi: Int, fB: Binary, vB: Binary,
        filter: FilterCompat.Filter): Iterator[Any] = {
      import org.apache.parquet.hadoop.metadata.ColumnPath
      import org.apache.parquet.internal.filter2.columnindex.{
        ColumnIndexFilter, ColumnIndexStore}
      val r = readerFor(m)
      val cols = m.proj.getColumns.asScala
      val kTpe = m.proj.getFields.asScala
        .find(_.getName == payload).get.asPrimitiveType()
      val paths: java.util.Set[ColumnPath] =
        cols.map(c => ColumnPath.get(c.getPath: _*)).toSet.asJava
      val blocks = m.footer.getBlocks.asScala.toSeq
      // page-level prune from the CACHED column indexes — in
      // memory after the first lookup that touches this group
      val store = indexStores.getOrElseUpdate((m.file, bi),
        r.getColumnIndexStore(bi))
      val pages =
        try {
          val ranges = ColumnIndexFilter.calculateRowRanges(
            filter, store, paths, blocks(bi).getRowCount)
          if (ranges.rowCount == 0L) null
          else r.readFilteredRowGroup(bi, ranges)
        } catch {
          // no column/offset indexes (older writer): read the
          // whole row group — the belt below still filters
          case _: ColumnIndexStore.MissingOffsetIndexException =>
            r.readRowGroup(bi)
        }
      if (pages == null) Iterator.empty
      else new Iterator[Any] {
        private val rows = pages.getRowCount
        // row-synchronized typed readers (rowIndexes present ⇒
        // SynchronizingColumnReader): all three columns yield the
        // SAME surviving rows in lockstep — no Group assembly
        private val crs = new ColumnReadStoreImpl(pages, sink, m.proj,
          m.footer.getFileMetaData.getCreatedBy)
        private val fCol = crs.getColumnReader(
          cols.find(_.getPath()(0) == "field").get)
        private val vCol = crs.getColumnReader(
          cols.find(_.getPath()(0) == "value").get)
        private val kCol = crs.getColumnReader(
          cols.find(_.getPath()(0) == payload).get)
        private val fDef = fCol.getDescriptor.getMaxDefinitionLevel
        private val vDef = vCol.getDescriptor.getMaxDefinitionLevel
        private val kDef = kCol.getDescriptor.getMaxDefinitionLevel
        private var i = 0L
        private var nextV: Any = null
        private var has = false
        advance()

        private def advance(): Unit = {
          has = false
          while (!has && i < rows) {
            // CONTRACT: every non-null position of every column must
            // be read (getter) or skip()ed before consume() — an
            // unread value is NOT advanced by consume() and the
            // reader silently desyncs from its siblings. So f and v
            // are read unconditionally (no short-circuit), and k is
            // skipped when the row doesn't match.
            val fHas = fCol.getCurrentDefinitionLevel == fDef
            val vHas = vCol.getCurrentDefinitionLevel == vDef
            val kHas = kCol.getCurrentDefinitionLevel == kDef
            // exact-equality belt: page granularity never leaks
            // neighbors, null field/value rows never match
            val fOk = fHas && fCol.getBinary == fB
            val vOk = vHas && vCol.getBinary == vB
            if (fOk && vOk) {
              nextV =
                if (!kHas) null
                else kTpe.getPrimitiveTypeName match {
                  case INT64   => kCol.getLong
                  case INT32   => kCol.getInteger
                  case BINARY  => kCol.getBinary.toStringUsingUTF8
                  case DOUBLE  => kCol.getDouble
                  case FLOAT   => kCol.getFloat
                  case BOOLEAN => kCol.getBoolean
                  case other => throw new UnsupportedOperationException(
                    s"point read of $payload: unsupported parquet type $other")
                }
              has = true
            } else if (kHas) kCol.skip()
            fCol.consume(); vCol.consume(); kCol.consume()
            i += 1
          }
        }

        override def hasNext: Boolean = has
        override def next(): Any = {
          if (!has) throw new NoSuchElementException
          val v = nextV
          advance()
          v
        }
      }
    }

    /** PREFIX/RANGE scan: every (value, payload) pair of one field
      * whose value starts with `prefix` — the interactive index-NAV
      * op (enumerate a field's terms under a prefix, the reference's
      * DfTest index-navigation loop), served with the same
      * footer/page pruning as [[lookup]] via the byte range
      * [prefix, successor(prefix)). An empty prefix enumerates the
      * whole field. Same correctness belt: every surviving row is
      * re-checked exactly, so page granularity never leaks.
      */
    def scanPrefix(field: String, prefix: String): Seq[(String, Any)] = {
      import org.apache.parquet.hadoop.metadata.ColumnPath
      import org.apache.parquet.internal.filter2.columnindex.{
        ColumnIndexFilter, ColumnIndexStore}
      val fB = Binary.fromString(field)
      val fBytes = fB.getBytes
      val lo = Binary.fromString(prefix).getBytes
      val hiOpt = byteSuccessor(lo) // None = unbounded (all-0xFF/empty)
      val basePred = FilterApi.and(
        FilterApi.eq(FilterApi.binaryColumn("field"), fB),
        FilterApi.gtEq(FilterApi.binaryColumn("value"),
          Binary.fromConstantByteArray(lo)))
      val pred = hiOpt.fold(basePred)(h => FilterApi.and(basePred,
        FilterApi.lt(FilterApi.binaryColumn("value"),
          Binary.fromConstantByteArray(h))))
      val filter = FilterCompat.get(pred)
      def vInRange(v: Array[Byte]): Boolean =
        unsignedCmp(v, lo) >= 0 &&
          hiOpt.forall(h => unsignedCmp(v, h) < 0)
      def straddlesR(r: Rng): Boolean = r match {
        case None => true
        case Some((fMin, fMax, vMin, vMax)) =>
          if (unsignedCmp(fBytes, fMin) < 0 ||
              unsignedCmp(fBytes, fMax) > 0) false
          else if (unsignedCmp(fMin, fMax) == 0 &&
                   unsignedCmp(fMin, fBytes) == 0)
            // range overlap against the unit's [vMin, vMax]
            hiOpt.forall(h => unsignedCmp(h, vMin) > 0) &&
              unsignedCmp(lo, vMax) <= 0
          else true
      }
      val out = Seq.newBuilder[(String, Any)]
      metas.filter(m => straddlesR(m.range)).foreach { m =>
        val r = readerFor(m)
        val cols = m.proj.getColumns.asScala
        val kTpe = m.proj.getFields.asScala
          .find(_.getName == payload).get.asPrimitiveType()
        val paths: java.util.Set[ColumnPath] =
          cols.map(c => ColumnPath.get(c.getPath: _*)).toSet.asJava
        val blocks = m.footer.getBlocks.asScala.toSeq
        blocks.indices.foreach { bi =>
          if (straddlesR(m.blockRanges(bi))) {
            val store = indexStores.getOrElseUpdate((m.file, bi),
              r.getColumnIndexStore(bi))
            val pages =
              try {
                val ranges = ColumnIndexFilter.calculateRowRanges(
                  filter, store, paths, blocks(bi).getRowCount)
                if (ranges.rowCount == 0L) null
                else r.readFilteredRowGroup(bi, ranges)
              } catch {
                case _: ColumnIndexStore.MissingOffsetIndexException =>
                  r.readRowGroup(bi)
              }
            if (pages != null) {
              val rows = pages.getRowCount
              val crs = new ColumnReadStoreImpl(pages, sink, m.proj,
                m.footer.getFileMetaData.getCreatedBy)
              val fCol = crs.getColumnReader(
                cols.find(_.getPath()(0) == "field").get)
              val vCol = crs.getColumnReader(
                cols.find(_.getPath()(0) == "value").get)
              val kCol = crs.getColumnReader(
                cols.find(_.getPath()(0) == payload).get)
              val fDef = fCol.getDescriptor.getMaxDefinitionLevel
              val vDef = vCol.getDescriptor.getMaxDefinitionLevel
              val kDef = kCol.getDescriptor.getMaxDefinitionLevel
              var i = 0L
              while (i < rows) {
                // same read-or-skip contract as lookup (see there)
                val fHas = fCol.getCurrentDefinitionLevel == fDef
                val vHas = vCol.getCurrentDefinitionLevel == vDef
                val kHas = kCol.getCurrentDefinitionLevel == kDef
                val fOk = fHas && fCol.getBinary == fB
                val vB2 = if (vHas) vCol.getBinary else null
                val vOk = vHas && vInRange(vB2.getBytes)
                if (fOk && vOk) {
                  val vs = vB2.toStringUsingUTF8
                  if (!kHas) out += ((vs, null))
                  else out += ((vs, kTpe.getPrimitiveTypeName match {
                    case INT64   => kCol.getLong
                    case INT32   => kCol.getInteger
                    case BINARY  => kCol.getBinary.toStringUsingUTF8
                    case DOUBLE  => kCol.getDouble
                    case FLOAT   => kCol.getFloat
                    case BOOLEAN => kCol.getBoolean
                    case other => throw new UnsupportedOperationException(
                      s"point scan of $payload: unsupported type $other")
                  }))
                } else if (kHas) kCol.skip()
                fCol.consume(); vCol.consume(); kCol.consume()
                i += 1
              }
            }
          }
        }
      }
      out.result()
    }
  }

  /** the exclusive upper bound of the byte range covering every
    * string with prefix `p`: the rightmost non-0xFF byte incremented,
    * bytes after it dropped; None (unbounded) for empty / all-0xFF
    */
  private def byteSuccessor(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  /** row-key order for driver-side merges: matches the refs WRITE
    * sort (Spark's ascending sort on row_key within an entry) —
    * numeric for integral keys (widened across eras —
    * evolution may have widened int→long), unsigned UTF-8 byte order
    * for strings (UTF8String's binary order, NOT Java String's
    * UTF-16 order — they disagree above the BMP). Nulls first,
    * Spark's ascending default.
    */
  private[core] def rowKeyCmp(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: java.lang.Number, y: java.lang.Number)
        if !x.isInstanceOf[java.lang.Double] &&
           !x.isInstanceOf[java.lang.Float] &&
           !y.isInstanceOf[java.lang.Double] &&
           !y.isInstanceOf[java.lang.Float] =>
      java.lang.Long.compare(x.longValue(), y.longValue())
    case (x: java.lang.Number, y: java.lang.Number) =>
      java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: String, y: String) =>
      unsignedCmp(x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case (x: java.lang.Boolean, y: java.lang.Boolean) =>
      java.lang.Boolean.compare(x, y)
    case _ => throw new UnsupportedOperationException(
      s"point merge: incomparable row keys ${a.getClass}/${b.getClass}")
  }

  /** a queried (current) field name mapped BACK to the physical name
    * an era's files carry: walk the era's applicable renames newest-
    * first inverting each hop, then verify the forward chain round-
    * trips — None when it does not (the physical column was renamed
    * away or dropped; the era serves nothing for this field, exactly
    * like the plan path). `renames` ascending by id, as stored.
    */
  private[core] def reverseName(field: String,
      renames: Seq[(Int, String, String)]): Option[String] = {
    if (renames.isEmpty) return Some(field)
    val phys = renames.reverse.foldLeft(field) {
      case (n, (_, from, to)) => if (n == to) from else n
    }
    val fwd = renames.foldLeft(phys) {
      case (n, (_, from, to)) => if (n == from) to else n
    }
    if (fwd == field) Some(phys) else None
  }

  /** driver-side read of EVERY value of one column across a parquet
    * directory — the tombstone-key-set loader for the fast path's
    * anti-join (key sets are small by the delete contract; the plan
    * path broadcast-joins the same data). Nulls come back as null.
    */
  private[core] def readColumn(conf: Configuration, dir: Path,
                               column: String): Seq[Any] = {
    val out = Seq.newBuilder[Any]
    partFiles(conf, dir).foreach { file =>
      val rd = openFile(conf, file)
      try {
        val schema = rd.getFooter.getFileMetaData.getSchema
        val fld = schema.getFields.asScala.find(_.getName == column)
          .getOrElse(throw new IllegalArgumentException(
            s"no column '$column' in $file"))
        val proj = new MessageType("graft_col", java.util.List.of(fld))
        rd.setRequestedSchema(proj)
        val desc = proj.getColumns.asScala.head
        val tpe = fld.asPrimitiveType().getPrimitiveTypeName
        val maxDef = desc.getMaxDefinitionLevel
        var pages = rd.readNextRowGroup()
        while (pages != null) {
          val crs = new ColumnReadStoreImpl(pages, sink, proj,
            rd.getFooter.getFileMetaData.getCreatedBy)
          val cr = crs.getColumnReader(desc)
          var i = 0L
          val n = pages.getRowCount
          while (i < n) {
            if (cr.getCurrentDefinitionLevel == maxDef)
              out += (tpe match {
                case INT64   => cr.getLong
                case INT32   => cr.getInteger
                case BINARY  => cr.getBinary.toStringUsingUTF8
                case DOUBLE  => cr.getDouble
                case FLOAT   => cr.getFloat
                case BOOLEAN => cr.getBoolean
                case other => throw new UnsupportedOperationException(
                  s"readColumn($column): unsupported parquet type $other")
              })
            else out += null
            cr.consume()
            i += 1
          }
          pages = rd.readNextRowGroup()
        }
      } finally rd.close()
    }
    out.result()
  }

  /** one freq-side unit group: (field,value,f)-shaped dirs (index
    * segments and tombstone ixdelta/ixrepair units) sharing a rename
    * era, plus that era's applicable renames
    */
  type FreqGroup = (Seq[Path], Seq[(Int, String, String)])

  /** one rows-side era group: rows_ segment dirs, the era's renames,
    * and the APPLICABLE tombstone ids whose key sets anti-join this
    * era's results
    */
  type RowsGroup = (Seq[Path], Seq[(Int, String, String)], Seq[Int])

  /** the per-store point-read face [[Store.open]] attaches to a
    * [[StoredFrame]]: its unit groups and key-set dirs come from the
    * handle's open-time unit snapshot (metadata open() has already
    * read), while the part-file listings, footers, open file readers
    * and victim key sets load on the first lookup that needs them
    * and stay cached for the handle's lifetime. Tombstones and renames
    * are served directly (see the class notes); `None` comes only from
    * the pair and k-entry walks' hot-entry gate.
    */
  final class StorePoint(conf: Configuration,
      freqGroups: () => Seq[FreqGroup],
      rowsGroups: () => Seq[RowsGroup],
      delKeyDirs: () => Map[Int, Path]) {

    private lazy val fGroups = freqGroups()
    private lazy val rGroups = rowsGroups()
    private lazy val keyDirs = delKeyDirs()
    private val freqReaders =
      scala.collection.mutable.HashMap.empty[Int, Reader]
    private val rowsReaders =
      scala.collection.mutable.HashMap.empty[Int, Reader]
    // victim key sets cached for the handle's lifetime (the warm-mmap
    // model again — one driver-side read per tombstone, ever)
    private val victimSets =
      scala.collection.mutable.HashMap.empty[Int, Set[Any]]

    private def victims(ids: Seq[Int]): Set[Any] =
      ids.foldLeft(Set.empty[Any]) { (acc, id) =>
        acc ++ victimSets.getOrElseUpdate(id,
          readColumn(conf, keyDirs(id), "key").toSet)
      }

    /** the plan path filters the `__graft_dropped_*` hidden namespace
      * out of every merged read (Store.mergedIndex); without this
      * guard a point query BY the reserved physical name would
      * round-trip through reverseName and resurrect the dropped
      * column's entries (r13 advice #1). Dropped names serve
      * 0/empty — same as the plan path.
      */
    private def hidden(field: String): Boolean =
      field.startsWith(Store.DroppedPrefix)

    /** total f for (field,value): per-era segment sums PLUS the
      * tombstones' negative entries — the merge-on-read netting,
      * driver-side
      */
    def freq(field: String, value: String): Long =
      if (hidden(field)) 0L
      else fGroups.zipWithIndex.foldLeft(0L) {
        case (acc, ((dirs, rens), i)) =>
          reverseName(field, rens) match {
            case None => acc
            case Some(phys) =>
              val rd = freqReaders.getOrElseUpdate(i,
                new Reader(conf, dirs, "f"))
              acc + rd.lookup(phys, value)
                .foldLeft(0L)((a, v) => a + v.asInstanceOf[Long])
          }
      }

    /** prefix NAVIGATION: every (value, net f) of one field whose
      * value starts with `prefix` — per-era range scans with the
      * era's physical name, the tombstones' negative ixdelta/ixrepair
      * entries riding the same sum (merge-on-read netting, like
      * [[freq]]); zero-netted entries disappear, exactly like the
      * plan path's merged index. Empty prefix enumerates the field.
      */
    def prefix(field: String, prefix: String): Seq[(String, Long)] =
      if (hidden(field)) Seq.empty
      else {
        val acc = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        fGroups.zipWithIndex.foreach { case ((dirs, rens), i) =>
          reverseName(field, rens).foreach { phys =>
            val rd = freqReaders.getOrElseUpdate(i,
              new Reader(conf, dirs, "f"))
            rd.scanPrefix(phys, prefix).foreach { case (v, f) =>
              acc(v) = acc.getOrElse(v, 0L) + f.asInstanceOf[Long]
            }
          }
        }
        acc.toSeq.filter(_._2 != 0L).sortBy(_._1)
      }

    /** NUMERIC-RANGE navigation (r15 — the numeric analog of
      * [[prefix]], closing the reference's sorted typed ordering over
      * a numeric field's entries, Dfs.scala:310-328 / the
      * `index_nav_num` plan row): every (value, net f) of one field
      * whose value PARSES numerically into [lo, hi], ordered by
      * native numeric value ("10" never lands before "2"). Index
      * values are persisted as strings, so numeric order is not the
      * parquet sort order and page pruning cannot bound lo..hi — the
      * scan is the same per-era byte-range enumeration of the FIELD
      * that [[prefix]]("") pays (bounded by the field's entry
      * cardinality, never its row count), with the range filter
      * applied per entry before accumulation and the tombstones'
      * negative entries riding the same netting sum. Non-parsing
      * values are outside any numeric range — excluded, exactly like
      * the plan spelling's cast-to-double (null) comparison.
      */
    def range(field: String, lo: Double,
              hi: Double): Seq[(String, Long)] =
      if (hidden(field)) Seq.empty
      else {
        val acc = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        fGroups.zipWithIndex.foreach { case ((dirs, rens), i) =>
          reverseName(field, rens).foreach { phys =>
            val rd = freqReaders.getOrElseUpdate(i,
              new Reader(conf, dirs, "f"))
            rd.scanPrefix(phys, "").foreach { case (v, f) =>
              val d = try java.lang.Double.parseDouble(v)
                      catch { case _: NumberFormatException => Double.NaN }
              if (d >= lo && d <= hi) // NaN fails both — excluded
                acc(v) = acc.getOrElse(v, 0L) + f.asInstanceOf[Long]
            }
          }
        }
        acc.toSeq.filter(_._2 != 0L)
          .sortBy { case (v, _) => (java.lang.Double.parseDouble(v), v) }
      }

    /** row keys for (field,value): per-era lookups with the era's
      * physical field name, each era's applicable victim key sets
      * subtracted (a key re-appended after its delete is live — it
      * sits in a later era no tombstone applies to). Keys are unique
      * across segments by construction, so concatenation IS the
      * union.
      */
    def rows(field: String, value: String): Seq[Any] =
      rowStreams(field, value).flatten

    /** the same row keys as [[rows]] but as LAZY SORTED RUNS: one
      * ascending iterator per (era, segment dir) — each refs segment
      * is totally ordered on (field, value, row_key), so
      * within one (field,value) its keys stream in ascending key
      * order, victims filtered on the fly. Keys are unique across
      * segments, so the runs merge into one strictly-ascending
      * stream ([[kMerge]]) without materializing anything.
      */
    def rowStreams(field: String, value: String): Seq[Iterator[Any]] =
      if (hidden(field)) Nil
      else rGroups.zipWithIndex.flatMap {
        case ((dirs, rens, delIds), i) =>
          reverseName(field, rens) match {
            case None => Nil
            case Some(phys) =>
              val rd = rowsReaders.getOrElseUpdate(i,
                new Reader(conf, dirs, "row_key"))
              val runs = rd.lookupStreams(phys, value)
              if (delIds.isEmpty) runs
              else {
                val vs = victims(delIds)
                runs.map(_.filterNot(vs.contains))
              }
          }
      }

    /** drop consecutive equal keys from an ASCENDING stream — row
      * keys are unique across segments by construction, so this is
      * pure contract armor: a refs artifact violating uniqueness
      * degrades to set semantics here exactly as the plan fallbacks'
      * distinct() does (r14 advice #4), instead of multiplying
      * counts. One extra compare per emitted key.
      */
    private def dedupAsc(it: Iterator[Any]): Iterator[Any] = {
      val b = it.buffered
      new Iterator[Any] {
        override def hasNext: Boolean = b.hasNext
        override def next(): Any = {
          val v = b.next()
          while (b.hasNext && rowKeyCmp(b.head, v) == 0) b.next()
          v
        }
      }
    }

    /** merge k ascending runs into one ascending stream — O(k) state,
      * never materializes a run (k = live segment count, small)
      */
    private def kMerge(runs: Seq[Iterator[Any]]): Iterator[Any] = {
      val heads = scala.collection.mutable.ArrayBuffer
        .from(runs.map(_.buffered).filter(_.hasNext))
      new Iterator[Any] {
        override def hasNext: Boolean = heads.nonEmpty
        override def next(): Any = {
          var mi = 0
          var i = 1
          while (i < heads.length) {
            if (rowKeyCmp(heads(i).head, heads(mi).head) < 0) mi = i
            i += 1
          }
          val v = heads(mi).next()
          if (!heads(mi).hasNext) heads.remove(mi)
          v
        }
      }
    }

    /** the AND count of two entries' row keys from ONE two-pointer
      * walk of the merged ascending streams, stopping as soon as
      * EITHER stream exhausts — the tail of the longer side stays
      * lazy (undecoded pages), which matters when one entry is much
      * rarer than the other. The hot-entry gate is INLINE, as in
      * [[multiStats]]: the walk aborts once either side exceeds
      * `maxF` consumed keys. None = gated.
      */
    def andCount(f1: String, v1: String, f2: String, v2: String,
                 maxF: Long): Option[Long] = {
      val x = dedupAsc(kMerge(rowStreams(f1, v1))).buffered
      val y = dedupAsc(kMerge(rowStreams(f2, v2))).buffered
      var fa = 0L
      var fb = 0L
      var and = 0L
      while (x.hasNext && y.hasNext) {
        if (fa > maxF || fb > maxF) return None
        val c = rowKeyCmp(x.head, y.head)
        if (c == 0) { and += 1; fa += 1; fb += 1; x.next(); y.next() }
        else if (c < 0) { fa += 1; x.next() }
        else { fb += 1; y.next() }
      }
      Some(and)
    }

    /** K-ENTRY boolean stats (r15 — the reference's composed-bitmap
      * surface, utils/LBits.scala:141-207 createAnd/createOr over
      * arbitrarily many open bitmaps and the ioseq/IoBits.scala:24-90
      * dense/sparse AND/OR kernels, generalized from the r14
      * two-entry walk): per-term frequencies f_i, the AND count
      * (rows present in ALL k terms) and the OR count (rows present
      * in ANY) from ONE simultaneous n-way walk of the k merged
      * ascending streams — O(k) state, no side ever materialized,
      * with an INLINE per-side gate: any side exceeding `maxF`
      * consumed keys aborts to the plan fallback, so a stopword-class
      * entry costs at most maxF decodes and no separate freq read.
      * f_i are the stream lengths (= net f: refs count ≡ f by
      * construction), so two-entry callers get (fA, fB, AND) here.
      * Every other boolean combination over k terms is a set
      * identity away for the caller (NOT via the frame row count —
      * [[graft.core.StoredFrame.boolPoint]] supplies it from its
      * cached nPoint). None = gated.
      */
    def multiStats(terms: Seq[(String, String)],
                   maxF: Long): Option[(Seq[Long], Long, Long)] = {
      if (terms.isEmpty) return Some((Nil, 0L, 0L))
      val its = terms.map { case (f, v) =>
        dedupAsc(kMerge(rowStreams(f, v))).buffered }.toIndexedSeq
      val k = its.length
      val fCnt = Array.fill(k)(0L)
      var and = 0L
      var or = 0L
      var exhausted = its.count(!_.hasNext)
      while (exhausted < k) {
        // min head across live streams, then advance every stream
        // sitting on it — one OR row; an AND row iff all k matched
        var minIdx = -1
        var i = 0
        while (i < k) {
          if (its(i).hasNext &&
              (minIdx < 0 || rowKeyCmp(its(i).head, its(minIdx).head) < 0))
            minIdx = i
          i += 1
        }
        val minKey = its(minIdx).head
        var matched = 0
        i = 0
        while (i < k) {
          if (its(i).hasNext && rowKeyCmp(its(i).head, minKey) == 0) {
            fCnt(i) += 1
            if (fCnt(i) > maxF) return None
            its(i).next()
            if (!its(i).hasNext) exhausted += 1
            matched += 1
          }
          i += 1
        }
        or += 1
        if (matched == k) and += 1
      }
      Some((fCnt.toSeq, and, or))
    }

    /** K-ENTRY row ENUMERATION (r15 — the other half of the composed
      * bitmap surface: the reference reads the composed bitmap's set
      * bits, IoBits AND/OR kernels): the row keys matching ALL k
      * terms (`intersect = true`) or ANY term (`intersect = false`),
      * ascending. OR is simply the k·m-run merge de-duplicated
      * (union of sorted runs IS a merge); AND is the [[multiStats]]
      * walk keeping the keys every stream advanced on. Memory is the
      * ANSWER plus victim sets — no input side is held.
      */
    def multiRows(terms: Seq[(String, String)],
                  intersect: Boolean): Seq[Any] = {
      if (terms.isEmpty) return Seq.empty
      val streams = terms.map { case (f, v) => rowStreams(f, v) }
      if (!intersect) return dedupAsc(kMerge(streams.flatten)).toSeq
      val its = streams.map(s => dedupAsc(kMerge(s)).buffered).toIndexedSeq
      val k = its.length
      val out = Seq.newBuilder[Any]
      var exhausted = its.count(!_.hasNext)
      while (exhausted == 0) { // one empty stream ends an intersection
        var minIdx = 0
        var i = 1
        while (i < k) {
          if (rowKeyCmp(its(i).head, its(minIdx).head) < 0) minIdx = i
          i += 1
        }
        val minKey = its(minIdx).head
        var matched = 0
        i = 0
        while (i < k) {
          if (rowKeyCmp(its(i).head, minKey) == 0) {
            its(i).next()
            if (!its(i).hasNext) exhausted += 1
            matched += 1
          }
          i += 1
        }
        if (matched == k) out += minKey
      }
      out.result()
    }

    /** release the warm file handles (safe to call even if no lookup
      * ever ran — the readers are lazy)
      */
    def close(): Unit = {
      freqReaders.values.foreach(_.close()); freqReaders.clear()
      rowsReaders.values.foreach(_.close()); rowsReaders.clear()
      victimSets.clear()
    }
  }
}
