package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TokenOps

/** How to index one column: produce an array of index tokens from it.
  *
  * Mirror of the reference's analyzer concept
  * (/root/reference/src/main/scala/com/futurice/iodf/IndexedDf.scala:15-34):
  * the default analyzer emits the value itself; a text analyzer may
  * emit many tokens per row (e.g. whitespace split). Expressed here as
  * a Column→Column function so the whole index build stays inside
  * Catalyst (codegen, pushdown) instead of a row-at-a-time lambda.
  */
object Analyzers {
  /** value itself as a single token (cast to string) */
  val identity: Column => Column = c => array(c.cast("string"))
  /** whitespace tokenizer (DfTest.scala:70 splits on " ") */
  val whitespace: Column => Column = c => split(c.cast("string"), " ")
  /** lowercased whitespace tokenizer. Lowercases with
    * [[graft.functions.TokenOps.lower]], which equals Spark's `lower`
    * but never loads ICU for ASCII text: Spark's `lower` builds ICU's
    * case table on its first call in a JVM (1.4–1.6 s, other tasks
    * blocked meanwhile). A non-ASCII value still goes through Spark's
    * ICU path.
    */
  val lowerWhitespace: Column => Column = c => split(TokenOps.lower(c.cast("string")), " ")

  /** character n-grams of each whitespace token (edge-padded by the
    * token itself when shorter) — substring-searchable index entries.
    */
  def charNgrams(n: Int): Column => Column = c =>
    flatten(transform(split(TokenOps.lower(c.cast("string")), " "), tok =>
      when(length(tok) <= n, array(tok)).otherwise(
        transform(sequence(lit(1), length(tok) - (n - 1)),
          i => tok.substr(i, lit(n))))))

  /** suffix-stripping stemmer-lite (s/es/ed/ing) over lowercased
    * whitespace tokens — the analyzer-extension shape; swap in a real
    * stemmer the same way.
    */
  val stemmed: Column => Column = c =>
    transform(split(TokenOps.lower(c.cast("string")), " "), tok =>
      when(tok.endsWith("ing") && length(tok) > 5, expr_strip(tok, 3))
        .when(tok.endsWith("ed") && length(tok) > 4, expr_strip(tok, 2))
        .when(tok.endsWith("es") && length(tok) > 4, expr_strip(tok, 2))
        .when(tok.endsWith("s") && length(tok) > 3, expr_strip(tok, 1))
        .otherwise(tok))

  private def expr_strip(tok: Column, n: Int): Column =
    tok.substr(lit(1), length(tok) - n)
}

final case class IndexSpec(
    fields: Seq[String],
    analyzers: Map[String, Column => Column] = Map.empty,
    rowRefs: Option[String] = None) {
  def analyzer(field: String): Column => Column =
    analyzers.getOrElse(field, Analyzers.identity)
  def withAnalyzer(field: String, a: Column => Column): IndexSpec =
    copy(analyzers = analyzers + (field -> a))
  /** exclude a field from indexing (IndexConf.withoutField,
    * IndexedDf.scala:31) — here the field simply leaves the spec.
    */
  def withoutField(field: String): IndexSpec =
    copy(fields = fields.filterNot(_ == field),
      analyzers = analyzers - field)
  /** opt in to the per-entry row-refs artifact: `keyCol` names the
    * row-key column whose values each index entry records (the
    * reference's per-(field,value) row bitmap, Dfs.scala:330-408,
    * re-expressed — see [[IndexedFrame.rowRefs]]). Optional because
    * at 100 TB the refs artifact is a point-lookup accelerator, not
    * something every store should pay to maintain.
    */
  def withRowRefs(keyCol: String): IndexSpec = copy(rowRefs = Some(keyCol))
}

/** Spark-native re-expression of the reference's inverted index
  * (/root/reference/src/main/scala/com/futurice/iodf/Dfs.scala:330-408:
  * per (colId, value) a bitmap of matching rows).
  *
  * On Spark we never materialize per-value row bitmaps on a driver:
  * - the *index frame* [[entries]] ((field, value, f), sorted) is the
  *   analog of the index's colIds + per-bitmap popcounts, built with
  *   ONE scan + ONE shuffle (explode → groupBy, map-side combined);
  * - bitmap algebra (f, fAnd, CoStats) becomes conditional
  *   aggregation over the base table: one scan, no join, no shuffle
  *   beyond the final single-row reduce — this is the shape that
  *   survives 100 TB, unlike driver-side bitsets.
  */
final case class IndexedFrame(df: DataFrame, spec: IndexSpec) {

  /** tokens array column for a field */
  private def tokens(field: String): Column = spec.analyzer(field)(col(field))

  /** identity-indexed fields of numeric column type: their index
    * entries order by NATIVE value, not by the string form — the
    * reference's typed index ordering (Dfs.indexColIdOrdering,
    * Dfs.scala:310-328: anyOrdering compares Int/Long/Double as such,
    * so a numeric column's index never reads "10" < "2"). Analyzed
    * fields emit string tokens and keep string order; booleans, ISO
    * dates and timestamps already sort natively in string form.
    */
  private lazy val numericFields: Seq[String] =
    spec.fields.filter { f =>
      !spec.analyzers.contains(f) &&
        df.schema(f).dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType]
    }

  /** typed sort key beside the string `value` column: numeric fields
    * get their numeric value back, every other field gets null (its
    * rows then tie-break on the string value alone — within one field
    * the key is all-null or all-numeric, so order is total either way).
    */
  private def valueSortKey: Column =
    if (numericFields.isEmpty) lit(null).cast("double")
    else when(col("field").isin(numericFields: _*), col("value").cast("double"))

  /** Predicate "row matches (field, value)" — the analog of opening
    * the (field,value) bitmap (IndexedDf.scala:77-85). For identity
    * analyzers Catalyst simplifies array_contains(array(c), v) to an
    * equality that pushes into the parquet scan.
    */
  def predicate(field: String, value: String): Column =
    if (spec.analyzers.contains(field)) array_contains(tokens(field), value)
    else col(field).cast("string") === value

  /** The index frame: (field, value, f) for every distinct token of
    * every indexed field, sorted like the reference's merge-sorted
    * index colIds (Dfs.scala:310-328).
    */
  lazy val entries: DataFrame = {
    // array_distinct on ANALYZED fields only: f counts MATCHING ROWS,
    // not token occurrences — the reference's per-value bitmap sets
    // one bit per row no matter how often a token repeats inside it
    // (Dfs.scala:330-408), and [[predicate]]/fDF count rows too;
    // without the distinct a doc containing "hello hello" would make
    // the persisted index disagree with the live predicate count.
    // Identity fields produce 1-element arrays where distinct is a
    // semantic no-op but a real per-row cost — skip it there.
    val pairs = spec.fields.map { f =>
      val ts = if (spec.analyzers.contains(f)) array_distinct(tokens(f))
               else tokens(f)
      struct(lit(f).as("field"), ts.as("ts"))
    }
    df.select(explode(array(pairs: _*)).as("fv"))
      .select(col("fv.field").as("field"), explode(col("fv.ts")).as("value"))
      .groupBy("field", "value").agg(count(lit(1)).as("f"))
      .orderBy(col("field"), valueSortKey, col("value"))
  }

  /** (field, value, row_key) — one row per matching row per entry: the
    * reference's per-entry row bitmap (Dfs.scala:330-408 writes an
    * LBits of matching rows for every (colId, value)) re-expressed as
    * a flat sorted frame keyed by `spec.rowRefs`. Flat rows, not
    * array cells: a mega-hot entry (a stopword token matching every
    * row) becomes a long RUN of rows that parquet RLE/dictionary
    * encoding compresses like a bitmap would — never a single
    * multi-GB array cell or one straggler task. Totally ordered on
    * (field, value, row_key), so a point read prunes to the files
    * whose min/max straddle the entry — the Spark analog of opening
    * exactly one bitmap. The sort plans at the input's parallelism:
    * a multi-partition input is range-partitioned (row_key included,
    * so a hot entry's run splits across tasks and files instead of
    * pinning one), while a one-partition input — a segment whose
    * read-back scans as one split — is sorted in place with no
    * exchange.
    */
  def rowRefs: DataFrame = {
    val key = spec.rowRefs.getOrElse(throw new IllegalArgumentException(
      "IndexSpec.rowRefs is unset — opt in with withRowRefs(keyCol)"))
    // same array_distinct discipline as [[entries]]: one ref per
    // MATCHING ROW per entry (bitmap semantics), so f == refs count
    val pairs = spec.fields.map { f =>
      val ts = if (spec.analyzers.contains(f)) array_distinct(tokens(f))
               else tokens(f)
      struct(lit(f).as("field"), ts.as("ts"))
    }
    df.select(col(key).as("row_key"), explode(array(pairs: _*)).as("fv"))
      .select(col("fv.field").as("field"), explode(col("fv.ts")).as("value"),
        col("row_key"))
      .orderBy("field", "value", "row_key")
  }

  /** row keys matching one (field, value) from the LIVE data — the
    * pushed-down-scan spelling; [[StoredFrame.rowsOf]] serves the same
    * set index-only from the persisted refs.
    */
  def rowsOf(field: String, value: String): DataFrame = {
    val key = spec.rowRefs.getOrElse(throw new IllegalArgumentException(
      "IndexSpec.rowRefs is unset — opt in with withRowRefs(keyCol)"))
    df.where(predicate(field, value)).select(col(key).as("row_key"))
  }

  /** distinct sorted values for one field (IndexedDf.colValues) —
    * numeric fields sort natively (see [[numericFields]])
    */
  def colValues(field: String): DataFrame = {
    val base = df.select(explode(tokens(field)).as("value")).distinct()
    if (numericFields.contains(field))
      base.orderBy(col("value").cast("double"), col("value"))
    else base.orderBy("value")
  }

  /** (field, value, idx) for one field, where idx is the entry's
    * GLOBAL ordinal in the full sorted index — the reference's
    * colNameValuesWithIndex (IndexedDf.scala:57: positions address
    * bitmaps inside the mmap'd index).
    *
    * Scale shape — two data-sized shuffles, no single-partition sort:
    *  1. only fields at or before `field` in the index's field order
    *    are exploded at all (later fields can never shift the
    *    ordinal), aggregated to entries — shuffle 1;
    *  2. entries range-repartition on the typed entry order (numeric
    *    fields count 1,2,…,10 — not "1","10","2" — matching
    *    indexColIdOrdering) and sort WITHIN partitions; the local
    *    rank is read straight off `monotonically_increasing_id`
    *    (pid·2³³ + in-partition row index, assigned in sorted order)
    *    — no Window, so no pid re-shuffle of the data — shuffle 2;
    *  3. exclusive per-partition offsets (≤ numShufflePartitions
    *    rows) broadcast back; range partitions are contiguous
    *    ascending (AQE coalesces only ADJACENT ranges), so
    *    local rank + partition offset IS the global ordinal — and
    *    the target field's cross-field offset falls out for free
    *    because the preceding fields' entries were ranked in the
    *    same pass. The final sort matches the range partitioning, so
    *    it adds no exchange.
    */
  def colNameValuesWithIndex(field: String): DataFrame = {
    // an absent field (nothing sorts at or before it) still needs an
    // analyzable plan: keep one spec field so the explode is typed;
    // the field filter below empties the frame with the right schema
    val contributing = {
      val c = spec.fields.filter(_ <= field).distinct
      if (c.nonEmpty) c else spec.fields.take(1)
    }
    val pairs = contributing.map { f =>
      val ts = if (spec.analyzers.contains(f)) array_distinct(tokens(f))
               else tokens(f)
      struct(lit(f).as("field"), ts.as("ts"))
    }
    val e = df.select(explode(array(pairs: _*)).as("fv"))
      .select(col("fv.field").as("field"), explode(col("fv.ts")).as("value"))
      .groupBy("field", "value").agg(count(lit(1)).as("f"))
      .withColumn("sk", valueSortKey)
    val ranked = e
      .repartitionByRange(col("field"), col("sk"), col("value"))
      .sortWithinPartitions(col("field"), col("sk"), col("value"))
      .select(col("field"), col("value"), col("sk"),
        spark_partition_id().as("pid"),
        // local row index in sorted order; nondeterministic to
        // Catalyst, which is load-bearing: the field filter below
        // must NOT push past the ranking into the scan
        (monotonically_increasing_id()
          .bitwiseAND(lit((1L << 33) - 1)) + 1L).as("ln"))
    val wOff = org.apache.spark.sql.expressions.Window.orderBy("pid")
      .rowsBetween(Long.MinValue, -1)
    val offs = ranked.groupBy("pid").agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum("n").over(wOff), lit(0L)))
      .select("pid", "off")
    ranked.join(broadcast(offs), "pid")
      .where(col("field") === field)
      .select(col("field"), col("value"), col("sk"),
        (col("ln") + col("off") - 1).as("idx"))
      // same expressions as the range partitioning → sort-only, no
      // exchange; equals idx order since field is constant here
      .orderBy(col("field"), col("sk"), col("value"))
      .drop("sk")
  }

  /** global ordinal of one (field, value) entry in the sorted index —
    * the reference's indexOf (DfTest."index": `index.indexOf("name" ->
    * "b")` addresses the entry's bitmap). Empty frame when the entry
    * is absent (the reference returns an insertion point; on Spark an
    * absent entry has no addressable payload, so absence is explicit).
    */
  def indexOfDF(field: String, value: String): DataFrame =
    colNameValuesWithIndex(field)
      .where(col("value") === value)
      .select(col("idx"))

  /** typed view over the indexed rows — the reference's
    * IndexedDf.cast[E] (IndexedDf.scala:117): a schema re-projection
    * (Dataset encoder), no data movement; the index is unchanged.
    */
  def typedView[T](implicit enc: org.apache.spark.sql.Encoder[T]):
      org.apache.spark.sql.Dataset[T] = Typed.view[T](df)

  /** frequency of one predicate as a 1-row frame (IndexedDf.f) */
  def fDF(field: String, value: String): DataFrame =
    df.where(predicate(field, value)).agg(count(lit(1)).as("f"))

  /** co-occurrence counts of two predicates in ONE pass (LBits.fAnd):
    * n, fa, fb, fab via conditional aggregation — no join, no shuffle.
    */
  def countsDF(a: Column, b: Column): DataFrame =
    df.agg(
      count(lit(1)).as("n"),
      count_if(a).as("fa"),
      count_if(b).as("fb"),
      count_if(a && b).as("fab"))

  /** full boolean algebra over two predicate "bitmaps" in ONE pass
    * (the reference's LBits &/|/createAnd surface, ioseq/IoBits): AND,
    * OR, A∖B, XOR, NOT-A — all conditional counts on a single scan.
    */
  def boolCountsDF(a: Column, b: Column): DataFrame =
    df.agg(
      count(lit(1)).as("n"),
      count_if(a && b).as("f_and"),
      count_if(a || b).as("f_or"),
      count_if(a && !b).as("f_diff"),
      count_if((a && !b) || (!a && b)).as("f_xor"),
      count_if(!a).as("f_not_a"))

  /** CoStats collected to the driver (4 longs — scale-safe) */
  def coStats(a: Column, b: Column): CoStats = {
    val r = countsDF(a, b).head()
    CoStats(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** countsDF + smoothed stats as columns (rounded for comparability;
    * same closed form as core.CoStats / reference CoStats.scala:7-35).
    */
  def coStatsDF(a: Column, b: Column): DataFrame =
    IndexedFrame.withCoStatsCols(countsDF(a, b))

  /** contingency table between two identity-indexed fields — the bulk
    * form of the reference's 1024-cofreq loop (DfTest.scala:236-253):
    * every (valueA, valueB) pair's fAB in one grouped pass.
    */
  def cofreqMatrix(fieldA: String, fieldB: String): DataFrame =
    df.groupBy(
        col(fieldA).cast("string").as("a_value"),
        col(fieldB).cast("string").as("b_value"))
      .agg(count(lit(1)).as("fab"))
      .orderBy("a_value", "b_value")

  /** approximate per-field index cardinality via DataSketches HLL —
    * the sketch path for "how many index entries would this column
    * produce" without building the index. Mergeable across segments
    * (hll_union), so segment sketches roll up exactly like the
    * reference's merged index metadata would.
    */
  def approxCardinalities(): DataFrame = {
    val (identityF, analyzedF) =
      spec.fields.partition(f => !spec.analyzers.contains(f))
    // identity fields: one sketch per column in a SINGLE agg pass —
    // no explode (which multiplies the row stream by |fields|), no
    // per-value shuffle, no string cast for natively-hashable types;
    // map-side combined, one 1-row reduce total
    val idPart = if (identityF.isEmpty) None else Some {
      def sketchable(f: String): Column = df.schema(f).dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.BinaryType => col(f)
        case _ => col(f).cast("string")
      }
      val aggs = identityF.map(f =>
        hll_sketch_estimate(hll_sketch_agg(sketchable(f))).as(f))
      df.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(identityF.map(f =>
          struct(lit(f).as("field"), col(f).as("approx_distinct"))): _*)).as("e"))
        .select("e.field", "e.approx_distinct")
    }
    // analyzed fields genuinely need the token explode; sketches stay
    // mergeable across segments (hll_union) either way
    val anPart = if (analyzedF.isEmpty) None else Some {
      val pairs = analyzedF.map(f =>
        struct(lit(f).as("field"), tokens(f).as("ts")))
      df.select(explode(array(pairs: _*)).as("fv"))
        .select(col("fv.field").as("field"), explode(col("fv.ts")).as("value"))
        .groupBy("field")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("value")))
          .as("approx_distinct"))
    }
    (idPart ++ anPart).reduce(_.unionByName(_)).orderBy("field")
  }

  /** full CoStats for EVERY value pair of two fields — the bulk form
    * of the reference's interactive cofreq/CoStats loop
    * (DfTest.scala:236-253 runs 1024 point queries; here marginal and
    * pair counts come from three grouped passes over one scan stage
    * and the smoothed stats are column math on the joined counts).
    * Pair/marginal tables are value-cardinality-sized → broadcast.
    */
  def coStatsMatrix(fieldA: String, fieldB: String): DataFrame = {
    val a = col(fieldA).cast("string")
    val b = col(fieldB).cast("string")
    val tot = df.agg(count(lit(1)).as("n"))
    val fa = df.groupBy(a.as("a_value")).agg(count(lit(1)).as("fa"))
    val fb = df.groupBy(b.as("b_value")).agg(count(lit(1)).as("fb"))
    val fab = df.groupBy(a.as("a_value"), b.as("b_value"))
      .agg(count(lit(1)).as("fab"))
    val counts = fab
      .join(broadcast(fa), "a_value")
      .join(broadcast(fb), "b_value")
      .crossJoin(broadcast(tot))
    val e = new IndexedFrame.StatExprs
    counts.select(
        col("a_value"), col("b_value"), e.n, e.fa, e.fb, e.fab,
        round(e.dS(3), 6).as("d11"),
        round(e.mi, 6).as("mi"))
      .orderBy("a_value", "b_value")
  }
}

object IndexedFrame {

  /** Raw (unrounded) smoothed-stats column expressions over columns
    * n, fa, fb, fab — shared by [[withCoStatsCols]] and
    * [[graft.ops.Knn]]. State s: bit0 = A, bit1 = B.
    */
  final class StatExprs {
    val n = col("n"); val fa = col("fa"); val fb = col("fb"); val fab = col("fab")
    private val priorW = lit(2.0)
    private def eP(f: Column, prior: Column, w: Column) = (f + prior * w) / (n + w)
    val pA: Column = eP(fa, lit(0.5), priorW / 0.5)
    val pB: Column = eP(fb, lit(0.5), priorW / 0.5)
    def stateF(s: Int): Column = s match {
      case 0 => n - fa - fb + fab
      case 1 => fa - fab
      case 2 => fb - fab
      case _ => fab
    }
    def naiveP(s: Int): Column = {
      val a = if ((s & 1) > 0) pA else lit(1.0) - pA
      val b = if ((s & 2) > 0) pB else lit(1.0) - pB
      a * b
    }
    def pS(s: Int): Column = {
      val nv = naiveP(s)
      (stateF(s) + nv * (priorW / nv)) / (n + priorW / nv)
    }
    def dS(s: Int): Column = pS(s) / naiveP(s)
    val mi: Column = {
      val log2e = lit(1.0 / math.log(2.0))
      (0 until 4).map(s => pS(s) * log(dS(s)) * log2e).reduce(_ + _)
    }
  }

  /** Append smoothed CoStats columns to a frame having n,fa,fb,fab.
    * Doubles rounded to 6dp so a DuckDB oracle with the same formula
    * hash-matches (log/div ulp differences are below 1e-6).
    */
  def withCoStatsCols(counts: DataFrame): DataFrame = {
    val e = new StatExprs
    val log2e = lit(1.0 / math.log(2.0))
    def h(p: Column): Column =
      p * -(log(p) * log2e) + (lit(1.0) - p) * -(log(lit(1.0) - p) * log2e)
    counts.select(
      e.n, e.fa, e.fb, e.fab,
      round(e.pA, 6).as("pa"),
      round(e.pB, 6).as("pb"),
      round(h(e.pA), 6).as("ha"),
      round(h(e.pB), 6).as("hb"),
      round(e.dS(0), 6).as("d00"),
      round(e.dS(1), 6).as("d10"),
      round(e.dS(2), 6).as("d01"),
      round(e.dS(3), 6).as("d11"),
      round(e.mi, 6).as("mi"))
  }
}
