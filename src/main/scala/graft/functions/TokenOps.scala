package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, String2StringExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native token kernels for the text/dedup hot paths. The two
  * token-array kernels exist for the same reason as [[MinHashSig]]:
  * the declarative spellings use HigherOrderFunctions (`transform`,
  * `filter`), which are CodegenFallback in Spark — interpreted per row
  * with boxed intermediate arrays. These run inside whole-stage
  * codegen. [[lower]] is the tokenizer's lowercasing step without
  * Spark's one-time ICU table build ([[LowerCase]]). Each is
  * spec-checked value-identical to the spelling it replaced (the
  * DuckDB hash oracles enforce it end-to-end as well).
  */
object TokenOps {

  /** w-token shingles of a token array, mirroring
    * `transform(sequence(0, greatest(size-w, 0)), i ->
    *    array_join(slice(toks, i+1, w), " "))`
    * (+ `array_distinct` when `distinct`): docs shorter than w tokens
    * yield ONE partial shingle; null tokens are skipped inside a
    * shingle exactly as `array_join` skips them; distinct keeps
    * first-occurrence order exactly as `array_distinct` does.
    */
  def shingles(arr: ArrayData, w: Int, distinct: Boolean): ArrayData = {
    val n = arr.numElements()
    val count = math.max(n - w, 0) + 1
    val sep = UTF8String.fromString(" ")
    val out = new java.util.ArrayList[Object](count)
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    var i = 0
    while (i < count) {
      val end = math.min(i + w, n)
      var parts: List[UTF8String] = Nil
      var j = end - 1
      while (j >= i) {
        if (!arr.isNullAt(j)) parts = arr.getUTF8String(j) :: parts
        j -= 1
      }
      val sh = UTF8String.concatWs(sep, parts: _*)
      if (seen == null || seen.add(sh)) out.add(sh)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** count of tokens contained in a fixed word set (duplicates
    * counted), mirroring `size(filter(toks, t -> t.isInCollection(words)))`
    * with null tokens skipped (a null membership test filters false).
    */
  def countInSet(arr: ArrayData, words: java.util.HashSet[UTF8String]): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && words.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** `lower(s)` for a string of collation `collationId`, equal to
    * Spark's `lower` on every input: an all-ASCII UTF8_BINARY string
    * is lowercased byte by byte; every other input goes through
    * Spark's own `CollationSupport.Lower`.
    */
  def lower(s: UTF8String, collationId: Int, useICU: Boolean): UTF8String =
    if (collationId == CollationFactory.UTF8_BINARY_COLLATION_ID && s.isFullAscii)
      s.toLowerCaseAscii
    else CollationSupport.Lower.exec(s, collationId, useICU)

  /** codegen'd `lower` (see [[LowerCase]]) */
  def lower(text: Column): Column =
    GraftShims.column(LowerCase(GraftShims.expression(text)))

  /** codegen'd w-token shingle array (see [[shingles]]) */
  def wordShingles(tokens: Column, w: Int, distinct: Boolean): Column =
    GraftShims.column(WordShingles(GraftShims.expression(tokens), w, distinct))

  /** codegen'd membership count over a fixed word set */
  def countInSet(tokens: Column, words: Seq[String]): Column =
    GraftShims.column(CountInSet(GraftShims.expression(tokens), words))
}

case class WordShingles(child: Expression, w: Int, distinct: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_shingles requires array<string>, got $t")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    TokenOps.shingles(input.asInstanceOf[ArrayData], w, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.TokenOps.shingles($v, $w, $distinct);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

case class CountInSet(child: Expression, words: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"count_in_set requires array<string>, got $t")
    }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_in_set"

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    TokenOps.countInSet(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("cisWords", set, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.TokenOps.countInSet($v, $setRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): CountInSet =
    copy(child = newChild)
}

/** `lower(child)` with the same result as Catalyst's `Lower` on every
  * input and collation, but an all-ASCII UTF8_BINARY string never
  * reaches ICU. Under the default `spark.sql.icu.caseMappings.enabled`
  * Spark's `lower` calls `CollationAwareUTF8String`, whose class
  * initializer title-cases every Unicode code point once per JVM
  * (1.4–1.6 s, while every other task thread waits on the class-init
  * lock), even when each string it then sees is ASCII. Non-ASCII
  * strings, other collations and `useICU` off still take Spark's path,
  * so a non-ASCII row still loads ICU. `useICU` is read from `SQLConf`
  * as `Lower` reads it.
  */
case class LowerCase(child: Expression)
    extends UnaryExpression with String2StringExpression {

  @transient private lazy val collationId: Int =
    child.dataType.asInstanceOf[StringType].collationId
  @transient private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullIntolerant: Boolean = true
  // Spark's name: an unaliased column and its SQL text read as they did
  // under functions.lower
  override def prettyName: String = "lower"

  override def convert(v: UTF8String): UTF8String =
    TokenOps.lower(v, collationId, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenOps.lower($c, $collationId, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): LowerCase =
    copy(child = newChild)
}
