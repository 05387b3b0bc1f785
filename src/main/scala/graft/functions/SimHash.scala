package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** 64-bit SimHash (Charikar 2002) of a token array as ONE native
  * codegen'd expression: per token, a 64-bit token hash
  * ([[TokenHash]]: xxhash64 — same XXH64/seed-42 as Spark's
  * `xxhash64()` builtin, so results are interchangeable with any SQL
  * spelling — or the top 60 bits of md5, whose every step has a
  * plain-SQL spelling); each fingerprint bit is the sign of the
  * per-bit vote sum across tokens. An md5 fingerprint's top 4 bits
  * are always 0 (every token votes them down).
  *
  * Why native: the declarative spelling is explode(tokens) → groupBy
  * (doc) with 64 conditional sums — a full shuffle of the exploded
  * token stream and a 64-aggregate state per group. This expression
  * folds the whole vote loop into the row pipeline: MAP-ONLY, no
  * explode, no shuffle, stays inside whole-stage codegen, and is
  * directly usable in Structured Streaming projections (stateless).
  *
  * Null array → null (UnaryExpression default); null elements are
  * skipped; an empty array → 0. Reference analog: the per-document
  * derived key columns of the indexed frame (iodf indexes tokens per
  * row the same one-pass way — Dfs.scala typed index fields).
  */
case class SimHash64(child: Expression, hash: TokenHash = TokenHash.XxHash64)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<string>, got $t")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash.fingerprint(input.asInstanceOf[ArrayData], hash == TokenHash.Md5Top60)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = graft.functions.SimHash.fingerprint($v,
         |  ${hash == TokenHash.Md5Top60});""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash {
  /** shared interpreted/codegen kernel: one pass over the tokens, 64
    * vote counters; `md5` picks [[TokenHash.Md5Top60]] over xxhash64
    */
  def fingerprint(arr: ArrayData, md5: Boolean): Long = {
    val md = MinHash.digestFor(md5)
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = MinHash.tokenHash(arr.getUTF8String(i), md)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }

  /** codegen'd 64-bit SimHash of an array<string> token column */
  def simhash64(tokens: Column, hash: TokenHash = TokenHash.XxHash64): Column =
    GraftShims.column(SimHash64(GraftShims.expression(tokens), hash))
}
