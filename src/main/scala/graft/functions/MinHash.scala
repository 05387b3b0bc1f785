package graft.functions

import org.apache.spark.sql.{Column, GraftShims, functions}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** k-permutation MinHash signature (Broder 1997) of a shingle array
  * as ONE native codegen'd expression: per shingle, a 64-bit token
  * hash ([[TokenHash]]: xxhash64, or the top 60 bits of md5) folded to
  * x = h mod p (p = 2³¹−1), then min over (aᵢ·x + bᵢ) mod p per
  * permutation — all in a single pass over the array.
  *
  * Why native: the declarative spellings are either (a) explode +
  * groupBy with k min() aggregates — a full shuffle of the shingle
  * stream (~10× the text bytes at 100 TB), and a k-aggregate hash
  * aggregate whose first compile stalls every task of the stage, or
  * (b) k higher-order `transform`/`array_min` calls — which are
  * CodegenFallback in Spark: interpreted per row with k intermediate
  * boxed arrays (measured 12× slower than the grouped build at
  * sf0.1). This expression is MAP-ONLY, allocation-light, stays
  * inside whole-stage codegen, and is stateless — usable in streaming
  * projections.
  *
  * Signature values are bit-identical to the grouped spelling of each
  * family (same hash, same permutation family — spec-checked); an
  * empty shingle array yields an array of k nulls, mirroring
  * `array_min(empty) = null`; null elements are skipped (they cannot
  * occur in arrays built by `array_join`).
  */
case class MinHashSig(child: Expression, k: Int,
                      hash: TokenHash = TokenHash.XxHash64)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig requires array<string>, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  @transient private lazy val (as, bs): (Array[Long], Array[Long]) = {
    val ps = MinHash.permParams(k)
    (ps.map(_._1).toArray, ps.map(_._2).toArray)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = MinHash.signature(arr, as, bs, hash == TokenHash.Md5Top60)
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", as, "long[]")
    val bRef = ctx.addReferenceObj("mhB", bs, "long[]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      s"""
         |Object[] $out = graft.functions.MinHash.signature($v, $aRef, $bRef,
         |  ${hash == TokenHash.Md5Top60});
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** the token hash family of a MinHash signature or a SimHash
  * fingerprint: which 64-bit hash of a token's UTF-8 bytes feeds the
  * permutations (reduced mod p) or the bit votes, and which hash keys
  * each MinHash band's bucket. Signatures, fingerprints and the
  * buckets banded from them only meet within one family.
  */
sealed trait TokenHash {
  /** the bucket key of one band: this family's hash of the band's
    * comma-joined signature values
    */
  def bandHash(band: Column): Column
}

object TokenHash {
  /** Spark's `xxhash64` (seed 42): the native family */
  case object XxHash64 extends TokenHash {
    def bandHash(band: Column): Column = functions.xxhash64(band)
  }
  /** the first 60 bits of `md5` (`conv(substring(md5(s), 1, 15), 16,
    * 10)`) and md5 band keys: every step has a plain-SQL spelling, so
    * another engine (the DuckDB oracle) recomputes the signatures
    */
  case object Md5Top60 extends TokenHash {
    def bandHash(band: Column): Column = functions.md5(band)
  }
}

/** count of positions where two equal-length long arrays agree — the
  * MinHash estimated-Jaccard numerator, evaluated once per CANDIDATE
  * PAIR (the hottest row stream in the LSH join). The declarative
  * `aggregate(zip_with(...))` spelling is CodegenFallback
  * (HigherOrderFunction): interpreted, two boxed intermediate arrays
  * per pair. This is one codegen'd loop, zero allocation. A position
  * where either side is null does not match (mirrors
  * `when(x === y, 1).otherwise(0)` under null semantics).
  */
case class SigMatchCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sig_match_count requires (array<long>, array<long>), got ($l, $r)")
    }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_match_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    MinHash.matchCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.functions.MinHash.matchCount($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatchCount =
    copy(left = newLeft, right = newRight)
}

object MinHash {
  /** p = 2³¹−1: a·x stays within a signed 64-bit long (a, x < 2³¹) */
  val MersenneP: Long = (1L << 31) - 1

  /** deterministic splitmix64-ish permutation parameter stream —
    * fixed seeds, reproducible across runs and engines
    */
  def permParams(k: Int): Seq[(Long, Long)] = {
    var s = 0x9e3779b97f4a7c15L
    def next(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      (z ^ (z >>> 31)) & Long.MaxValue
    }
    (0 until k).map(_ => (next() % (MersenneP - 1) + 1, next() % MersenneP))
  }

  private val md5s = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** this thread's md5 digest when `md5` is set, else null: the `md`
    * argument of [[tokenHash]]
    */
  private[functions] def digestFor(md5: Boolean): java.security.MessageDigest =
    if (md5) md5s.get() else null

  /** 64-bit token hash of one string: xxhash64 (seed 42) when `md` is
    * null, else the first 8 md5 digest bytes read big-endian and
    * shifted right by 4 — the 60-bit value of the digest's first 15
    * hex digits ([[TokenHash.Md5Top60]])
    */
  private[functions] def tokenHash(s: UTF8String,
                                   md: java.security.MessageDigest): Long =
    if (md == null)
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(s, 42L)
    else {
      md.update(s.getByteBuffer)
      val d = md.digest()
      var top = 0L
      var i = 0
      while (i < 8) { top = (top << 8) | (d(i) & 0xffL); i += 1 }
      top >>> 4
    }

  /** shared interpreted/codegen kernel: one pass over the shingles,
    * k running mins; `md5` picks [[TokenHash.Md5Top60]] over
    * xxhash64. All operands are non-negative, so plain % is exactly
    * Spark's pmod here.
    */
  def signature(arr: ArrayData, as: Array[Long], bs: Array[Long],
                md5: Boolean): Array[Object] = {
    val md = digestFor(md5)
    val k = as.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        // the token hash reduced mod p (Spark's pmod for xxhash64;
        // the md5 value is already non-negative)
        val x = java.lang.Math.floorMod(tokenHash(arr.getUTF8String(i), md),
          MersenneP)
        var j = 0
        while (j < k) {
          val hx = ((x * as(j)) % MersenneP + bs(j)) % MersenneP
          if (hx < mins(j)) mins(j) = hx
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Object](k)
    var j = 0
    while (j < k) {
      out(j) = if (mins(j) == Long.MaxValue) null else java.lang.Long.valueOf(mins(j))
      j += 1
    }
    out
  }

  /** shared interpreted/codegen kernel for [[SigMatchCount]] */
  def matchCount(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** codegen'd k-permutation MinHash signature of an array<string> */
  def minhashSig(shingles: Column, k: Int,
                 hash: TokenHash = TokenHash.XxHash64): Column =
    GraftShims.column(MinHashSig(GraftShims.expression(shingles), k, hash))

  /** codegen'd per-pair signature agreement count */
  def sigMatchCount(a: Column, b: Column): Column =
    GraftShims.column(SigMatchCount(
      GraftShims.expression(a), GraftShims.expression(b)))
}
