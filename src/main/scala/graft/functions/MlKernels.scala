package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._

/** Native codegen'd kernels for the per-row ML hot loops that the r15
  * array-fold restructures left as interpreted HOF expressions
  * (CodegenFallback) on DATA-SIZED streams — the r16 verdict item #2/#3
  * (the same defect class as r9's interpreted-HOF 5× regressions and
  * r14's PqEncode fix; guide: codegen section / §1.2 per-task work).
  *
  * Each expression replaces ONE declarative spelling with the same
  * arithmetic in the same fold order, including the null edge cases the
  * declarative spelling defined (spec-exercised by NullRobustnessSpec):
  * Catalyst's struct ordering is nulls-FIRST on every field, so an
  * argmin over struct(score, id) picks a null-scored entry over every
  * scored one, and among those the smallest id, a null id first (a
  * null array element yields exactly that struct(null, null)) —
  * replicated here by the same lexicographic nulls-first comparison
  * ([[MlKernels.nullsFirstLess]]). Bit-equality is pinned by
  * KernelEquivSpec against the declarative spellings it keeps as
  * reference expressions, and the operators stay hash-oracled
  * end-to-end.
  */
object MlKernels {

  /** array<float> → array<long> per-element micro conversion:
    * round(x::double * 1e6, 0)::long with Spark's Round semantics
    * (HALF_UP over BigDecimal.valueOf — i.e. the shortest-decimal
    * representation, identical to the declarative `transform` +
    * `round` + cast chain this replaces) and non-ANSI double→long
    * cast semantics for the NaN/±Inf edge (NaN→0, ±Inf→Long.Min/Max —
    * what (long) does in Java). Null elements stay null; output
    * containsNull mirrors the input type.
    */
  def vecMicro(v: Column): Column =
    GraftShims.column(VecMicroLong(GraftShims.expression(v)))

  /** k-means assignment argmin (see [[KmArgMin]]) */
  def kmArgMin(v: Column, cents: Column): Column =
    GraftShims.column(
      KmArgMin(GraftShims.expression(v), GraftShims.expression(cents)))

  /** naive-bayes scoring argmax (see [[NbArgMin]]) */
  def nbArgMin(cls: Column, om: Column, nTokens: Column): Column =
    GraftShims.column(NbArgMin(GraftShims.expression(cls),
      GraftShims.expression(om), GraftShims.expression(nTokens)))

  /** scrub position filter (see [[ScrubKeep]]) */
  def scrubKeep(toks: Column, covp: Column): Column =
    GraftShims.column(
      ScrubKeep(GraftShims.expression(toks), GraftShims.expression(covp)))

  /** is (aScore, aId) below (bScore, bId) in Catalyst's struct order:
    * lexicographic, each field ascending with nulls first; `idCmp`
    * compares the two ids, read only when both are non-null
    */
  private def nullsFirstLess(aNull: Boolean, a: Long, bNull: Boolean, b: Long,
                             aIdNull: Boolean, bIdNull: Boolean,
                             idCmp: Int): Boolean =
    if (aNull != bNull) aNull
    else if (!aNull && a != b) a < b
    else if (aIdNull != bIdNull) aIdNull
    else !aIdNull && idCmp < 0

  /** shared interpreted/codegen kernel of [[KmArgMin]] over a non-empty
    * `cents`; `v` may be null
    */
  def kmArgMinOf(v: ArrayData, cents: ArrayData): InternalRow = {
    // null v, or any null element of v, nulls EVERY dist2
    var vNull = v == null
    val nv = if (vNull) 0 else v.numElements()
    var i = 0
    while (i < nv && !vNull) { vNull = v.isNullAt(i); i += 1 }
    var bestSet = false
    var bestNull = false; var best = 0L
    var bestClNull = false; var bestCl = 0L
    var k = 0
    while (k < cents.numElements()) {
      // a null element is struct(null dist2, null cluster) in the
      // declarative spelling: the least value there is
      val st = if (cents.isNullAt(k)) null else cents.getStruct(k, 2)
      val clNull = st == null || st.isNullAt(0)
      val cl = if (clNull) 0L else st.getLong(0)
      val c = if (st == null || st.isNullAt(1)) null else st.getArray(1)
      var d2 = 0L
      var d2Null = vNull || c == null || c.numElements() != nv
      var d = 0
      while (!d2Null && d < nv) {
        if (c.isNullAt(d)) d2Null = true
        else {
          val diff = v.getLong(d) - c.getLong(d)
          d2 += diff * diff
          d += 1
        }
      }
      if (!bestSet || nullsFirstLess(d2Null, d2, bestNull, best,
          clNull, bestClNull, java.lang.Long.compare(cl, bestCl))) {
        bestSet = true
        bestNull = d2Null; best = d2; bestClNull = clNull; bestCl = cl
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      if (bestNull) null else best, if (bestClNull) null else bestCl))
  }

  /** shared interpreted/codegen kernel of [[NbArgMin]] over a non-empty
    * `cls`; `om` may be null, and `ntNull` marks a null n_tokens
    */
  def nbArgMinOf(cls: ArrayData, om: MapData, ntNull: Boolean,
                 nt: Long): org.apache.spark.unsafe.types.UTF8String = {
    var bestSet = false
    var bestNull = false; var best = 0L
    var bestC: org.apache.spark.unsafe.types.UTF8String = null
    var k = 0
    while (k < cls.numElements()) {
      // a null element scores null with a null class, as in the
      // declarative spelling
      val st = if (cls.isNullAt(k)) null else cls.getStruct(k, 3)
      val c = if (st == null || st.isNullAt(0)) null else st.getUTF8String(0)
      val nsNull = ntNull || st == null || st.isNullAt(1) || st.isNullAt(2)
      var ns = 0L
      if (!nsNull) {
        var obs = 0L
        if (om != null && c != null) {
          val keys = om.keyArray()
          val vals = om.valueArray()
          var m = 0
          var found = false
          while (m < om.numElements() && !found) {
            if (keys.getUTF8String(m).equals(c)) {
              if (!vals.isNullAt(m)) obs = vals.getLong(m)
              found = true
            }
            m += 1
          }
        }
        ns = -(st.getLong(1) + obs - nt * st.getLong(2))
      }
      if (!bestSet || nullsFirstLess(nsNull, ns, bestNull, best,
          c == null, bestC == null,
          if (c == null || bestC == null) 0 else c.binaryCompare(bestC))) {
        bestSet = true
        bestNull = nsNull; best = ns; bestC = c
      }
      k += 1
    }
    bestC
  }
}

/** see [[MlKernels.vecMicro]] */
case class VecMicroLong(child: Expression) extends UnaryExpression {

  private def elemsNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_micro requires array<float>, got $t")
  }

  override def dataType: DataType =
    ArrayType(LongType, containsNull = elemsNullable)
  override def prettyName: String = "vec_micro"

  // exactly Spark's Round(_, 0) on double (BigDecimal.valueOf =
  // shortest-decimal, HALF_UP; NaN/Inf passed through) followed by the
  // non-ANSI double→long cast. Values are ~1e6-scale micros, so the
  // ANSI-overflow branch of the declarative chain can never fire.
  @inline private def micro(x: Float): Long = {
    val d = x.toDouble * 1e6
    val r = if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
      else java.math.BigDecimal.valueOf(d)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    r.toLong
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (!elemsNullable) {
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { out(i) = micro(x.getFloat(i)); i += 1 }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        out(i) = if (x.isNullAt(i)) null else micro(x.getFloat(i))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val d = ctx.freshName("d")
      val r = ctx.freshName("r")
      def microJava(src: String, dst: String): String =
        s"""
           |double $d = (double)$src * 1e6;
           |double $r = (java.lang.Double.isNaN($d) ||
           |    java.lang.Double.isInfinite($d)) ? $d
           |  : java.math.BigDecimal.valueOf($d)
           |      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue();
           |$dst = (long)$r;
         """.stripMargin
      if (!elemsNullable)
        s"""
           |int $n = $a.numElements();
           |long[] $out = new long[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  ${microJava(s"$a.getFloat($i)", s"$out[$i]")}
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions
           |  .UnsafeArrayData.fromPrimitiveArray($out);
         """.stripMargin
      else {
        val boxed = ctx.freshName("boxed")
        val tmp = ctx.freshName("tmp")
        s"""
           |int $n = $a.numElements();
           |Object[] $boxed = new Object[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  if (!$a.isNullAt($i)) {
           |    long $tmp;
           |    ${microJava(s"$a.getFloat($i)", tmp)}
           |    $boxed[$i] = (Object)(Long)$tmp;
           |  }
           |}
           |${ev.value} =
           |  new org.apache.spark.sql.catalyst.util.GenericArrayData($boxed);
         """.stripMargin
      }
    })

  override protected def withNewChildInternal(newChild: Expression): VecMicroLong =
    copy(child = newChild)
}

/** k-means assignment argmin over the broadcast centroid array, as ONE
  * generated loop. Replaces
  *
  *   array_min(transform(cents, e => struct(
  *     aggregate(zip_with(v, e.c, (x,y) => (x−y)·(x−y)), 0L, _+_),
  *     e.cluster)))
  *
  * which evaluates interpreted (ArrayAggregate/ZipWith/ArrayTransform
  * are CodegenFallback) per CORPUS row. Same fold: dist2 accumulated in
  * d-ascending long arithmetic; the pick is the struct min, ties to
  * the smaller cluster. Null edges replicated from the declarative
  * spelling: null or null-element v, or a length-mismatched centroid,
  * makes that dist2 null, a null element is (null, null), and nulls
  * sort FIRST on each field of Catalyst struct ordering — so a null
  * dist2 beats every scored entry. Result is null iff cents is null or
  * empty (array_min of empty → null); its cluster is null only when
  * the winner's is.
  */
case class KmArgMin(v: Expression, cents: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(v, cents)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val vOk = v.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val cOk = cents.dataType match {
      case ArrayType(StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, ArrayType(LongType, _), _, _))), _) => true
      case _ => false
    }
    if (vOk && cOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"km_argmin requires (array<bigint>, array<struct<bigint, array<bigint>>>), " +
        s"got ${v.dataType} / ${cents.dataType}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("dist2", LongType, nullable = true),
    StructField("cluster", LongType, nullable = cents.dataType match {
      case ArrayType(StructType(fs), containsNull) =>
        containsNull || fs(0).nullable
      case _ => true
    })))
  override def prettyName: String = "km_argmin"

  override def eval(input: InternalRow): Any = {
    val centsV = cents.eval(input).asInstanceOf[ArrayData]
    if (centsV == null || centsV.numElements() == 0) null
    else MlKernels.kmArgMinOf(v.eval(input).asInstanceOf[ArrayData], centsV)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vCode = v.genCode(ctx)
    val cCode = cents.genCode(ctx)
    ev.copy(code = code"""
      ${cCode.code}
      boolean ${ev.isNull} = true;
      InternalRow ${ev.value} = null;
      if (!${cCode.isNull} && ${cCode.value}.numElements() > 0) {
        ${vCode.code}
        ${ev.isNull} = false;
        ${ev.value} = graft.functions.MlKernels.kmArgMinOf(
          ${vCode.isNull} ? null : ${vCode.value}, ${cCode.value});
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmArgMin =
    copy(v = newChildren(0), cents = newChildren(1))
}

/** naive-bayes per-doc argmax over the broadcast class array, as ONE
  * generated loop. Replaces
  *
  *   array_min(transform(cls, k => struct(
  *     −(prior + coalesce(om[c], 0) − n_tokens·denom), c))).c
  *
  * (ArrayTransform: CodegenFallback, evaluated per DOC row). Same
  * score arithmetic in long; the pick is the struct min, ties to the
  * smaller c. Null edges replicated: a null n_tokens (null-text doc —
  * spec-exercised) nulls every score, a null element scores null with
  * a null class, and nulls-first struct ordering makes the smallest
  * class among the null scores win (a null class first); a null om
  * (doc with no observed tokens) reads as obs = 0 for every class —
  * exactly the coalesce. Result is null iff cls is null or empty, or
  * the winning entry's class is null.
  */
case class NbArgMin(cls: Expression, om: Expression, nTokens: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(cls, om, nTokens)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val clsOk = cls.dataType match {
      case ArrayType(StructType(Array(
        StructField(_, StringType, _, _),
        StructField(_, LongType, _, _),
        StructField(_, LongType, _, _))), _) => true
      case _ => false
    }
    val omOk = om.dataType match {
      case MapType(StringType, LongType, _) => true
      case _ => false
    }
    if (clsOk && omOk && nTokens.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nb_argmin requires (array<struct<string, bigint, bigint>>, " +
        s"map<string, bigint>, bigint), got ${cls.dataType} / " +
        s"${om.dataType} / ${nTokens.dataType}")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "nb_argmin"

  override def eval(input: InternalRow): Any = {
    val clsV = cls.eval(input).asInstanceOf[ArrayData]
    if (clsV == null || clsV.numElements() == 0) null
    else {
      val nt = nTokens.eval(input)
      MlKernels.nbArgMinOf(clsV, om.eval(input).asInstanceOf[MapData],
        nt == null, if (nt == null) 0L else nt.asInstanceOf[Long])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clsCode = cls.genCode(ctx)
    val omCode = om.genCode(ctx)
    val ntCode = nTokens.genCode(ctx)
    ev.copy(code = code"""
      ${clsCode.code}
      boolean ${ev.isNull} = true;
      UTF8String ${ev.value} = null;
      if (!${clsCode.isNull} && ${clsCode.value}.numElements() > 0) {
        ${omCode.code}
        ${ntCode.code}
        ${ev.value} = graft.functions.MlKernels.nbArgMinOf(${clsCode.value},
          ${omCode.isNull} ? null : ${omCode.value}, ${ntCode.isNull},
          ${ntCode.isNull} ? 0L : ${ntCode.value});
        ${ev.isNull} = ${ev.value} == null;
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NbArgMin =
    copy(cls = newChildren(0), om = newChildren(1), nTokens = newChildren(2))
}

/** scrub position filter: drop the tokens whose 1-based position is in
  * the sorted-distinct covered-position array, as ONE two-pointer merge
  * — O(tokens + covered). Replaces
  *
  *   filter(toks, (tok, i) => !coalesce(array_contains(covp, i+1), false))
  *
  * whose per-token array_contains probe is O(|covered|) — O(tokens ×
  * covered) per doc, quadratic for heavily-duplicated docs (the r16
  * verdict item #3). Null edges: null toks → null; null covp (doc with
  * nothing to scrub — the left join miss) keeps every token, exactly
  * the coalesce(…, false). PRECONDITION (by construction:
  * sort_array ∘ array_distinct ∘ sequence): covp is sorted ascending,
  * distinct, non-null elements.
  */
case class ScrubKeep(toks: Expression, covp: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(toks, covp)
  override def nullable: Boolean = toks.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (toks.dataType, covp.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (t, c) => TypeCheckResult.TypeCheckFailure(
        s"scrub_keep requires (array<string>, array<bigint>), got $t / $c")
    }

  override def dataType: DataType = toks.dataType
  override def prettyName: String = "scrub_keep"

  override def eval(input: InternalRow): Any = {
    val t = toks.eval(input).asInstanceOf[ArrayData]
    if (t == null) return null
    val cv = covp.eval(input).asInstanceOf[ArrayData]
    if (cv == null || cv.numElements() == 0) return t
    val n = t.numElements()
    val mN = cv.numElements()
    val out = new Array[Any](n)
    var o = 0
    var j = 0
    var i = 0
    while (i < n) {
      val pos = i + 1L
      while (j < mN && cv.getLong(j) < pos) j += 1
      if (!(j < mN && cv.getLong(j) == pos)) {
        out(o) = if (t.isNullAt(i)) null else t.getUTF8String(i)
        o += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOfRange(
      out.asInstanceOf[Array[AnyRef]], 0, o))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tCode = toks.genCode(ctx)
    val cCode = covp.genCode(ctx)
    val n = ctx.freshName("n")
    val mN = ctx.freshName("mN")
    val out = ctx.freshName("out")
    val o = ctx.freshName("o")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val pos = ctx.freshName("pos")
    ev.copy(code = code"""
      ${tCode.code}
      boolean ${ev.isNull} = ${tCode.isNull};
      ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${cCode.code}
        if (${cCode.isNull} || ${cCode.value}.numElements() == 0) {
          ${ev.value} = ${tCode.value};
        } else {
          int $n = ${tCode.value}.numElements();
          int $mN = ${cCode.value}.numElements();
          Object[] $out = new Object[$n];
          int $o = 0; int $j = 0;
          for (int $i = 0; $i < $n; $i++) {
            long $pos = $i + 1L;
            while ($j < $mN && ${cCode.value}.getLong($j) < $pos) $j++;
            if (!($j < $mN && ${cCode.value}.getLong($j) == $pos)) {
              $out[$o++] = ${tCode.value}.isNullAt($i) ? null
                : ${tCode.value}.getUTF8String($i);
            }
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util
            .GenericArrayData(java.util.Arrays.copyOfRange($out, 0, $o));
        }
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ScrubKeep =
    copy(toks = newChildren(0), covp = newChildren(1))
}
