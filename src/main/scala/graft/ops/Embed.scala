package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._

/** Embedding storage transforms — the step between "embeddings
  * computed" and "embeddings served" in a training/retrieval stack.
  *
  * [[quantizeInt8]] is symmetric per-vector max-abs int8 quantization
  * (the standard faiss/SQ8-style storage codec: 4× smaller than
  * float32, dot products within ~1% for unit-norm vectors). Done in
  * EXACT integer micro arithmetic (SURVEY §6): components round once
  * to long micros, the per-vector scale is the max |component|, and
  * each code is round-half-up((x · 127) / scale) computed as the
  * floored integer ((254·x + s) div 2s) — no floating point, so the
  * DuckDB mirror hashes identically. Codes are summarized by an
  * md5 over the canonical comma-joined code string (portable across
  * engines; raw array columns stringify differently per engine).
  *
  * Scale shape: map-only — one pass, no shuffle, no state; the plan
  * any 100 TB re-encode job wants. The PQ codec in
  * [[Similarity]] is the trained sibling (codebooks); this one is
  * training-free and per-vector exact.
  */
object Embed {

  def quantizeInt8(df: DataFrame, vec: Column, id: Column): DataFrame = {
    val vm = transform(vec, x => round(x.cast("double") * 1e6, 0).cast("long"))
    val s = aggregate(col("v"), lit(0L),
      (acc, e) => greatest(acc, abs(e)))
    // round-half-up((x*127)/s) as a floored integer division:
    // (254·x + s) div 2s, with div floored portably via pmod
    def codes(sc: Column): Column = transform(col("v"), x => {
      val num = x * 254L + sc
      val den = sc * 2L
      floorDiv(num, den).cast("long")
    })
    df.select(id.as("vec_id"), vm.as("v"))
      .select(col("vec_id"), s.as("scale_micro"), col("v"))
      .select(col("vec_id"), col("scale_micro"),
        when(col("scale_micro") === 0L,
          transform(col("v"), _ => lit(0L)))
          .otherwise(codes(col("scale_micro"))).as("q"))
      .select(col("vec_id"), col("scale_micro"),
        size(filter(col("q"), c => c =!= 0L)).cast("long").as("n_nonzero"),
        aggregate(col("q"), lit(0L), (a, e) => a + abs(e)).as("sum_abs"),
        md5(array_join(col("q"), ",")).as("code_md5"))
      .orderBy("vec_id")
  }

  /** floored integer division for a possibly-negative numerator and
    * positive denominator, spelled portably: `num div den` truncates
    * toward zero in Spark but floors in DuckDB; subtracting the
    * positive modulus first makes the numerator exactly divisible,
    * so both agree (the k-means/quantize identity, SURVEY §6).
    * The division itself is Catalyst's INTEGRAL `div` (long→long) —
    * Column `/` is double division, which past 2^53 can be off by
    * one on exactly-divisible longs (the gram sums here reach ~1e16
    * and power-iteration vectors ~3e17), silently breaking the
    * bit-identical-to-DuckDB contract.
    */
  private[graft] def floorDiv(num: Column, den: Column): Column = {
    val exact = num - pmod(num, den)
    GraftShims.column(new IntegralDivide(
      GraftShims.expression(exact), GraftShims.expression(den)))
  }

  /** Top principal component of the embedding corpus by POWER
    * ITERATION on the (uncentered-scale, integer) Gram matrix — the
    * dominant-direction probe behind embedding-drift dashboards and
    * whitening/PCA preprocessing, and the repo's third ITERATIVE ML
    * operator with a full cross-engine hash oracle (after k-means
    * and PageRank).
    *
    * Exact integer protocol (SURVEY §6): components round once to
    * long micros; per-dim means are floored integer division; the
    * centered Gram matrix S[i][j] = Σ_v c_i·c_j is an exact long sum,
    * then scaled down once (div 1e6, floored portably) to keep the
    * iteration inside long range. Each power step is u = S'·w
    * followed by renormalization to max |u| = 1e6 via floored
    * division — no square roots, no floating point, so an unrolled
    * DuckDB mirror hashes identically. The all-ones start vector
    * makes the sign deterministic.
    *
    * Scale shape (r15 optimization round): ONE corpus-sized pass —
    * the per-(i,j) co-moment aggregation (map-side d² blowup per
    * vector, collapsed by partial aggregation to d² rows per
    * partition before the exchange; the exchange itself carries
    * O(d²·partitions) rows, never corpus rows). The centered Gram
    * falls out of the exact integer identity
    *   Σ(vᵢ−μᵢ)(vⱼ−μⱼ) = Σvᵢvⱼ − μᵢ·Tⱼ − μⱼ·Tᵢ + n·μᵢ·μⱼ
    * (μ the FLOORED integer mean, T the per-dim long total — every
    * term an exact long, so this is the same number the former
    * center-then-multiply spelling produced, bit for bit; the
    * correction terms share S_uc's overflow envelope, so the
    * documented ≥10⁸-vectors DECIMAL(38) move is unchanged). The
    * former shape paid THREE corpus passes (mean, a mean equi-join,
    * and a corpus-wide self-join on vec_id whose exchange carried
    * every (vec_id, dim, c) row twice). Everything after the
    * co-moment pass is d² = 4096 rows folded onto ONE row, where the
    * power steps are array arithmetic (zip_with/aggregate — exact
    * long sums in index order; integer addition is associative, so
    * the fold equals the former SQL sum) — zero per-iteration
    * shuffles vs. the former join+agg round per step (paired A/B in
    * OPTIMIZATION_r15.md §embed_pca). PcaEquivSpec keeps the former
    * spelling as its reference and pins bit-equality of the two shapes.
    */
  def pcaPower(df: DataFrame, vec: Column, id: Column,
               iterations: Int = 3): DataFrame = {
    require(iterations >= 1)
    // micro-rounded vectors; id is not referenced — the co-moment
    // pass is row-order-free (exact integer sums)
    val vm = df.select(transform(vec,
      x => round(x.cast("double") * 1e6, 0).cast("long")).as("v"))
    // ONE corpus pass: uncentered co-moments per (i,j). Each row
    // contributes vᵢ to every (i,·) group and vⱼ to every (·,j)
    // group, so the per-dim totals and n ride the same aggregation.
    val co = vm
      .select(posexplode(col("v")).as(Seq("i", "vi")), col("v"))
      .select(col("i"), col("vi"),
        posexplode(col("v")).as(Seq("j", "vj")))
      .groupBy("i", "j")
      .agg(sum(col("vi") * col("vj")).as("suc"),
        sum(col("vi")).as("ti"), sum(col("vj")).as("tj"),
        count(lit(1)).as("n"))
    val gram = co.select(col("i"), col("j"), {
        val mui = floorDiv(col("ti"), col("n")).cast("long")
        val muj = floorDiv(col("tj"), col("n")).cast("long")
        val s = col("suc") - mui * col("tj") - muj * col("ti") +
          col("n") * mui * muj
        floorDiv(s, lit(1000000L)).cast("long")
      }.as("s"))
    // fold S' onto ONE row as a nested array g[i][j] (sort_array on
    // the unique (i,j)/(i) keys makes the element order, and so the
    // exact-long fold order, deterministic)
    val g1 = gram.groupBy("i")
      .agg(sort_array(collect_list(struct(col("j"), col("s")))).as("r"))
      .select(col("i"), transform(col("r"), e => e.getField("s")).as("r"))
      .agg(sort_array(collect_list(struct(col("i"), col("r")))).as("g"))
      .select(transform(col("g"), e => e.getField("r")).as("g"))
    // power steps as single-row array math inside ONE aggregate()
    // fold over `iterations` dummy steps: the accumulator w is a
    // runtime VALUE between steps, so each step costs O(d²) — this
    // must NOT be spelled as per-step projections, where
    // CollapseProject inlines the (statically single-referenced) w
    // into the next step's per-element lambda and the evaluation
    // tree goes exponential (observed: a 64-dim 3-step chain pinned
    // a core for >15 min). `bind` is the let-binding idiom — wrap in
    // a 1-element array and transform — so u and m are evaluated
    // once per step, not once per use. Per step: u = S'·w, then
    // renormalize to max |u| = 1e6 via the same floored division as
    // before; m < 1e6 (incl. the degenerate all-zero u) passes u
    // through — already in range; u·1e6 is never formed (overflow at
    // u ~ 3e17).
    def bind(value: Column, body: Column => Column): Column =
      element_at(transform(array(value), v => body(v)), 1)
    val wFinal = aggregate(
      sequence(lit(1), lit(iterations)),
      transform(col("g"), _ => lit(1000000L)),
      (w, _) => bind(
        transform(col("g"), row =>
          aggregate(zip_with(row, w, (s, wj) => s * wj),
            lit(0L), (acc, e) => acc + e)),
        u => bind(array_max(transform(u, e => abs(e))), m =>
          when(m < 1000000L, u)
            .otherwise(transform(u, x =>
              floorDiv(x, floorDiv(m, lit(1000000L)).cast("long"))
                .cast("long"))))))
    g1.select(posexplode(wFinal).as(Seq("dim", "w_micro")))
      .select(col("dim").cast("long").as("dim"),
        col("w_micro").cast("long").as("w_micro"))
      .orderBy("dim")
  }
}
