package graft

/** Plan-shape regression guards (SURVEY §5/§7a): these queries must
  * keep their pushdown/broadcast/partial-agg shape as the code
  * evolves — a silent plan regression is a 100 TB incident, not a
  * local slowdown.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  /** every query's optimized plan, by name — built once for the
    * standing whole-suite audits below
    */
  private lazy val optimizedPlans = SparkEntry.queries.toSeq.sortBy(_._1)
    .map { case (name, q) => name -> q(spark, sfDir).queryExecution.optimizedPlan }

  test("point_lookup pushes both predicates into the parquet scan") {
    val p = plan("point_lookup")
    assert(p.contains("PushedFilters"))
    assert(p.contains("EqualTo(l_quantity,50.0)"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("df_scan prunes to exactly the projected columns") {
    val p = plan("df_scan")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_extendedprice"), read)
    assert(!read.contains("l_shipdate"), read)
  }

  test("q5_join broadcasts its dimension sides") {
    val p = plan("q5_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q1_agg partial-aggregates before its exchange") {
    val p = plan("q1_agg")
    val firstAgg = p.indexOf("HashAggregate")
    val firstExchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && firstExchange >= 0)
    // plan prints top-down: a partial agg must exist below (after) the
    // shuffle exchange in the printed tree
    assert(p.lastIndexOf("HashAggregate") > firstExchange, p)
  }

  test("asof_join avoids nested-loop/cartesian shapes") {
    val p = plan("asof_join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("index_approx sketches identity fields with no pre-agg explode") {
    // the r2 single-pass path: per-column sketches in one agg. The
    // only Generate allowed is the 1-row unpivot ABOVE the aggregate
    // (top-down print: earlier index) — a Generate below the agg
    // would multiply the scanned row stream by |fields| again
    val p = plan("index_approx")
    val gen = p.indexOf("Generate")
    val lastAgg = p.lastIndexOf("Aggregate")
    assert(gen >= 0 && lastAgg >= 0 && gen < lastAgg, p)
    assert("Generate".r.findAllIn(p).size === 1, p)
  }

  test("knn_topk_filtered pushes the candidate filter into the scan") {
    val p = plan("knn_topk_filtered")
    assert(p.contains("GreaterThanOrEqual(p_size,25)"), p)
  }

  test("dedup_embedding is LSH-bucketed: equi-join on buckets, no BNLJ/cartesian") {
    val p = plan("dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // candidate generation is an equi-join on (band, bucket) — any
    // hash/merge strategy qualifies; only nested-loop shapes don't
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("dedup_substring is equi-join shaped on the fingerprint: no BNLJ/cartesian") {
    val p = plan("dedup_substring")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("text_spandup: count-join on the hash, never pair rows or a hot-key window") {
    val p = plan("text_spandup")
    // no pair enumeration: the only join is the equi count-join of the
    // fingerprint stream against its own AGGREGATED counts
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    // and no Window over the fingerprint: a hot (mass-boilerplate)
    // hash would sort its whole occurrence stream in ONE task at
    // 100 TB; the grouped count collapses it map-side instead
    assert(!p.contains("Window"), p)
  }

  test("text_bigram_lm: grouped counts + equi join, no hot-bigram window") {
    val p = plan("text_bigram_lm")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("ann_ivf_topk broadcasts the probed query side, no cartesian") {
    val p = plan("ann_ivf_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("decontaminate broadcasts the eval-shingle side") {
    // the corpus-side shingle stream must stream map-only into a
    // broadcast hash join — an SMJ here would shuffle every shingle
    // of the training corpus at 100 TB
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sample_stratified prunes per-stratum before the exchange (WindowGroupLimit)") {
    val p = plan("sample_stratified")
    // partial + final: one limit below the stratum exchange (map-side
    // prune to cap rows per stratum per partition), one above
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
  }

  test("PQ ADC scan compiles under whole-stage codegen and runs inside a span") {
    // the CodegenFallback audit below cannot see this class of defect:
    // an expression tree that is nominally codegen'd but whose
    // generated processNext() fails janino compilation makes Spark
    // silently disable the WHOLE STAGE and interpret it (the r13
    // unrolled ADC fold shipped that way for two rounds). Two teeth:
    // (1) the shared test session sets spark.sql.codegen.fallback=false,
    // so executing here THROWS on any compile failure; (2) the final
    // executed plan must show the pq_adc projection inside a `*(n)`
    // codegen span, catching any future fallback-with-different-cause
    // (e.g. hugeMethodLimit, which ignores the fallback conf).
    for (name <- Seq("ann_pq_topk", "ann_ivfpq_topk")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val full = df.queryExecution.executedPlan.toString
      // AQE prints the final plan followed by "+- == Initial Plan ==",
      // whose nodes never carry codegen stars — audit the final only
      val p = full.split("== Initial Plan ==").head
      val adcLines = p.linesIterator.filter(_.contains("pq_adc")).toSeq
      assert(adcLines.nonEmpty, s"$name: no pq_adc stage found:\n$p")
      assert(adcLines.forall(_.contains("*(")),
        s"$name ADC stage NOT codegen'd:\n${adcLines.mkString("\n")}")
    }
  }

  test("no row-hot CodegenFallback expression in any query's plan (standing audit)") {
    // the one-time r9 audit caught two 5×+ defects (interpreted
    // higher-order expressions in per-row projections — the
    // rollinghash_mod 16.3→1.1 s lesson); this makes it a standing
    // gate over EVERY SparkEntry query. Scope: expressions evaluated
    // PER ROW of a data stream (Project / Filter / Join condition).
    // Aggregate expressions are excluded by construction — a
    // fallback over an already-grouped row (e.g. a transform over a
    // collect_list result) runs once per GROUP, not per row, and
    // aggregation itself ends the codegen span anyway.
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter => LFilter, Join => LJoin, Project => LProject}
    // DOCUMENTED residue — every entry is a deliberate, measured
    // trade (all inside the 2× perf bar; perf_weak_count = 0), and
    // this gate makes the set SHRINK-ONLY: a new interpreted
    // expression in any query's row-hot path fails the suite.
    //   - C4/Gopher line-rule lambdas (quality_gopher + the clf_*
    //     rows built on c4Rules): per-doc LINE-ARRAY filters — the
    //     explode spelling would re-aggregate per doc per rule (a
    //     shuffle) where the lambda is one in-row pass over ≤~60
    //     lines.
    //   - dedup_embedding*/dedup_semantic: the ArrayTransform is the
    //     near-dup test-corpus PLANTING jitter (runs over the planted
    //     1-in-10 slice, evidence scaffolding, not the operator).
    //   - dedup_lines: per-doc line split+hash transform, same
    //     line-array trade as the C4 rules.
    //   - embed_quantize: exact-integer oracled arithmetic over
    //     bounded-dim vectors; a custom codegen expression would
    //     have to reproduce the oracle's arithmetic bit-for-bit —
    //     risk without a measured need (well inside the bench bar).
    //     (ml_kmeans made that trade through r15; its corpus-row
    //     argmin/micro kernels went native in r16 — MlKernels.)
    //   - events_json: Spark's JSON parser (JsonToStructs) has no
    //     codegen form at all.
    val allowed: Map[String, Set[String]] = Map(
      "quality_gopher" -> Set("ArrayFilter", "ArrayTransform"),
      "quality_c4" -> Set("ArrayFilter", "ArrayTransform"),
      "clf_train_moments" -> Set("ArrayFilter", "ArrayTransform"),
      "clf_trained_eval" -> Set("ArrayFilter", "ArrayTransform"),
      "quality_clf_trained" -> Set("ArrayFilter", "ArrayTransform"),
      "dedup_embedding" -> Set("ArrayTransform"),
      "dedup_embedding_banded" -> Set("ArrayTransform"),
      "dedup_semantic" -> Set("ArrayTransform"),
      "dedup_lines" -> Set("ArrayTransform"),
      "embed_quantize" -> Set("ArrayFilter", "ArrayTransform",
        "ArrayAggregate"),
      "events_json" -> Set("JsonToStructs"),
      //   - r15 optimization round — the single-row / bounded-array
      //     fold shapes that REPLACED per-step shuffle rounds
      //     (measured wins, bit-equality specs + oracle-gated):
      //     embed_pca's power fold runs on ONE row; search_mmr's
      //     greedy fold on |queries| rows over ≤C-element arrays.
      //     (ml_naive_bayes' per-doc argmax, ml_kmeans' per-row
      //     argmin/micro and scrub's per-doc index filter — the
      //     DATA-sized members of this family — went native in r16,
      //     MlKernels; their entries are gone.)
      "embed_pca" -> Set("ArrayTransform", "ArrayAggregate", "ZipWith"),
      "search_mmr" -> Set("ArrayAggregate", "ArrayTransform",
        "ArrayFilter", "ArrayExists", "ZipWith"))
    // lambda plumbing (LambdaFunction/NamedLambdaVariable) always
    // rides along with its HOF — report the HOF only
    val plumbing = Set("LambdaFunction", "NamedLambdaVariable")
    def bad(e: Expression): Seq[String] =
      (if (e.isInstanceOf[CodegenFallback] &&
           !plumbing(e.getClass.getSimpleName))
         Seq(e.getClass.getSimpleName)
       else Nil) ++ e.children.flatMap(bad)
    val offenders = optimizedPlans
      .flatMap { case (name, plan) =>
        val hits = plan.collect {
          case p: LProject => p.projectList.flatMap(bad)
          case f: LFilter  => bad(f.condition)
          case j: LJoin    => j.condition.toSeq.flatMap(bad)
        }.flatten.toSet
        val extra = hits -- allowed.getOrElse(name, Set.empty)
        if (extra.isEmpty) Nil else Seq(s"$name: ${extra.mkString(",")}")
      }
    assert(offenders.isEmpty,
      "UNDOCUMENTED interpreted row-hot expressions:\n" +
        offenders.mkString("\n"))
  }

  test("no query lowercases through Catalyst's Lower (standing audit)") {
    // under the default spark.sql.icu.caseMappings.enabled, Lower's
    // first call in a JVM builds ICU's case table (1.4-1.6 s, every
    // other task thread waiting on the class-init lock) even for ASCII
    // text; TokenOps.lower gives the same result without it
    import org.apache.spark.sql.catalyst.expressions.Lower
    val offenders = optimizedPlans.collect {
      case (name, plan) if plan.collectWithSubqueries {
          case n => n.expressions.exists(_.exists(_.isInstanceOf[Lower]))
        }.contains(true) => name
    }
    assert(offenders.isEmpty, "queries using Catalyst's Lower: " +
      offenders.mkString(", "))
  }

  test("sample_domain_cap prunes per-stratum before the exchange (WindowGroupLimit)") {
    // r10 ADVICE: the n_pass count window used to sit between the
    // rank window and the rn<=cap filter, blocking the pushdown — a
    // mega-domain fully sorted. The count is now a broadcast-joined
    // grouped count, so the filter sits directly on the rank window
    // and WindowGroupLimit fires (partial below the exchange + final)
    val p = plan("sample_domain_cap")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sample_mixture broadcasts the quota side") {
    val p = plan("sample_mixture")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pii_scrub is one map-side pass: no exchange except the output sort") {
    val p = plan("pii_scrub")
    // exactly one exchange — the rangepartitioning for the ORDER BY;
    // the scrub itself must add none
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(p.contains("rangepartitioning"), p)
  }

  test("minhash signature build has no shingle-stream explode or shuffle") {
    // the MinHashSig projection replaced the explode+groupBy build:
    // the only Generates left are the banding posexplodes over
    // (doc_id, sig) rows — one per self-join side in the STATIC plan
    // (AQE's stage cache reuses the common subplan at runtime). No
    // Generate may run over the token/shingle stream.
    // dedup_minhash_banded is the portable md5 family: the same
    // map-only build, md5 band keys
    for ((name, bandHash) <- Seq("dedup_minhash" -> "xxhash64",
                                 "dedup_minhash_banded" -> "md5")) {
      val p = plan(name)
      assert(p.contains("minhash_sig"), p)
      val generates = p.linesIterator.filter(_.contains("Generate")).toSeq
      assert(generates.nonEmpty, p)
      assert(generates.forall(_.contains(s"posexplode(array($bandHash")), p)
    }
  }
}
