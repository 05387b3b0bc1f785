package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TokenOps

/** Text retrieval over the tokenized corpus — the query side of the
  * reference's inverted token index (IndexedDf.scala:15-34 builds the
  * token→rows index; these operators RANK with it). A training-data
  * pipeline uses retrieval constantly: nearest-document lookup for
  * decontamination forensics, boilerplate hunting, corpus QA.
  *
  * Tokenization is the same `split(lower(text), ' ')` family as
  * index_tokens / text_* so retrieval agrees with the index the corpus
  * already has.
  */
object Search {

  /** idf = ln((2N+2)/(2df+1)) rounded to 6dp (pins the ≤1-ulp libm ln
    * drift; the argument is an exact rational of longs). Always > 0:
    * df ≤ N makes the argument > 1.
    */
  private def idf6(n: Column, dfC: Column): Column =
    round(log((lit(2L) * n + 2L).cast("double") /
      (lit(2L) * dfC + 1L).cast("double")), 6)

  /** tf-saturation cleared of its doubles: 22·S·tf/(10·S·tf+3·S+9·N·dl)
    * — one IEEE division of exactly-computed longs.
    */
  private def tfSat(tf: Column, dl: Column, n: Column, s: Column): Column = {
    val num = (lit(22L) * s * tf).cast("double")
    val den = (lit(10L) * s * tf + lit(3L) * s +
      lit(9L) * n * dl).cast("double")
    num / den
  }

  /** ONE definition of the per-term BM25 score, shared by the
    * from-scratch and indexed spellings — they are documented
    * hash-identical under a shared oracle, so the formula must be
    * impossible to fix in one and not the other.
    */
  private def bm25TermScore(tf: Column, dl: Column, n: Column, s: Column,
                            dfC: Column): Column =
    idf6(n, dfC) * tfSat(tf, dl, n, s)

  /** shared rank/limit suffix: keep POSITIVE rounded scores only (a
    * doc containing no query term scores exactly 0 — and only docs
    * containing a term can appear at all in the index-served
    * spelling, so the positive filter is what makes the two
    * spellings agree for EVERY corpus/term combination, not just
    * when ≥ k docs match), top-k by (score DESC, doc_id), ranked.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = scored.where(col("score") > 0)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
    top.select(col("doc_id"), col("score"),
        row_number().over(
          Window.orderBy(desc("score"), asc("doc_id"))).cast("long").as("rnk"))
      .select(col("rnk"), col("doc_id"), col("score"))
      .orderBy("rnk")
  }

  /** BM25 top-k (Robertson k1=1.2, b=0.75) for a fixed bag of query
    * terms, EXACT-ARITHMETIC so it hash-oracles cross-engine:
    *
    *  - tf, dl, N, S (corpus token count) and df are exact longs from
    *    two grouped passes;
    *  - the tf-saturation factor is algebraically cleared of its
    *    doubles: tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with
    *    avgdl = S/N becomes 22·S·tf / (10·S·tf + 3·S + 9·N·dl) — a
    *    ratio of exactly-computed longs, ONE IEEE division (exact
    *    while 22·S·tf < 2⁶³, i.e. corpora to ~10¹⁷ token
    *    occurrences — document-count territory far past 100 TB of
    *    text; past that, pre-divide S/N on the driver);
    *  - idf = ln((N−df+0.5)/(df+0.5) + 1) = ln((2N+2)/(2df+1)) — the
    *    one genuinely transcendental step — is ROUNDED TO 6dp before
    *    use: its argument is an exact rational, so both engines feed
    *    ln the identical double and the rounding pins the ≤1-ulp
    *    libm disagreement (the text_bigram_lm lesson: never SUM raw
    *    cross-engine logs; here the rounded idf is a per-TERM
    *    constant, not a per-token stream);
    *  - per-doc score = Σ over terms in FIXED left-to-right term
    *    order (exact products and adds of deterministic doubles).
    *
    * Plan shape at scale: one explode + groupBy(doc_id) builds
    * (dl, tf…) — the same single shuffle the index build pays; N/S/df
    * are a 1-row aggregate broadcast back (the scalar_subquery
    * idiom); scoring is map-only; the top-k is
    * TakeOrderedAndProject — no global sort materializes.
    */
  def bm25TopK(docs: DataFrame, text: Column, id: Column,
               terms: Seq[String], k: Int = 10): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, "1-8 query terms")
    val toks = split(TokenOps.lower(text), " ")
    val tok = docs.where(text.isNotNull)
      .select(id.as("doc_id"), explode(toks).as("tok"))
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"tf$i")
    }
    val perDoc = tok.groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), tfAggs: _*)
    // N, S, df: one tiny aggregate row, broadcast (scalar_subquery idiom)
    val globAggs = Seq(count(lit(1)).as("n"), sum(col("dl")).as("s")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val glob = perDoc.agg(globAggs.head, globAggs.tail: _*)
    val scored = perDoc.crossJoin(broadcast(glob))
    // shared formula (bm25TermScore); absent terms contribute exact 0
    def termScore(i: Int): Column =
      when(col(s"tf$i") > 0,
        bm25TermScore(col(s"tf$i"), col("dl"), col("n"), col("s"),
          col(s"df$i"))).otherwise(lit(0.0))
    val score = terms.indices.map(termScore).reduceLeft(_ + _)
    rankTopK(scored.select(col("doc_id"), round(score, 6).as("score")), k)
  }

  /** The persisted BM25 POSTINGS artifact — the reference's
    * build-once / query-many index lifecycle (Dfs.scala:489-554)
    * applied to retrieval: one (tok, doc_id, tf, dl) row per posting,
    * range-clustered on tok so parquet min/max stats prune a term's
    * postings to the files that hold them. Built once per corpus
    * snapshot (pair with [[graft.core.Artifacts.haveParquet]] and a
    * snapshot-keyed dir); dl rides denormalized so scoring never
    * rejoins a doc-stats table.
    */
  def bm25Postings(docs: DataFrame, text: Column, id: Column): DataFrame = {
    val toks = split(TokenOps.lower(text), " ")
    docs.where(text.isNotNull)
      .select(id.as("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("tok"))
      .groupBy("tok", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .repartitionByRange(col("tok"))
      .sortWithinPartitions("tok", "doc_id")
  }

  /** The 1-row corpus totals beside [[bm25Postings]]: N (docs) and
    * S (token occurrences) — the only global state BM25 needs.
    */
  def bm25Totals(docs: DataFrame, text: Column, id: Column): DataFrame = {
    val toks = split(TokenOps.lower(text), " ")
    docs.where(text.isNotNull)
      .agg(count(lit(1)).as("n"), sum(size(toks).cast("long")).as("s"))
  }

  /** [[bm25Totals]] derived FROM the postings artifact instead of the
    * corpus — what the store-incremental spelling needs (its live
    * postings are already delete-netted; a corpus pass would both
    * cost a second scan and disagree after a delete). Exact: every
    * non-null-text doc has ≥ 1 posting (an empty text still tokenizes
    * to one empty token), and dl rides every posting row, so
    * N = #distinct docs and S = Σ per-doc dl match the corpus pass.
    */
  def bm25TotalsFromPostings(postings: DataFrame): DataFrame =
    postings.groupBy("doc_id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).as("n"), sum("dl").as("s"))

  /** BM25 top-k SERVED FROM THE PERSISTED INDEX — the steady-state
    * query plan of a real inverted index: read ONLY the query terms'
    * postings (the `tok IN (...)` predicate pushes into the pruned
    * postings scan — never the corpus), derive each term's df from
    * the loaded postings (a tiny grouped count, broadcast back), and
    * score candidate docs with the SAME exact-arithmetic formula as
    * [[bm25TopK]] — same oracle, hash-identical results.
    *
    * Equivalence contract: both spellings keep only POSITIVE rounded
    * scores (the [[rankTopK]] suffix). A doc containing no query term
    * scores exactly 0 under [[bm25TopK]] and cannot appear here at
    * all, and idf > 0 always (df ≤ N ⇒ the ln argument > 1), so the
    * two result sets are identical for EVERY corpus/term combination
    * — including queries where fewer than k docs match. The per-doc
    * sum is the same FIXED left-to-right term order (conditional max
    * per term, coalesce to 0), so the cross-engine determinism
    * argument is unchanged.
    */
  def bm25TopKIndexed(postings: DataFrame, totals: DataFrame,
                      terms: Seq[String], k: Int = 10): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, "1-8 query terms")
    val p = postings.where(col("tok").isin(terms: _*))
    val dfs = p.groupBy("tok").agg(count(lit(1)).as("df"))
    val scored = p.join(broadcast(dfs), "tok").crossJoin(broadcast(totals))
    val perTermAggs = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("tok") === t,
        bm25TermScore(col("tf"), col("dl"), col("n"), col("s"),
          col("df")))).as(s"s$i")
    }
    val perDoc = scored.groupBy("doc_id")
      .agg(perTermAggs.head, perTermAggs.tail: _*)
    val score = terms.indices
      .map(i => coalesce(col(s"s$i"), lit(0.0))).reduceLeft(_ + _)
    rankTopK(perDoc.select(col("doc_id"), round(score, 6).as("score")), k)
  }

  /** Exact phrase search over the POSITIONAL token index: docs where
    * `phrase`'s tokens occur consecutively, with the match count — the
    * reference's token index (token → rows bitmap) extended with the
    * position payload every real inverted index carries (the same
    * (field, value, row, pos) shape as the row-refs artifact, one
    * column wider).
    *
    * Plan shape at scale: posexplode is map-only; the per-word
    * streams join on (doc_id, pos−offset) — an equi-join that
    * shuffles each word's (typically tiny) posting stream, never the
    * corpus; the first word's stream is the probe side and each
    * subsequent word only narrows. groupBy(doc_id) map-side combines.
    */
  def phraseSearch(docs: DataFrame, text: Column, id: Column,
                   phrase: String): DataFrame = {
    val words = phrase.toLowerCase.split(" ").toSeq
    require(words.size >= 2, "phrase needs >= 2 words")
    val toks = split(TokenOps.lower(text), " ")
    val pos = docs.where(text.isNotNull)
      .select(id.as("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
    val first = pos.where(col("tok") === words.head)
      .select(col("doc_id"), col("pos"))
    val matched = words.zipWithIndex.tail.foldLeft(first) {
      case (acc, (w, i)) =>
        val nxt = pos.where(col("tok") === w)
          .select(col("doc_id").as("d"), col("pos").as("p"))
        acc.join(nxt, acc("doc_id") === col("d") &&
            col("p") === acc("pos") + i)
          .select(acc("doc_id"), acc("pos"))
    }
    matched.groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
      .orderBy("doc_id")
  }

  /** HYBRID retrieval by Reciprocal Rank Fusion (Cormack et al.
    * SIGIR'09 — the fusion every lexical+vector RAG stack ships):
    * fuse the BM25 ranking ([[bm25TopK]]) with an embedding-cosine
    * ranking ([[graft.ops.Similarity.bruteTopK]] for the query
    * vector) by rrf = Σ_lists 1/(rrfK + rank). RRF needs no score
    * calibration between the lists — only the RANKS cross the fusion
    * boundary, which is also what makes it hash-oracle-able: each
    * 1/(60+rank) is ONE exactly-rounded IEEE division of exact
    * integers and the two-term sum is exactly determined, where
    * fusing raw BM25 scores with raw cosines would inherit every
    * cross-engine float quirk of both.
    *
    * The corpus↔embedding correspondence is positional by contract
    * (doc_id == vec_id — TESTDATA's documents and embeddings tables
    * are separate faces of one corpus); docs absent from a list
    * contribute 0 to the fusion and report rank 0 in that list.
    *
    * Scale shape: both legs are already-bounded top-kList lists
    * (≤ kList rows each), so the fusion's full-outer join and final
    * sort touch ≤ 2·kList rows — driver-trivial no matter the corpus
    * size; the heavy lifting stays inside the two legs' own
    * scale-shaped plans.
    */
  def hybridRrf(docs: DataFrame, text: Column, id: Column,
                emb: DataFrame, terms: Seq[String], qid: Long,
                kList: Int = 50, k: Int = 20, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25TopK(docs, text, id, terms, kList)
      .select(col("doc_id"), col("rnk").as("lex_rnk"))
    val sem = graft.ops.Similarity
      .bruteTopK(emb, emb.where(col("vec_id") === qid), kList)
      .select(col("nbr").as("doc_id"), col("rnk").as("sem_rnk"))
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lex_rnk"), lit(0L)).as("lex_rnk"),
        coalesce(col("sem_rnk"), lit(0L)).as("sem_rnk"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("lex_rnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("sem_rnk")), lit(0.0)), 9)
          .as("rrf"))
    val top = fused.orderBy(desc("rrf"), asc("doc_id")).limit(k)
    top.select(
        row_number().over(Window.orderBy(desc("rrf"), asc("doc_id")))
          .cast("long").as("rnk"),
        col("doc_id"), col("lex_rnk"), col("sem_rnk"), col("rrf"))
      .orderBy("rnk")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98): greedily select `k` results per query maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — the classic
    * redundancy-penalizing diversifier (the trained sibling of the
    * per-label cap in search_diverse_topk). λ = 0.5.
    *
    * EXACT cross-engine protocol: relevance and pairwise similarity
    * are the standard 6dp-rounded cosines; 0.5·x is an exact binary
    * scaling and the subtraction one exactly-rounded IEEE op, so the
    * greedy argmax (tie → smaller id) is deterministic on any IEEE
    * engine and the whole selection sequence hash-oracles against a
    * DuckDB mirror with the k steps unrolled as CTEs (the
    * kmeans/pcaPower evidence pattern applied to iterative
    * retrieval).
    *
    * Scale shape (100 TB of embeddings; r15 optimization round):
    * stage 1 is the brute/ANN shortlist — per-query cost is the
    * corpus scan (or the ANN route), exactly ann_cosine_topk's plan
    * through the bounded-heap operator, now carrying each shortlist
    * row's vector as heap payload (≤ C·d floats per query). The
    * ENTIRE tail — the ≤C² pairwise-sim table and all k greedy
    * steps — is array arithmetic on ONE row per query: the former
    * spelling re-joined the corpus for shortlist vectors, built and
    * localCheckpoint'd a pair table, and paid a 3-join + aggregate
    * Spark round per greedy step (8 shuffles / 20 reused exchanges
    * at k=5); this shape is shortlist → one groupBy(qid) fold →
    * map-only selection, and never touches the corpus after stage 1.
    * The per-step argmax is array_min over struct(−score, id) — the
    * same (−score, id) ordering min(struct(...)) used before, so the
    * selection sequence (tie → smaller id) is unchanged.
    * MmrEquivSpec keeps the former spelling as its bit-equality
    * reference; the paired A/B is in OPTIMIZATION_r15.md §search_mmr.
    */
  def mmrTopK(emb: DataFrame, vec: Column, id: Column,
              queries: DataFrame, k: Int = 5, shortlist: Int = 20,
              rankCol: String = "step"): DataFrame = {
    import graft.functions.VecMath.{vecDot, vecNorm}
    require(k >= 1 && shortlist >= k)
    val c = emb.select(id.as("vec_id"), vec.as("e"),
      vecNorm(vec).as("cn"))
    val q = queries.select(id.as("qid"), vec.as("qv"),
      vecNorm(vec).as("qn"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"),
        round(vecDot(col("qv"), col("e")) / (col("qn") * col("cn")), 6)
          .as("cos"),
        col("e"), col("cn"))
    val short = graft.ops.TopK.perGroup(scored, Seq(col("qid")),
        Seq(desc("cos"), asc("nbr")), shortlist, rankCol = "sl")
      .select(col("qid"), col("nbr"), col("cos"), col("e"), col("cn"))
    // ONE row per query: shortlist candidates (nbr-ascending —
    // sort_array on the unique leading nbr makes the array order
    // deterministic) …
    val packed = short.groupBy("qid")
      .agg(sort_array(collect_list(
        struct(col("nbr"), col("cos"), col("e"), col("cn")))).as("cand"))
    // … the C×C cosine matrix (same vecDot/vecNorm/round-6dp values
    // the former pair table computed — the vectors are the very rows
    // stage 1 scored) …
    val withSims = packed.select(col("qid"), col("cand"),
      transform(col("cand"), x =>
        transform(col("cand"), y =>
          round(vecDot(x.getField("e"), y.getField("e")) /
            (x.getField("cn") * y.getField("cn")), 6))).as("sims"),
      sequence(lit(0), size(col("cand")) - 1).as("idxs"))
    // … and the greedy selection, k steps of pure array math inside
    // ONE aggregate() fold (NOT per-step projections, which
    // CollapseProject would inline into downstream per-element
    // lambdas with exponential evaluation cost — see pcaPower).
    // State: sel = struct(step, nbr, cos, idx) picks so far, a
    // runtime VALUE between steps. Step score for candidate i:
    // 0.5·cos_i − 0.5·max_{s∈sel} sims[i][s] (step 1: cos alone);
    // argmax via array_min over (−score, nbr) — the same
    // (−score, id) min(struct) ordering as before, ties to the
    // smaller nbr. A query whose candidate list is exhausted stops
    // growing (the former per-step join simply produced no row).
    // `bind` = the 1-element-array let idiom: the argmax result is
    // evaluated once per step, not once per field reference.
    def cAt(i: Column, f: String): Column =
      element_at(col("cand"), i + 1).getField(f)
    def bind(value: Column, body: Column => Column): Column =
      element_at(transform(array(value), v => body(v)), 1)
    def entry(step: Column, p: Column): Column =
      struct(step.cast("long").as("step"), p.getField("nbr").as("nbr"),
        p.getField("cos").as("cos"), p.getField("idx").as("idx"))
    def pick(sel: Column, scoreOf: Column => Column): Column =
      array_min(transform(
        filter(col("idxs"), i =>
          !exists(sel, s => s.getField("idx") === i)),
        i => struct(negate(scoreOf(i)).as("ns"),
          cAt(i, "nbr").as("nbr"), cAt(i, "cos").as("cos"),
          i.as("idx"))))
    // step 1 picks over ALL candidates (nothing selected yet); the
    // filter-to-empty spelling materializes the empty sel with the
    // entry struct's exact type for any id column type
    val sel1 = bind(
      array_min(transform(col("idxs"),
        i => struct(negate(cAt(i, "cos")).as("ns"),
          cAt(i, "nbr").as("nbr"), cAt(i, "cos").as("cos"),
          i.as("idx")))),
      p => filter(array(entry(lit(1L), p)), _ => p.isNotNull))
    val selK =
      if (k == 1) sel1
      else aggregate(
        sequence(lit(2), lit(k)), sel1,
        (sel, step) => bind(
          pick(sel, i => lit(0.5) * cAt(i, "cos") - lit(0.5) *
            array_max(transform(sel, s =>
              element_at(element_at(col("sims"), i + 1),
                s.getField("idx") + 1)))),
          p => when(p.isNull, sel)
            .otherwise(concat(sel, array(entry(step, p))))))
    val selected = withSims.select(col("qid"), selK.as("sel"))
    selected.select(col("qid"), explode(col("sel")).as("s"))
      .select(col("qid"), col("s.step").as(rankCol),
        col("s.nbr").as("nbr"), col("s.cos").as("cos"))
      .orderBy("qid", rankCol)
  }
}
