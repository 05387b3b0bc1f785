package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TokenOps

/** Text-analysis operators for large-scale corpus pipelines
  * (SURVEY §2c.30-33). All pure column expressions — codegen'd, no
  * UDFs, one scan per query; safe at any scale because every measure
  * is per-row (embarrassingly parallel) until the final ORDER BY.
  */
object TextAnalysis {

  /** small multilingual stopword profiles for the heuristic lang-id.
    * Deterministic by construction: profile hit-counts + fixed
    * tie-break order, no model weights.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "fr" -> Seq("le", "la", "et", "de", "un", "une", "est", "que"),
    "es" -> Seq("el", "la", "y", "de", "un", "una", "es", "que"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist", "zu", "den"))

  private def tokensOf(text: Column): Column = split(TokenOps.lower(text), " ")

  /** count of tokens that are in `words` — native codegen'd
    * [[graft.functions.CountInSet]] (the filter+isInCollection
    * spelling is CodegenFallback: interpreted per row)
    */
  private def hitCount(text: Column, words: Seq[String]): Column =
    graft.functions.TokenOps.countInSet(tokensOf(text), words)

  /** whitespace + BPE-ish regex token counts (§2c.32) */
  def tokenCounts(df: DataFrame, text: Column, id: Column): DataFrame =
    df.select(
      id.as("doc_id"),
      size(split(text, " ")).as("ws_tokens"),
      size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .as("re_tokens"))

  /** BPE-statistics step (§2c.32c): corpus-wide counts of adjacent
    * character pairs inside normalized words — the pair-frequency
    * aggregation at the heart of BPE vocabulary induction (each merge
    * round of BPE training recomputes exactly this table). Top `topN`
    * pairs by (count desc, pair asc) — the tie-broken order makes the
    * cut deterministic, so the row is hash-oracled.
    *
    * Scale shape: pair emission is map-only off the token stream, and
    * the pair alphabet is BOUNDED (≤ 37² symbols over [a-z0-9]), so
    * map-side partial aggregation collapses every partition to ≤~1.4k
    * rows before the shuffle — corpus size never reaches the exchange.
    */
  def bpePairCounts(df: DataFrame, text: Column,
                    topN: Int = 200): DataFrame =
    df.select(explode(Curation.normTokens(text)).as("w"))
      .where(length(col("w")) >= 2)
      .select(explode(sequence(lit(1), length(col("w")) - 1)).as("i"),
        col("w"))
      .select(col("w").substr(col("i"), lit(2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(topN)

  /** Vocabulary tokenization (§2c.32b): build the top-`vocabSize`
    * token vocabulary by corpus frequency — ids dense from 0 in
    * (freq desc, token asc) order — then re-encode every doc as its
    * ordered token-id sequence (OOV → -1), plus token/OOV counts.
    * This is the tokenize-for-training step that turns a curated
    * corpus into model input, with the id assignment deterministic
    * enough to hash-oracle.
    *
    * Scale shape: vocab build is word-count (map-side combine
    * collapses the token stream to the vocabulary before the
    * exchange); the ≤vocabSize id-assignment window runs on one
    * task over vocabSize rows (driver-bounded by construction, like
    * IVF centroids); re-encoding is a map-only broadcast join on the
    * token stream and one shuffle by doc to reassemble sequences.
    */
  def tokenizeIds(df: DataFrame, text: Column, id: Column,
                  vocabSize: Int = 512): DataFrame = {
    val stream = df.select(id.as("doc_id"),
      posexplode(Curation.normTokens(text)).as(Seq("pos", "tok")))
    val byFreq = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("tok"))
    val vocab = stream.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), (row_number().over(byFreq) - 1L).as("tok_id"))
    stream.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("pos"),
            coalesce(col("tok_id"), lit(-1L)).as("tid")))),
          x => x.getField("tid").cast("string"))).as("token_ids"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("tok_id").isNull, 1L).otherwise(0L)).as("n_oov"))
      .orderBy("doc_id")
  }

  /** length / punctuation / stopword / alpha ratios + a quality score
    * (§2c.30). Score: alpha-ratio and stopword-ratio reward natural
    * text; bare heuristic, but the point is the distributed shape.
    */
  /** the quality score alone as a single stateless column expression
    * — reusable anywhere a projection fits (e.g. the streaming
    * curation face, where statelessness is the whole point)
    */
  def qualityCol(text: Column): Column = {
    val alphaRatio = length(regexp_replace(text, "[^a-z]", "")).cast("double") /
      nullif(length(text), lit(0))
    val stopRatio = hitCount(text, stopwords("en")).cast("double") /
      nullif(size(split(text, " ")), lit(0))
    round(alphaRatio * 0.5 + least(stopRatio * lit(5.0), lit(1.0)) * 0.5, 6)
  }

  def quality(df: DataFrame, text: Column, id: Column): DataFrame = {
    val nChars = length(text)
    val nAlpha = length(regexp_replace(text, "[^a-z]", ""))
    val nTok = size(split(text, " "))
    val nStop = hitCount(text, stopwords("en"))
    // nullif guards: empty text must yield null ratios, not a
    // DIVIDE_BY_ZERO job failure under ANSI mode
    val alphaRatio = nAlpha.cast("double") / nullif(nChars, lit(0))
    val stopRatio = nStop.cast("double") / nullif(nTok, lit(0))
    df.select(
      id.as("doc_id"),
      nChars.as("n_chars"),
      nTok.as("n_tokens"),
      round(alphaRatio, 6).as("alpha_ratio"),
      round(stopRatio, 6).as("stop_ratio"),
      round(alphaRatio * 0.5 + least(stopRatio * lit(5.0), lit(1.0)) * 0.5, 6)
        .as("quality"))
  }

  /** stopword-profile language scoring (§2c.31): per-language hit
    * counts, argmax with deterministic tie-break (profile order).
    */
  def langId(df: DataFrame, text: Column, id: Column): DataFrame = {
    val langs = Seq("en", "fr", "es", "de") // fixed tie-break order
    // materialize tokenization once and each profile count once —
    // folding over the raw count expressions would duplicate the
    // whole tokenize+filter tree 2^|langs| times (measured 15 s vs
    // <1 s at sf0.1)
    val toks = df.select(id.as("doc_id"), tokensOf(text).as("toks"))
    val counts = toks.select(col("doc_id") +: langs.map(l =>
      graft.functions.TokenOps.countInSet(col("toks"), stopwords(l))
        .as(s"c_$l")): _*)
    val best = langs.foldLeft[(Column, Column)]((lit("und"), lit(0))) {
      case ((bl, bs), l) =>
        (when(col(s"c_$l") > bs, lit(l)).otherwise(bl),
         when(col(s"c_$l") > bs, col(s"c_$l")).otherwise(bs))
    }
    counts.select(
      col("doc_id"),
      best._1.as("pred_lang"),
      best._2.as("score"))
  }

  /** Per-doc token SHANNON ENTROPY (nats) — the information-density
    * quality signal beside [[repetition]]'s duplicate-fraction: spam
    * and boilerplate have low entropy (few tokens dominate), natural
    * prose sits near ln(n_distinct). Computed as
    * H = ln(n) − (Σ cᵢ·ln cᵢ)/n over the doc's token histogram.
    *
    * EXACT-ARITHMETIC protocol (the score_importance discipline):
    * counts cᵢ and n are exact longs; every ln is of an INTEGER and
    * pinned to micro-units (round(ln·10⁶) as long), so the numerator
    * n·lnμ(n) − Σ cᵢ·lnμ(cᵢ) is an exact long sum — order-free — and
    * ONE final division by n·10⁶ makes the double. Hash-oracles
    * cross-engine where raw −Σ p·ln p would drift.
    *
    * Plan: explode → (doc,token) count → per-doc aggregate; two
    * shuffles on the uniform doc_id key (the [[repetition]] scale
    * class), both map-side combined.
    */
  def tokenEntropy(df: DataFrame, text: Column, id: Column): DataFrame = {
    val toks = tokensOf(text)
    val tok = df.where(text.isNotNull)
      .select(id.as("doc_id"), explode(toks).as("tok"))
    def lnMicro(x: Column): Column =
      round(log(x.cast("double")) * 1e6, 0).cast("long")
    tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * lnMicro(col("c"))).as("sum_clnc"))
      .select(col("doc_id"), col("n"), col("n_distinct"),
        round((col("n") * lnMicro(col("n")) - col("sum_clnc")).cast("double") /
          (col("n").cast("double") * 1e6), 6).as("entropy"))
      .orderBy("doc_id")
  }

  /** Repetition quality signals (Gopher-style filters, Rae et al.
    * 2021 §A1.1: "repetitious documents are low quality"):
    *  - dup_word_frac: fraction of tokens that are repeats of an
    *    earlier token — MAP-ONLY (array expressions, no shuffle);
    *  - top_bigram_frac: frequency share of the most common bigram —
    *    explode → (doc,bigram) count → per-doc max/sum. Two shuffles
    *    on the uniform doc_id key; at 100 TB the bigram stream is
    *    ~|tokens| rows, the same scale class as the shingle family.
    * Docs with fewer than 2 tokens have no bigrams: frac 0.
    */
  def repetition(df: DataFrame, text: Column, id: Column): DataFrame = {
    val toks = tokensOf(text)
    val nTok = size(toks)
    val base = df.select(id.as("doc_id"), toks.as("toks"),
      round((nTok - size(array_distinct(toks))).cast("double") / nTok, 6)
        .as("dup_word_frac"))
    val bigrams = base.select(col("doc_id"), col("dup_word_frac"),
      explode_outer(when(size(col("toks")) >= 2,
        graft.functions.TokenOps.wordShingles(col("toks"), 2,
          distinct = false))).as("bg"))
    bigrams
      .groupBy("doc_id", "dup_word_frac", "bg")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "dup_word_frac")
      .agg(round(
        coalesce(
          max(when(col("bg").isNotNull, col("c"))).cast("double") /
            sum(when(col("bg").isNotNull, col("c"))),
          lit(0.0)), 6).as("top_bigram_frac"))
      .select("doc_id", "dup_word_frac", "top_bigram_frac")
      .orderBy("doc_id")
  }

  /** Corpus-conditioned bigram-LM novelty signals (§2c.30c) — the
    * deterministic form of the LM-fluency/novelty gate (the CCNet
    * move: score each doc against a language model fitted on a
    * reference corpus; here the "model" is the corpus's own bigram
    * table):
    *  - `avg_bigram_freq`: mean corpus frequency of the doc's bigram
    *    occurrences — high ⇒ the doc is made of corpus-common word
    *    transitions (boilerplate-like), low ⇒ unusual text;
    *  - `novel_frac`: fraction of the doc's bigram occurrences whose
    *    corpus frequency ≤ `rareAtMost` — the share of transitions
    *    (essentially) unique to this doc.
    *
    * Deliberately INTEGER-EXACT rather than log-probability: every
    * per-doc aggregate is a sum of longs (order-independent, exact),
    * with ONE correctly-rounded IEEE division at the end — so the
    * signal is bit-identical across engines and hash-oracled. A
    * log-prob spelling would sum doubles whose accumulation order
    * differs between engines AND whose `ln` is not correctly rounded
    * (Java Math.log vs libm disagree by ulps) — the multidf_union
    * lesson: float protocols that pass at toy scale drift at data
    * scale.
    *
    * Plan shape: map-only bigram kernel → grouped corpus counts +
    * count join, then a per-doc aggregate on the uniform doc_id key.
    * The counts side and the join's probe side are the SAME exploded
    * subtree partitioned the same way, so Catalyst plans ONE exchange
    * (ReusedExchange). Deliberately a groupBy+join rather than
    * `count() OVER (PARTITION BY bg)`: hot bigrams ("of the", ~1% of
    * a real corpus) are KEPT here, not capped away, and a window
    * would sort that key's entire occurrence stream in one task at
    * 100 TB — whereas the grouped count collapses it map-side
    * (partial aggregation) and AQE's skew-join splits the join-side
    * hot partition. The window spelling is reserved for the cap
    * sites, where everything past the threshold is dropped.
    */
  def bigramNovelty(df: DataFrame, text: Column, id: Column,
                    rareAtMost: Long = 2L): DataFrame = {
    val toks = tokensOf(text)
    val base = df.select(id.as("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= 2)
    val bigrams = base.select(col("doc_id"),
      explode(graft.functions.TokenOps.wordShingles(col("toks"), 2,
        distinct = false)).as("bg"))
    val counts = bigrams.groupBy("bg").agg(count(lit(1)).as("c"))
    bigrams.join(counts, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum("c").cast("double") / count(lit(1)), 6)
          .as("avg_bigram_freq"),
        round(sum(when(col("c") <= rareAtMost, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("novel_frac"))
      .orderBy("doc_id")
  }

  /** Per-doc BIGRAM LM LOG-PROBABILITY — the perplexity-filter signal
    * of the CCNet/LLaMA curation recipes (score each doc under a
    * corpus language model; outliers on either tail are boilerplate
    * or gibberish), self-trained here: the LM is the corpus's own
    * bigram table with add-1 smoothing,
    * P(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁·)+V).
    *
    * EXACT-ARITHMETIC (the [[tokenEntropy]] micro-ln protocol): both
    * numerator and denominator are INTEGERS, so each bigram
    * contributes lnμ(c₁₂+1) − lnμ(c₁+V) — two rounded-once libm
    * calls on integers — and the per-doc sum is an exact LONG
    * (`sum_lp_micro`, hash-comparable bit-for-bit); the only double
    * is the final display division. exp() is deliberately never
    * taken — perplexity ranks identically under the log.
    *
    * Plan: map-only bigram build (transform over the token array, no
    * self-join) → two grouped counts (bigram and context, both
    * map-side combined, Zipf head collapses early) → joins back on
    * the bigram keys → per-doc aggregate. V broadcasts as one row.
    */
  def lmScore(df: DataFrame, text: Column, id: Column): DataFrame = {
    val toks = tokensOf(text)
    val base = df.where(size(toks) >= 2)
      .select(id.as("doc_id"), toks.as("toks"))
    val bigrams = base.select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("toks")) - 1), i =>
          struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = df.select(explode(tokensOf(text)).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    def lnMicro(x: Column): Column =
      round(log(x.cast("double")) * 1e6, 0).cast("long")
    bigrams
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(lnMicro(col("c12") + 1L) - lnMicro(col("c1") + col("v")))
          .as("sum_lp_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_lp_micro"),
        round(col("sum_lp_micro").cast("double") /
          (col("n_bigrams").cast("double") * 1e6), 6).as("avg_logp"))
      .orderBy("doc_id")
  }

  /** Corpus COLLOCATIONS by pointwise mutual information (the
    * "strongly-associated word pairs" table behind phrase mining and
    * tokenizer-vocab seeding; Church & Hanks 1990): adjacent bigrams
    * with count ≥ `minCount`, scored
    * pmi = ln(p(w1w2)/(p(w1)p(w2))), deterministic top-k
    * (pmi DESC, w1, w2).
    *
    * EXACT-ARITHMETIC (the [[tokenEntropy]] micro-ln protocol): the
    * score is a SUM OF SIX micro-ln LONGS — lnMicro(c12) − lnMicro(Nb)
    * − lnMicro(c1) − lnMicro(c2) + 2·lnMicro(Nu) — each ln taken of a
    * plain integer count, rounded once to 1e-6 and summed exactly, so
    * ordering and output hash identically cross-engine (no product of
    * counts is ever formed — each factor gets its own ln).
    *
    * Scale shape: unigram and bigram counts are map-side-combinable
    * aggregations of the token stream (Zipf heads collapse before the
    * exchange); the candidate set is c12 ≥ minCount (tiny); the two
    * unigram joins hit that small set; top-k is TakeOrderedAndProject.
    */
  def collocations(df: DataFrame, text: Column,
                   minCount: Long = 5L, k: Int = 50): DataFrame = {
    val toks = tokensOf(text)
    def lnMicro(x: Column): Column =
      round(log(x.cast("double")) * 1e6, 0).cast("long")
    // ONE pass over each stream: the corpus totals (nu, nb) derive
    // from the count tables, not from re-scanning the token/bigram
    // streams — without this the corpus is tokenized four times
    // (measured 3× the operator's whole cost)
    val uni = df.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val nu = uni.agg(sum("c").as("nu"))
    // PROJECT the token array before the lambda touches it: the
    // transform/element_at pair is interpreted (HigherOrderFunction
    // CodegenFallback), and with the tokenizer inlined each
    // element_at(split(text), i) re-splits the whole string —
    // O(len²) per doc, measured 2.4× the bigram pass
    val c12all = df.select(toks.as("toks")).where(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1), i =>
        struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val nb = c12all.agg(sum("c12").as("nb"))
    val cand = c12all.where(col("c12") >= minCount)
    cand
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        (lnMicro(col("c12")) - lnMicro(col("nb"))
          - lnMicro(col("c1")) - lnMicro(col("c2"))
          + lit(2L) * lnMicro(col("nu"))).as("pmi_micro"))
      .orderBy(desc("pmi_micro"), asc("w1"), asc("w2"))
      .limit(k)
  }

  /** Multinomial NAIVE BAYES language classifier, trained on the
    * labeled corpus and evaluated on it in ONE declarative plan
    * (the LEARNED sibling of the stopword-heuristic [[langId]]):
    * Laplace-smoothed token likelihoods
    * P(w|c) = (cnt(w,c)+1)/(T_c+V), log-prior from class doc counts,
    * argmax class per doc (ties → lexicographically first), reported
    * as the (actual, predicted, n) confusion matrix.
    *
    * EXACT-ARITHMETIC (the micro-ln protocol): every factor is its
    * own lnMicro long of a plain integer —
    * score = lnMicro(nd_c) − lnMicro(N)
    *       + Σ_tok lnMicro(cnt(tok,c)+1) − n_tokens·lnMicro(T_c+V) —
    * summed exactly, so the argmax and the confusion hash
    * identically cross-engine. Unseen (token, class) pairs
    * contribute lnMicro(1) = 0, which is why the per-doc class sums
    * can come from a join against the OBSERVED count table only.
    *
    * Scale shape: the model is two bounded tables — (w, c, cnt)
    * capped by vocab×classes, and the 1-row-per-class totals — both
    * map-side-combinable aggregations; scoring joins the token
    * stream to the count table on w (fanout ≤ n_classes) and
    * collapses per (doc, class) map-side; the class grid is a
    * broadcast crossJoin of |C| rows. No window over the corpus,
    * no driver state.
    */
  def naiveBayesConfusion(df: DataFrame, text: Column, id: Column,
                          label: Column): DataFrame =
    // the per-doc argmax is a native codegen'd loop (r16 optimization
    // round — it replaced an interpreted CodegenFallback HOF spelling;
    // KernelEquivSpec pins bit-equality, including the null-text
    // all-scores-null tie)
    naiveBayesScoring(df, text, id, label)
      .select(col("lang"), graft.functions.MlKernels.nbArgMin(col("cls"),
        col("om"), col("n_tokens")).as("pred_lang"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  /** [[naiveBayesConfusion]]'s per-doc scoring input, before the
    * argmax: (doc_id, lang, n_tokens, om = the doc's class→obs map,
    * cls = the sorted (c, prior_micro, denom_micro) class array).
    */
  private[graft] def naiveBayesScoring(df: DataFrame, text: Column,
                                       id: Column,
                                       label: Column): DataFrame = {
    val toks = tokensOf(text)
    def lnMicro(x: Column): Column =
      round(log(x.cast("double")) * 1e6, 0).cast("long")
    val docs = df.select(id.as("doc_id"), label.as("lang"), toks.as("toks"))
      .select(col("doc_id"), col("lang"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"))
    val tokStream = docs.select(col("doc_id"), col("lang"),
      explode(col("toks")).as("w"))
    val cnt = tokStream.groupBy(col("w"), col("lang").as("c"))
      .agg(count(lit(1)).as("cwc"))
      .localCheckpoint() // the fitted model; scoring + totals reuse it
    val classTotals = cnt.groupBy("c").agg(sum("cwc").as("t_c"))
    // |vocab| as one distinct-agg over the model table (was a
    // distinct + count pair — one exchange more); n_docs = Σ priors
    // (was its own corpus aggregation — r15 optimization round)
    val vocab = cnt.agg(count_distinct(col("w")).as("v"))
    val priors = docs.groupBy(col("lang").as("c"))
      .agg(count(lit(1)).as("nd"))
    val nDocs = priors.agg(sum("nd").as("n_docs"))
    val classes = priors.join(classTotals, "c")
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(nDocs))
      .select(col("c"), (lnMicro(col("nd")) - lnMicro(col("n_docs")))
          .as("prior_micro"),
        lnMicro(col("t_c") + col("v")).as("denom_micro"))
    // per-(doc, class) sum over OBSERVED (tok, class) likelihoods,
    // folded to one (doc → class→obs map) row per doc; the per-doc
    // argmax then runs map-only against the |C|-row class table
    // carried as a sorted array literal (r15: replaces the former
    // docs×classes crossJoin explode + (doc,c) left join + a second
    // per-doc shuffle with one doc_id join — same score expression,
    // same (−score, c) min-struct argmax, ties to the smaller c)
    val obs = tokStream
      .join(cnt, tokStream("w") === cnt("w"))
      .groupBy(col("doc_id"), col("c"))
      .agg(sum(lnMicro(col("cwc") + 1L)).as("obs_micro"))
      .groupBy("doc_id")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("c"), col("obs_micro"))))).as("om"))
    val classArr = classes.agg(sort_array(collect_list(
      struct(col("c"), col("prior_micro"), col("denom_micro")))).as("cls"))
    docs.select(col("doc_id"), col("lang"), col("n_tokens"))
      .join(obs, Seq("doc_id"), "left")
      .crossJoin(broadcast(classArr))
  }

  /** document fingerprint: md5 over the sorted distinct token set
    * (§2c.33) — order-invariant content identity, the join-key analog
    * of the reference's index tokens.
    */
  def fingerprint(df: DataFrame, text: Column, id: Column): DataFrame =
    df.select(
      id.as("doc_id"),
      md5(array_join(sort_array(array_distinct(tokensOf(text))), " ")
        .cast("binary")).as("fp"))

  /** rolling-hash fingerprint (Rabin-Karp windows, winnowed to the
    * min window hash) — byte-run-sensitive where [[fingerprint]] is
    * token-set-sensitive; native codegen'd expression.
    */
  def rollingFingerprint(df: DataFrame, text: Column, id: Column,
                         window: Int = 16): DataFrame =
    df.select(
      id.as("doc_id"),
      graft.functions.TextHash.rollingMinHash(text, window).as("rfp"))

  /** [[rollingFingerprint]]'s engine-portable evidence twin (the
    * minhash_banded / substring_mod pattern): the SAME min-window-
    * hash semantics — every `window`-char window hashed, folded to
    * the per-doc minimum; texts shorter than the window hash their
    * full length — with the hash family swapped from the native
    * Rabin-Karp kernel to md5-top-60-bits, which both engines
    * compute identically, so the whole operator hash-oracles
    * end-to-end in DuckDB. Production default stays the codegen'd
    * [[rollingFingerprint]] (one rolling pass, no per-window md5);
    * this twin is the cross-engine proof of the window/min plumbing
    * and costs ~len·window work per doc by design.
    *
    * Spelled as explode → codegen'd md5 → partial-agg min (the
    * [[graft.ops.Dedup]] portableKgramFps shape), NOT a
    * transform→array_min higher-order expression: Spark's
    * HigherOrderFunctions are CodegenFallback — interpreted per row,
    * serial per doc — which measured 5× slower on the same window
    * stream. The explode pipelines inside whole-stage codegen and the
    * min collapses map-side, so the shuffle carries one row per doc.
    */
  def rollingFingerprintPortable(df: DataFrame, text: Column, id: Column,
                                 window: Int = 16): DataFrame =
    Skew.spread(
      df.select(id.as("doc_id"), coalesce(text, lit("")).as("__text")),
      // gated parallelism barrier, not a distribution need
      // ([[Skew.spread]]): few input splits would otherwise run the
      // whole md5-per-window build on a few cores
      col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(lit(1),
          greatest(length(col("__text")) - (window - 1), lit(1)))).as("i"),
        col("__text"))
      .select(col("doc_id"),
        conv(substring(md5(expr(s"cast(substring(__text, i, $window) as binary)")),
          1, 15), 16, 10).cast("long").as("h"))
      .groupBy("doc_id").agg(min("h").as("rfp_mod"))

  /** corpus-wide top-k n-gram table (§2c.32d) — the corpus-statistics
    * face of the n-gram machinery (the aggregation behind "top n-gram
    * fraction" quality filters and corpus QA dashboards): every
    * doc's token n-grams (non-distinct — counts weight by occurrence),
    * counted corpus-wide with distinct-doc support, deterministic
    * top-k (count DESC, ngram ASC).
    *
    * Scale shape: the n-gram kernel is the codegen'd WordShingles
    * expression (map-only explode); the count groupBy partial-aggs
    * map-side (duplicated n-grams collapse before the exchange — on
    * web corpora the head is Zipf-heavy, exactly the distribution
    * map-side combine eats); top-k is TakeOrderedAndProject, never a
    * global sort.
    */
  def topNgrams(df: DataFrame, text: Column, id: Column,
                n: Int = 3, k: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokensOf(text)
    val grams = df.where(size(toks) >= n)
      .select(id.as("doc_id"),
        explode(graft.functions.TokenOps.wordShingles(toks, n,
          distinct = false)).as("ngram"))
    val counts = grams.groupBy("ngram")
      .agg(count(lit(1)).as("n"), count_distinct(col("doc_id")).as("n_docs"))
    val top = counts.orderBy(desc("n"), asc("ngram")).limit(k)
    top.select(
        row_number().over(Window.orderBy(desc("n"), asc("ngram")))
          .cast("long").as("rnk"),
        col("ngram"), col("n"), col("n_docs"))
      .orderBy("rnk")
  }

  // ---------------------------------------------- Gopher quality rules (30e)

  /** Deterministically re-shape the corpus into the multi-line,
    * artifact-bearing docs the Gopher rule set was written for — the
    * [[graft.ops.Dedup.plantLinedDocs]] protocol (fold the token
    * stream into `tokensPerLine`-token lines, then plant the
    * phenomena so every rule has both passing and failing docs,
    * mirrored verbatim in the oracle SQL): docs at `id % 4 == 0`
    * gain a bullet-list line, `id % 6 == 0` an ellipsis-terminated
    * teaser line, `id % 9 == 0` a symbol-heavy sponsor line.
    */
  def plantGopherDocs(df: DataFrame, text: Column, id: Column,
                      tokensPerLine: Int = 12): DataFrame = {
    val toks = split(text, " ")
    val n = size(toks)
    val nLines = ceil(n.cast("double") / tokensPerLine).cast("int")
    val lines = transform(sequence(lit(0), nLines - 1),
      i => array_join(slice(toks, i * tokensPerLine + 1, lit(tokensPerLine)), " "))
    val planted = concat(lines,
      when(id % 4 === 0, array(lit("- subscribe - follow - share")))
        .otherwise(array().cast("array<string>")),
      when(id % 6 === 0, array(lit("click here to read more ...")))
        .otherwise(array().cast("array<string>")),
      when(id % 9 === 0, array(lit("### sponsored ###")))
        .otherwise(array().cast("array<string>")))
    df.withColumn("text", array_join(planted, "\n"))
  }

  /** Gopher stopwords (Rae et al. 2021, A1.1): a doc must contain ≥2
    * of these to pass the stop-word rule.
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The published Gopher quality-filter RULE SET (Rae et al. 2021,
    * appendix A1.1) as one map-only pass — the named-rules
    * complement of [[quality]]'s generic score and [[repetition]]'s
    * duplicate fractions; the filter recipe MassiveText, and the
    * pipelines that copied it (RefinedWeb, Dolma), actually shipped:
    *
    *   1. word count in [50, 100 000]
    *   2. mean word length in [3, 10]
    *   3. symbol-to-word ratio ('#' + '…'-as-'...') ≤ 0.1
    *   4. ≤ 90% of lines start with a bullet ("- ")
    *   5. ≤ 30% of lines end with an ellipsis ("...")
    *   6. ≥ 80% of words contain an alphabetic character
    *   7. ≥ 2 of the 8 [[gopherStopwords]] present
    *
    * EXACT-ARITHMETIC protocol: every COMPARISON is integer-only
    * (3·n ≤ sumLen ≤ 10·n, 10·sym ≤ n, 10·bullets ≤ 9·lines, …) so
    * `pass` can never drift on a float boundary; the reported ratio
    * columns are display-only `round(long/long, 6)` — one
    * exactly-rounded IEEE division each. Word lengths never touch a
    * per-word fold: with single-char separators, Σ len(word) =
    * len(text) − (n_words − 1) identically in any engine.
    *
    * Scale shape: pure column expressions over one scan — map-only,
    * embarrassingly parallel, codegen'd end-to-end; the only
    * wide stage is the final presentational ORDER BY.
    */
  def gopherRules(df: DataFrame, text: Column, id: Column): DataFrame = {
    val t = TokenOps.lower(text)
    val words = split(t, "[ \\n]")
    val lines = split(t, "\n")
    val nW = size(words).cast("long")
    val nL = size(lines).cast("long")
    val sumLen = (length(t) - (nW - 1L)).cast("long")
    val nHash = (length(t) - length(replace(t, lit("#"), lit("")))).cast("long")
    val nEll = floor((length(t) - length(replace(t, lit("..."), lit("")))) / 3)
      .cast("long")
    val nBullet = size(filter(lines, l => l.startsWith("- "))).cast("long")
    val nEllLine = size(filter(lines, l => l.endsWith("..."))).cast("long")
    val nAlpha = size(filter(words, w => w.rlike("[a-z]"))).cast("long")
    val stopHits = gopherStopwords
      .map(w => array_contains(words, w).cast("long"))
      .reduce(_ + _)
    val pass = (nW >= 50L) && (nW <= 100000L) &&
      (sumLen >= nW * 3L) && (sumLen <= nW * 10L) &&
      ((nHash + nEll) * 10L <= nW) &&
      (nBullet * 10L <= nL * 9L) &&
      (nEllLine * 10L <= nL * 3L) &&
      (nAlpha * 5L >= nW * 4L) &&
      (stopHits >= 2L)
    df.select(
        id.as("doc_id"),
        nW.as("n_words"), nL.as("n_lines"),
        round(sumLen.cast("double") / nW, 6).as("mean_word_len"),
        round((nHash + nEll).cast("double") / nW, 6).as("symbol_ratio"),
        round(nBullet.cast("double") / nL, 6).as("bullet_frac"),
        round(nEllLine.cast("double") / nL, 6).as("ellipsis_frac"),
        round(nAlpha.cast("double") / nW, 6).as("alpha_frac"),
        stopHits.as("stop_hits"),
        pass.as("pass"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------- tf-idf keywords (30g)

  /** Per-doc TOP-K TF-IDF TERMS — keyword extraction, the classic
    * summarization/labeling signal beside [[graft.ops.Search]]'s BM25
    * retrieval ranking (reference analog: the per-value index freqs
    * an iodf user reads off colValues, IndexedDf.scala:15-34 — here
    * weighted by corpus rarity).
    *
    * EXACT-ARITHMETIC (the [[tokenEntropy]] micro-ln protocol): tf
    * and df are exact longs; idf = lnμ(N+1) − lnμ(df+1) where lnμ is
    * `round(ln(integer)·10⁶)` as a long — the same exactly-one-
    * rounded-libm-call-per-INTEGER discipline that hash-oracles
    * entropy and DSIR scores — so score = tf·idf is an exact long
    * and the per-doc ranking is total (score DESC, term ASC).
    *
    * Plan: explode → (doc,term) tf → term-keyed df join (both
    * map-side combined) → 1-row N broadcast → the custom bounded-heap
    * [[graft.ops.TopK.perGroup]] — no per-doc sort anywhere.
    */
  def tfidfTerms(df: DataFrame, text: Column, id: Column,
                 k: Int = 3): DataFrame = {
    val docs = df.where(text.isNotNull)
    val tok = docs.select(id.as("doc_id"), explode(tokensOf(text)).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    def lnMicro(x: Column): Column =
      round(log(x.cast("double")) * 1e6, 0).cast("long")
    val scored = tf.join(dfq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score_micro",
        col("tf") * (lnMicro(col("n_docs") + 1L) - lnMicro(col("df") + 1L)))
    graft.ops.TopK.perGroup(scored, Seq(col("doc_id")),
        Seq(col("score_micro").desc, col("term").asc), k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
        col("df"), col("score_micro"))
      .orderBy("doc_id", "rnk")
  }

  // ---------------------------------------------- C4 quality rules (30f)

  /** Deterministically re-shape the corpus into the line-structured
    * docs the C4 rule set filters (the [[plantGopherDocs]] protocol):
    * fold the token stream into `tokensPerLine`-token lines, give
    * line i of doc id a terminal '.' when (id+i) % 3 == 0 and '?'
    * when == 2 (so every doc has both kept and punct-dropped lines),
    * then plant each doc-level phenomenon on its own residue class:
    * id % 3 a javascript line, id % 4 a too-short line, id % 7 a
    * lorem-ipsum line, id % 11 a curly-brace line — every rule gets
    * passing AND failing docs, mirrored verbatim in the oracle SQL.
    */
  def plantC4Docs(df: DataFrame, text: Column, id: Column,
                  tokensPerLine: Int = 10): DataFrame = {
    val toks = split(text, " ")
    val n = size(toks)
    val nLines = ceil(n.cast("double") / tokensPerLine).cast("int")
    val emptyArr = array().cast("array<string>")
    val lines = transform(sequence(lit(0), nLines - 1), i =>
      concat(
        array_join(slice(toks, i * tokensPerLine + 1, lit(tokensPerLine)), " "),
        when((id + i) % 3 === 0, lit("."))
          .when((id + i) % 3 === 2, lit("?"))
          .otherwise(lit(""))))
    val planted = concat(lines,
      when(id % 3 === 0,
        array(lit("please enable javascript to view this page.")))
        .otherwise(emptyArr),
      when(id % 4 === 0, array(lit("terms of use."))).otherwise(emptyArr),
      when(id % 7 === 0, array(lit("lorem ipsum dolor sit amet.")))
        .otherwise(emptyArr),
      when(id % 11 === 0, array(lit("function() { return 0; }")))
        .otherwise(emptyArr))
    df.withColumn("text", array_join(planted, "\n"))
  }

  /** The published C4 cleaning RULE SET (Raffel et al. 2020, §2.2 —
    * the recipe behind C4 and its descendants) as one map-only pass,
    * line rules and page rules together:
    *
    *   line kept iff: ends in terminal punctuation (. ! ? ")  AND
    *                  has ≥ 5 words  AND  does not contain
    *                  "javascript"
    *   page dropped if: fewer than 3 sentences survive, or the page
    *                    contains "lorem ipsum" or a curly bracket
    *
    * Per doc: total/kept line counts, the three drop reasons as
    * DISJOINT counts (punct first, then length, then javascript — a
    * line is counted once), surviving-sentence count (terminal-punct
    * occurrences in the kept text), the page-rule flags, the verdict,
    * and the md5 of the SCRUBBED text (kept lines re-joined in
    * original order — the rewrite, like [[graft.ops.Dedup.lineDedup]]).
    *
    * EXACT-ARITHMETIC: every signal is an integer count or a byte
    * comparison — `ends_with` on four literal chars (no regex
    * dialect surface), word counts from single-space splits, char
    * counts via the replace() length identity. Nothing can drift.
    *
    * Scale shape: pure array expressions over one scan — map-only,
    * codegen'd; the only wide stage is the presentational ORDER BY.
    */
  def c4Rules(df: DataFrame, text: Column, id: Column): DataFrame = {
    val t = TokenOps.lower(text)
    val lines = split(t, "\n")
    def endsPunct(l: Column): Column =
      l.endsWith(".") || l.endsWith("!") || l.endsWith("?") || l.endsWith("\"")
    def nWords(l: Column): Column = size(split(l, " "))
    def isJs(l: Column): Column = l.contains("javascript")
    val kept = filter(lines, l => endsPunct(l) && nWords(l) >= 5 && !isJs(l))
    val keptText = array_join(kept, "\n")
    def cnt(f: Column => Column): Column =
      size(filter(lines, l => f(l))).cast("long")
    def chCount(s: Column, ch: String): Column =
      (length(s) - length(replace(s, lit(ch), lit("")))).cast("long")
    val nSent = chCount(keptText, ".") + chCount(keptText, "!") +
      chCount(keptText, "?")
    val hasLorem = t.contains("lorem ipsum")
    val hasBrace = t.contains("{")
    df.select(
        id.as("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("kept_lines"),
        cnt(l => !endsPunct(l)).as("drop_no_punct"),
        cnt(l => endsPunct(l) && nWords(l) < 5).as("drop_short"),
        cnt(l => endsPunct(l) && nWords(l) >= 5 && isJs(l)).as("drop_js"),
        nSent.as("n_sentences"),
        hasLorem.as("has_lorem"),
        hasBrace.as("has_brace"),
        (nSent >= 3L && !hasLorem && !hasBrace).as("pass"),
        md5(keptText).as("scrub_md5"))
      .orderBy("doc_id")
  }

  /** Hashed-feature linear quality classifier (§2c) — the
    * fasttext-style "learned filter" every production curation stack
    * runs after the rule-based passes (Gopher/C4 rules above): a
    * vocabulary table maps tokens to integer milli-weights and a
    * document's score is the mean weight of its tokens. The weights
    * here are md5-derived stand-ins (deterministic, engine-portable:
    * same top-60-bit md5 → [-1000, 1000] map as the portable dedup
    * families), but the PLAN is the real one — in production the
    * weight table is the trained model's hashed embedding matrix,
    * loaded the same way.
    *
    * Scale shape: the vocabulary is a corpus-wide groupBy(token)
    * filtered to df ≥ minDf — bounded far below the token stream, and
    * the score join is a plain equi-join the optimizer broadcasts
    * when the vocab fits (a trained model's vocab is fixed-size, so
    * at 100 TB this side is ALWAYS the broadcast side). The token
    * explode is map-only; the per-doc fold is one map-side-combinable
    * aggregation.
    */
  def linearClassifier(df: DataFrame, text: Column, id: Column,
                       minDf: Int = 2): DataFrame =
    classifyWithVocab(df, text, id, classifierVocab(df, text, id, minDf))

  /** the FITTED half: the (tok, w_milli) weight table — what a real
    * pipeline persists once and serves from (the dsirWeights /
    * bm25 postings lifecycle); df-gated at fit time so the served
    * vocab is bounded
    */
  def classifierVocab(df: DataFrame, text: Column, id: Column,
                      minDf: Int = 2): DataFrame =
    df.select(id.as("doc_id"), explode(tokensOf(text)).as("tok"))
      .dropDuplicates("doc_id", "tok")
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select(col("tok"),
        (pmod(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"),
          lit(2001L)) - 1000L).as("w_milli"))

  /** the SCORING half: map-only token stream through the weight
    * table's equi-join (broadcast when the vocab fits — a trained
    * vocab is fixed-size, so at scale it always does) + one
    * map-side-combinable per-doc fold
    */
  def classifyWithVocab(df: DataFrame, text: Column, id: Column,
                        vocab: DataFrame): DataFrame =
    df.select(id.as("doc_id"), explode(tokensOf(text)).as("tok"))
      .join(vocab, Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(col("w_milli")).as("n_hit"),
        // mean weight in EXACT micro units (floored integer division
        // via the portable pmod identity) — round(double, 6) here
        // hash-drifted at 3× scale: score_milli/(n·1000) terminates
        // exactly at the half-point whenever n is 2^a·5^b, and the
        // engines break the tie differently
        coalesce(sum("w_milli"), lit(0L)).as("score_milli"))
      .select(col("doc_id"), col("n_tokens"), col("n_hit"),
        col("score_milli"),
        // integral `div` (not Column `/`, which is double division —
        // off-by-one past 2^53; score_milli·1000 is ~1e10 here but the
        // exact spelling removes the cliff, same as Embed.floorDiv)
        expr("((score_milli * 1000 - pmod(score_milli * 1000, n_tokens))" +
          " div n_tokens)").cast("long").as("score_micro"))
      .withColumn("pass", col("score_micro") >= 0L)
      .orderBy("doc_id")

  // --------------------------- TRAINED linear quality classifier
  // (§2c.44c/d/e) — the round-10 verdict's "one first-class curation
  // model still simulated": a linear scorer FIT by closed-form ridge
  // over exact-integer features, distilling the C4 rule gate into one
  // weight vector (the production pattern: a cheap learned filter
  // replaces a rule cascade; fasttext-class models are exactly
  // "linear over hashed token features"). The generalization of
  // Profile.groupTrend's normal-equations trick to d features:
  //
  //   1. clfFeatureRows — per doc, d=17 exact-long features: the 8
  //      C4 signal counts (the gate's own observables), 8 hashed
  //      token-count buckets (the fasttext face), and an intercept.
  //      Plain SQL, so the feature stream mirrors in DuckDB.
  //   2. clfMoments — Xᵀ X (upper triangle) and Xᵀ y in ONE pass of
  //      per-doc pair products + a map-side-combinable sum. All
  //      exact BIGINT arithmetic → the training INPUTS hash-oracle
  //      cross-engine end-to-end (clf_train_moments).
  //   3. ridgeWeights — the d×d solve (Gaussian elimination, partial
  //      pivoting) runs DRIVER-SIDE on the collected moment rows (d
  //      is a bounded design constant — 18×18 doubles — never data-
  //      scale); weights persist via core/Artifacts and serve through
  //      the same indexed lifecycle as the md5 stand-in vocab.
  //   4. clfScoreTrained — map-only scoring: features ⨝ broadcast
  //      weights, one per-doc fold, exact micro-unit score.
  //
  // The float solve is deterministic per-binary but not portable SQL,
  // so the scoring rows are rows-only with ClassifierSpec evidence
  // (residual exactness in BigDecimal, determinism, accuracy beats
  // the md5 stand-in); the md5 classifier above stays as the
  // hash-oracled portable twin — the moments row pins the training
  // inputs in DuckDB regardless.

  /** number of features incl. intercept; y rides as index ClfD in
    * the moments encoding
    */
  val ClfD = 17
  private val ClfBuckets = 8
  private val ClfIntercept = ClfD - 1 // 16

  /** (doc_id, j, x): j=0..7 the C4 signal counts, j=8..15 hashed
    * token-count buckets, j=16 the intercept (x=1)
    */
  def clfFeatureRows(df: DataFrame, text: Column, id: Column): DataFrame = {
    val sig = c4Rules(df, text, id)
    def s(j: Int, c: Column) =
      struct(lit(j).as("j"), c.cast("long").as("x"))
    val sigRows = sig.select(col("doc_id"), explode(array(
        s(0, col("n_lines")), s(1, col("kept_lines")),
        s(2, col("drop_no_punct")), s(3, col("drop_short")),
        s(4, col("drop_js")), s(5, col("n_sentences")),
        s(6, col("has_lorem")), s(7, col("has_brace")))).as("f"))
      .select(col("doc_id"), col("f.j").as("j"), col("f.x").as("x"))
    val bucketRows = df
      .select(id.as("doc_id"), explode(tokensOf(text)).as("tok"))
      .select(col("doc_id"),
        (lit(ClfBuckets) +
          pmod(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"),
            lit(ClfBuckets.toLong)).cast("int")).as("j"))
      .groupBy("doc_id", "j").agg(count(lit(1)).as("x"))
    val intercept = df.select(id.as("doc_id"),
      lit(ClfIntercept).as("j"), lit(1L).as("x"))
    sigRows.unionByName(bucketRows).unionByName(intercept)
  }

  /** (doc_id, y): the C4 page gate as the 0/1 training label */
  def clfLabels(df: DataFrame, text: Column, id: Column): DataFrame =
    c4Rules(df, text, id)
      .select(col("doc_id"), col("pass").cast("long").as("y"))

  /** the normal-equation moments, exact integers: rows (i, j, v) with
    * j in [i, ClfD) = XᵀX upper triangle, j = ClfD = Xᵀy. One
    * per-doc pair fan-out (≤ d(d+1)/2 rows per doc — a design
    * constant, never data-scale) + one map-side-combinable sum: at
    * 100 TB the training pass is a single bounded-width aggregation.
    */
  def clfMoments(df: DataFrame, text: Column, id: Column): DataFrame =
    clfMomentsObs(df, text, id).select("i", "j", "v").orderBy("i", "j")

  /** [[clfMoments]] plus an OBSERVATION COUNT per cell (`nobs` = the
    * number of contributing feature pairs) — what makes the moments
    * maintainable as a [[graft.core.SegmentedAgg]] family (r13): a
    * moment cell can legitimately net to v=0 while still existing
    * (all contributing products zero), so zero-dropping on v alone
    * would diverge from a from-scratch build; nobs ≥ 1 for any cell
    * a live doc contributes to and nets to 0 exactly when every
    * contributor is deleted, making the SegmentedAgg all-zero-drop
    * rule coincide with from-scratch presence.
    */
  def clfMomentsObs(df: DataFrame, text: Column, id: Column): DataFrame = {
    val f = clfFeatureRows(df, text, id)
    val y = clfLabels(df, text, id)
    val xtx = f.as("a").join(f.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.j") <= col("b.j"))
      .groupBy(col("a.j").as("i"), col("b.j").as("j"))
      .agg(sum(col("a.x") * col("b.x")).as("v"),
        count(lit(1)).as("nobs"))
    val xty = f.join(y, "doc_id")
      .groupBy(col("j").as("i"))
      .agg(sum(col("x") * col("y")).as("v"), count(lit(1)).as("nobs"))
      .select(col("i"), lit(ClfD).as("j"), col("v"), col("nobs"))
    xtx.unionByName(xty)
  }

  /** driver-side ridge solve over the collected moments: (XᵀX + λI)w
    * = Xᵀy (λ on every diagonal but the intercept's), Gaussian
    * elimination with partial pivoting — 18×18 doubles, O(d³) ≈ 6k
    * flops, trivially driver-bounded (the kmeans-centroid posture).
    * Returns the servable (j, w_micro) weight table.
    */
  def ridgeWeights(spark: org.apache.spark.sql.SparkSession,
                   moments: DataFrame, lambda: Double = 1.0): DataFrame = {
    val d = ClfD
    val a = Array.ofDim[Double](d, d)
    val b = new Array[Double](d)
    moments.collect().foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1); val v = r.getLong(2).toDouble
      if (j == d) b(i) = v
      else { a(i)(j) = v; a(j)(i) = v }
    }
    (0 until d).filter(_ != ClfIntercept).foreach(i => a(i)(i) += lambda)
    val w = solveLinear(a, b)
    import spark.implicits._
    w.toSeq.zipWithIndex
      .map { case (wi, j) => (j, math.round(wi * 1e6)) }
      .toDF("j", "w_micro")
  }

  /** in-place Gaussian elimination, partial pivoting */
  private def solveLinear(a: Array[Array[Double]],
                          b: Array[Double]): Array[Double] = {
    val n = b.length
    for (c <- 0 until n) {
      val p = (c until n).maxBy(r => math.abs(a(r)(c)))
      require(math.abs(a(p)(c)) > 1e-12,
        s"singular moment matrix at column $c — raise lambda")
      if (p != c) { val t = a(p); a(p) = a(c); a(c) = t
        val tb = b(p); b(p) = b(c); b(c) = tb }
      for (r <- c + 1 until n) {
        val m = a(r)(c) / a(c)(c)
        if (m != 0.0) {
          for (k <- c until n) a(r)(k) -= m * a(c)(k)
          b(r) -= m * b(c)
        }
      }
    }
    val x = new Array[Double](n)
    for (c <- n - 1 to 0 by -1) {
      var s = b(c)
      for (k <- c + 1 until n) s -= a(c)(k) * x(k)
      x(c) = s / a(c)(c)
    }
    x
  }

  /** map-only trained scoring: features ⨝ broadcast weight table, one
    * per-doc fold. score_micro = Σ_j w_micro(j)·x_j — exact integer
    * given the weight literals; pass at the 0/1 label midpoint.
    */
  def clfScoreTrained(df: DataFrame, text: Column, id: Column,
                      weights: DataFrame): DataFrame =
    clfFeatureRows(df, text, id)
      .join(broadcast(weights), "j")
      .groupBy("doc_id")
      .agg(sum(col("x") * col("w_micro")).as("score_micro"))
      .select(col("doc_id"), col("score_micro"),
        (col("score_micro") >= 500000L).as("pass"))
      .orderBy("doc_id")

  /** confusion counts of the trained scorer against the rule gate it
    * distilled — the eval a curation run publishes before swapping
    * the gate out
    */
  def clfTrainedEval(df: DataFrame, text: Column, id: Column,
                     weights: DataFrame): DataFrame =
    clfScoreTrained(df, text, id, weights)
      .join(clfLabels(df, text, id), "doc_id")
      .agg(
        sum(when(col("pass") && col("y") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pass") && col("y") === 0L, 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pass") && col("y") === 1L, 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pass") && col("y") === 0L, 1L).otherwise(0L)).as("tn"),
        count(lit(1)).as("n"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"), col("n"),
        expr("((tp + tn) * 1000 - pmod((tp + tn) * 1000, n)) div n")
          .cast("long").as("acc_milli"))

  /** CCNet/RefinedWeb text normalization (§2c.30j) — the canonical
    * pre-dedup cleaning recipe ran before any fingerprint or shingle:
    * NFC unicode normalization ([[graft.functions.UnicodeNormalize]],
    * a native codegen'd expression — Spark has no built-in), then
    * lowercase, then accent-strip (NFD decompose + drop `\p{Mn}`
    * combining marks — the strip_accents equivalence on Latin
    * scripts), then whitespace runs collapsed to single spaces and
    * trimmed. Map-only, one scan, stays inside whole-stage codegen.
    *
    * Emitted as (doc_id, norm_md5, n_norm) rather than the normalized
    * text itself: dedup keys downstream consume the digest, and the
    * digest is what the cross-engine oracle can mirror
    * (`md5(trim(regexp_replace(lower(nfc_normalize(text)), ...)))`).
    * [[normText]] exposes the text-valued column for pipelines that
    * re-tokenize the cleaned form.
    */
  def normText(text: Column): Column = {
    import graft.functions.UnicodeNormalize
    val nfc = UnicodeNormalize(text, "NFC")
    val folded = regexp_replace(
      UnicodeNormalize(TokenOps.lower(nfc), "NFD"), "\\p{Mn}", "")
    trim(regexp_replace(folded, "\\s+", " "))
  }

  def normalize(df: DataFrame, text: Column, id: Column): DataFrame = {
    val n = normText(text)
    df.select(id.as("doc_id"), md5(n).as("norm_md5"),
        length(n).cast("long").as("n_norm"))
      .orderBy("doc_id")
  }
}
