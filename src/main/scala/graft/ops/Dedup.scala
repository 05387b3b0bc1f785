package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TokenHash, TokenOps}

/** Deduplication operators for large-scale corpus pipelines
  * (SURVEY §2c.23-27). Design target is 100 TB: nothing here ever
  * forms the O(n²) pair space — exact dedup groups on a 128-bit hash
  * (uniform keys, no skew), near-dup paths (minhash-LSH, simhash
  * buckets) shuffle only on bucket keys and verify only candidate
  * pairs.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** exact dedup by content hash: per duplicate-group size and the
    * kept representative (min id). One shuffle on md5 — uniform.
    */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame =
    df.select(md5(text.cast("binary")).as("h"), id.as("doc_id"))
      .groupBy("h")
      .agg(count(lit(1)).as("n"), min("doc_id").as("keep_id"))
      .orderBy("h")

  // ------------------------------------------------------- shingle family

  /** distinct w-word shingles per doc: (doc_id, shingle). The shingle
    * array is the native codegen'd [[graft.functions.WordShingles]]
    * (the transform+array_join+array_distinct spelling is
    * CodegenFallback — interpreted per row).
    */
  def shingles(df: DataFrame, text: Column, id: Column, w: Int = 3): DataFrame = {
    val toks = split(TokenOps.lower(text), " ")
    df.select(id.as("doc_id"),
      explode(graft.functions.TokenOps.wordShingles(toks, w, distinct = true))
        .as("shingle"))
  }

  /** exact n-gram Jaccard pairs ≥ minJaccard (§2c.24): equi-join on
    * shingle (never a cross join), group per pair, |A∪B| by
    * inclusion-exclusion. The shuffle key is the shingle — frequency-
    * capped below via `maxShingleFreq` to bound skew (a shingle shared
    * by k docs creates k² pair rows; stop-shingles are dropped the
    * same way stop-words are in search engines).
    */
  /** shared machinery behind [[ngramJaccard]] and [[containmentPairs]]
    * — ONE definition of the per-doc sizes, the stop-shingle cap and
    * the pair-count join, so the two resemblance measures can never
    * diverge in cap or join shape:
    *  - per-doc distinct-shingle count computed MAP-ONLY from the
    *    source (size of the distinct shingle array) — no explode, no
    *    shuffle, no shared subtree to cache;
    *  - stop-shingle cap via [[Skew.dropHotKeys]] (exchange default:
    *    one shuffle of the shingle stream feeds both the over-cap
    *    count and the anti-join probe; grouped/window are the conf
    *    alternatives — see Skew's tradeoff note). A mega-hot
    *    boilerplate shingle streams through a hash-agg entry instead
    *    of external-sorting in one window partition.
    * Returns (pairs(a, b, common), sizes(doc_id, sz)).
    */
  private def shinglePairCounts(df: DataFrame, text: Column, id: Column,
                                w: Int, maxShingleFreq: Long)
      : (DataFrame, DataFrame) = {
    val toks = split(TokenOps.lower(text), " ")
    val shArr = graft.functions.TokenOps.wordShingles(toks, w, distinct = true)
    val sizes = df.select(id.as("doc_id"), size(shArr).cast("long").as("sz"))
    val capped = Skew.dropHotKeys(
      shingles(df, text, id, w), Seq("shingle"), maxShingleFreq)
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.shingle") === col("y.shingle") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("common"))
    (pairs, sizes)
  }

  def ngramJaccard(df: DataFrame, text: Column, id: Column,
                   w: Int = 3, minJaccard: Double = 0.5,
                   maxShingleFreq: Long = 1000L): DataFrame = {
    val (pairs, sizes) = shinglePairCounts(df, text, id, w, maxShingleFreq)
    pairs
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .select(col("a"), col("b"),
        round(col("common").cast("double") /
          (col("sza") + col("szb") - col("common")), 6).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .orderBy("a", "b")
  }

  /** Shingle-CONTAINMENT pairs (Broder 1997's second resemblance
    * measure): containment(A,B) = |A∩B| / min(|A|,|B|) ≥ threshold —
    * the asymmetric signal Jaccard structurally dilutes: a short doc
    * fully contained in a much longer one has Jaccard ≈ |A|/|B| ≈ 0
    * but containment 1.0 (truncated re-crawls, quote-then-extend
    * posts, excerpt pages — all invisible to §2c.24 at any
    * threshold). Same plan as [[ngramJaccard]] verbatim — map-only
    * per-doc sizes, capped shingle equi-join, inclusion-exclusion-free
    * numerator — only the final ratio differs; `contained_id` names
    * the smaller-set doc (ties → a).
    */
  def containmentPairs(df: DataFrame, text: Column, id: Column,
                       w: Int = 3, minContainment: Double = 0.9,
                       maxShingleFreq: Long = 1000L): DataFrame = {
    val (pairs, sizes) = shinglePairCounts(df, text, id, w, maxShingleFreq)
    pairs
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .select(col("a"), col("b"),
        round(col("common").cast("double") / least(col("sza"), col("szb")), 6)
          .as("containment"),
        when(col("sza") <= col("szb"), col("a")).otherwise(col("b"))
          .as("contained_id"))
      .where(col("containment") >= minContainment)
      .orderBy("a", "b")
  }

  /** Deterministically plant CONTAINED docs: for every doc with
    * `id % every == 0`, append a doc at `id + offset` whose text is
    * the doc's first `prefixChars` characters — a truncated re-crawl,
    * the containment-not-Jaccard phenomenon ([[containmentPairs]]).
    * The cut lands mid-word, so the trailing partial shingles differ
    * — realistic, and containment stays ≥ ~0.93 for typical docs.
    */
  def plantContainedDocs(df: DataFrame, every: Int = 25,
                         offset: Long = 3000000L,
                         prefixChars: Int = 200): DataFrame =
    df.unionByName(
      df.where(col("doc_id") % every === 0)
        .withColumn("text", substring(col("text"), 1, prefixChars))
        .withColumn("doc_id", col("doc_id") + offset))

  // ------------------------------------------- line-level dedup (boilerplate)

  /** Deterministically re-shape the corpus into MULTI-LINE docs with
    * planted boilerplate — the input shape for [[lineDedup]]. The
    * synthetic corpus is one long line per doc, so (like
    * [[plantContainedDocs]] / the pii_scrub augmentation) the
    * phenomenon is planted, mirrored verbatim in the oracle SQL:
    * every doc's token stream is folded into `tokensPerLine`-token
    * lines, then docs at `id % 5 == 0` gain a shared footer line and
    * docs at `id % 7 == 0` a second one — the nav/footer boilerplate
    * a crawl carries on a fifth of its pages.
    */
  def plantLinedDocs(df: DataFrame, text: Column, id: Column,
                     tokensPerLine: Int = 12): DataFrame = {
    val toks = split(text, " ")
    val n = size(toks)
    val nLines = ceil(n.cast("double") / tokensPerLine).cast("int")
    val lines = transform(sequence(lit(0), nLines - 1),
      i => array_join(slice(toks, i * tokensPerLine + 1, lit(tokensPerLine)), " "))
    val withFooters = concat(lines,
      when(id % 5 === 0, array(lit("subscribe to our newsletter for updates")))
        .otherwise(array().cast("array<string>")),
      when(id % 7 === 0, array(lit("all rights reserved copyright notice")))
        .otherwise(array().cast("array<string>")))
    df.withColumn("text", array_join(withFooters, "\n"))
  }

  /** Cross-document LINE-level dedup (§2c.23b) — the boilerplate-
    * removal pass of the published web-curation recipes (CCNet splits
    * on lines and drops those duplicated across documents; RefinedWeb
    * and C4 do the same for nav/footer/cookie-notice lines): a line
    * occurring in ≥ `minDocs` DISTINCT docs is boilerplate; each doc
    * reports its line counts, duplicated-line fraction, and the md5
    * of its SCRUBBED text (kept lines re-joined in original order) —
    * the gate signal plus the rewrite, one pass.
    *
    * This is the between-docs complement of [[graft.ops.TextAnalysis]]
    * repetition (within-doc) and the line-granularity sibling of the
    * span family (27c/27e): a shared 8-word footer is too short for
    * winnowing's ≥ w+k−1-byte span floor and too small a fraction for
    * whole-doc Jaccard, but is exactly one duplicated line.
    *
    * Scale shape: explode to (doc, line_no, md5(line)) — map-only;
    * ONE exchange on the 16-byte line hash for the distinct-doc
    * count (two-phase partial count_distinct); the count table joins
    * back on the same hash (1 row per distinct line on the build
    * side, so a mega-hot boilerplate line skews only the stream side
    * — AQE skew-split territory, never a straggling sort); then the
    * per-doc reassembly groupBy. Line text never shuffles twice: the
    * join carries the hash, the reassembly carries the line only to
    * its own doc's group.
    */
  def lineDedup(df: DataFrame, text: Column, id: Column,
                minDocs: Int = 2): DataFrame = {
    val lines = df
      .select(id.as("doc_id"), posexplode(split(text, "\n")).as(Seq("line_no", "line")))
      .withColumn("lh", md5(col("line")))
    val counts = lines.groupBy("lh")
      .agg(count_distinct(col("doc_id")).as("nd"))
    lines.join(counts, "lh")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("nd") >= minDocs, 1L).otherwise(0L)).as("n_dup_lines"),
        round(sum(when(col("nd") >= minDocs, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("dup_frac"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("nd") < minDocs,
            struct(col("line_no"), col("line"))))),
          s => s.getField("line")), "\n")).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** the corpus's boilerplate-line set — md5 keys of lines occurring
    * in ≥ `minDocs` distinct docs, the static artifact the streaming
    * face ([[graft.streaming.EventPipeline.lineScrubStream]]) joins
    * arriving docs against (the bandedSignatures-at-ingest pattern:
    * fit once over the corpus, persist, serve every micro-batch).
    * Shares [[lineDedup]]'s exact line key (md5 of the raw line), so
    * the two faces can never drift on line identity.
    */
  def boilerplateLines(df: DataFrame, text: Column, id: Column,
                       minDocs: Int = 2): DataFrame =
    df.select(id.as("doc_id"), explode(split(text, "\n")).as("line"))
      .select(col("doc_id"), md5(col("line")).as("lh"))
      .groupBy("lh").agg(count_distinct(col("doc_id")).as("nd"))
      .where(col("nd") >= minDocs)
      .select("lh")

  // ------------------------------------------- duplicated spans (winnowing)

  /** Cross-document duplicated-SPAN pairs (winnowing fingerprints —
    * Schleimer et al., SIGMOD 2003): docs sharing at least `minShared`
    * winnowed k-gram hashes, i.e. documents that contain copied byte
    * runs even when the documents as a whole are dissimilar. This is
    * the capability the whole-doc family (Jaccard / minhash / simhash)
    * structurally lacks: a 300-byte boilerplate paragraph pasted into
    * an otherwise-unique 50 KB doc moves whole-doc similarity by ~1%
    * but is exactly what span-level contamination/dedup must catch
    * (the published motivation for substring-level dedup of training
    * corpora).
    *
    * GUARANTEE (from [[graft.functions.WinnowedHashes]]): any shared
    * substring of ≥ winnowWindow + k − 1 bytes shares ≥ 1 selected
    * fingerprint, so recall for spans above the detection length is
    * structural, not probabilistic. `minShared` > 1 trades that
    * floor-span recall for precision against single-hash coincidence.
    *
    * Scale shape — the shingle-family plan verbatim: the fingerprint
    * build is a map-only native kernel (~2/(w+1) density, so the
    * exploded stream is a small fraction of the k-gram stream); the
    * ONLY exchange is hashpartitioning(h), forced by the hot-hash
    * count window and reused by the self-join (ReusedExchange); hot
    * fingerprints (mass boilerplate) are capped by `maxHashFreq`
    * exactly like stop-shingles. Never O(n²).
    */
  def substringPairs(df: DataFrame, text: Column, id: Column,
                     k: Int = 16, winnowWindow: Int = 8,
                     minShared: Int = 2,
                     maxHashFreq: Long = 1000L): DataFrame =
    sharedFpPairs(winnowedFps(df, text, id, k, winnowWindow),
      minShared, maxHashFreq)

  /** the winnowing families' (doc_id, h) fingerprint stream — distinct
    * per doc by construction ([[graft.functions.WinnowedHashes]])
    */
  private def winnowedFps(df: DataFrame, text: Column, id: Column,
                          k: Int, winnowWindow: Int): DataFrame =
    df.select(id.as("doc_id"),
      explode(graft.functions.TextHash.winnowedHashes(text, k, winnowWindow))
        .as("h"))

  /** ENGINE-PORTABLE duplicated-span pairs (§2c.27e): k-gram
    * fingerprints selected by 0-mod-s sampling (the Manber 1994 /
    * Broder "mod p" scheme) over md5-top-60-bit k-gram hashes —
    * every stage (k-gram enumeration, hashing, selection, pairing)
    * is plain SQL, so the SPAN-dedup pipeline hash-checks end-to-end
    * against a DuckDB mirror the way the winnowing family cannot
    * (its rightmost-tie-break selection rule does not translate).
    * The tradeoff vs [[substringPairs]] is the guarantee: winnowing
    * selects ≥1 fingerprint in EVERY w-window (structural recall for
    * spans ≥ w+k−1), while mod-s sampling has expected density 1/s
    * with no per-window floor — a shared span of L bytes is missed
    * with probability ≈ (1−1/s)^(L−k+1). The winnowing kernel stays
    * the production default; this is the cross-engine verification
    * twin, beside [[minhashLshPortable]] and [[simhashPortablePairs]].
    *
    * Scale shape: the k-gram stream is map-only (explode + substring
    * + md5) and immediately ~1/s sampled BEFORE the per-doc distinct
    * shuffle, so the exchanged volume is a fraction of the text
    * bytes; then the standard hot-fingerprint cap and count join.
    */
  def substringPairsPortable(df: DataFrame, text: Column, id: Column,
                             k: Int = 16, sampleMod: Int = 16,
                             minShared: Int = 2,
                             maxHashFreq: Long = 1000L): DataFrame =
    sharedFpPairs(portableKgramFps(df, text, id, k, sampleMod),
      minShared, maxHashFreq)

  /** the span-pair families' shared tail over a (doc_id, h) fingerprint
    * stream: mass-boilerplate fingerprints capped via
    * [[Skew.dropHotKeys]] (exchange default / grouped / window — see
    * Skew's tradeoff note), then the a < b self-join on h counted per
    * doc pair and kept at ≥ `minShared` shared fingerprints.
    */
  private def sharedFpPairs(fps: DataFrame, minShared: Int,
                            maxHashFreq: Long): DataFrame = {
    val capped = Skew.dropHotKeys(fps, Seq("h"), maxHashFreq)
    capped.as("x").join(capped.as("y"),
        col("x.h") === col("y.h") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
      .orderBy("a", "b")
  }

  /** The portable families' shared k-gram fingerprint stream: per-doc
    * DISTINCT 0-mod-`sampleMod` sampled md5-top-60-bit k-gram hashes
    * (see [[substringPairsPortable]] for the selection-scheme
    * tradeoff vs winnowing). Every stage is plain SQL, so consumers
    * hash-oracle end-to-end in DuckDB.
    */
  private def portableKgramFps(df: DataFrame, text: Column, id: Column,
                               k: Int, sampleMod: Int): DataFrame =
    Skew.spread(
      df.select(id.as("doc_id"), text.as("__text"))
        .where(col("__text").isNotNull && length(col("__text")) >= k),
      // PARALLELISM barrier, not a distribution need ([[Skew.spread]]):
      // a small corpus file scans as few (here one) input splits,
      // which would run the whole md5-per-k-gram build
      // single-threaded; an already-parallel input passes through
      col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("__text")) - (k - 1))).as("i"),
        col("__text"))
      .select(col("doc_id"),
        conv(substring(md5(expr(s"substring(__text, i, $k)")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .where(pmod(col("h"), lit(sampleMod.toLong)) === 0)
      .dropDuplicates("doc_id", "h")

  /** Per-doc duplicated-span FRACTION (curation signal): the share of
    * a doc's winnowed fingerprints that also appear in at least one
    * OTHER doc — the document-level "how much of me is copied" number
    * that published dedup studies gate on (duplicated-content
    * fraction), where [[substringPairs]] names who it is shared with.
    * Exact duplicates score 1.0, fully-novel docs 0.0, a doc with one
    * pasted boilerplate paragraph scores ≈ span/|doc|.
    *
    * Plan: map-only fingerprint kernel → grouped per-hash counts +
    * count join (both sides the same subtree partitioned on the hash
    * → ONE exchange, ReusedExchange) → groupBy(doc_id). No pair
    * enumeration — strictly cheaper than pairing, so it can run on
    * corpora where even capped pairing is too hot. Grouped count
    * rather than `count() OVER (PARTITION BY h)` for the same reason
    * as [[TextAnalysis.bigramNovelty]]: mass-boilerplate fingerprints
    * are KEPT (they are exactly the signal), and a window would sort
    * the hot hash's whole stream in one task at 100 TB, while the
    * grouped count collapses it map-side and AQE splits the skewed
    * join partition.
    */
  def spanDupStats(df: DataFrame, text: Column, id: Column,
                   k: Int = 16, winnowWindow: Int = 8): DataFrame =
    dupFraction(winnowedFps(df, text, id, k, winnowWindow))

  /** ENGINE-PORTABLE twin of [[spanDupStats]]: the same no-join
    * per-doc duplicated-span fraction over the portable 0-mod-s
    * sampled md5 k-gram fingerprints ([[portableKgramFps]] — shared
    * with [[substringPairsPortable]]) instead of the winnowing
    * kernel, so the WHOLE signal — k-gram stream, sampling, per-hash
    * corpus counts, per-doc fraction — hash-checks end-to-end against
    * a DuckDB SQL mirror. Same plan shape as the production default:
    * grouped per-hash counts + count join on the one fingerprint
    * exchange (hot boilerplate fingerprints are KEPT — they are the
    * signal — so grouped counts, never a count window that would sort
    * a hot hash's stream in one task), then groupBy(doc_id). Docs
    * whose sampled fingerprint set is empty (possible under mod-s
    * sampling, unlike winnowing's per-window floor) simply have no
    * row, identically in both engines.
    */
  def spanDupStatsPortable(df: DataFrame, text: Column, id: Column,
                           k: Int = 16, sampleMod: Int = 16): DataFrame =
    dupFraction(portableKgramFps(df, text, id, k, sampleMod))

  /** the span-fraction families' shared tail over a (doc_id, h)
    * fingerprint stream that is DISTINCT per doc — so a per-hash count
    * > 1 means ">1 distinct doc carries this fingerprint": grouped
    * per-hash counts, the count join, then the per-doc fraction.
    */
  private def dupFraction(fps: DataFrame): DataFrame = {
    val counts = fps.groupBy("h").agg(count(lit(1)).as("hc"))
    fps.join(counts, "h")
      .withColumn("shared", when(col("hc") > 1, 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fps"),
        round(sum(col("shared")).cast("double") / count(lit(1)), 6)
          .as("dup_fraction"))
      .orderBy("doc_id")
  }

  /** Deterministically plant span-duplicates: for every doc with
    * `id % every == 0`, append a doc at `id + offset` whose text is a
    * `spanLen`-byte prefix SLICE of the source wrapped in md5-derived
    * filler unique to the new doc — a partial copy inside otherwise
    * novel text, the phenomenon [[substringPairs]] exists to catch
    * (whole-doc Jaccard on these pairs is near zero by construction).
    * Same move as [[Similarity.plantNearDups]]/pii_scrub: the corpus
    * gets the phenomenon deterministically, and every variant of the
    * operator sees the SAME augmented frame.
    */
  def plantSpanDups(df: DataFrame,
                    every: Int = 20, offset: Long = 2000000L,
                    spanLen: Int = 240): DataFrame = {
    // like plantNearDups, documents-shaped by contract: `doc_id` +
    // `text` columns (side columns ride along via withColumn)
    val filler = repeat(
      concat(md5((col("doc_id") + offset).cast("string")), lit(" ")), 8)
    df.unionByName(
      df.where(col("doc_id") % every === 0)
        .withColumn("text",
          concat(filler, substring(col("text"), 1, spanLen), lit(" "), filler))
        .withColumn("doc_id", col("doc_id") + offset))
  }

  // -------------------------------------------- exact duplicated extents

  /** The (doc_id, p, w) token-window stream shared by the
    * ExactSubstr operators: 1-based token position p and the md5 of
    * the `n`-token window starting there. Full 128-bit md5 (not the
    * truncated 60-bit family) — the extent operators' EXACTNESS claim
    * rides on window equality, and at 100 TB window count the 60-bit
    * space would see birthday collisions; every stage is plain SQL
    * (split / slice / md5 / unhex) so consumers hash-oracle end-to-end.
    *
    * `w` is BINARY(16) (`unhex` of the md5 hex — r16 optimization
    * round, guide §2.3 shuffle fewer bytes): the window stream is the
    * family's dominant exchange and its rows are mostly `w`, so the
    * 32-char hex spelling shipped 2× the bytes through every
    * shuffle/sort on the hot path for zero information. Same 128 bits,
    * same equality semantics, injective re-encoding — pair sets and
    * every downstream output are bit-identical (oracle-gated).
    * Window TABLES persisted under the v1 (hex string) format are
    * incompatible — the artifact paths are format-versioned
    * (`xswin_v2_*` / `xswin2_base`), and a caller-supplied stale table
    * is refused by the consumers' format check (a string `w` would
    * otherwise join the binary `w` with zero matches and silently
    * dedup nothing).
    *
    * PUBLIC because it is this family's persistable artifact (the
    * banded-signature analog): a production ingest pipeline builds it
    * once over the corpus, persists it beside the store, and feeds it
    * to [[exactSubstrIncremental]] /
    * [[graft.streaming.EventPipeline.extentDedupStream]] per batch.
    */
  def exactSubstrWindows(df: DataFrame, text: Column, id: Column,
                         n: Int = 12): DataFrame = tokenWindows(df, text, id, n)

  private def tokenWindows(df: DataFrame, text: Column, id: Column,
                           n: Int): DataFrame =
    Skew.spread(
      df.select(id.as("doc_id"), split(text, " ").as("toks"))
        .where(col("toks").isNotNull && size(col("toks")) >= n),
      // gated parallelism barrier ([[Skew.spread]], shared with
      // portableKgramFps): spread the doc rows before the per-window
      // md5 build only when a small corpus file would otherwise run
      // the whole kernel on one core
      col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(lit(1L), (size(col("toks")) - (n - 1)).cast("long")))
          .as("p"),
        col("toks"))
      .select(col("doc_id"), col("p"),
        // the window width rides as COLUMN METADATA on `w` (zero data
        // cost; Spark persists it through parquet), so a consumer fed
        // a window table built with a different n can fail loudly
        // instead of silently matching nothing — see [[windowN]]
        unhex(md5(array_join(slice(col("toks"), col("p").cast("int"), lit(n)),
            " ")))
          .as("w", new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.window_n", n.toLong).build()))

  /** the window width a window table was built with, if recorded
    * (tables persisted before the metadata protocol return None)
    */
  def windowN(windows: DataFrame): Option[Long] = {
    val md = windows.schema("w").metadata
    if (md.contains("graft.window_n")) Some(md.getLong("graft.window_n"))
    else None
  }

  /** the consumer-side contract of a corpus window table: the v2
    * binary16 `w` format and the operator's window width — either
    * mismatch would match nothing (or the wrong windows) silently
    */
  private[graft] def requireWindowN(windows: DataFrame, n: Int): Unit = {
    val wt = windows.schema("w").dataType
    require(wt == org.apache.spark.sql.types.BinaryType,
      s"corpus window table has a ${wt.simpleString} `w` (the v1 hex " +
        s"format?) but the v2 format is binary — it would match " +
        s"nothing; rebuild it with exactSubstrWindows(n=$n)")
    windowN(windows).foreach(stored => require(stored == n.toLong,
      s"corpus window table was built with n=$stored but the operator " +
        s"runs with minTokens=$n — matches would be silently wrong; " +
        s"rebuild the window table with exactSubstrWindows(n=$n)"))
  }

  /** ExactSubstr-grade duplicated-extent dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * the suffix-array dedup recipe production LLM pipelines shipped
    * alongside MinHash): emit every MAXIMAL extent of ≥ `minTokens`
    * exactly-equal consecutive tokens shared between two documents,
    * as (a, b, a_start, b_start, len_tokens, extent_md5).
    *
    * The published operator builds a corpus suffix array — a
    * single-node data structure. The Spark-first spelling reaches the
    * SAME extents from the window stream: a duplicated extent of
    * length L ≥ N contains exactly L−N+1 matching N-token windows at
    * CONSECUTIVE positions on one (a, b, pa−pb) alignment diagonal,
    * so (1) equi-join the window stream on the window hash (never a
    * suffix sort, never all-pairs — the shuffle key is a uniform
    * 128-bit hash), (2) merge consecutive matches per diagonal with
    * the gaps-and-islands window (bounded per doc pair, the
    * sessionize shape), (3) read the maximal extent off each island:
    * [min pa, max pa + N − 1]. Maximality is exact: the window at
    * min−1 failing while min's window matches pins the mismatch to
    * token min−1 (and symmetrically at the right end) — ExactSubstrSpec
    * proves extent-set equality against a brute-force
    * all-diagonals token scan on a planted corpus.
    *
    * `maxWindowFreq` is the shared skew cap ([[Skew.dropHotKeys]]):
    * a boilerplate window shared by c docs would fan out c² pair
    * rows. Dropping over-cap windows bounds the join (the identical
    * mechanism and caveat as every banded family here); the spec runs
    * with the cap inactive to pin the exact semantics.
    *
    * Scale shape: window stream is O(total tokens) rows built
    * map-only; ONE exchange on `w`; pair space = true duplication
    * (capped); islands window partitions by (a, b, diag) — per-pair
    * bounded; the extent_md5 rejoin touches only extent rows × one
    * more scan of the matched docs' tokens.
    */
  def exactSubstrExtents(df: DataFrame, text: Column, id: Column,
                         minTokens: Int = 12,
                         maxWindowFreq: Long = 1000L): DataFrame = {
    val n = minTokens
    val win = tokenWindows(df, text, id, n)
    val capped = Skew.dropHotKeys(win, Seq("w"), maxWindowFreq)
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.w") === col("y.w") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.p").as("pa"), col("y.p").as("pb"))
    val toks = df.select(id.as("doc_id"), split(text, " ").as("toks"))
    extentsOf(pairs, toks, n)
  }

  /** gaps-and-islands merge + extent hash shared by [[exactSubstrExtents]]
    * and [[exactSubstrIncremental]]: `pairs` = (a, b, pa, pb) window
    * matches, `aToks` = (doc_id, toks) for the a side's extent slice.
    */
  private def extentsOf(pairs: DataFrame, toks: DataFrame,
                        n: Int, sliceBatchSide: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isl = Window.partitionBy("a", "b", "diag").orderBy("pa")
    val extents = pairs
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("g", col("pa") - row_number().over(isl))
      .groupBy("a", "b", "diag", "g")
      .agg(min("pa").as("a_start"), min("pb").as("b_start"),
        (max("pa") - min("pa") + n).cast("long").as("len_tokens"))
      .select("a", "b", "a_start", "b_start", "len_tokens")
    // extent_md5: the duplicated text itself (hashed), read back off
    // one side's token array — extent rows only, one slice per
    // extent. The sides are interchangeable (the extent's tokens are
    // exactly-equal on both by construction); the indexed incremental
    // face slices the BATCH (b) side so the corpus data is never
    // touched.
    val (side, start) =
      if (sliceBatchSide) ("b", "b_start") else ("a", "a_start")
    extents.join(toks, extents(side) === toks("doc_id"))
      .select(col("a"), col("b"), col("a_start"), col("b_start"),
        col("len_tokens"),
        md5(array_join(slice(col("toks"), col(start).cast("int"),
          col("len_tokens").cast("int")), " ")).as("extent_md5"))
      .orderBy("a", "b", "a_start", "b_start", "len_tokens")
  }

  /** INCREMENTAL ExactSubstr — the ingest-time face of
    * [[exactSubstrExtents]] (the same relationship
    * [[minhashLshCross]] has to the batch LSH): maximal duplicated
    * extents between an ARRIVING BATCH and the existing corpus only.
    * The batch's window stream joins the corpus's window table — the
    * corpus is never self-paired, so per-batch cost scales with the
    * batch (plus one corpus window build, which a production ingest
    * pipeline persists once beside the store, exactly as the banded
    * MinHash signature table is persisted — the window table IS this
    * family's signature artifact). Output rows are (a=corpus doc,
    * b=batch doc, a_start, b_start, len_tokens, extent_md5) — the
    * same shape as the batch operator, so the downstream scrub/
    * survivor logic is shared. The corpus side carries the hot-window
    * cap (boilerplate lives in the corpus; the arriving batch is
    * assumed honest-sized).
    */
  def exactSubstrIncremental(batch: DataFrame, corpus: DataFrame,
                             text: Column, id: Column,
                             minTokens: Int = 12,
                             maxWindowFreq: Long = 1000L): DataFrame = {
    val n = minTokens
    val wc = Skew.dropHotKeys(
      tokenWindows(corpus, text, id, n), Seq("w"), maxWindowFreq)
    val wb = tokenWindows(batch, text, id, n)
    crossPairExtents(wc, wb,
      corpus.select(id.as("doc_id"), split(text, " ").as("toks")),
      sliceBatchSide = false, n)
  }

  /** INDEX-ONLY incremental ExactSubstr — [[exactSubstrIncremental]]
    * served from the PERSISTED corpus window table (the
    * bm25_indexed posture): in steady state the corpus data is never
    * scanned — the batch's windows equi-join the window artifact, and
    * the extent text is sliced off the BATCH side's tokens, which is
    * legal because a duplicated extent's token sequence is
    * exactly-equal on both sides by construction (so the emitted
    * extent_md5 is identical to the a-side slice the batch operator
    * computes — the two faces share one oracle). `corpusWindows` must
    * be [[exactSubstrWindows]] output built with the same
    * `minTokens`; a mismatched table fails loudly via the window-n
    * column metadata.
    */
  def exactSubstrIncrementalIndexed(batch: DataFrame,
                                    corpusWindows: DataFrame,
                                    text: Column, id: Column,
                                    minTokens: Int = 12,
                                    maxWindowFreq: Long = 1000L): DataFrame = {
    val n = minTokens
    requireWindowN(corpusWindows, n)
    val wc = Skew.dropHotKeys(corpusWindows, Seq("w"), maxWindowFreq)
    val batchToks = batch.select(id.as("doc_id"), split(text, " ").as("toks"))
    crossPairExtents(wc, tokenWindows(batch, text, id, n), batchToks,
      sliceBatchSide = true, n)
  }

  /** shared batch×corpus pairing for the two incremental faces.
    * PRECONDITION: batch and corpus doc_id sets are DISJOINT (the
    * ingest contract — a batch is new docs). The a≠b guard below
    * makes the one silently-corrupting overlap case — a doc paired
    * with ITSELF, which would emit full-length self-extents and
    * poison downstream scrub/survivor accounting — structurally
    * impossible; two DIFFERENT docs sharing one id remain the
    * caller's contract violation (undetectable from ids alone).
    */
  private def crossPairExtents(corpusWin: DataFrame, batchWin: DataFrame,
                               toks: DataFrame, sliceBatchSide: Boolean,
                               n: Int): DataFrame = {
    val pairs = corpusWin.as("x").join(batchWin.as("y"),
        col("x.w") === col("y.w") && col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.p").as("pa"), col("y.p").as("pb"))
    extentsOf(pairs, toks, n, sliceBatchSide)
  }

  /** The SCRUB face of [[exactSubstrExtents]] — what Lee et al.'s
    * pipeline actually ships: remove every duplicated occurrence but
    * one from the corpus. Keep-lowest-doc semantics (deterministic,
    * the dedup_exact/keep_id convention): a window occurrence in doc
    * d is scrubbed iff the same window also occurs in some doc with a
    * SMALLER doc_id; the covered token positions (union of scrubbed
    * windows) are dropped and the remaining tokens rejoined. Output
    * per doc: original token count, scrubbed-token count, md5 of the
    * scrubbed text — the before/after a curation run reports.
    * Within-doc repeats in the keeper doc are kept (cross-doc
    * occurrences are the published target; documented, spec-pinned).
    *
    * Scale shape: grouped min(doc_id) per window + join back on `w`
    * (both sides the SAME window-stream exchange → ReusedExchange);
    * covered-position explode is matches×N rows — proportional to
    * duplicated volume, not corpus volume; final per-doc rebuild is
    * one groupBy(doc_id) over the token stream.
    */
  def exactSubstrScrub(df: DataFrame, text: Column, id: Column,
                       minTokens: Int = 12,
                       maxWindowFreq: Long = 1000L): DataFrame =
    // the index filter is a native two-pointer merge over the SORTED
    // covp (r16 optimization round): the HOF spelling it replaced
    // probed array_contains per token — O(tokens × covered) per doc,
    // quadratic for heavily-duplicated docs — and was CodegenFallback
    // besides. Same kept tokens in the same order (KernelEquivSpec;
    // scrubbed_md5 hash-oracled end-to-end).
    scrubInputs(df, text, id, minTokens, maxWindowFreq)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("covp")), lit(0)).cast("long").as("n_scrubbed"),
        md5(array_join(graft.functions.MlKernels.scrubKeep(col("toks"),
          col("covp")), " ")).as("scrubbed_md5"))
      .orderBy("doc_id")

  /** [[exactSubstrScrub]]'s per-doc filter input: (doc_id, toks, covp =
    * the sorted distinct 1-based covered token positions, null when
    * the doc has nothing to scrub), one row per non-null text.
    */
  private[graft] def scrubInputs(df: DataFrame, text: Column, id: Column,
                                 minTokens: Int,
                                 maxWindowFreq: Long): DataFrame = {
    val n = minTokens
    val win = tokenWindows(df, text, id, n)
    val capped = Skew.dropHotKeys(win, Seq("w"), maxWindowFreq)
    val minDoc = capped.groupBy("w").agg(min("doc_id").as("keep_id"))
    // covered positions fold to ONE sorted array per doc (r15
    // optimization round): the former spelling exploded every
    // covered window into n (doc, p) rows, distinct-shuffled them,
    // and equi-joined the fully position-exploded corpus on (doc, p)
    // — two corpus-token-sized exchanges. Here the shuffle carries
    // only window-START rows; duplicate positions collapse per doc
    // via flatten+array_distinct (the same dedup the distinct did),
    // and the scrub itself is an index filter over the doc's token
    // array — identical tokens kept in identical order, so
    // n_tokens/n_scrubbed/scrubbed_md5 are bit-identical (oracle-
    // gated end-to-end).
    val covered = capped.join(minDoc, "w")
      .where(col("doc_id") > col("keep_id"))
      .groupBy("doc_id")
      .agg(sort_array(array_distinct(flatten(collect_list(
        sequence(col("p"), col("p") + (n - 1)))))).as("covp"))
    df.select(id.as("doc_id"), split(text, " ").as("toks"))
      .where(col("toks").isNotNull)
      .join(covered, Seq("doc_id"), "left")
  }

  // ------------------------------------------------------------- minhash

  /** deterministic permutation family h_i(x) = (a_i·x + b_i) mod p
    * over xxhash64 token hashes (MinHash, Broder 1997). Fixed seeds →
    * reproducible across runs/engines. p = 2³¹−1 keeps a·x within a
    * 64-bit long (a,x < 2³¹ → product < 2⁶²) — no 128-bit mult needed.
    */
  private val MersenneP = graft.functions.MinHash.MersenneP
  private def permParams(k: Int) = graft.functions.MinHash.permParams(k)

  /** per-doc MinHash signature as array<long> of length k.
    * Shape: one scan → k codegen'd hash expressions → ONE groupBy
    * with k min() aggregates (map-side combined). No row explosion
    * by k, no collect_list re-assembly — the signature build is a
    * single shuffle of k-column rows on the uniform doc_id key.
    */
  def minhashSignatures(sh: DataFrame, k: Int = 32): DataFrame = {
    val x = pmod(xxhash64(col("shingle")), lit(MersenneP))
    val withX = sh.select(col("doc_id"), x.as("x"))
    val aggs = permParams(k).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(pmod(col("x") * a, lit(MersenneP)) + b, lit(MersenneP))).as(s"h$i")
    }
    withX.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** map-only MinHash signature of one text column as ONE column
    * expression — no explode, no groupBy, no shuffle: lowercased
    * whitespace tokens, distinct w-word shingles, then the
    * [[graft.functions.MinHashSig]] kernel over `hash`'s token hashes.
    * Same permutation family and shingling as the grouped builds —
    * [[minhashSignatures]] for xxhash64, KernelEquivSpec's reference
    * for [[graft.functions.TokenHash.Md5Top60]] — and spec-checked
    * equal to them, so signatures are interchangeable within a family.
    * This is the streaming-safe form: a stateless projection composes
    * with watermarks/dropDuplicates where an aggregation could not.
    */
  def minhashSigCol(text: Column, w: Int = 3, k: Int = 16,
                    hash: TokenHash = TokenHash.XxHash64): Column = {
    val toks = split(TokenOps.lower(text), " ")
    // both stages are native codegen'd kernels — the former
    // transform/array_min spellings were CodegenFallback (interpreted,
    // boxed intermediate arrays per row; the k-permutation loop alone
    // measured 12× slower than even the grouped shuffle build)
    graft.functions.MinHash.minhashSig(
      TokenOps.wordShingles(toks, w, distinct = true), k, hash)
  }

  /** MinHash + LSH banding near-dup pairs (§2c.25): band the
    * signature, shuffle on (band, bucket-hash), emit candidate pairs
    * only from shared buckets, then verify estimated Jaccard =
    * matching-minhash fraction ≥ threshold. Never O(n²): a degenerate
    * bucket (many empty/boilerplate docs sharing a signature) would
    * go quadratic, so buckets above `maxBucket` members are dropped
    * via a broadcast anti-join — the same skew cap as hot shingles
    * above. Members of a dropped bucket still pair through their
    * other bands unless they collide everywhere (true mass-dups,
    * which exact dedup already catches).
    */
  def minhashLsh(df: DataFrame, text: Column, id: Column,
                 k: Int = 32, bands: Int = 8,
                 minEstJaccard: Double = 0.5,
                 maxBucket: Long = 10000L): DataFrame = {
    // the banded table is [[bandedSignatures]] (map-only signature
    // build, the SHARED banding expression) — one definition for
    // every LSH consumer, so self-pairing, cross-corpus and streaming
    // signatures can never drift
    lshSelfPairs(bandedSignatures(df, text, id, k, bands), k,
      minEstJaccard, maxBucket)
  }

  /** the banded self-join tail shared by [[minhashLsh]] and
    * [[minhashLshPortable]]: candidate pairs from shared
    * (band, bucket) keys of `banded`, verified by the matching
    * signature fraction ≥ `minEstJaccard`
    */
  private def lshSelfPairs(banded: DataFrame, k: Int, minEstJaccard: Double,
                           maxBucket: Long): DataFrame = {
    // bucket skew cap via [[Skew.dropHotKeys]] (exchange default /
    // grouped / window — see Skew's tradeoff note): the banded
    // stream shuffles once on (band,bucket) and that exchange feeds
    // both the over-cap count and the self-join probe.
    val capped = Skew.dropHotKeys(banded, Seq("band", "bucket"), maxBucket)
    val cand = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.sig").as("siga"), col("y.sig").as("sigb"))
      .dropDuplicates("a", "b")
    // per-pair verification via the codegen'd SigMatchCount — the
    // aggregate(zip_with(...)) spelling is CodegenFallback
    // (interpreted per candidate pair, the hottest row stream here)
    cand.select(col("a"), col("b"),
        round(graft.functions.MinHash.sigMatchCount(col("siga"), col("sigb"))
          .cast("double") / k, 6).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstJaccard)
      .orderBy("a", "b")
  }

  /** [[bandedSignatures]] over the portable md5 family — the banded
    * signature table an incremental pipeline persists when its corpus
    * signatures must be recomputable outside Spark. The same map-only
    * build as the xxhash64 family; only the token and band hashes
    * differ ([[graft.functions.TokenHash.Md5Top60]]).
    */
  def bandedSignaturesPortable(df: DataFrame, text: Column, id: Column,
                               k: Int = 32, bands: Int = 8): DataFrame =
    bandedSignatures(df, text, id, k, bands, TokenHash.Md5Top60)

  /** MinHash + LSH banding with an ENGINE-PORTABLE hash family
    * (§2c.25e): the token hash is the top 60 bits of `md5(shingle)`
    * reduced mod p = 2³¹−1, run through the SAME (aᵢ·x+bᵢ) mod p
    * permutation family as the native kernel ([[graft.functions.MinHash]]
    * constants — ONE definition, interpolated into the DuckDB oracle).
    * Identical pipeline shape to [[minhashLsh]] (band the signature,
    * bucket-join, verify matching-position fraction = the unbiased
    * Broder estimator), but the base hash is md5 instead of xxhash64,
    * so every stage — signature build, band bucketing, candidate
    * generation, verification — is expressible in plain SQL and the
    * WHOLE near-dup pipeline hash-checks end-to-end against an
    * independent engine (the DuckDB oracle), not only against its own
    * spec. This is the cross-engine-reproducibility variant a
    * pipeline uses when signatures must be recomputable outside
    * Spark.
    *
    * Scale shape: the same map-only signature build as
    * [[minhashLsh]] ([[bandedSignatures]]): md5 computed ONCE per
    * shingle inside the [[graft.functions.MinHashSig]] kernel (the k
    * permutations are long multiply-mods, not k hash calls), no
    * explode and no grouped build; one exchange ships (doc_id, k
    * longs) rows. Then the standard banded bucket join with the
    * [[Skew.dropHotKeys]] cap and the codegen'd
    * [[graft.functions.MinHash.sigMatchCount]] verify.
    */
  def minhashLshPortable(df: DataFrame, text: Column, id: Column,
                         k: Int = 32, bands: Int = 8,
                         minEstJaccard: Double = 0.5,
                         maxBucket: Long = 10000L): DataFrame =
    lshSelfPairs(bandedSignaturesPortable(df, text, id, k, bands), k,
      minEstJaccard, maxBucket)

  /** MinHash ESTIMATOR-QUALITY evaluation (§2c.25g) — the
    * [[graft.ops.Similarity.recallEval]] posture applied to the dedup
    * family: for every banding-selected candidate pair, the signature
    * estimate (matches/k) SIDE BY SIDE with the exact shingle Jaccard
    * it estimates, plus the signed error — all in exact integer
    * micro-units (est_micro = matches·(10⁶/k); jac_micro = floored
    * ⌊inter·10⁶/union⌋), so the whole evaluation — signatures,
    * banding, estimate, ground truth, comparison — hash-checks
    * against a DuckDB mirror. This is the measurement that justifies
    * a minEstJaccard threshold before a 100 TB dedup run: the exact
    * side costs set-intersection only on the CANDIDATE pairs (banding
    * bounds them), never the corpus pair space.
    */
  def minhashEstimatorEval(df: DataFrame, text: Column, id: Column,
                           k: Int = 32, bands: Int = 8,
                           maxBucket: Long = 10000L): DataFrame = {
    require(1000000 % k == 0, s"k=$k must divide 1e6 for exact micro-units")
    val banded = Skew.dropHotKeys(
      bandedSignaturesPortable(df, text, id, k, bands),
      Seq("band", "bucket"), maxBucket)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        graft.functions.MinHash.sigMatchCount(col("x.sig"), col("y.sig"))
          .cast("long").as("matches"))
      .dropDuplicates("a", "b")
    val sets = df.select(id.as("doc_id"),
      graft.functions.TokenOps.wordShingles(
        split(TokenOps.lower(text), " "), 3, distinct = true).as("sh"))
    cand
      .join(sets.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(sets.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .select(col("a"), col("b"), col("matches"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
        (size(col("sha")) + size(col("shb"))).cast("long").as("szsum"))
      .select(col("a"), col("b"), col("matches"), col("inter"),
        (col("szsum") - col("inter")).as("uni"),
        (col("matches") * lit(1000000L / k)).as("est_micro"),
        expr("(inter * 1000000) div (szsum - inter)").as("jac_micro"))
      .withColumn("err_micro", col("est_micro") - col("jac_micro"))
      .orderBy("a", "b")
  }

  /** per-band bucket hashes of a `sig` column — shared by every LSH
    * banding consumer so batch and streaming faces cannot drift.
    * `hash` is the signatures' family, whose band hash keys the
    * buckets: xxhash64 for the native family, md5 for the portable one
    * (so DuckDB reproduces the bucket keys).
    * Validated like [[Similarity]]'s bandWidth: a non-divisor would
    * silently discard the top k % bands signature positions from
    * every bucket key.
    */
  private[graft] def bandBucketHashes(k: Int, bands: Int,
                                      hash: TokenHash = TokenHash.XxHash64)
      : Column = {
    require(bands > 0 && k >= bands && k % bands == 0,
      s"bands ($bands) must divide the signature length k ($k)")
    val r = k / bands
    array((0 until bands).map { b =>
      hash.bandHash(array_join(
        transform(slice(col("sig"), b * r + 1, r), _.cast("string")), ","))
    }: _*)
  }

  /** (doc_id, sig, band, bucket) banded MinHash signature table — the
    * artifact an incremental pipeline PERSISTS for its corpus (e.g.
    * via [[graft.core.Store]] / plain parquet) so each ingest batch
    * joins against it without recomputing corpus signatures. Consumed
    * by [[minhashLshCross]] (both sides) and the streaming face
    * ([[graft.streaming.EventPipeline.crossDedupStream]], static side).
    * `hash` is the token/band hash family; signatures only meet
    * within one family. Each input row yields its own rows: a doc_id
    * that repeats keeps one signature per row (no grouping by id).
    */
  def bandedSignatures(df: DataFrame, text: Column, id: Column,
                       k: Int = 32, bands: Int = 8,
                       hash: TokenHash = TokenHash.XxHash64): DataFrame =
    // MAP-ONLY signature build (minhashSigCol): one projection, no
    // explode and no groupBy — the grouped build shuffled the whole
    // shingle stream (~10× the text bytes at scale) just to take k
    // mins. Spec-checked signature-equal to minhashSignatures, so
    // pairs are identical. Null-text docs yield a null signature and
    // are dropped here (the exploded build dropped them implicitly;
    // without the filter they'd all collide in one xxhash64(null)
    // bucket per band). The repartition is a MATERIALIZATION BARRIER,
    // not a distribution need: without it CollapseProject inlines the
    // signature expression into the null filter, each band hash and
    // the carried column (~9× recompute — benign now that MinHashSig
    // is a cheap codegen'd kernel, but still measurably slower); the
    // exchange computes it once and ships (doc_id, k longs) rows,
    // still ≪ the shingle-stream shuffle this build replaced.
    df.select(id.as("doc_id"), minhashSigCol(text, k = k, hash = hash).as("sig"))
      .where(col("sig").isNotNull)
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("sig"),
        posexplode(bandBucketHashes(k, bands, hash)).as(Seq("band", "bucket")))

  /** Incremental cross-corpus near-dup detection (§2c.25d): pairs
    * between a NEW batch and an EXISTING corpus — the daily-ingest
    * shape, where re-pairing the corpus against itself (what
    * [[minhashLsh]] on the union would do) is O(corpus²-candidates)
    * of wasted work per batch. Returns (new_id, corpus_id,
    * est_jaccard ≥ threshold).
    *
    * Same hash family, banding and verification as [[minhashLsh]]
    * (signatures are interchangeable — one map-only projection per
    * side), but the bucket join is new-vs-corpus only: candidate
    * volume scales with |batch|, not |corpus|. At 100 TB the corpus
    * side's banded signature table is exactly the thing a pipeline
    * PERSISTS (a (doc_id, band, bucket) parquet via [[graft.core.Store]]
    * — signature build amortized to ingest time); this operator's plan
    * is then one scan of the batch + one bucket equi-join. The skew
    * cap rides on the corpus side (count window over the same
    * (band,bucket) partitioning the join needs — one exchange,
    * ReusedExchange), since mass-boilerplate buckets live there.
    */
  def minhashLshCross(newDocs: DataFrame, corpus: DataFrame,
                      text: Column, id: Column,
                      k: Int = 32, bands: Int = 8,
                      minEstJaccard: Double = 0.5,
                      maxBucket: Long = 10000L): DataFrame =
    minhashLshCrossBands(bandedSignatures(newDocs, text, id, k, bands),
      bandedSignatures(corpus, text, id, k, bands),
      minEstJaccard, maxBucket)

  /** [[minhashLshCross]] over PREBUILT band tables — the per-batch
    * entry point of an incremental pipeline: the corpus side is the
    * persisted [[bandedSignatures]] parquet (signatures computed once
    * at ingest, reopened per batch), so each batch pays only its own
    * signature build plus the bucket join. Spec-checked identical to
    * the from-text spelling through a parquet round-trip.
    *
    * est_jaccard's denominator is DERIVED from the signature column
    * (`size(sig)`), never taken as a parameter: prebuilt band tables
    * carry their k with them, and a caller-supplied k mismatched with
    * the persisted signatures would silently rescale every estimate
    * (match counts over differently-built families don't line up
    * anyway — the banding hashes wouldn't collide — so same-k on both
    * sides is already the operating contract).
    */
  def minhashLshCrossBands(newBanded: DataFrame, corpusBanded: DataFrame,
                           minEstJaccard: Double = 0.5,
                           maxBucket: Long = 10000L): DataFrame = {
    val capped = Skew.dropHotKeys(corpusBanded, Seq("band", "bucket"), maxBucket)
    val cand = newBanded.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("corpus_id"),
        col("x.sig").as("siga"), col("y.sig").as("sigb"))
      .dropDuplicates("new_id", "corpus_id")
    cand.select(col("new_id"), col("corpus_id"),
        round(graft.functions.MinHash.sigMatchCount(col("siga"), col("sigb"))
          .cast("double") / size(col("siga")), 6).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstJaccard)
      .orderBy("new_id", "corpus_id")
  }

  /** [[minhashLshCross]] over the ENGINE-PORTABLE md5 family — the
    * incremental pipeline's cross-engine evidence twin: identical
    * band-table shape and bucket join ([[minhashLshCrossBands]] is
    * hash-family-agnostic), but every stage — signature build, band
    * bucketing, the new-vs-corpus candidate join, the corpus-side
    * skew cap, verification — mirrors into plain SQL, so the daily-
    * ingest shape hash-checks end-to-end against DuckDB instead of
    * only against its own spec. Production default remains
    * [[minhashLshCross]] (xxhash64 — ~1.5-2× cheaper hashes).
    */
  def minhashLshCrossPortable(newDocs: DataFrame, corpus: DataFrame,
                              text: Column, id: Column,
                              k: Int = 32, bands: Int = 8,
                              minEstJaccard: Double = 0.5,
                              maxBucket: Long = 10000L): DataFrame =
    minhashLshCrossBands(
      bandedSignaturesPortable(newDocs, text, id, k, bands),
      bandedSignaturesPortable(corpus, text, id, k, bands),
      minEstJaccard, maxBucket)

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash fingerprint per doc (Charikar 2002): per-token
    * `hash` (xxhash64 by default), each output bit = sign of the
    * per-bit vote sum. MAP-ONLY via the native codegen'd
    * [[graft.functions.SimHash64]] expression — the r2 spelling
    * exploded every token and ran a 64-conditional-sum aggregation (a
    * full shuffle of the token stream); this is one projection, no
    * shuffle, streaming-safe. Null-text docs are dropped (as the
    * exploded spelling did). Each input row yields its own
    * fingerprint: a doc_id that repeats keeps one per row.
    */
  def simhash(df: DataFrame, text: Column, id: Column,
              hash: TokenHash = TokenHash.XxHash64): DataFrame =
    df.select(id.as("doc_id"),
        graft.functions.SimHash.simhash64(
          array_distinct(split(TokenOps.lower(text), " ")), hash).as("simhash"))
      .where(col("simhash").isNotNull)

  /** Connected components over near-dup pairs → cluster assignment
    * (minimum reachable id wins), so a near-dup pair list becomes an
    * actionable keep/drop set.
    *
    * SIZE-ROUTED like a join: a graph at or under `localEdgeLimit`
    * edges is solved by union-find in ONE executor task (the
    * broadcast-join move — tiny input, local algorithm), because the
    * iterative path costs O(rounds) Spark jobs of pure fixed overhead
    * on a graph that fits in a few MB. Anything larger takes the
    * distributed path: iterative min-label propagation, one shuffle
    * per round, converging in O(cluster diameter) rounds (near-dup
    * clusters are shallow). Both paths produce the IDENTICAL exact
    * labeling (min reachable id — spec-checked equal), so the routing
    * is invisible to callers. The edge count that decides the route
    * is read off the already-materialized checkpoint, not an extra
    * scan.
    */
  def clusters(pairs: DataFrame, maxIter: Int = 50,
               localEdgeLimit: Long = 4_000_000L): DataFrame = {
    // Materialization policy: every intermediate is an EAGER
    // localCheckpoint, never a persist(). persist() pins blocks in the
    // session CacheManager until someone calls unpersist — in a
    // long-lived session (Bench/Verify run 58 queries in one session)
    // that is a leak. Checkpoint blocks are owned by their RDD object
    // and reclaimed by the ContextCleaner as soon as the frame becomes
    // unreachable — bounded lifetime with no caller-side protocol.
    // Checkpointing (vs plain caching) also truncates lineage so each
    // round plans a constant-size tree instead of a 3×/round-growing
    // one. (On a multi-node cluster prefer sc.setCheckpointDir +
    // .checkpoint for executor-loss safety.)
    val raw = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    // the local route requires ids that fit a long (its parent table is
    // primitive long arrays); any other orderable id type (strings,
    // decimals…) falls through to the iterative path — ROUTING must
    // never change whether a call succeeds, only how it executes
    val integralIds = raw.schema.fields.forall(_.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    })
    // integral ids are widened to long BEFORE routing, so both routes
    // return the identical (long, long) schema — otherwise int-id
    // callers would see their label column's type flip with data
    // volume (local casts to long; iterative preserved the input type)
    val edges =
      (if (integralIds)
         raw.select(col("src").cast("long").as("src"),
           col("dst").cast("long").as("dst"))
       else raw)
      .localCheckpoint()
    if (integralIds && edges.count() <= localEdgeLimit)
      return clustersLocal(edges)
    // round 0 folds the first propagation into initialization:
    // label = min(own id, min direct neighbour) — one round saved
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min("dst").as("m"))
      .select(col("id"), least(col("id"), col("m")).as("label"))
      .localCheckpoint()
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      // neighbor labels ∪ own label → min per node; carry the old
      // label so convergence detection needs no extra join
      // (pointer jumping was tried and reverted: the extra label
      // self-join per round cost more than the rounds it saved —
      // min(id, min-neighbour) initialization already keeps round
      // counts near the cluster diameter, which is shallow here)
      val next = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "nl"), "dst")
        .groupBy(col("src").as("id")).agg(min("nl").as("nbr"))
        .join(labels, "id")
        .select(col("id"), least(col("label"), col("nbr")).as("label"),
          col("label").as("old"))
        .localCheckpoint()
      changed = next.where(col("label") =!= col("old")).limit(1).count() > 0
      labels = next.select("id", "label")
      iter += 1
    }
    // maxIter is a SAFETY VALVE, not an approximation knob: labels
    // that are still moving are simply wrong (a cluster would be
    // split), and near-dup decisions made on them would be silent
    // corruption. Refuse rather than return them — graphs that
    // legitimately need more rounds (long chains) should raise
    // maxIter; min(id, min-neighbour) init keeps typical near-dup
    // graphs (shallow, dense) at a handful of rounds.
    if (changed)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter rounds; " +
        "raise maxIter (graph has a longer chain than expected)")
    // the returned frame reads the final checkpoint's blocks — freed
    // by the ContextCleaner when the result is no longer referenced
    labels.orderBy("id")
  }

  /** small-graph CC: every edge into ONE executor task, classic
    * union-find with path compression. Union always attaches the
    * larger root under the smaller, so each component's root IS its
    * minimum member id — the exact labeling the iterative path
    * produces. Runs as a normal narrow plan (repartition(1) +
    * mapPartitions), never a driver collect.
    */
  private def clustersLocal(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val uf = new LongUnionFind()
        while (it.hasNext) {
          val (a, b) = it.next()
          uf.union(a, b)
        }
        uf.iterator
      }
      .toDF("id", "label")
      .orderBy("id")
  }

  /** ENGINE-PORTABLE SimHash near-dup pairs (§2c.26b): a 60-bit
    * fingerprint whose per-token hash is the top 60 bits of
    * `md5(token)` ([[graft.functions.TokenHash.Md5Top60]]; the bits
    * ARE the votes), so the whole operator — token hashing, bit votes,
    * fingerprint assembly, pairing — is expressible in plain SQL and
    * hash-checks against a brute-force DuckDB mirror. Because
    * pigeonhole banding is EXACT (any pair within hamming ≤ 3 shares
    * one of the 4 bands by construction), the brute-force oracle also
    * proves the banded plan end-to-end, not just the fingerprint math.
    *
    * The 60-bit fingerprint rides the standard 64-bit banding
    * ([[simhashPairsOf]], 4×16-bit bands — the top 4 zero bits join
    * band 3, which preserves the pigeonhole guarantee). Scale shape:
    * the same map-only fingerprint build as [[simhash]], with only
    * the token hash swapped, then the banded bucket join. The native
    * xxhash64 [[simhash]] stays the hot-path default; this variant is
    * the cross-engine-reproducibility twin, exactly like
    * [[minhashLshPortable]] beside [[minhashLsh]].
    */
  def simhashPortablePairs(df: DataFrame, text: Column, id: Column,
                           maxHamming: Int = 3,
                           maxBucket: Long = 10000L): DataFrame =
    // failOverCap: this twin's oracle is the BRUTE-FORCE hamming scan
    // (banding is pigeonhole-exact, so banded == brute must hold
    // row-for-row) — a silently capped bucket would break that
    // equality, so an over-cap bucket errors instead (Skew.failHotKeys)
    simhashPairsOf(simhash(df, text, id, TokenHash.Md5Top60),
      maxHamming, maxBucket, failOverCap = true)

  /** SimHash near-dup pairs at hamming ≤ `maxHamming` (§2c.26).
    * Pigeonhole banding: split the 64-bit fingerprint into
    * `maxHamming + 1` bands — two fingerprints within hamming
    * `maxHamming` must agree EXACTLY on at least one band, so an
    * equi-join on (band, band-bits) finds every qualifying pair
    * without an all-pairs comparison. Candidates are then verified
    * with `bit_count(a XOR b)`. Buckets above `maxBucket` members
    * are skew-capped like minhash buckets.
    */
  def simhashPairs(df: DataFrame, text: Column, id: Column,
                   maxHamming: Int = 3,
                   maxBucket: Long = 10000L): DataFrame =
    simhashPairsOf(simhash(df, text, id), maxHamming, maxBucket)

  /** banded hamming-≤ pairs over a prebuilt (doc_id, simhash) frame.
    * `failOverCap = true` swaps the silent bucket cap for the loud
    * guard ([[Skew.failHotKeys]]) — used by the portable evidence
    * twin whose brute-force oracle the cap cannot be mirrored into.
    */
  def simhashPairsOf(fp: DataFrame,
                     maxHamming: Int = 3,
                     maxBucket: Long = 10000L,
                     failOverCap: Boolean = false): DataFrame = {
    val nBands = maxHamming + 1
    val width = 64 / nBands // 16 bits for hamming≤3
    val mask = (1L << width) - 1
    val bandKeys = array((0 until nBands).map { b =>
      shiftrightunsigned(col("simhash"), b * width).bitwiseAND(mask)
    }: _*)
    // the fingerprint build is map-only (native simhash64); the bucket
    // skew cap goes through [[Skew.dropHotKeys]] (exchange default /
    // grouped / window — see Skew's tradeoff note), and both
    // self-join sides remain identical subplans with no
    // session-lifetime persist
    val exploded = fp.select(col("doc_id"), col("simhash"),
      posexplode(bandKeys).as(Seq("band", "bkey")))
    val banded =
      if (failOverCap) Skew.failHotKeys(exploded, Seq("band", "bkey"), maxBucket)
      else Skew.dropHotKeys(exploded, Seq("band", "bkey"), maxBucket)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      // verify BEFORE the pair-dedup shuffle: the hamming filter cuts
      // the candidate stream ~15× map-side, so dropDuplicates only
      // shuffles surviving pairs
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("a", "b")
      .orderBy("a", "b")
  }

  /** Budget a near-dup pair list to the SYMMETRIZED m-nearest-
    * neighbour graph before connected components: keep a pair iff it
    * ranks in the top `m` (best `rank` first) of EITHER endpoint. On a
    * boilerplate-heavy corpus the verified-pair set is O(Σ cluster²)
    * even when the plan shape is right — a 10k-doc hamming-ball
    * contributes 50M pairs — and the symmetric cap bounds CC input to
    * 2m·n edges. Symmetrization matters: pairs are (a<b)-ordered, so a
    * one-sided cap starves high-id docs of edges and can split dense
    * clusters; the standard symmetric k-NN graph keeps them connected
    * through mutual nearest-neighbour chains (spec-checked equal to
    * uncapped clustering on the test corpus).
    */
  def capPairsPerDoc(pairs: DataFrame, m: Int, rank: Column): DataFrame = {
    if (m == Int.MaxValue) return pairs
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("a").orderBy(rank, col("b"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("b").orderBy(rank, col("a"))
    pairs.withColumn("ra", row_number().over(wA))
      .withColumn("rb", row_number().over(wB))
      .where(col("ra") <= m || col("rb") <= m)
      .drop("ra", "rb")
  }

  /** SimHash near-dup groups (§2c.26): identical-fingerprint collapse
    * → hamming≤3 pairs between REPRESENTATIVES → per-rep pair budget
    * → connected components → expansion back to all docs →
    * (cluster, size, kept representative).
    *
    * The collapse is an EXACT quotient, not an approximation: docs
    * with equal fingerprints are hamming-0 (always one cluster), and
    * rep-level hamming equals member-level hamming because the
    * fingerprints are the very same values — so components are
    * preserved exactly while the pair space loses its dominant term
    * (a c-member identical blob contributes c²/2 pairs pre-collapse,
    * ZERO after; exact-dup-heavy corpora are the common case at
    * 100 TB). The per-doc budget (symmetrized m-NN cap) then bounds
    * what survives to CC on the residual near-dup graph.
    *
    * `maxPairsPerDoc` defaults to UNCAPPED — exact connected
    * components over every hamming≤maxHamming pair. Passing a finite
    * cap is an explicit opt-in to the approximate symmetrized-m-NN
    * graph: a cap can disconnect clusters linked only through dropped
    * mid-rank edges, so callers who cap own that tradeoff (the graft
    * query entries cap at 8 and carry a corpus-level spec that the
    * capped clustering matches the exact one).
    */
  def simhashGroups(df: DataFrame, text: Column, id: Column,
                    maxHamming: Int = 3,
                    maxPairsPerDoc: Int = Int.MaxValue): DataFrame = {
    val fp = simhash(df, text, id)
    // one representative (min doc_id) per distinct fingerprint
    val reps = fp.groupBy("simhash").agg(min("doc_id").as("rep"))
    val repFp = reps.select(col("rep").as("doc_id"), col("simhash"))
    val repPairs = capPairsPerDoc(
      simhashPairsOf(repFp, maxHamming), maxPairsPerDoc, col("hamming"))
    // rep → cluster label; reps in no pair keep their own id as label
    val repLabels = clusters(repPairs)
    // expand: every doc → its fingerprint's rep → the rep's label
    val docLabels = fp
      .join(reps, "simhash")
      .join(repLabels.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("rep")).as("label"))
    docLabels
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n"), min("doc_id").as("keep_id"))
      .where(col("n") > 1)
      .orderBy("cluster")
  }
}

/** Open-addressed primitive union-find over arbitrary long ids — the
  * single-task engine behind [[Dedup.clusters]]'s small-graph route.
  *
  * Layout: `keys` holds the ids, `parent` holds SLOT INDICES (ints)
  * into the same table, so the structure is three flat arrays with
  * zero boxing — 13 bytes/slot vs the ~70 bytes/entry a boxed
  * `HashMap[Long,Long]` costs (Long keys + values + node objects).
  * At the 4M-edge routing limit (≤8M distinct ids, 16M slots at the
  * 0.55 load ceiling) the table is ~200 MB in one task — the margin
  * that lets the routing threshold sit at 4M rather than the old 2M.
  *
  * Union attaches the root with the LARGER id under the smaller, so
  * each component's root id IS its minimum member id — the exact
  * labeling the iterative min-label path produces (spec-checked).
  * Find uses full path compression (two-pass). Table doubles at 55%
  * load, so inserts stay O(1) amortized with short probe runs.
  */
private[graft] final class LongUnionFind(initialCapacity: Int = 1 << 16) {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) - 1) << 1
  private var keys = new Array[Long](cap)
  private var parent = new Array[Int](cap)
  private var used = new Array[Boolean](cap)
  private var size = 0

  private def slotOf(id: Long): Int = {
    // splitmix64 finalizer — uniform over the pow2 table mask
    var z = id + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    var i = ((z ^ (z >>> 31)) & (cap - 1)).toInt
    while (used(i) && keys(i) != id) i = (i + 1) & (cap - 1)
    i
  }

  private def insertOrGet(id: Long): Int = {
    val i = slotOf(id)
    if (!used(i)) {
      used(i) = true; keys(i) = id; parent(i) = i; size += 1
      if (size.toLong * 100 > cap.toLong * 55) { grow(); return slotOf(id) }
    }
    i
  }

  private def grow(): Unit = {
    val (ok, op, ou, oc) = (keys, parent, used, cap)
    cap = oc << 1
    keys = new Array[Long](cap); parent = new Array[Int](cap)
    used = new Array[Boolean](cap)
    // remap: old parent slot indices translate via the old keys array
    var i = 0
    while (i < oc) {
      if (ou(i)) {
        val ni = slotOf(ok(i))
        used(ni) = true; keys(ni) = ok(i)
      }
      i += 1
    }
    i = 0
    while (i < oc) {
      if (ou(i)) parent(slotOf(ok(i))) = slotOf(ok(op(i)))
      i += 1
    }
  }

  private def findSlot(s: Int): Int = {
    var r = s
    while (parent(r) != r) r = parent(r)
    var c = s
    while (c != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  def union(a: Long, b: Long): Unit = {
    insertOrGet(a)
    // insert b FIRST: it may grow the table, which invalidates any
    // slot index taken for a before the growth
    val rb = findSlot(insertOrGet(b))
    val ra = findSlot(slotOf(a))
    if (ra != rb) {
      if (keys(ra) < keys(rb)) parent(rb) = ra else parent(ra) = rb
    }
  }

  /** (id, component-min-id) for every id ever seen */
  def iterator: Iterator[(Long, Long)] = {
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](size)
    var i = 0
    while (i < cap) {
      if (used(i)) out += ((keys(i), keys(findSlot(i))))
      i += 1
    }
    out.iterator
  }
}
