package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TokenOps

/** BPE tokenizer TRAINING (Sennrich et al. 2016) — the iterative
  * merge-learning loop that [[TextAnalysis]]'s `text_bpe_pairs` (one
  * round of pair statistics) and `text_tokenize_ids` (applying a
  * fixed vocab) bracket but neither performs. The trainer is the
  * missing middle of the tokenizer pipeline: learn the merge table
  * itself.
  *
  * Scale shape — the textbook distributed form: the CORPUS is
  * touched exactly once (the word-frequency count, map-side
  * combined); every training round then operates on the DISTINCT
  * WORD table weighted by counts — vocab-bounded (≈ 10⁵–10⁷ rows at
  * any corpus size, independent of corpus rows), so 100 TB of text
  * trains at the same per-round cost as 1 GB once the word counts
  * exist. Per round: one pair-count aggregate over the word table +
  * a 1-row driver argmax (the merge table lives on the driver — it
  * IS the model, bounded by `rounds`); the merge application is a
  * pure fold expression over each word's symbol array with the pair
  * as literals — no UDF, no shuffle.
  *
  * Each round's word table is an EAGER `localCheckpoint` (the
  * [[Dedup.clusters]] materialization policy: checkpoint blocks are
  * reclaimed by the ContextCleaner when the frame becomes
  * unreachable — no CacheManager leak, and lineage truncation keeps
  * every round a constant-size plan instead of an
  * O(rounds)-deep re-derivation from the corpus scan; measured
  * 93 s → ~3 s for 12 rounds at sf0.1).
  *
  * Left-to-right non-overlapping merge semantics match the paper:
  * the fold replaces the accumulator's tail element `a` followed by
  * the current symbol `b` with `ab`; since a merged tail equals
  * `a+b ≠ a`, a just-merged element can never re-merge in the same
  * round ("aaa" + (a,a) → ["aa","a"], not ["aa","aa"]).
  */
object Bpe {

  /** Learn `rounds` merges. Output: (rnk, a, b, n) — merge rank
    * (1-based), the merged symbol pair, and its weighted pair count
    * at pick time. Deterministic: argmax ties break (n DESC, a ASC,
    * b ASC). Stops early if no pair remains.
    */
  def trainMerges(df: DataFrame, text: Column, rounds: Int,
                  cadence: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 64,
      s"rounds must be in [1, 64], got $rounds")
    require(cadence >= 1, s"cadence must be >= 1, got $cadence")
    val spark = df.sparkSession
    import spark.implicits._
    // checkpoint hygiene: the merge table is DRIVER-LOCAL by the end,
    // so nothing downstream can reference the round tables — unpersist
    // every checkpoint this call created before returning (exact
    // CacheHygiene emptiness, not just eventual GC reclamation)
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    // the single corpus pass: distinct words with frequencies
    val words = df.where(text.isNotNull)
      .select(explode(split(TokenOps.lower(text), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("wc"))
    // initial symbolization: one char per symbol
    var syms = words.select(col("wc"),
      filter(split(col("w"), ""), s => length(s) > 0).as("syms"))
      .localCheckpoint()

    def pairCounts(s: DataFrame): DataFrame =
      s.where(size(col("syms")) >= 2)
        .select(col("wc"), explode(
          transform(sequence(lit(1), size(col("syms")) - 1), i =>
            struct(element_at(col("syms"), i).as("a"),
              element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("wc").as("n"))

    def applyMerge(a: String, b: String): Column =
      aggregate(col("syms"),
        array().cast("array<string>"),
        (acc, s) => when(
          size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var done = false
    // checkpoint CADENCE (r15 optimization round): materializing the
    // vocab-sized symbol table every round cost one extra Spark job
    // per merge (12 rounds = 24 jobs: argmax collect + checkpoint).
    // Between checkpoints the un-materialized rounds simply stack
    // ≤cadence−1 applyMerge lambdas onto the last checkpoint — each
    // is a single-pass fold per word, so the argmax job re-applies
    // the pending merges on the fly (vocab-bounded work, measured
    // cheaper than the job it replaces) and the merge sequence is
    // IDENTICAL (BpeSpec pins it against the single-node trainer).
    // Default 4 was A/B'd against 2/6/8/12 in r16
    // (OPTIMIZATION_r16.md §Verdict item 8).
    var sinceCk = 0
    while (r <= rounds && !done) {
      val top = pairCounts(syms)
        .orderBy(desc("n"), asc("a"), asc("b")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((r.toLong, a, b, n))
        val next = syms.select(col("wc"), applyMerge(a, b).as("syms"))
        sinceCk += 1
        syms = if (sinceCk >= cadence) { sinceCk = 0; next.localCheckpoint() }
               else next
        r += 1
      }
    }
    val out = merges.toSeq.toDF("rnk", "a", "b", "n").orderBy("rnk")
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!preexisting.contains(id)) rdd.unpersist(blocking = false)
    }
    out
  }

  /** Reference single-node trainer for the spec — the obvious
    * quadratic spelling over an in-memory word-count map, sharing
    * nothing with the distributed path but the definition.
    */
  private[graft] def trainMergesLocal(corpus: Seq[String],
                                      rounds: Int): Seq[(Long, String, String, Long)] = {
    var words: Map[Vector[String], Long] = corpus
      .flatMap(_.toLowerCase.split(" ").filter(_.nonEmpty))
      .groupBy(identity).view
      .mapValues(_.size.toLong)
      .map { case (w, c) => (w.map(_.toString).toVector, c) }.toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (counts.isEmpty) done = true
      else {
        val ((a, b), n) = counts.toSeq
          .minBy { case ((a, b), n) => (-n, a, b) }
        out += ((r.toLong, a, b, n))
        words = words.groupMapReduce { case (syms, _) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          syms.foreach { s =>
            if (acc.nonEmpty && acc.last == a && s == b)
              acc(acc.length - 1) = a + b
            else acc += s
          }
          acc.toVector
        } { case (_, c) => c } (_ + _)
        r += 1
      }
    }
    out.toSeq
  }
}
