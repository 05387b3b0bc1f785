package graft

import graft.ops.{Dedup, Skew}
import org.apache.spark.sql.functions._

/** The hot-key cap (the exchange spelling of `Skew.dropHotKeys`) must
  * keep/drop the IDENTICAL row set its reference window spelling does.
  * Checked directly on the helper with a planted mega-hot key (plus
  * null keys, which the cap drops so the spellings cannot diverge on
  * them) and end-to-end on the pair operators that route through it.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("exchange and window cap spellings keep identical row sets") {
    // key 7 is the planted mega-hot key (3000 rows); everything else
    // is under the cap, including key 8 sitting exactly AT it; null
    // keys (which a window would count as one hot group but an
    // anti-join can never match) are dropped by the cap so the
    // spellings cannot diverge on them
    val df = ((1 to 3000).map(i => (7L, i.toLong)) ++
        (1 to 100).map(i => (8L, i.toLong)) ++
        (1 to 99).map(i => (9L, i.toLong)))
      .toDF("k", "v")
    val withNulls = df.unionByName(
      (1 to 500).map(i => (Option.empty[Long], i.toLong)).toDF("k", "v"))
    val kept = Skew.dropHotKeys(withNulls, Seq("k"), 100L)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
                           r.getLong(1))).toSet
    assert(!kept.exists(_._1.isEmpty), "the cap kept null keys")
    val window = Skew.dropHotKeysWindow(df, Seq("k"), 100L)
      .as[(Long, Long)].collect().toSet
    val exchange = Skew.dropHotKeys(df, Seq("k"), 100L)
      .as[(Long, Long)].collect().toSet
    assert(exchange === window)
    assert(kept === window.map { case (k, v) => (Some(k), v) })
    assert(!exchange.exists(_._1 == 7L)) // hot key fully dropped
    assert(exchange.count(_._1 == 8L) === 100) // at-cap key fully kept
  }

  test("pair operators produce pairs through the hot-key cap") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Map(
      "minhash" -> Dedup.minhashLsh(corpus, col("text"), col("doc_id"))
        .select("a", "b").as[(Long, Long)].collect().toSet,
      "ngram" -> Dedup.ngramJaccard(corpus, col("text"), col("doc_id"))
        .select("a", "b").as[(Long, Long)].collect().toSet,
      "simhash" -> Dedup.simhashPairs(corpus, col("text"), col("doc_id"))
        .select("a", "b").as[(Long, Long)].collect().toSet,
      "substring" -> Dedup.substringPairs(Dedup.plantSpanDups(corpus),
          col("text"), col("doc_id"))
        .select("a", "b").as[(Long, Long)].collect().toSet)
    pairs.foreach { case (name, ps) =>
      assert(ps.nonEmpty, s"$name produced no pairs")
    }
  }

  test("a mega-hot bucket is dropped, small buckets survive (capped op)") {
    // 600 exact copies of one text share every (band,bucket) →
    // 600²/2 candidate pairs without the cap; with maxBucket=100 the
    // blob is dropped while a small near-dup pair still pairs
    val blob = (1L to 600L).map(i => (i, "common boilerplate text that " +
      "repeats verbatim across the whole corpus many many times over"))
    val pair = Seq(
      (1001L, "a unique document about distributed query planning at scale"),
      (1002L, "a unique document about distributed query planning at large scale"))
    val df = (blob ++ pair).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(df, col("text"), col("doc_id"),
        maxBucket = 100L)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1001L, 1002L)))
    assert(!pairs.exists(p => p._1 <= 600L || p._2 <= 600L))
  }

  test("failHotKeys: identity under the cap, loud failure over it") {
    val under = ((1 to 100).map(i => (8L, i.toLong)) ++
      (1 to 99).map(i => (9L, i.toLong))).toDF("k", "v")
    // under the cap the row set is EXACTLY the input — the property
    // that makes an uncapped oracle equivalence unconditional
    val kept = Skew.failHotKeys(under, Seq("k"), 100L)
      .as[(Long, Long)].collect().toSet
    assert(kept == under.as[(Long, Long)].collect().toSet)

    // an over-cap key errors instead of silently dropping its rows
    val over = under.unionByName(
      (1 to 101).map(i => (7L, i.toLong)).toDF("k", "v"))
    val e = intercept[Exception] {
      Skew.failHotKeys(over, Seq("k"), 100L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("hot-key cap exceeded")))
  }

  test("simhash portable twin routes through the loud guard") {
    // 200 identical docs share every band bucket; with a cap of 10000
    // they are fine, but calling simhashPairsOf with failOverCap and a
    // tiny cap must raise, proving the guard is actually in the path
    val fp = (1 to 200).map(i => (i.toLong, 0x0f0f0f0fL)).toDF("doc_id", "simhash")
    val e = intercept[Exception] {
      Dedup.simhashPairsOf(fp, maxHamming = 3, maxBucket = 50L,
        failOverCap = true).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("hot-key cap exceeded")))
    // and with the cap not exceeded it returns the full pair set
    val n = Dedup.simhashPairsOf(fp, maxHamming = 3, maxBucket = 10000L,
      failOverCap = true).count()
    assert(n == 200L * 199L / 2L)
  }
}
