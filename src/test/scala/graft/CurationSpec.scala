package graft

import org.apache.spark.sql.functions._
import graft.ops.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("shufflePositions: exact md5-order permutation via the two-phase rank") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pos = Curation.shufflePositions(docs, col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // a permutation: positions are exactly 0..n-1
    assert(pos.map(_._2).sorted.toSeq === (0L until pos.length.toLong))
    // identical to the naive single-partition global window spelling
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val naive = docs.select(col("doc_id"),
        (row_number().over(w) - 1).cast("long").as("pos"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pos.toMap === naive)
    // deterministic across runs
    val again = Curation.shufflePositions(docs, col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === pos.toMap)
  }

  test("contamination flags docs sharing an 8-token shingle with eval") {
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, s"benchmark question $run and its answer"),        // eval
      (1L, s"scraped page containing $run verbatim"),         // contaminated
      (2L, "completely unrelated words nothing shared here at all"),
      (3L, "short doc")
    ).toDF("doc_id", "text")
    val hits = Curation.contaminated(docs, col("text"), col("doc_id"),
        col("doc_id") === 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet === Set(1L))
    assert(hits(1L) === 1L) // exactly the one planted 8-token shingle
  }

  test("contamination survives case and punctuation variants") {
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val shouted = "Alpha, Beta!  GAMMA delta; Epsilon (zeta) eta THETA"
    val docs = Seq(
      (0L, s"benchmark question $run and its answer"),   // eval
      (1L, s"scraped page quoting '$shouted' verbatim"), // case/punct variant
      (2L, "completely unrelated words nothing shared here at all")
    ).toDF("doc_id", "text")
    val hits = Curation.contaminated(docs, col("text"), col("doc_id"),
        col("doc_id") === 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the un-normalized check let "The Cat sat" escape "the cat sat";
    // normalized shingling must catch the variant
    assert(hits.keySet === Set(1L), hits)
  }

  test("contamination survives newlines and tabs inside the copied run") {
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    // the same 8-token run, wrapped across lines and tabs: deleting
    // (rather than collapsing) whitespace-class chars would fuse
    // "gamma\ndelta" into one token and let the copy escape
    val wrapped = "alpha beta gamma\ndelta epsilon\tzeta\r\neta theta"
    val docs = Seq(
      (0L, s"benchmark question $run and its answer"),
      (1L, s"scraped page quoting:\n$wrapped\nverbatim"),
      (2L, "completely unrelated words nothing shared here at all")
    ).toDF("doc_id", "text")
    val hits = Curation.contaminated(docs, col("text"), col("doc_id"),
        col("doc_id") === 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet === Set(1L), hits)
  }

  test("oversized eval sets route to a shuffle join, same result") {
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, s"benchmark question $run and its answer"),
      (1L, s"scraped page containing $run verbatim"),
      (2L, "completely unrelated words nothing shared here at all")
    ).toDF("doc_id", "text")
    def run1(limit: Long) = Curation.contaminated(docs, col("text"),
        col("doc_id"), col("doc_id") === 0L, broadcastShingleLimit = limit)
    assert(run1(0L).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      run1(Long.MaxValue).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // and the oversized route carries NO broadcast hint (AQE may still
    // pick broadcast at runtime for a genuinely tiny side — the route's
    // job is only to never FORCE a huge side onto the driver), while
    // the in-limit route does hint
    assert(!run1(0L).queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast"))
    assert(run1(Long.MaxValue).queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast"))
  }

  test("bloom decontamination is exact: identical to the set-based path") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = hits(Curation.contaminated(docs, col("text"),
      col("doc_id"), col("doc_id") % 20 === 0))
    val bloomed = hits(Curation.contaminatedBloom(docs, col("text"),
      col("doc_id"), col("doc_id") % 20 === 0))
    assert(exact.nonEmpty) // non-degenerate: the corpus has real hits
    assert(bloomed === exact)
  }

  test("bloom false positives die in the verify join even at fpp 0.5") {
    // an absurdly leaky sketch floods the prefilter with false
    // positives; the exact verify join must still yield the exact
    // answer — the sketch only ever decides how much work the join
    // sees, never what the operator returns
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(
      hits(Curation.contaminatedBloom(docs, col("text"), col("doc_id"),
        col("doc_id") % 20 === 0, fpp = 0.5)) ===
      hits(Curation.contaminated(docs, col("text"), col("doc_id"),
        col("doc_id") % 20 === 0)))
  }

  test("empty eval set: both decontamination paths return empty, no throw") {
    // no doc matches the eval predicate — the exact path's broadcast
    // set and the bloom path's sketch are both EMPTY; each must yield
    // zero hits (an empty sketch that flagged anything would poison
    // the corpus scan)
    val docs = Seq(
      (1L, "some ordinary training document with plenty of words in it to shingle"),
      (2L, "another training document with enough words for an eight gram here"))
      .toDF("doc_id", "text")
    assert(Curation.contaminated(docs, col("text"), col("doc_id"),
      lit(false)).count() === 0)
    assert(Curation.contaminatedBloom(docs, col("text"), col("doc_id"),
      lit(false)).count() === 0)
  }

  test("stratified sample: per-stratum cap, deterministic, subset of input") {
    val docs = spark.range(200)
      .select(col("id").as("doc_id"), (col("id") % 7).cast("string").as("source"))
    def ids = Curation.sampleStratified(docs, col("source"), col("doc_id"), 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val first = ids
    assert(first === ids) // deterministic: same rows on re-run
    val bySource = Curation.sampleStratified(docs, col("source"), col("doc_id"), 5)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySource.values.forall(_ <= 5) && bySource.size === 7)
    assert(first.toSet.subsetOf((0L until 200L).toSet))
  }

  test("mixture sample: per-stratum quota is max(1, floor(4*sqrt(n)))") {
    // skewed strata: 1, 10, 100 docs
    val docs = spark.range(111).select(col("id").as("doc_id"),
      when(col("id") < 1, "tiny").when(col("id") < 11, "mid")
        .otherwise("huge").as("source"))
    val got = Curation.sampleMixture(docs, col("source"), col("doc_id"))
      .groupBy("source").count().as[(String, Long)].collect().toMap
    def quota(n: Int) = math.max(1L, math.floor(4.0 * math.sqrt(n)).toLong)
    assert(got === Map(
      "tiny" -> math.min(1L, quota(1)),
      "mid" -> math.min(10L, quota(10)),
      "huge" -> quota(100)))
    // the flattening: huge is 100x tiny in size but only ~10x in quota
    assert(got("huge") <= 40L)
  }

  test("pii scrub redacts emails and phone runs, leaves prose intact") {
    val docs = Seq(
      (1L, "mail jane.doe+x@sub.example.co.uk or 555-1234 today"),
      (2L, "no pii in this one 12-34 not a phone a@b not an email")
    ).toDF("doc_id", "text")
    val out = Curation.piiScrub(docs, col("text"), col("doc_id"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "mail <EMAIL> or <PHONE> today")
    assert(out(2L) === "no pii in this one 12-34 not a phone a@b not an email")
  }

  test("ngramOverlap scores every doc with ratio and threshold flag") {
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, s"$run benchmark answer text here"),                 // eval
      // 9 tokens -> 2 distinct shingles, BOTH inside the eval run's
      // shingle window? construct: run + one extra token gives
      // shingles [1..8]=run (hit) and [2..9] (miss) -> ratio 0.5
      (1L, s"$run trailing"),
      (2L, "totally different words nothing shared across this one lone doc"),
      (3L, "short doc")
    ).toDF("doc_id", "text")
    val got = Curation.ngramOverlap(docs, col("text"), col("doc_id"),
        col("doc_id") === 0L)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    // doc 3 (< 8 tokens) emits no shingles and no row
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === ((2L, 1L, 0.5, true)))
    // 10 tokens -> 3 distinct shingles, none shared with eval
    val (n2, h2, r2, c2) = got(2L)
    assert(n2 === 3L && h2 === 0L && r2 === 0.0 && !c2)
  }

  test("qualityTopPercent: exact integer cut per stratum, ties by id") {
    // stratum A: 10 docs, distinct qualities -> exactly 3 kept (30%);
    // stratum B: 3 docs -> floor? rnk*10 <= 3*3=9 -> none? rnk=1 -> 10<=9
    // false -> ZERO kept: the exact cut never rounds up
    val good = "the and of to a in is that the and" // all stopwords+alpha
    val docs =
      (1 to 10).map(i => (i.toLong, ("z " * i) + good, "A")) ++
      (11 to 13).map(i => (i.toLong, ("z " * i) + good, "B"))
    val d = docs.toDF("doc_id", "text", "lang")
    val kept = Curation.qualityTopPercent(d, col("text"), col("doc_id"),
        col("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(kept.count(_._1 == "A") === 3)
    assert(kept.count(_._1 == "B") === 0)
    // more z-padding dilutes stopword density -> lowest ids best
    assert(kept.filter(_._1 == "A").map(_._2).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("dsirScores: target-only features score positive, anti-target negative") {
    // target docs (is_t) share bigram vocab "aa bb"; non-target "cc dd".
    // a doc made of target-typical bigrams must outscore one of
    // corpus-but-not-target bigrams.
    val docs = (
      (1 to 20).map(i => (i.toLong, "aa bb aa bb aa bb", true)) ++
      (21 to 40).map(i => (i.toLong, "cc dd cc dd cc dd", false))
    ).toDF("doc_id", "text", "is_t")
    val r = Curation.dsirScores(docs, col("text"), col("doc_id"), col("is_t"))
      .collect().map(x => (x.getLong(0), x.getDouble(2))).toMap
    assert(r(1L) > 0.0 && r(21L) < 0.0)
    assert(math.abs(r(1L) - r(20L)) < 1e-9) // identical text, identical score
  }

  test("ccnetBuckets: typical-transition docs head, unique ones tail, thirds exact") {
    // 6 docs in one stratum: 2 made of the corpus-dominant bigram,
    // 2 mixed, 2 of globally-unique transitions → 2/2/2 tertiles
    val docs = Seq(
      (1L, "aa bb aa bb aa bb", "en"),
      (2L, "aa bb aa bb aa bb", "en"),
      (3L, "aa bb cc dd ee ff", "en"),
      (4L, "aa bb gg hh ii jj", "en"),
      (5L, "k1 k2 k3 k4 k5 k6", "en"),
      (6L, "m1 m2 m3 m4 m5 m6", "en")
    ).toDF("doc_id", "text", "lang")
    val r = Curation.ccnetBuckets(docs, col("text"), col("doc_id"), col("lang"))
      .collect().map(x => x.getLong(1) -> x.getString(4)).toMap
    assert(r(1L) === "head" && r(2L) === "head")
    assert(r(3L) === "middle" && r(4L) === "middle")
    assert(r(5L) === "tail" && r(6L) === "tail")
    // a sub-2-token doc has no transitions and no bucket
    val withShort = docs.unionByName(Seq((7L, "solo", "en"))
      .toDF("doc_id", "text", "lang"))
    val r2 = Curation.ccnetBuckets(withShort, col("text"), col("doc_id"), col("lang"))
    assert(!r2.collect().map(_.getLong(1)).contains(7L))
  }

  test("dsir indexed: persisted weights serve the identical scores, one Aggregate") {
    val docs = (
      (1 to 20).map(i => (i.toLong, "aa bb aa bb aa bb", true)) ++
      (21 to 40).map(i => (i.toLong, "cc dd cc dd cc dd", false))
    ).toDF("doc_id", "text", "is_t")
    val dir = tempDir("dsirw")
    Curation.dsirWeights(docs, col("text"), col("doc_id"), col("is_t"))
      .write.parquet(s"$dir/w")
    val w = spark.read.parquet(s"$dir/w")
    val served = Curation.dsirScoreWithWeights(docs, col("text"), col("doc_id"), w)
    // build-once contract: the steady-state plan has NO corpus-wide
    // fit — its only Aggregate is the per-doc reassembly (the
    // from-scratch spelling plans three: bucket counts, totals, docs)
    val nAgg = served.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    assert(nAgg === 1, served.queryExecution.optimizedPlan.toString)
    val scratch = Curation.dsirScores(docs, col("text"), col("doc_id"), col("is_t"))
    assert(served.collect().map(_.toSeq).toSeq ===
      scratch.collect().map(_.toSeq).toSeq)
  }
}
