package graft

import graft.ops.{Dedup, LongUnionFind}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (3L, "completely different text with other words entirely here now"),
    (4L, "spark makes distributed dataframes scale to very large clusters")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val g = Dedup.exact(docs, col("text"), col("doc_id")).collect()
    assert(g.length === 4) // 0 and 2 collapse
    val dup = g.find(_.getLong(1) == 2).get
    assert(dup.getLong(2) === 0L) // keep min id
  }

  test("ngram jaccard finds near-dups, not unrelated docs") {
    val pairs = Dedup.ngramJaccard(docs, col("text"), col("doc_id"), minJaccard = 0.3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L))) // exact dup: jaccard 1
    assert(pairs.contains((0L, 1L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH agrees with exact jaccard on real corpus") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val exact = Dedup.ngramJaccard(corpus, col("text"), col("doc_id"))
      .select("a", "b").as[(Long, Long)].collect().toSet
    val approx = Dedup.minhashLsh(corpus, col("text"), col("doc_id"))
      .select("a", "b").as[(Long, Long)].collect().toSet
    // high-similarity pairs (θ=0.5 on both) should agree almost fully
    val recall = (exact & approx).size.toDouble / math.max(exact.size, 1)
    assert(recall >= 0.9, s"recall $recall; exact=${exact.size} approx=${approx.size}")
  }

  test("incremental cross-corpus minhash recovers the exact cross-Jaccard pairs") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    // exact cross pairs: ngramJaccard over everything, keep pairs that
    // straddle the batch/corpus split, oriented (new, corpus)
    val exactCross = Dedup.ngramJaccard(corpus, col("text"), col("doc_id"))
      .select("a", "b").as[(Long, Long)].collect().toSet
      .filter(p => (p._1 % 5 == 3) != (p._2 % 5 == 3))
      .map(p => if (p._1 % 5 == 3) p else p.swap)
    val approx = Dedup.minhashLshCross(
        corpus.where(col("doc_id") % 5 === 3),
        corpus.where(col("doc_id") % 5 =!= 3),
        col("text"), col("doc_id"))
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(exactCross.nonEmpty) // non-degenerate on this corpus
    // orientation contract: new ids on the left, corpus ids on the right
    assert(approx.forall(p => p._1 % 5 == 3 && p._2 % 5 != 3))
    val recall = (exactCross & approx).size.toDouble / exactCross.size
    assert(recall >= 0.9,
      s"recall $recall; exact=${exactCross.size} approx=${approx.size}")
  }

  test("cross dedup over a persisted corpus band table matches from-text") {
    // the incremental-pipeline lifecycle: corpus signatures persisted
    // once at ingest, each batch joins against the REOPENED parquet
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val batch = corpus.where(col("doc_id") % 5 === 3)
    val rest = corpus.where(col("doc_id") % 5 =!= 3)
    val dir = tempDir("graft_bands")
    Dedup.bandedSignatures(rest, col("text"), col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    val viaStore = Dedup.minhashLshCrossBands(
        Dedup.bandedSignatures(batch, col("text"), col("doc_id")),
        spark.read.parquet(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromText = Dedup.minhashLshCross(batch, rest,
        col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaStore === fromText)
    assert(viaStore.nonEmpty)
  }

  test("simhash banded pairs EXACTLY match brute-force hamming <= 3") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val fp = Dedup.simhash(corpus, col("text"), col("doc_id"))
    val brute = fp.as("x").join(fp.as("y"), col("x.doc_id") < col("y.doc_id"))
      .where(bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= 3)
      .select(col("x.doc_id"), col("y.doc_id"))
      .as[(Long, Long)].collect().toSet
    val banded = Dedup.simhashPairs(corpus, col("text"), col("doc_id"))
      .select("a", "b").as[(Long, Long)].collect().toSet
    // pigeonhole: 4 bands of 16 bits ⇒ any pair within hamming 3
    // shares ≥1 exact band, so banding is lossless, not approximate
    assert(banded === brute, s"banded=${banded.size} brute=${brute.size}")
  }

  test("simhash groups cluster transitive near-dups") {
    val near = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy cat tonight"),
      (3L, "entirely unrelated content about distributed query engines")
    ).toDF("doc_id", "text")
    val g = Dedup.simhashGroups(near, col("text"), col("doc_id"), maxHamming = 16)
      .collect()
    // 0-1-2 chain into one cluster (transitive); 3 stays out
    assert(g.length === 1)
    assert(g(0).getLong(1) === 3L) // n
    assert(g(0).getLong(2) === 0L) // keep_id = min
  }

  test("per-doc pair budget preserves cluster membership on the corpus") {
    // the m-NN cap bounds CC input to m·n edges; on the real test
    // corpus the capped and uncapped edge sets must produce the SAME
    // clusters (dense near-dup clusters stay connected through
    // nearest-neighbour chains)
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    def groups(cap: Int) =
      Dedup.simhashGroups(corpus, col("text"), col("doc_id"),
          maxPairsPerDoc = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(groups(8) === groups(Int.MaxValue))
  }

  test("minhash pair budget preserves clusters on the corpus") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Dedup.minhashLsh(corpus, col("text"), col("doc_id"))
    def labels(p: org.apache.spark.sql.DataFrame) =
      Dedup.clusters(p).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(Dedup.capPairsPerDoc(pairs, 8, -col("est_jaccard")))
      === labels(pairs))
  }

  test("minhash bucket cap keeps degenerate corpora from going quadratic") {
    val degenerate = spark.range(300).select(col("id").as("doc_id"),
      lit("the same boilerplate text repeated in every single document here").as("text"))
    // all 300 docs share every band bucket → bucket is hot → dropped;
    // candidate pair count stays 0 instead of 300²/2
    val pairs = Dedup.minhashLsh(degenerate, col("text"), col("doc_id"),
      maxBucket = 50)
    assert(pairs.count() === 0)
  }

  test("local union-find CC equals the iterative distributed path") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Dedup.minhashLsh(corpus, col("text"), col("doc_id"))
    def labels(limit: Long) =
      Dedup.clusters(pairs, localEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // limit=0 forces the iterative path; default routes this small
    // graph to single-task union-find — labelings must be identical
    val it = labels(0L)
    assert(it.nonEmpty)
    assert(labels(Long.MaxValue) === it)
  }

  test("primitive union-find equals iterative CC on a pseudo-random graph") {
    // 30k hash-random edges over 12k nodes (avg degree ~5 ⇒ a giant
    // component with logarithmic diameter) — big enough for real probe
    // runs, cluster merges and path compression, far past anything the
    // corpus specs exercise. xxhash64, NOT a congruential formula: a
    // linear map makes long structured cycles whose diameter defeats
    // round-bounded propagation.
    val edges = spark.range(30000).select(
      pmod(xxhash64(col("id")), lit(12000)).as("a"),
      pmod(xxhash64(col("id"), lit(1)), lit(12000)).as("b"))
      .where(col("a") =!= col("b"))
    def labels(limit: Long) =
      Dedup.clusters(edges, localEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = labels(Long.MaxValue)
    assert(local.nonEmpty)
    assert(labels(0L) === local)
  }

  test("union-find table growth preserves labels") {
    // start at the minimum capacity so a 10k-node chain forces ~10
    // doublings mid-stream; the chain's component min must survive
    // every remap
    val uf = new LongUnionFind(16)
    (0 until 10000).foreach(i => uf.union(i.toLong, i.toLong + 1))
    uf.union(20000L, 20001L)
    val m = uf.iterator.toMap
    assert(m.size === 10003)
    (0 to 10000).foreach(i => assert(m(i.toLong) === 0L, s"id $i"))
    assert(m(20000L) === 20000L && m(20001L) === 20000L)
  }

  test("non-integral ids fall through to the iterative path and succeed") {
    // the local route is long-only; routing must never change whether
    // a call succeeds — string ids take the iterative path even under
    // the default (local-eligible) edge limit
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y"))
      .toDF("a", "b")
    val got = Dedup.clusters(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("codegen'd sig_match_count equals the zip_with spelling on the corpus") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val sigs = corpus.select(col("doc_id"),
      Dedup.minhashSigCol(col("text"), k = 32).as("sig"))
    val pairs = sigs.as("x").join(sigs.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        graft.functions.MinHash.sigMatchCount(col("x.sig"), col("y.sig"))
          .as("native"),
        aggregate(
          zip_with(col("x.sig"), col("y.sig"),
            (p, q) => when(p === q, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).as("declarative"))
    assert(pairs.where(col("native") =!= col("declarative")).count() === 0)
    assert(pairs.where(col("native") > 0).count() > 0) // non-degenerate
  }

  test("containment catches short-inside-long pairs Jaccard misses") {
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val short = (1 to 12).map(i => s"w$i").mkString(" ") // pure prefix
    val other = (100 to 160).map(i => s"x$i").mkString(" ")
    val d = Seq((1L, long), (2L, short), (3L, other)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(d, col("text"), col("doc_id"),
        minContainment = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getLong(3)))).toMap
    // prefix shingles are a strict subset → containment exactly 1.0,
    // and the CONTAINED doc is the short one
    assert(cont === Map((1L, 2L) -> ((1.0, 2L))))
    // the same pair is invisible to Jaccard at θ=0.5: 10/58 ≈ 0.17
    val jac = Dedup.ngramJaccard(d, col("text"), col("doc_id"))
      .collect()
    assert(jac.isEmpty)
  }

  test("simhash is deterministic and groups exact dups") {
    val a = Dedup.simhash(docs, col("text"), col("doc_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.simhash(docs, col("text"), col("doc_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    assert(a(0L) === a(2L)) // identical text → identical fingerprint
    assert(a(0L) !== a(3L))
  }

  test("lineDedup drops cross-doc boilerplate lines, keeps unique ones in order") {
    val footer = "all rights reserved"
    val docs = Seq(
      (1L, s"alpha beta\n$footer"),
      (2L, s"gamma delta\n$footer\nepsilon"),
      (3L, s"zeta eta\n$footer"),
      (4L, "solo unique lines only\nanother one")
    ).toDF("doc_id", "text")
    val r = Dedup.lineDedup(docs, col("text"), col("doc_id"))
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(4)))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // the footer (3 distinct docs) is boilerplate; everything else kept
    assert(r(1L) === ((2L, 1L, md5hex("alpha beta"))))
    assert(r(2L) === ((3L, 1L, md5hex("gamma delta\nepsilon")))) // order kept
    assert(r(4L) === ((2L, 0L, md5hex("solo unique lines only\nanother one"))))
  }

  test("lineDedup: a doc of ONLY boilerplate scrubs to the empty-text hash") {
    val docs = Seq(
      (1L, "dup line"), (2L, "dup line"), (3L, "dup line\nnovel")
    ).toDF("doc_id", "text")
    val r = Dedup.lineDedup(docs, col("text"), col("doc_id"))
      .collect().map(x => x.getLong(0) -> x.getString(4)).toMap
    // md5("") — the pinned empty-keep sentinel, same constant in DuckDB
    assert(r(1L) === "d41d8cd98f00b204e9800998ecf8427e")
    // within-doc line_no order survives the scrub
    assert(r(3L) === java.security.MessageDigest.getInstance("MD5")
      .digest("novel".getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("plantLinedDocs folds 12-token lines and appends footers at %5/%7") {
    val docs = Seq(
      (35L, (1 to 25).map(i => s"w$i").mkString(" ")), // %5 and %7
      (11L, (1 to 12).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    val planted = Dedup.plantLinedDocs(docs, col("text"), col("doc_id"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    val l35 = planted(35L).split("\n")
    assert(l35.length === 5) // 3 fold lines (12+12+1 tokens) + 2 footers
    assert(l35(0) === (1 to 12).map(i => s"w$i").mkString(" "))
    assert(l35(2) === "w25")
    assert(l35(3) === "subscribe to our newsletter for updates")
    assert(l35(4) === "all rights reserved copyright notice")
    assert(planted(11L).split("\n").toSeq ===
      Seq((1 to 12).map(i => s"w$i").mkString(" ")))
  }
}
