package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("cosine of a vector with itself is 1") {
    val df = Seq((1L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val c = df.select(Similarity.cosine(col("embedding"), col("embedding"))).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("brute top-k returns k sorted neighbors per query") {
    val res = Similarity.bruteTopK(emb, emb.where(col("vec_id") < 3), k = 4)
      .select("qid", "rnk", "cos").collect()
    assert(res.length === 12)
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cs = rows.sortBy(_.getLong(1)).map(_.getDouble(2))
      assert(cs.sorted.reverse.sameElements(cs)) // descending
    }
  }

  private def recallAt5(approx: org.apache.spark.sql.DataFrame,
                        brute: Set[(Long, Long)]): Double = {
    val a = approx.select("qid", "nbr").as[(Long, Long)].collect().toSet
    (brute & a).size.toDouble / brute.size
  }

  test("lsh recall@5 >= 0.9 vs brute force") {
    val q = emb.where(col("vec_id") < 20)
    val brute = Similarity.bruteTopK(emb, q, 5)
      .select("qid", "nbr").as[(Long, Long)].collect().toSet
    val r = recallAt5(Similarity.lshTopK(emb, q, 5), brute)
    assert(r >= 0.9, s"lsh recall@5 = $r")
  }

  test("ivf recall@5 >= 0.9 vs brute force") {
    val q = emb.where(col("vec_id") < 20)
    val brute = Similarity.bruteTopK(emb, q, 5)
      .select("qid", "nbr").as[(Long, Long)].collect().toSet
    // the synthetic test embeddings are near-uniform (no cluster
    // structure), the hardest case for coarse routing — nprobe=5/8
    // reaches 0.92 here; clustered real corpora route at nprobe≪nlist
    val r = recallAt5(Similarity.ivfTopK(emb, q, 5, nlist = 8, nprobe = 5), brute)
    assert(r >= 0.9, s"ivf recall@5 = $r")
  }

  test("ivf quantizer fits on a sample and reuses precomputed centroids") {
    val cents = Similarity.ivfCentroids(emb, nlist = 8, sampleFraction = 0.5)
    assert(cents.length === 8)
    val q = emb.where(col("vec_id") < 5)
    val viaPre = Similarity.ivfTopK(emb, q, 3, centroids = Some(cents))
      .collect().map(_.toString)
    val viaPre2 = Similarity.ivfTopK(emb, q, 3, centroids = Some(cents))
      .collect().map(_.toString)
    assert(viaPre.sameElements(viaPre2)) // deterministic given centroids
  }

  test("multi-probe recovers the recall that narrower bands lose") {
    val q = emb.where(col("vec_id") < 20)
    val brute = Similarity.bruteTopK(emb, q, 5)
      .select("qid", "nbr").as[(Long, Long)].collect().toSet
    // bands=4 ⇒ r=4 ⇒ 2^4 buckets per band: 4× fewer collisions per
    // band than the r=2 default, but single-probe recall collapses on
    // this wide-angle corpus…
    val single = recallAt5(
      Similarity.lshTopK(emb, q, 5, bands = 4), brute)
    assert(single < 0.6, s"single-probe r=4 recall unexpectedly high: $single")
    // …and probing each band's 1-bit-flip buckets (query side only —
    // the corpus never expands) restores it past the 0.9 bar
    val probed = recallAt5(
      Similarity.lshTopK(emb, q, 5, bands = 4, multiProbe = 4), brute)
    assert(probed >= 0.9, s"multi-probe r=4 recall: $probed")
  }

  test("pq recall@5 >= 0.9 vs brute force (ADC shortlist + exact rerank)") {
    val q = emb.where(col("vec_id") < 20)
    val brute = Similarity.bruteTopK(emb, q, 5)
      .select("qid", "nbr").as[(Long, Long)].collect().toSet
    // default m=16 ks=16 (one 64-bit code word) + shortlist-80 rerank:
    // on this near-uniform corpus (the hard case — no cluster
    // structure for the codebooks to exploit) ADC alone ranks weakly,
    // and the exact rerank of the shortlist restores recall; on
    // clustered real corpora a far smaller shortlist suffices
    val books = Similarity.pqCodebooks(emb, sampleFraction = 0.5)
    val r = recallAt5(Similarity.pqTopK(emb, q, 5, books), brute)
    assert(r >= 0.9, s"pq recall@5 = $r")
  }

  test("ivf-pq recall@5 >= 0.9 vs brute force (routed ADC + exact rerank)") {
    val q = emb.where(col("vec_id") < 20)
    val brute = Similarity.bruteTopK(emb, q, 5)
      .select("qid", "nbr").as[(Long, Long)].collect().toSet
    val cents = Similarity.ivfPqCentroids(emb, nlist = 8, sampleFraction = 0.5)
    val books = Similarity.pqCodebooks(emb, sampleFraction = 0.5)
    // nprobe=6/8 on the near-uniform corpus (coarse routing's hardest
    // case, as for plain IVF above); the scan composes both bounds —
    // 6/8 of the codes, 8 B each
    val r = recallAt5(
      Similarity.ivfPqTopK(emb, q, 5, cents, books, nprobe = 6), brute)
    assert(r >= 0.9, s"ivf-pq recall@5 = $r")
  }

  test("pq codes pack m nearest-centroid indices into one long") {
    // handcrafted 4-dim corpus, m=2 subspaces with 2 centroids each:
    // argmin per subspace is computable by eye
    val books: Array[Array[Array[Float]]] = Array(
      Array(Array(0f, 0f), Array(10f, 10f)),   // subspace 0: codes 0/1
      Array(Array(5f, 5f), Array(-5f, -5f)))   // subspace 1: codes 0/1
    val df = Seq(
      (1L, Array(0.1f, -0.2f, 4.8f, 5.1f)),    // sub0→code0, sub1→code0
      (2L, Array(9.7f, 10.2f, -4.9f, -5.2f)),  // sub0→code1, sub1→code1
      (3L, Array(9.9f, 9.9f, 5.5f, 4.5f)))     // sub0→code1, sub1→code0
      .toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), books).as("code"))
      .as[(Long, Long)].collect().toMap
    // bits=1 per code: packed = code0 | code1 << 1
    assert(got(1L) === 0L)
    assert(got(2L) === (1L | (1L << 1)))
    assert(got(3L) === 1L)
  }

  test("pq codebooks persist and reopen via the build-once lifecycle") {
    val dir = tempDir("pq") + "/books"
    var fits = 0
    def fit = { fits += 1; Similarity.pqCodebooks(emb, sampleFraction = 0.5) }
    val b1 = Similarity.havePqCodebooks(spark, dir)(fit)
    val b2 = Similarity.havePqCodebooks(spark, dir)(fit)
    assert(fits === 1) // fit ran once; second call loaded
    assert(b1.length === 16 && b2.length === 16)
    assert(b1.map(_.map(_.toSeq).toSeq).toSeq ===
      b2.map(_.map(_.toSeq).toSeq).toSeq) // bit-identical reload
    val q = emb.where(col("vec_id") < 5)
    val viaLoaded = Similarity.pqTopK(emb, q, 3, b2).collect().map(_.toString)
    val viaFitted = Similarity.pqTopK(emb, q, 3, b1).collect().map(_.toString)
    assert(viaLoaded.sameElements(viaFitted))
  }

  test("centroids persist and reopen via the build-once store lifecycle") {
    val dir = tempDir("ivf") + "/centroids"
    var fits = 0
    def fit = { fits += 1; Similarity.ivfCentroids(emb, nlist = 8, sampleFraction = 0.5) }
    val c1 = Similarity.haveCentroids(spark, dir)(fit)
    val c2 = Similarity.haveCentroids(spark, dir)(fit)
    assert(fits === 1) // k-means ran once; second call loaded
    assert(c1.length === 8 && c2.length === 8)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq) // bit-identical reload
    // queries against loaded centroids equal queries against fitted ones
    val q = emb.where(col("vec_id") < 5)
    val viaLoaded = Similarity.ivfTopK(emb, q, 3, centroids = Some(c2))
      .collect().map(_.toString)
    val viaFitted = Similarity.ivfTopK(emb, q, 3, centroids = Some(c1))
      .collect().map(_.toString)
    assert(viaLoaded.sameElements(viaFitted))
  }

  test("lsh pair enumeration: recall >= 0.9 and precision 1.0 vs exact pairs") {
    // the corpus has no high-cosine pairs (max pairwise cos 0.51), so
    // the near-dup phenomenon is planted: jittered copies at cos≈0.97.
    // BOTH sides see the same augmented frame — the exact quadratic
    // verifier defines truth, the banded operator is graded against it.
    val aug = Similarity.plantNearDups(emb)
    val exact = Similarity.cosinePairs(aug, 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshCosinePairs(aug, 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "planting produced no exact pairs")
    assert((lsh -- exact).isEmpty, // in-bucket exact verify ⇒ no false positives
      s"lsh invented pairs: ${(lsh -- exact).take(5)}")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"lsh pair recall = $recall")
  }

  test("lsh pair scores are bit-identical to the exact baseline's") {
    val aug = Similarity.plantNearDups(emb)
    val exact = Similarity.cosinePairs(aug, 0.8)
      .as[(Long, Long, Double)].collect().toMap2
    val lsh = Similarity.lshCosinePairs(aug, 0.8)
      .as[(Long, Long, Double)].collect().toMap2
    lsh.foreach { case (k, c) => assert(exact(k) === c) }
  }

  private implicit class TripleOps(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[(Long, Long), Double] =
      rows.map { case (a, b, c) => (a, b) -> c }.toMap
  }

  test("planted near-dups land in the near-dup cosine regime") {
    val aug = Similarity.plantNearDups(emb)
    val planted = aug.where(col("vec_id") >= 1000000L)
    val joined = planted.select((col("vec_id") - 1000000L).as("vec_id"),
        col("embedding").as("e2"))
      .join(emb, "vec_id")
    val cosines = joined
      .select(Similarity.cosine(col("embedding"), col("e2"))).as[Double].collect()
    assert(cosines.nonEmpty)
    cosines.foreach(c => assert(c > 0.9 && c < 1.0, s"planted cos $c"))
  }

  test("hyperplane signature is deterministic") {
    val s1 = emb.select(Similarity.hyperplaneSig(col("embedding"), 64, 16)).collect()
    val s2 = emb.select(Similarity.hyperplaneSig(col("embedding"), 64, 16)).collect()
    assert(s1.map(_.getLong(0)).sameElements(s2.map(_.getLong(0))))
  }

  test("semDedup: planted recall within clusters, precision, dup_of naming") {
    val aug = Similarity.plantNearDupsPortable(emb)
    val rows = Similarity.semDedup(aug, minCos = 0.8).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2), r.getLong(3))))
      .toMap
    assert(rows.size === aug.count())
    val planted = rows.keys.filter(_ >= 1000000L)
    assert(planted.nonEmpty)
    // precision: ONLY planted copies get dropped (original corpus is
    // near-orthogonal at dim 64 — no accidental 0.8-cosine pairs)
    rows.foreach { case (id, (_, kept, dupOf)) =>
      if (id < 1000000L) assert(kept && dupOf === -1L, s"orig $id dropped")
    }
    // recall: within-cluster recall is EXACTLY 1.0 — a planted copy
    // is missed if and only if the ±eps jitter flipped its argmin
    // across a cluster boundary (the published SemDeDup miss); every
    // same-cluster copy is dropped and names its source as dup_of
    var sameCluster = 0
    planted.foreach { id =>
      val (list, kept, dupOf) = rows(id)
      val (srcList, _, _) = rows(id - 1000000L)
      if (list == srcList) {
        sameCluster += 1
        assert(!kept && dupOf === id - 1000000L, s"same-cluster $id kept")
      } else assert(kept, s"cross-cluster $id dropped")
    }
    // the planting isn't degenerate: most copies stay in-cluster
    assert(sameCluster.toDouble / planted.size >= 0.8)
  }
}
