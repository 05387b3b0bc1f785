package graft

import org.apache.spark.sql.functions._
import graft.ops.Search

/** Hand-computed fixtures for the retrieval operators (§2c.40/40b) and
  * the funnel/retention analytics rows (§2b.22n/22o get their exactness
  * from the DuckDB oracle; here the semantics are pinned on fixtures a
  * human can verify by eye).
  */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  test("bm25: tf saturation, idf ordering, dl normalization by hand") {
    // corpus: 4 docs. N=4, S=2+2+2+6=12, avgdl=3.
    val docs = Seq(
      (1L, "cat dog"),   // tf(cat)=1, dl=2
      (2L, "cat cat"),   // tf(cat)=2, dl=2
      (3L, "dog dog"),   // cat absent
      (4L, "cat mouse mouse mouse mouse mouse") // tf=1 but dl=6
    ).toDF("doc_id", "text")
    val r = Search.bm25TopK(docs, col("text"), col("doc_id"), Seq("cat"), 4)
      .collect().map(x => (x.getLong(1), x.getDouble(2))).toMap

    // df(cat)=3; idf = round(ln((2*4+2)/(2*3+1)), 6) = round(ln(10/7), 6)
    val idf = BigDecimal(math.log(10.0 / 7.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def tfsat(tf: Long, dl: Long): Double =
      (22.0 * 12 * tf) / (10.0 * 12 * tf + 3 * 12 + 9 * 4 * dl)
    def exp(tf: Long, dl: Long): Double =
      BigDecimal(idf * tfsat(tf, dl))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    assert(r(1L) === exp(1, 2))
    assert(r(2L) === exp(2, 2))
    assert(r(4L) === exp(1, 6))
    // docs containing no query term are NOT results (the positive-
    // score contract both bm25 spellings share)
    assert(!r.contains(3L))
    // semantics: doubled tf scores higher but sub-2x (saturation);
    // same tf in a longer doc scores lower (length normalization)
    assert(r(2L) > r(1L) && r(2L) < 2 * r(1L))
    assert(r(4L) < r(1L))
  }

  test("bm25: multi-term sum is fixed-order and absent terms contribute 0") {
    val docs = Seq((1L, "cat dog"), (2L, "cat cat dog fish")).toDF("doc_id", "text")
    val both = Search.bm25TopK(docs, col("text"), col("doc_id"),
      Seq("cat", "fish"), 2).collect().map(x => (x.getLong(1), x.getDouble(2))).toMap
    val catOnly = Search.bm25TopK(docs, col("text"), col("doc_id"),
      Seq("cat"), 2).collect().map(x => (x.getLong(1), x.getDouble(2))).toMap
    // doc 1 has no 'fish': its two-term score equals its cat-only score
    assert(math.abs(both(1L) - catOnly(1L)) < 2e-6)
    assert(both(2L) > catOnly(2L))
  }

  test("indexed bm25 serves from postings only and matches from-scratch") {
    val docs = Seq(
      (1L, "cat dog bird"), (2L, "cat cat dog"), (3L, "dog dog dog"),
      (4L, "cat mouse mouse mouse"), (5L, "bird bird cat dog cat")
    ).toDF("doc_id", "text")
    val dir = tempDir("bm25ix")
    Search.bm25Postings(docs, col("text"), col("doc_id"))
      .write.parquet(s"$dir/postings")
    Search.bm25Totals(docs, col("text"), col("doc_id"))
      .write.parquet(s"$dir/totals")
    val post = spark.read.parquet(s"$dir/postings")
    val tot = spark.read.parquet(s"$dir/totals")
    val served = Search.bm25TopKIndexed(post, tot, Seq("cat", "dog"), 5)
    // steady-state plan never touches the corpus: every relation the
    // optimized plan reads is rooted under the artifact dirs (the
    // rowsOf index-only contract applied to retrieval; the physical
    // leaves hide behind AdaptiveSparkPlanExec, so assert on the
    // optimized logical plan's relations)
    val roots = served.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    assert(roots.nonEmpty && roots.forall(_.contains(dir)), roots)
    // and the result is hash-identical to the from-scratch spelling
    val scratch = Search.bm25TopK(docs, col("text"), col("doc_id"),
      Seq("cat", "dog"), 5)
    assert(served.collect().map(_.toSeq).toSeq ===
      scratch.collect().map(_.toSeq).toSeq)
  }

  test("phrase search: consecutive positions only, with counts") {
    val docs = Seq(
      (1L, "merge sort is merge sort"), // 2 matches
      (2L, "sort merge"),               // reversed — no match
      (3L, "merge fast sort"),          // gap — no match
      (4L, "a merge sort b")            // 1 match
    ).toDF("doc_id", "text")
    val r = Search.phraseSearch(docs, col("text"), col("doc_id"), "merge sort")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r === Map(1L -> 2L, 4L -> 1L))
  }

  test("phrase search: 3-word phrases and overlapping self-matches") {
    val docs = Seq(
      (1L, "go go go go"),   // "go go go" matches at pos 0,1 → 2
      (2L, "go go stop go")
    ).toDF("doc_id", "text")
    val r = Search.phraseSearch(docs, col("text"), col("doc_id"), "go go go")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r === Map(1L -> 2L))
  }

  test("event transitions: hand-checked markov counts and row-normalized p") {
    import java.sql.Timestamp
    def t(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // user 1: a->b->a ; user 2: a->b ; transitions: a>b ×2, b>a ×1
    val events = Seq(
      (1L, t(1), 1L, "a"), (2L, t(2), 1L, "b"), (3L, t(3), 1L, "a"),
      (4L, t(1), 2L, "a"), (5L, t(2), 2L, "b"))
      .toDF("event_id", "ts", "user_id", "event_type")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = events
      .select(col("user_id"), col("event_type").as("src"),
        lead("event_type", 1).over(w).as("dst"))
      .where(col("dst").isNotNull)
    val counts = pairs.groupBy("src", "dst")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"))
    val got = counts.select(col("src"), col("dst"), col("n"), col("users"),
        round(col("n").cast("double") /
          sum("n").over(Window.partitionBy("src")), 6).as("p"))
      .orderBy("src", "dst")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(got === Seq(("a", "b", 2L, 2L, 1.0), ("b", "a", 1L, 1L, 1.0)))
  }

  test("funnel window chain equals the three-join spelling on a fixture") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // u1 completes; u2 clicks before viewing (click must not count);
    // u3 views only; u4 purchases before clicking (no stage 3)
    val ev = Seq(
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      (2L, ts(1), "click"), (2L, ts(2), "view"), (2L, ts(3), "click"),
      (3L, ts(1), "view"),
      (4L, ts(1), "view"), (4L, ts(2), "purchase"), (4L, ts(3), "click")
    ).toDF("user_id", "ts", "event_type")
      .withColumn("value", lit(0.0)).withColumn("event_id", col("user_id"))

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    val perUser = ev
      .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" && col("ts") > col("t1"), col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" && col("ts") > col("t2"), col("ts"))).over(w))
      .select("user_id", "t1", "t2", "t3").distinct()
      .collect().map(r => (r.getLong(0), (r.get(1) != null, r.get(2) != null, r.get(3) != null))).toMap
    assert(perUser(1L) === ((true, true, true)))
    assert(perUser(2L) === ((true, true, false)))
    assert(perUser(3L) === ((true, false, false)))
    assert(perUser(4L) === ((true, true, false)))
  }

  test("hybrid rrf: fusion recomputed exactly from the two legs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val terms = Seq("spark", "merge", "window")

    val lex = Search.bm25TopK(docs, col("text"), col("doc_id"), terms, 50)
      .select("doc_id", "rnk").as[(Long, Long)].collect().toMap
    val sem = graft.ops.Similarity
      .bruteTopK(emb, emb.where(col("vec_id") === 7L), 50)
      .select("nbr", "rnk").as[(Long, Long)].collect().toMap

    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (lex.keySet ++ sem.keySet).toSeq.map { id =>
      val s = lex.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        sem.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (id, lex.getOrElse(id, 0L), sem.getOrElse(id, 0L), r9(s))
    }.sortBy { case (id, _, _, s) => (-s, id) }.take(20)

    val got = Search.hybridRrf(docs, col("text"), col("doc_id"), emb,
        terms, qid = 7L)
      .select("doc_id", "lex_rnk", "sem_rnk", "rrf")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === expected)
    // both legs actually contribute docs to the fused top-20
    assert(got.exists(_._2 > 0) && got.exists(_._3 > 0))
  }
}
