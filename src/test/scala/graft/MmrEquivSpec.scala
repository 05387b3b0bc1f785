package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Search

/** r15 optimization round: `Search.mmrTopK`'s post-shortlist tail
  * (pair table + k greedy join rounds) was collapsed into per-query
  * array math. The scoring protocol (6dp cosines, 0.5·rel − 0.5·max
  * sim, argmax tie → smaller id) is unchanged, so the selection
  * sequences must agree exactly — pinned here against the former
  * v1 spelling (kept below as this spec's reference) on live data
  * across k/shortlist shapes, including a shortlist that exhausts
  * before k picks (the former per-step join just stopped producing
  * rows). The DuckDB mirror additionally
  * hash-gates the shipped query.
  */
class MmrEquivSpec extends SparkSpec {

  private def emb = graft.core.Tables.embeddings(spark, sfDir)

  private def run(k: Int, shortlist: Int, nq: Int) = {
    val q = emb.where(col("vec_id") < nq)
    val v2 = Search.mmrTopK(emb, col("embedding"), col("vec_id"),
      q, k, shortlist).collect().toSeq
    val v1 = mmrTopKV1(emb, col("embedding"), col("vec_id"),
      q, k, shortlist).collect().toSeq
    assert(v2 == v1, s"k=$k shortlist=$shortlist nq=$nq")
  }

  test("array tail equals v1 at the shipped shape (k=5, C=20)") {
    run(k = 5, shortlist = 20, nq = 10)
  }

  test("array tail equals v1 at k=1 and at k=shortlist") {
    run(k = 1, shortlist = 4, nq = 5)
    run(k = 3, shortlist = 3, nq = 5)
  }

  test("array tail equals v1 when the shortlist exhausts early") {
    // corpus of 4 vectors, queries among them: each query has only 3
    // candidates, so k=3 with shortlist=3 exhausts exactly and any
    // larger corpus subset exercises the absent-pick branch
    val tiny = emb.where(col("vec_id") < 4)
    val q = tiny.where(col("vec_id") < 2)
    val v2 = Search.mmrTopK(tiny, col("embedding"), col("vec_id"),
      q, 3, 3).collect().toSeq
    val v1 = mmrTopKV1(tiny, col("embedding"), col("vec_id"),
      q, 3, 3).collect().toSeq
    assert(v2 == v1)
  }

  /** The pre-r15 spelling of [[Search.mmrTopK]] — corpus re-join for
    * shortlist vectors, a localCheckpoint'd C²-per-query pair table,
    * and one 3-join + argmax Spark round per greedy step. Kept as
    * this spec's bit-equality reference for the r15 array-tail shape.
    */
  private def mmrTopKV1(emb: DataFrame, vec: Column, id: Column,
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
          .as("cos"))
    // built once, reused by every greedy step (and by the pair table
    // below): WITHOUT the checkpoint, the k-step foldLeft's final
    // plan re-runs the corpus-wide brute scoring + top-k 3(k−1)+1
    // times — measured 7.8 s for k=5 at sf0.1 vs ~1.5 s checkpointed.
    // localCheckpoint, not persist(): the Graph/Bpe cache-hygiene
    // contract (blocks GC-reclaimed, lineage truncated per step).
    val short = graft.ops.TopK.perGroup(scored, Seq(col("qid")),
        Seq(desc("cos"), asc("nbr")), shortlist, rankCol = "sl")
      .select(col("qid"), col("nbr"), col("cos"))
      .localCheckpoint()
    // attach shortlist vectors once (broadcast the tiny shortlist id
    // set against the corpus), then the ≤C²-per-query similarity table
    val shortE = emb.select(id.as("nbr"), vec.as("ne"),
        vecNorm(vec).as("nn"))
      .join(broadcast(short), "nbr")
    val pair = shortE.select(col("qid"), col("nbr").as("x"),
        col("ne").as("xe"), col("nn").as("xn"))
      .join(broadcast(shortE.select(col("qid"), col("nbr").as("y"),
        col("ne").as("ye"), col("nn").as("yn"))), Seq("qid"))
      .where(col("x") =!= col("y"))
      .select(col("qid"), col("x"), col("y"),
        round(vecDot(col("xe"), col("ye")) / (col("xn") * col("yn")), 6)
          .as("sim"))
      // ≤ C²·|q| rows (C=shortlist); every step joins against it
      .localCheckpoint()
    // greedy selection, k steps unrolled; per-query argmax via
    // min(struct(-score, id)) — no sort
    def argmax(cands: DataFrame, score: Column, step: Int): DataFrame =
      cands
        .groupBy("qid")
        .agg(min(struct(negate(score), col("nbr"), col("cos"))).as("m"))
        .select(col("qid"), lit(step.toLong).as(rankCol),
          col("m").getField("nbr").as("nbr"),
          col("m").getField("cos").as("cos"))
    val sel1 = argmax(short, col("cos"), 1)
    val selFinal = (2 to k).foldLeft(sel1) { (sel, step) =>
      val cands = short
        .join(sel.select(col("qid"), col("nbr")), Seq("qid", "nbr"),
          "left_anti")
        .join(pair.withColumnRenamed("x", "nbr")
          .withColumnRenamed("y", "snbr"), Seq("qid", "nbr"))
        .join(sel.select(col("qid"), col("nbr").as("snbr")),
          Seq("qid", "snbr"))
        .groupBy("qid", "nbr", "cos")
        .agg(max(col("sim")).as("ms"))
      val picked = argmax(cands,
        lit(0.5) * col("cos") - lit(0.5) * col("ms"), step)
      sel.unionByName(picked)
    }
    selFinal.orderBy("qid", rankCol)
  }
}
