package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.MlKernels

/** Lloyd's k-means over an embedding column, in EXACT integer
  * micro-units (the SURVEY §6 cross-engine protocol): components are
  * rounded once to long micros, squared-distance sums and centroid
  * means are pure integer arithmetic (floored division via the
  * portable (s − pmod(s,n)) div n identity), so a DuckDB mirror with
  * the iterations unrolled hashes identically — a full hash oracle
  * for an iterative ML operator (the same evidence pattern as the
  * portable dedup families).
  *
  * Determinism: init is the k lowest-id vectors (cluster ordinal =
  * id order); assignment argmin tie-breaks on cluster id; a cluster
  * that loses all members simply drops out of the next round's
  * centroid table on both engines.
  *
  * Scale shape (100 TB of embeddings): the centroid table is k rows —
  * ALWAYS the broadcast side of the assignment join (explicit
  * broadcast()), so each iteration is one map-only distance pass plus
  * one map-side-combinable (cluster, dim) aggregation; nothing
  * shuffles the vector table itself. The k-row argmin uses
  * min(struct(dist, cluster)) — no per-vector sort. Iterations are a
  * fixed small count; the vector scan is re-read per iteration (at
  * cluster scale: persist/checkpoint the micro table once).
  * Reference analog: ml/Knn.scala's distance loops (per-query exact
  * scans); k-means is the corpus-wide batch sibling the reference
  * leaves to its caller.
  */
object KMeans {

  /** (vec_id, embedding ARRAY<FLOAT>) → final assignment
    * (vec_id, cluster, dist2) after `iterations` Lloyd rounds;
    * dist2 is the squared L2 distance in micro² units.
    */
  def assign(df: DataFrame, vec: Column, id: Column,
             k: Int = 8, iterations: Int = 3): DataFrame = {
    require(k >= 1 && iterations >= 1)
    // the micro conversion is a native codegen'd loop expression (r16
    // optimization round: the `transform` spelling it replaced is
    // CodegenFallback, interpreted per CORPUS row; KernelEquivSpec
    // pins bit-equality, the hash oracle gates the operator end-to-end)
    val vm = df.select(id.as("vec_id"), MlKernels.vecMicro(vec).as("v"))
    assigned(vm, centroids(vm, k, iterations), carryV = false)
      .select(col("vec_id"), col("m.cluster").as("cluster"),
        col("m.dist2").as("dist2"))
      .orderBy("vec_id")
  }

  /** the ONE-row broadcast centroid table (`cents`: the sorted
    * (cluster, centroid) array) that the final assignment pass reads:
    * the k lowest-id vectors, then `iterations` − 1 Lloyd updates.
    * `vm` is the (vec_id, v ARRAY<BIGINT>) micro table.
    */
  private[graft] def centroids(vm: DataFrame, k: Int,
                               iterations: Int): DataFrame = {
    val w = Window.orderBy("vec_id")
    val c0 = vm.orderBy("vec_id").limit(k)
      .select((row_number().over(w) - 1).cast("long").as("cluster"),
        col("v").as("c"))
    (1 until iterations).foldLeft(toArr(c0)) { (cents, _) =>
      // centroid update: exact floored integer mean per (cluster, dim)
      // — the assignment rides the same map-only pass, so each Lloyd
      // round is ONE corpus-sized aggregation
      toArr(assigned(vm, cents, carryV = true)
        .select(col("m.cluster").as("cluster"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg(sum("x").as("s"), count(lit(1)).as("n"))
        .select(col("cluster"), col("dim"),
          expr("((s - pmod(s, n)) div n)").as("c"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          s => s.getField("c")).as("c")))
    }
  }

  // centroids ride as ONE broadcast row holding the sorted
  // (cluster, centroid) array; the per-row argmin is array math
  // (r15 optimization round — replaces the k× crossJoin row
  // explode + per-round groupBy(vec_id) reduce with a map-only
  // pass; same min(struct(dist2, cluster)) ordering, ties to the
  // smaller cluster id, so assignments are bit-identical). The
  // argmin is the native codegen'd [[MlKernels.kmArgMin]] loop.
  private def toArr(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(
      struct(col("cluster"), col("c")))).as("cents"))

  private def assigned(vm: DataFrame, centsArr: DataFrame,
                       carryV: Boolean): DataFrame =
    vm.crossJoin(broadcast(centsArr))
      .select(Seq(col("vec_id")) ++
        (if (carryV) Seq(col("v")) else Nil) :+
        MlKernels.kmArgMin(col("v"), col("cents")).as("m"): _*)
}
