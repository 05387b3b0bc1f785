package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** SURVEY §2b — the analytics queries an iodf user runs, TPC-H-shaped.
  *
  * Determinism protocol (SURVEY §6): money math goes through
  * DECIMAL(18,2) so sums are exact and engine/partition-order
  * independent, then back to DOUBLE for a stable parquet type. Every
  * output has a total ORDER BY.
  */
object Analytics {

  /** exact money sum: sum(decimal(x)) as double */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** snapshot-keyed build-once degree-attached trade-graph edge list
    * (customer–supplier pairs via orders ⋈ lineitem; the PageRank
    * faces iterate from this persisted artifact — ops/Graph
    * `edgesWithDegree` scaladoc). `mod10` is the converged row's
    * deterministic customer subsample.
    */
  private def prEdgesPersisted(s: SparkSession, d: String,
                               mod10: Boolean): DataFrame = {
    val key = graft.core.Artifacts.tableSnapshotKey(s, s"$d/orders.parquet") +
      graft.core.Artifacts.tableSnapshotKey(s, s"$d/lineitem.parquet")
    val suffix = if (mod10) "m10" else "full"
    val dir =
      s"${graft.core.Artifacts.datasetCacheDir(d)}/pr_edges_${suffix}_$key"
    graft.core.Artifacts.haveParquet(s, dir) {
      val o =
        if (mod10) Tables.orders(s, d)
          .where(pmod(col("o_custkey"), lit(10)) === 0)
        else Tables.orders(s, d)
      val edges = o.join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
        .distinct()
      graft.ops.Graph.edgesWithDegree(edges, col("a"), col("b"))
    }
  }

  /** exact discounted revenue sum: sum(dec(price) * (1 - dec(disc))) */
  private def revenue: Column =
    sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2b.15 — pricing summary (TPC-H Q1 shape): one scan, map-side
    // partial agg, 6-group output.
    "q1_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          revenue.as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // §2b.16 — shipping priority (TPC-H Q3 shape): broadcast the
    // filtered customer side; lineitem⋈orders shuffles on orderkey.
    "q3_join" -> ((s, d) => {
      val cust = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, d).where(col("o_orderdate") < lit("1998-01-01"))
      val li = Tables.lineitem(s, d).where(col("l_shipdate") > lit("1998-01-01"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(revenue.as("rev"))
        .orderBy(desc("rev"), asc("l_orderkey"))
        .limit(10)
    }),

    // §2b.17 — local supplier volume (TPC-H Q5 shape): region/nation/
    // supplier are broadcast dims; the fact joins shuffle once.
    "q5_join" -> ((s, d) => {
      val r = Tables.region(s, d).where(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
      val sup = Tables.supplier(s, d)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
                 col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(revenue.as("rev"))
        .orderBy(desc("rev"), asc("n_name"))
    }),

    // §2b.18 — pushed-down point predicate (index-lookup analog);
    // .explain must show PushedFilters on the parquet scan.
    "point_lookup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_quantity") === 50.0 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_partkey")
        .orderBy("l_orderkey", "l_linenumber")),

    // §2b.19 — global top-k (TakeOrderedAndProject: per-partition
    // partial top-k, no full sort shuffle).
    "topk_orders" -> ((s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)),

    // §2b.20 — per-customer ranking via window (partitionBy custkey
    // — natural key, one shuffle).
    "window_rank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          rank().over(w).cast("long").as("rnk"))
        .where(col("rnk") <= 3)
        .orderBy("o_custkey", "rnk", "o_orderkey")
    }),

    // §2b.21 — event-time tumbling window agg (batch form of the
    // streaming pipeline in graft.streaming).
    "events_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(
          date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("hour", "event_type")),

    // §2b.34 — set operations: customers who ordered in both halves
    // of the date range (INTERSECT) minus high-balance ones (EXCEPT).
    "set_ops" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val early = o.where(col("o_orderdate") < lit("1998-01-01")).select("o_custkey")
      val late = o.where(col("o_orderdate") >= lit("1998-01-01")).select("o_custkey")
      val rich = Tables.customer(s, d).where(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("o_custkey"))
      early.intersect(late).except(rich)
        .select(col("o_custkey").as("custkey"))
        .orderBy("custkey")
    }),

    // §2b.33 — as-of join: each event paired with the user's most
    // recent order at event time (union+window formulation — one
    // shuffle, no range-join explosion).
    // §2b.22l2 — the forward direction of the as-of join: for each
    // ORDER, the user's first event at or after the order date (the
    // "next touch after purchase" shape); same union+window plan
    "asof_join_forward" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val ev = Tables.events(s, d)
        .groupBy("user_id", "ts")
        .agg(max("event_id").as("event_id"))
      graft.ops.AsOf.join(
          ord, col("o_custkey"), col("o_orderdate"),
          ev, col("user_id"), col("ts"),
          Seq("event_id" -> col("event_id"), "ts" -> col("ts")),
          direction = "forward")
        .where(col("event_id").isNotNull)
        .select("o_orderkey", "o_custkey", "event_id", "ts")
        .orderBy("o_orderkey")
    }),

    "asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
      val ord = Tables.orders(s, d)
        .groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("o_orderkey"))
      graft.ops.AsOf.join(
          ev, col("user_id"), col("ts"),
          ord, col("o_custkey"), col("o_orderdate"),
          Seq("o_orderkey" -> col("o_orderkey"),
            "o_orderdate" -> col("o_orderdate")))
        .where(col("o_orderkey").isNotNull)
        .select("event_id", "user_id", "o_orderkey", "o_orderdate")
        .orderBy("event_id")
    }),

    // §2b.22l3 — the `nearest` direction: each event paired with the
    // user's CLOSEST order in time, either side, ties → backward
    // (AsOf.scala evaluates both window frames over one exchange).
    "asof_join_nearest" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
      val ord = Tables.orders(s, d)
        .groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("o_orderkey"))
      graft.ops.AsOf.join(
          ev, col("user_id"), col("ts"),
          ord, col("o_custkey"), col("o_orderdate"),
          Seq("o_orderkey" -> col("o_orderkey"),
            "o_orderdate" -> col("o_orderdate")),
          direction = "nearest")
        .where(col("o_orderkey").isNotNull)
        .select("event_id", "user_id", "o_orderkey", "o_orderdate")
        .orderBy("event_id")
    }),

    // §2b.22l5 — the SKEW-GUARDED spelling of asof_join: the same
    // backward join with each key's window sub-partitioned into
    // 7-day time buckets (boundaries patched by the carried
    // neighbouring-bucket row). Shares asof_join's oracle — the
    // bucketed plan must be bit-identical to the plain one; the
    // planted-hot-key straggler numbers live in SURVEY §5.
    "asof_join_bucketed" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
      val ord = Tables.orders(s, d)
        .groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("o_orderkey"))
      graft.ops.AsOf.join(
          ev, col("user_id"), col("ts"),
          ord, col("o_custkey"), col("o_orderdate"),
          Seq("o_orderkey" -> col("o_orderkey"),
            "o_orderdate" -> col("o_orderdate")),
          bucketTicks = Some(7L * 86400 * 1000000)) // 7 days in micros
        .where(col("o_orderkey").isNotNull)
        .select("event_id", "user_id", "o_orderkey", "o_orderdate")
        .orderBy("event_id")
    }),

    // §2b.22l4 — backward as-of with a TOLERANCE (pandas merge_asof
    // contract): matches farther than 30 days carry NULL payload, the
    // left row is kept. Nulls are sentinel-coalesced (-1 / epoch) so
    // the hash compare never meets engine-specific null encodings.
    "asof_join_tolerance" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
      val ord = Tables.orders(s, d)
        .groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("o_orderkey"))
      graft.ops.AsOf.join(
          ev, col("user_id"), col("ts"),
          ord, col("o_custkey"), col("o_orderdate"),
          Seq("o_orderkey" -> col("o_orderkey"),
            "o_orderdate" -> col("o_orderdate")),
          direction = "backward",
          toleranceTicks = Some(30L * 86400 * 1000000)) // 30 days in micros
        .select(col("event_id"), col("user_id"),
          coalesce(col("o_orderkey"), lit(-1L)).as("o_orderkey"),
          coalesce(col("o_orderdate"),
            lit("1970-01-01 00:00:00").cast("timestamp_ntz")).as("o_orderdate"))
        .orderBy("event_id")
    }),

    // §2b.22h — cumulative window: running order-count per customer in
    // date order (rows-frame running aggregation).
    "running_sum" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(w).as("running_n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // §2b.32 — exact interpolated quantiles per group.
    "quantiles" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"))
        .orderBy("l_returnflag")),

    // §2b.22k2 — sketch path for percentiles: mergeable KLL-style
    // approx_percentile (rows-only; SketchSpec asserts each estimate
    // within 1% relative of the exact interpolated percentile). At
    // 100 TB the exact path's per-group value collection is the
    // bottleneck; the sketch is fixed-size per group and map-side
    // mergeable — the same scale posture as index_approx's HLL.
    "quantiles_approx" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)")
          .as("pcts"))
        .select(col("l_returnflag"),
          round(col("pcts")(0), 4).as("p50"), round(col("pcts")(1), 4).as("p90"))
        .orderBy("l_returnflag")),

    // §2b.30 — pivot: returnflag × linestatus counts as columns.
    "pivot_status" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count_if(col("l_linestatus") === "O").as("n_o"),
          count_if(col("l_linestatus") === "F").as("n_f"))
        .orderBy("l_returnflag")),

    // §2b.31 — ordered collect: per-brand sorted size list (the
    // array_agg/string_agg shape).
    "agg_collect" -> ((s, d) =>
      Tables.part(s, d)
        .groupBy("p_brand")
        .agg(concat_ws(",",
          transform(array_sort(collect_list("p_size")), _.cast("string")))
          .as("sizes"))
        .orderBy("p_brand")),

    // §2b.28 — semi-structured extraction: schema'd from_json over the
    // props column, grouped stats on the extracted field. Catalyst
    // prunes unneeded JSON fields at parse time.
    "events_json" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"), lit("k INT")).getField("k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          max("k").as("max_k"))
        .orderBy("event_type")),

    // §2b.23 — existence filter as LEFT SEMI (no row duplication,
    // build side can broadcast): orders having a returned line.
    "semi_join" -> ((s, d) => {
      val ret = Tables.lineitem(s, d).where(col("l_returnflag") === "R")
        .select("l_orderkey")
      Tables.orders(s, d)
        .join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    // §2b.24 — negative existence as LEFT ANTI: customers with no orders.
    "anti_join" -> ((s, d) => {
      val o = Tables.orders(s, d).select("o_custkey")
      Tables.customer(s, d)
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // §2b.25 — post-aggregation filter (HAVING): brands with ≥ 5 parts.
    "agg_having" -> ((s, d) =>
      Tables.part(s, d)
        .groupBy("p_brand").agg(count(lit(1)).as("n"),
          countDistinct("p_type").cast("long").as("n_types"))
        .where(col("n") >= 5)
        .orderBy("p_brand")),

    // §2b.26 — scalar subquery: parts priced above the global average.
    "scalar_subquery" -> ((s, d) => {
      val p = Tables.part(s, d)
      val avgPrice = p.agg(
        (sum(col("p_retailprice").cast("decimal(18,2)")).cast("double")
          / count(lit(1))).as("a"))
      p.crossJoin(broadcast(avgPrice))
        .where(col("p_retailprice") > col("a"))
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy("p_partkey")
    }),

    // §2b.27 — rollup: counts at (flag,status), (flag), and () levels
    // in one pass (partial-aggregated like any groupBy).
    "rollup_counts" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // §2b.22 — gap-based sessionization per user via lag window.
    "events_sessionize" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts"),
          lag("ts", 1).over(w).as("prev_ts"))
        .select(col("user_id"),
          when(col("prev_ts").isNull ||
               (col("ts") - col("prev_ts")) > expr("INTERVAL '30' MINUTE"), 1)
            .otherwise(0).as("new_session"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("new_session").as("n_sessions"))
        .orderBy("user_id")
    }),

    // §2b.22n — ordered funnel (view → click-after-first-view →
    // purchase-after-that-click) per user, counted per stage with the
    // conversion rate vs stage 1. The three stage times chain as
    // window minima over ONE partitioning (user_id) — one exchange,
    // no self-joins (the three-join spelling re-shuffles events per
    // stage; the oracle uses it, proving the window chain exact).
    "events_funnel" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
      val perUser = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") > col("t1"),
            col("ts"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
            col("ts"))).over(w))
        .select("user_id", "t1", "t2", "t3").distinct()
      val counts = perUser.agg(
        sum(when(col("t1").isNotNull, 1L).otherwise(0L)).as("v"),
        sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("c"),
        sum(when(col("t3").isNotNull, 1L).otherwise(0L)).as("p"))
      counts
        .select(col("v"), explode(array(
          struct(lit("1_view").as("stage"), col("v").as("users")),
          struct(lit("2_click").as("stage"), col("c").as("users")),
          struct(lit("3_purchase").as("stage"), col("p").as("users"))))
          .as("x"))
        .select(col("x.stage").as("stage"), col("x.users").as("users"),
          round(col("x.users").cast("double") / col("v"), 6).as("rate"))
        .orderBy("stage")
    }),

    // §2b.22p — top event PATHS: the 20 most common consecutive
    // 3-step event sequences (per-user lead-window chains over the
    // one user_id exchange), count + distinct-user support per path.
    // Deterministic top-k: (n DESC, path ASC) with the exact integer
    // tie-break; TakeOrderedAndProject, no global sort.
    "events_paths" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e1"),
          lead("event_type", 1).over(w).as("e2"),
          lead("event_type", 2).over(w).as("e3"))
        .where(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("users"))
        .orderBy(desc("n"), asc("path"))
        .limit(20)
    }),

    // §2b.22r — Markov TRANSITION MATRIX over per-user event streams:
    // consecutive (src → dst) pairs via ONE lead window on the
    // user_id exchange (the events_paths shape at length 2), counted
    // with distinct-user support; p = n / Σn per src — one window
    // over the already-aggregated |types|² table (tiny), rounded 6dp
    // (one IEEE division of exact longs).
    "events_transitions" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = Tables.events(s, d)
        .select(col("user_id"),
          col("event_type").as("src"),
          lead("event_type", 1).over(w).as("dst"))
        .where(col("dst").isNotNull)
      val counts = pairs.groupBy("src", "dst")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"))
      counts.select(col("src"), col("dst"), col("n"), col("users"),
          round(col("n").cast("double") /
            sum("n").over(Window.partitionBy("src")), 6).as("p"))
        .orderBy("src", "dst")
    }),

    // §2b.22q — hourly volume anomaly scores: per (hour, event_type)
    // event counts z-scored against that event_type's hourly mean and
    // population stddev. EXACT-ARITHMETIC: counts/sums are longs, the
    // variance clears to the long rational (H·Σc²−(Σc)²)/H², and
    // sqrt/divisions are exactly-rounded IEEE ops — no libm-drift
    // surface at all (unlike ln), so the z-scores hash-oracle with
    // one final 6dp rounding. Two grouped passes + a broadcast join
    // on the tiny per-type stats row.
    "events_anomaly" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val stats = hourly.groupBy("event_type")
        .agg(count(lit(1)).as("h"), sum("n").as("sn"),
          sum(col("n") * col("n")).as("snn"))
      hourly.join(broadcast(stats), "event_type")
        // zero-variance guard: an event_type with one bucket or
        // constant hourly counts has no anomaly signal — without this
        // the z-score is 0/0 = NaN, which Spark's NaN-greatest
        // ordering would pass through abs(z) >= 2 while DuckDB's
        // NULL division would drop it (cross-engine divergence)
        .where(col("h") * col("snn") > col("sn") * col("sn"))
        .select(col("hour"), col("event_type"), col("n"),
          round(
            (col("n").cast("double") - col("sn").cast("double") / col("h")) /
            sqrt((col("h") * col("snn") - col("sn") * col("sn")).cast("double") /
              (col("h") * col("h")).cast("double")), 6).as("z"))
        .where(abs(col("z")) >= 2.0)
        .orderBy("hour", "event_type")
    }),

    // §2b.22o — cohort retention: users grouped by first-seen day,
    // distinct-user counts per (cohort_day, day offset). One groupBy
    // for the cohort map (user_id — natural key), joined back
    // (broadcast at dim-sized user counts, shuffle-on-user at scale —
    // declarative, AQE picks), then a partial-aggregated distinct
    // count per (cohort, offset).
    "events_retention" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      e.join(first, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_no"))
        .agg(countDistinct(col("user_id")).as("users"))
        .orderBy("cohort_day", "day_no")
    }),

    // §2b.22s — LAST-TOUCH ATTRIBUTION: each purchase credits the
    // user's most recent strictly-prior non-purchase event. ONE window
    // over the user_id exchange, frame [unbounded, −1); the three
    // `last(…, ignoreNulls)` picks CANNOT split across rows (the
    // ADVICE asof-NULL class) because one shared CASE nulls all three
    // together and event_id/event_type/ts are never themselves null —
    // all three come from the same qualifying row by construction.
    // Gap is exact integer µs (unix_micros of both ends).
    "events_attribution" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      def prior(c: Column): Column =
        last(when(col("event_type") =!= "purchase", c), ignoreNulls = true)
          .over(w)
      Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"),
          prior(col("event_id")).as("attr_event_id"),
          prior(col("event_type")).as("attr_type"),
          prior(col("ts")).as("attr_ts"))
        .where(col("event_type") === "purchase" &&
          col("attr_event_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("attr_event_id"),
          col("attr_type"),
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("attr_ts").cast("timestamp"))).as("gap_us"))
        .orderBy("event_id")
    }),

    // §2b.22t — ROLLING 7-DAY ACTIVE USERS (WAU per observed day).
    // A range-window `count(distinct)` Spark doesn't support directly;
    // spelled as bounded expansion instead of an inequality join: each
    // distinct (day, user) pair contributes to report days d..d+6
    // (explode ×7 — fixed, not data-dependent), semi-joined to the
    // observed-day dim (broadcast; |days| is calendar-bounded at any
    // corpus size), then one distinct-count per day.
    "events_rolling_active" -> ((s, d) => {
      val pairs = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val days = pairs.select(col("day")).distinct()
      pairs
        .select(explode(sequence(col("day"), date_add(col("day"), 6)))
          .as("day"), col("user_id"))
        .join(broadcast(days), Seq("day"), "left_semi")
        .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
        .orderBy("day")
    }),

    // §2b.22u — bucketed RANGE JOIN: same-user event pairs within 10
    // minutes, the non-equi join class Spark would otherwise plan as a
    // per-key nested loop — here an equi-join on (user, time-bucket)
    // with ×2 bounded duplication (ops/RangeJoin.scala scaladoc).
    "events_range_join" -> ((s, d) =>
      graft.ops.RangeJoin.selfWithin(Tables.events(s, d),
          col("user_id"), col("ts"), col("event_id"),
          tolUs = 600L * 1000000L)
        .select(col("key").as("user_id"), col("id_a"), col("id_b"),
          col("gap_us"))
        .orderBy("id_a", "id_b")),

    // §2b.27 — MARKET-BASKET pair mining over lineitem (the
    // "frequently bought together" co-occurrence table — the cofreq
    // shape on the FACT table): distinct part pairs within one order
    // (canonical a<b, so each pair once), support counts, and lift =
    // n_ab·N / (n_a·n_b) as ONE IEEE division of two exact long
    // products (6dp). Pair space is bounded by the basket size
    // (≤7 lineitems/order ⇒ ≤21 pairs), never corpus-quadratic; the
    // self-join key is l_orderkey — uniform. Top-50 by (n_ab, pair)
    // via TakeOrderedAndProject.
    "basket_pairs" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val n = li.agg(countDistinct("ok").as("n_orders"))
      val sup = li.groupBy("pk").agg(count(lit(1)).as("n_p"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(sup.select(col("pk").as("pa"), col("n_p").as("n_a")), "pa")
        .join(sup.select(col("pk").as("pb"), col("n_p").as("n_b")), "pb")
        .crossJoin(broadcast(n))
        .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
          round((col("n_ab") * col("n_orders")).cast("double") /
            (col("n_a") * col("n_b")), 6).as("lift"))
        .orderBy(desc("n_ab"), asc("pa"), asc("pb"))
        .limit(50)
    }),

    // §2b.21h — HOPPING-window aggregation over events (the
    // overlapping-window complement of events_window's tumbling
    // face): 1-hour windows sliding every 15 minutes — each event
    // lands in exactly 4 windows (fixed ×4, the window TVF expands
    // map-side, no self-join), counted per (window, event_type).
    "events_hop" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"))
        .orderBy("ws", "event_type")),

    // §2b.26 — RFM CUSTOMER SEGMENTATION over orders: per customer
    // recency (days since last order vs the corpus max date — one
    // 1-row broadcast), frequency (order count), monetary (decimal-
    // exact spend). Scores are EXACT INTEGER quintiles,
    // (rnk−1)·5 div n + 1 over a TOTAL rank order (ties → custkey) —
    // no ntile(), whose remainder placement is engine-defined, and
    // no float percentile.
    //
    // ALL THREE ranks ride ONE range layout (r12, the orders_pareto
    // fusion generalized — the r11 chained spelling planned 23
    // exchanges, three two-phase layouts plus upstream re-evaluation):
    // MELT each customer into three (dim, k) rows where k is a double
    // whose ascending order realizes that dimension's sort (recency
    // asc; −frequency and −monetary for the desc dims — negation of
    // exact doubles preserves order bit-for-bit, ties still broken by
    // custkey), take ONE Rank.globalRank over (dim, k, custkey) — 3n
    // skinny rows through a single range-partition exchange — and
    // read each dimension's rank as rnk − dim·n_cust, which is exact
    // because every dim contributes n_cust rows. The R/F/M payload
    // rides only the dim-0 rows; one groupBy(custkey) folds the three
    // scores and the payload back to one row. The quintile values and
    // hash are IDENTICAL to the chained spelling.
    "customer_rfm" -> ((s, d) => {
      val per = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_day"),
          count(lit(1)).as("frequency"),
          dsum(col("o_totalprice")).as("monetary"))
      val mx = per.agg(max("last_day").as("mx"),
        count(lit(1)).as("n_cust"))
      val base = per.crossJoin(broadcast(mx))
        .select(col("custkey"),
          datediff(col("mx"), col("last_day")).cast("long")
            .as("recency_days"),
          col("frequency"), col("monetary"), col("n_cust"))
      val nullL = lit(null).cast("long")
      val nullD = lit(null).cast("double")
      val melt = base.select(col("custkey"), col("n_cust"),
          explode(array(
            struct(lit(0L).as("dim"),
              col("recency_days").cast("double").as("k"),
              col("recency_days").as("rec"),
              col("frequency").as("freq"),
              col("monetary").as("mon")),
            struct(lit(1L).as("dim"),
              (-col("frequency")).cast("double").as("k"),
              nullL.as("rec"), nullL.as("freq"), nullD.as("mon")),
            struct(lit(2L).as("dim"),
              (-col("monetary")).as("k"),
              nullL.as("rec"), nullL.as("freq"), nullD.as("mon"))))
            .as("m"))
        .select(col("custkey"), col("n_cust"), col("m.dim").as("dim"),
          col("m.k").as("k"), col("m.rec").as("rec"),
          col("m.freq").as("freq"), col("m.mon").as("mon"))
      val ranked = graft.ops.Rank.globalRank(melt,
        Seq(asc("dim"), asc("k"), asc("custkey")), "rnk")
      ranked
        .groupBy("custkey")
        .agg(max(when(col("dim") === 0L, col("rec"))).as("recency_days"),
          max(when(col("dim") === 0L, col("freq"))).as("frequency"),
          max(when(col("dim") === 0L, col("mon"))).as("monetary"),
          max(when(col("dim") === 0L, expr(
            "(rnk - dim * n_cust - 1) * 5 div n_cust + 1"))).as("r_score"),
          max(when(col("dim") === 1L, expr(
            "(rnk - dim * n_cust - 1) * 5 div n_cust + 1"))).as("f_score"),
          max(when(col("dim") === 2L, expr(
            "(rnk - dim * n_cust - 1) * 5 div n_cust + 1"))).as("m_score"))
        .withColumn("segment",
          concat(col("r_score"), col("f_score"), col("m_score")))
        .orderBy("custkey")
    }),

    // §2b.25 — COLUMN PROFILING over lineitem: one pruned
    // single-column pass per column (ops/Profile.scala); min/max
    // computed on the native type (date via to_date, money via the
    // decimal protocol) and cast to string only for the uniform
    // output schema.
    "stats_profile" -> ((s, d) =>
      graft.ops.Profile.profile(Tables.lineitem(s, d), Seq(
        "l_orderkey" -> col("l_orderkey"),
        "l_linenumber" -> col("l_linenumber").cast("long"),
        "l_returnflag" -> col("l_returnflag"),
        "l_shipdate" -> to_date(col("l_shipdate")),
        "l_quantity" -> col("l_quantity").cast("decimal(18,2)")))),

    // §2b.26 — pairwise Pearson correlation matrix over lineitem's
    // numeric columns (ops/Profile.corrMatrix): decimal-exact moments,
    // one aggregation pass, final formula in identical-IEEE double.
    "corr_matrix" -> ((s, d) =>
      graft.ops.Profile.corrMatrix(Tables.lineitem(s, d), Seq(
        "l_quantity" -> col("l_quantity"),
        "l_extendedprice" -> col("l_extendedprice"),
        "l_discount" -> col("l_discount"),
        "l_tax" -> col("l_tax")))),

    // §2b.27 — CUBE over (event_type, hour): all four grouping-set
    // levels in one pass (the rollup_counts sibling; level rows are
    // marked by NULLs — both dims are non-null in the data). Money
    // protocol on the value sum.
    "events_cube" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), hour(col("ts")).cast("long").as("hr"),
          col("value"))
        .cube("event_type", "hr")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("hr"))),

    // §2b.25t — time-series resample + forward fill: each user's
    // irregular event stream regularized onto its own hourly grid,
    // empty buckets forward-filled and flagged (ops/Resample).
    "events_resample" -> ((s, d) =>
      graft.ops.Resample.forwardFill(Tables.events(s, d),
        col("user_id"), col("ts"), col("event_id"), col("value"))),

    // §2b.28 — PageRank over the customer–supplier trade graph
    // (edges = distinct (custkey, suppkey) pairs traded via
    // orders ⋈ lineitem), 5 damped iterations in exact integer
    // micro-units (ops/Graph.pageRank): the derive-a-graph-and-rank
    // workload, hash-oracled via a per-iteration unrolled SQL mirror.
    // r12: the degree-attached edge list is a PERSISTED snapshot-keyed
    // artifact (the Knn-weights/postings lifecycle — r11 verdict #5):
    // steady-state queries contain no fact-table join, no distinct, no
    // degree stage — just iteration joins over the columnar artifact
    // (plan-asserted in Round12Spec). Same edges, same math, same hash.
    "graph_pagerank" -> ((s, d) =>
      graft.ops.Graph.pageRankFromEdgesDeg(
        prEdgesPersisted(s, d, mod10 = false), iterations = 5)),

    // §2b.28d — CONVERGENCE-GATED PageRank (rows-only: the stopping
    // round is data-dependent, so no fixed SQL unroll exists; the
    // fixed-5 twin above IS the hash oracle — GraphMlSpec proves the
    // two operators share each prefix exactly, for both checkpoint
    // cadences, and SURVEY §5 "PageRank checkpoint cadence" records
    // flat per-round cost at 20 rounds on the 3× corpus). The trade
    // graph is bipartite, so the hub↔leaf oscillation decays at the
    // damping factor (~0.85ⁿ): epsilon 300000 micro fires around
    // round 7 — the row
    // demonstrably CONVERGES below its cap rather than just running
    // out. Mod-10 customer subsample keeps this driver row at point-
    // query cost; the operator itself is the full-scale path.
    "graph_pagerank_converged" -> ((s, d) =>
      graft.ops.Graph.pageRankConvergedFromEdgesDeg(
        prEdgesPersisted(s, d, mod10 = true),
        maxIterations = 12, epsilonMicro = 300000L)._1),

    // §2b.28b — per-node triangle counts over the co-purchase graph
    // (parts co-occurring in ≥2 orders — the support gate keeps the
    // graph sparse and meaningful): degree-oriented wedge join
    // (ops/Graph.triangleCounts) — each triangle counted once, out-
    // degree bounded O(√m) by construction.
    "graph_triangles" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = li.as("la").join(li.as("lb"),
          col("la.l_orderkey") === col("lb.l_orderkey") &&
          col("la.l_partkey") < col("lb.l_partkey"))
        .groupBy(col("la.l_partkey").as("a"), col("lb.l_partkey").as("b"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
      graft.ops.Graph.triangleCounts(edges, col("a"), col("b"))
    }),

    // §2b.28c — connected components over the same co-purchase graph
    // (the graph face of ops/Dedup.clusters' size-routed union-find /
    // iterative min-label engine): (node, component-label) with the
    // component's min node as label; oracle = WITH RECURSIVE
    // transitive closure.
    "graph_components" -> ((s, d) => {
      // mod-10 node subsample: a DETERMINISTIC subgraph keeps the
      // oracle's WITH RECURSIVE transitive closure bounded at every
      // SF (the cloned 3x corpus degenerates support>=2 to a dense
      // giant component whose closure is O(n^2)); the operator under
      // test is unchanged
      val li = Tables.lineitem(s, d)
        .where(pmod(col("l_partkey"), lit(10)) === 0)
      val edges = li.as("la").join(li.as("lb"),
          col("la.l_orderkey") === col("lb.l_orderkey") &&
          col("la.l_partkey") < col("lb.l_partkey"))
        .groupBy(col("la.l_partkey").as("a"), col("lb.l_partkey").as("b"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select(col("a"), col("b"))
      graft.ops.Dedup.clusters(edges)
        .select(col("id").cast("long").as("id"),
          col("label").cast("long").as("label"))
        .orderBy("id")
    }),

    // §2b.28e — connected components over the FULL co-purchase graph
    // (no mod-10 subsample): the operator at its real corpus graph
    // size. Rows-only by necessity — a DuckDB WITH RECURSIVE closure
    // over the full graph is O(n²) on the 3× corpus's dense giant
    // component (exactly why 28c subsamples its oracle); evidence is
    // the hash-oracled subsampled twin above plus the label-sanity
    // spec (labels are component-minimal and edge-consistent:
    // every edge's endpoints carry the same label, every label is
    // the min id of its member set — checked in Round10Spec).
    "graph_components_full" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = li.as("la").join(li.as("lb"),
          col("la.l_orderkey") === col("lb.l_orderkey") &&
          col("la.l_partkey") < col("lb.l_partkey"))
        .groupBy(col("la.l_partkey").as("a"), col("lb.l_partkey").as("b"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select(col("a"), col("b"))
      graft.ops.Dedup.clusters(edges)
        .select(col("id").cast("long").as("id"),
          col("label").cast("long").as("label"))
        .orderBy("id")
    }),

    // §2b.30 — per-nation revenue TREND (OLS slope over the monthly
    // order-revenue series): the fact table aggregates to (nation,
    // month, cents) FIRST — the moments then stay in long range at
    // any SF — and ops/Profile.groupTrend closes the normal
    // equations as single IEEE divisions of exact sums.
    "trend_sales" -> ((s, d) => {
      val monthly = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          ((year(to_date(col("o_orderdate"))) - 1992) * 12 +
            month(to_date(col("o_orderdate"))) - 1).cast("long").as("mo"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) *
          100).cast("long").as("cents"))
      graft.ops.Profile.groupTrend(monthly, col("nation"), col("mo"),
        col("cents"))
    }),

    // §2b.25q — equi-width histogram of lineitem extended price in
    // exact cents (ops/Profile.histogram): distribution shape for
    // the profiling face; 1-row min/max broadcast, floored-integer
    // bucket boundaries, map-only bucket pass.
    "stats_histogram" -> ((s, d) =>
      graft.ops.Profile.histogram(
        Tables.lineitem(s, d).select(
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents")),
        col("cents"), buckets = 10)),

    // §2b.31 — bilateral trade volume (TPC-H Q7 shape): the two
    // 1-row nation dims filter BEFORE broadcasting, so the fact
    // stream shrinks at the earliest join; the only big-big join is
    // lineitem⋈orders on orderkey.
    "q7_volume" -> ((s, d) => {
      val n1 = Tables.nation(s, d)
        .where(col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
        .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .where(col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
        .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .where(year(to_date(col("l_shipdate"))).isin(1995, 1996, 1997, 1998))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sk"))
        .join(broadcast(n2), col("c_nationkey") === col("ck"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(to_date(col("l_shipdate"))).cast("long").as("yr"))
        .agg(revenue.as("rev"))
        .orderBy("supp_nation", "cust_nation", "yr")
    }),

    // §2b.32 — product-line profit by supplier nation and year
    // (TPC-H Q9 shape, cost = retail·qty since the corpus carries no
    // partsupp): part filter pushes to the dim scan and broadcasts;
    // profit amounts sum DECIMAL-exact per the money protocol.
    "q9_profit" -> ((s, d) => {
      val p = Tables.part(s, d).where(col("p_name").like("%red%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val amount =
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
             col("l_discount").cast("decimal(18,2)")) -
            col("p_retailprice").cast("decimal(18,2)") *
            col("l_quantity").cast("decimal(18,2)")).cast("double")
      Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(to_date(col("o_orderdate"))).cast("long").as("yr"))
        .agg(round(amount, 2).as("profit"))
        .orderBy(asc("nation"), desc("yr"))
    }),

    // §2b.33 — large-volume customers (TPC-H Q18 shape): the HAVING
    // aggregate runs on lineitem ALONE (map-side-combinable, tiny
    // result), then joins back — orders/customer never see unfiltered
    // lineitem rows; top-100 is TakeOrderedAndProject.
    "q18_large" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .where(col("sum_qty") > 250.0)
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").cast("double")
            .as("o_totalprice"),
          col("sum_qty"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100)
    }),

    // §2b.22v — CHANGEPOINT detection (sliding mean-shift): an event
    // is a changepoint candidate when the mean of the 8 values after
    // it shifts ≥ 50 from the mean of the 8 before it, within its
    // user's (ts, event_id)-ordered series. EXACT-ARITHMETIC: values
    // enter as micro-unit longs (round(value·1e6)), both frame sums
    // are exact longs, the detection gate |Σafter−Σbefore| ≥ 400e6
    // compares LONGS (no float boundary row can differ cross-engine),
    // and the reported shift is ONE exactly-rounded IEEE division of
    // the long difference by 8e6 (6dp). ONE exchange on user_id; both
    // frames and the full-window counts share the same sort — the
    // asof_join_nearest two-frame shape. The per-user partition is
    // the same skew surface as asof (see asof_join_bucketed's guard
    // for the pathological-key variant).
    "events_changepoint" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val before = base.rowsBetween(-8, -1)
      val after = base.rowsBetween(1, 8)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * lit(1e6)).cast("long").as("mv"))
        .withColumn("nb", count(lit(1)).over(before))
        .withColumn("na", count(lit(1)).over(after))
        .withColumn("sb", sum("mv").over(before))
        .withColumn("sa", sum("mv").over(after))
        .where(col("nb") === 8 && col("na") === 8 &&
          abs(col("sa") - col("sb")) >= 400000000L)
        .select(col("event_id"), col("user_id"),
          round((col("sa") - col("sb")).cast("double") / lit(8e6), 6)
            .as("shift"))
        .orderBy("event_id")
    }),

    // §2b.15b — forecasting revenue change (TPC-H Q6 shape): the
    // canonical one-scan filter-aggregate — every predicate reaches
    // the parquet scan (PushedFilters), map-side partial agg, one row
    // out. Money protocol on the product sum.
    "q6_forecast" -> ((s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)"))
          .cast("double").as("revenue"))),

    // §2b.15c — promotion effect (TPC-H Q14 shape): conditional
    // revenue share — two exact decimal sums in ONE aggregation over
    // the lineitem⋈part (broadcast dim) month slice, the ratio one
    // IEEE division rounded at 6dp on both engines.
    "q14_promo" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1997-09-01") &&
          col("l_shipdate") < lit("1997-10-01"))
      val disc = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))
      li.join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", disc)
            .otherwise(lit(0).cast("decimal(18,2)"))).as("promo"),
          sum(disc).as("total"))
        .select(round(lit(100.0) * col("promo").cast("double") /
          col("total").cast("double"), 6).as("promo_pct"))
    }),

    // §2b.25r — PARETO / cumulative-share analysis over customers
    // ("which heavy hitters make up half the revenue"): per-customer
    // monetary in EXACT integer cents, ranked desc, with the global
    // running total via the TWO-PHASE Rank.globalCumSum — no
    // SinglePartition stage ever touches the data (the naive global
    // orderBy window funnels the whole table through one reducer —
    // the 100 TB killer this row exists to demonstrate avoiding).
    // share = one IEEE division at 6dp; the top-half flag is an
    // exact integer comparison (cum_before·2 < total).
    "orders_pareto" -> ((s, d) => {
      val per = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      val ranked = graft.ops.Rank.globalRankCumSum(per,
        Seq(desc("cents"), asc("custkey")), col("cents"), "rnk", "cum")
      val total = per.agg(sum("cents").as("total"))
      ranked.crossJoin(broadcast(total))
        .select(col("custkey"), col("cents"), col("rnk"), col("cum"),
          round(col("cum").cast("double") / col("total").cast("double"), 6)
            .as("share"),
          ((col("cum") - col("cents")) * 2 < col("total")).as("top50"))
        .orderBy("rnk")
    }),

    // §2b.26c — exact WINDOW PERCENTILES: percent_rank and cume_dist
    // of order value within its month — both are single IEEE
    // divisions of exact integers under a TOTAL order (tiebreak on
    // orderkey), so the engines agree bit-for-bit; one window
    // exchange on the month key.
    "window_percentiles" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("month")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          date_trunc("month", col("o_orderdate")).as("month"))
        .select(col("o_orderkey"), col("month"),
          round(percent_rank().over(w), 9).as("pr"),
          round(cume_dist().over(w), 9).as("cd"))
        .orderBy("o_orderkey")
    }),

    // §2b.22w — EXACT rolling median (robust smoothing over event
    // streams): per user, the last-9-rows window in micro-unit longs,
    // emitted as the (lower, upper) middle-element pair — integer
    // order statistics, no interpolation, so the row hash-checks
    // against DuckDB's list window mirror with zero float protocol.
    // The window is collect+sort over ≤9 elements per row (bounded
    // work per row — never a per-user global sort); at 100 TB the
    // partitionBy(user_id) shuffle is the only exchange.
    "events_rolling_median" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-8, 0)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * lit(1e6)).cast("long").as("mv"))
        .withColumn("win", sort_array(collect_list("mv").over(w)))
        .select(col("event_id"), col("user_id"),
          size(col("win")).cast("long").as("n_win"),
          element_at(col("win"), expr("(size(win) + 1) div 2").cast("int"))
            .as("med_lo"),
          element_at(col("win"), expr("size(win) div 2 + 1").cast("int"))
            .as("med_hi"))
        .orderBy("event_id")
    }),

    // §2b.22x — per-user LAG/DELTA FEATURE generation (the feature-
    // engineering face every training pipeline runs over event
    // streams): value deltas vs the 1- and 2-step lags, inter-event
    // gap in micros, and rolling min/max over the last 4 events — all
    // exact longs over ONE window exchange (every frame shares the
    // partitionBy(user_id) sort). Rows without 2 predecessors are
    // dropped (row_number gate), so every output cell is non-null.
    "events_lag_features" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val w4 = w.rowsBetween(-3, 0)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * lit(1e6)).cast("long").as("mv"))
        .withColumn("rn", row_number().over(w))
        .withColumn("d1", col("mv") - lag("mv", 1).over(w))
        .withColumn("d2", lag("mv", 1).over(w) - lag("mv", 2).over(w))
        .withColumn("gap_us",
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(lag("ts", 1).over(w).cast("timestamp")))
        .withColumn("rmin4", min("mv").over(w4))
        .withColumn("rmax4", max("mv").over(w4))
        .where(col("rn") >= 3)
        .select(col("event_id"), col("user_id"), col("d1"), col("d2"),
          col("gap_us"), col("rmin4"), col("rmax4"))
        .orderBy("event_id")
    }),

    // §2b.22y — SALTED fact⋈dim join (ops/Salt.saltedJoin): lineitem
    // joins part on a salted (partkey, salt) key with the dim side
    // replicated 8×, then brand revenue. Result-identical to the
    // plain equi-join (the oracle), different shuffle layout: a
    // pathologically hot partkey spreads over 8 reducers instead of
    // one — the pre-AQE skew-join device, kept deterministic (salt =
    // hash of orderkey, not rand()).
    "join_salted" -> ((s, d) => {
      val joined = graft.ops.Salt.saltedJoin(
        Tables.lineitem(s, d), Tables.part(s, d),
        col("l_partkey"), col("p_partkey"),
        Seq("price" -> col("l_extendedprice"),
          "disc" -> col("l_discount")),
        Seq("brand" -> col("p_brand")),
        saltFrom = col("l_orderkey"), buckets = 8)
      joined.groupBy("brand")
        .agg(sum(col("price").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") -
            col("disc").cast("decimal(18,2)"))).cast("double").as("rev"),
          count(lit(1)).as("n"))
        .orderBy("brand")
    })
  )
}
