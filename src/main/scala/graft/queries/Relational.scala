package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.GameIds
import graft.ops.IncrementalAgg

/** Core relational operator coverage (SURVEY.md §2.2-§2.6) expressed over
  * the driver's TPC-H-ish tables, each paired with ANSI SQL for the DuckDB
  * oracle.
  *
  * Determinism notes (the driver hash-compares values):
  *   - money aggregates are cast to DECIMAL before summing — double
  *     summation order differs between engines and would flip last-ulp bits;
  *   - every top-N has a total tiebreak order so the selected row *set* is
  *     unique;
  *   - `avg` is only taken over integer-valued doubles (l_quantity), where
  *     the sum is exact in binary floating point.
  */
object Relational {

  /** Cast-to-decimal sum: exact, engine-order-independent. The *final*
    * aggregate is cast back to DOUBLE: Spark's decimal sum widens to
    * DECIMAL(28,4) while DuckDB's widens to DECIMAL(38,4)/HUGEINT, and the
    * driver's comparator hashes physical representations, not numerics —
    * equal values in different decimal widths hash-mismatch. Decimal→double
    * rounding of the same value is identical in both engines, so exactness
    * is preserved (the order-independent decimal summation still happens
    * internally).
    */
  private def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** Decimal cast of an *input* column, applied BEFORE any arithmetic.
    *
    * Spark and DuckDB round the same binary double to decimal slightly
    * differently (shortest-round-trip-string vs binary rounding), so any
    * double arithmetic done before the cast can diverge in the 4th decimal
    * digit. Casting each operand first makes both engines do exact decimal
    *
    * Scale-8 products (price x discount) reduce to DECIMAL(38,4) BEFORE the
    * final double cast: a scale-8 sum's unscaled value exceeds 2^53 at
    * sf0.1+, and DuckDB's decimal->double (int128 divided by 10^scale)
    * then double-rounds — 1 ulp off Spark's correctly-rounded conversion.
    * At scale 4 the unscaled value stays exactly representable (sums up to
    * ~9e11), so both engines produce the identical double.
    * arithmetic on identically-rounded values.
    */
  private def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(18,4)")

  /** The shared CDC-playground projection of `orders` the selective-
    * recompute maintainers (q108/q114/q116) derive their mv/base/cdc/post
    * frames from — STAGED (r22):
    * hash-repartitioned by the maintenance key to the session's
    * parallelism and persisted. Each maintainer references this frame
    * 3-8 times (bootstrap aggregate, CDC derivation, post-delta base,
    * and per-direction probes in the enforced variant), and the bench
    * tables ship as one single-row-group parquet file, so every
    * reference re-ran the scan + projection as ONE serial task
    * (profiled: q116 paid ~10 such 50-270 ms serial stages — the §2.5
    * unsplittable-input case, plus §5's stage-a-subtree-consumed-many-
    * times rule). o_custkey keying feeds every maintainer groupBy/join
    * exchange-free (§2.4). In production these frames are separate
    * at-rest tables (MV, base, CDC feed) and nothing is re-derived;
    * staging the shared input is the in-session equivalent; release:
    * [[graft.ops.Staged]].
    * q86/q110 (the purely algebraic folds) stay UNSTAGED deliberately:
    * they reference the frame only 2-3 times, and measurement showed the
    * columnar cache build + decode costing more than the saved re-scans
    * (q110 0.49 s -> 0.97 s staged) — §5's caching rule cuts both ways. */
  private def stagedOrdersCdc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Staged.persist(Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        dec(col("o_totalprice")).as("v"))
      .repartition(s.sparkContext.defaultParallelism, col("o_custkey")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A-agg: recompute "season totals" style pre-aggregations (SURVEY §2.4)
    // — TPC-H Q1 shape. Partial (map-side) aggregation + single exchange on
    // the 2-key group; at 100 TB this is the canonical scalable agg.
    "q01_pricing_summary" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec(col("l_discount")))).cast("decimal(38,4)").cast("double").as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
    },

    // Multi-join analytic report, TPC-H Q10 shape (q99): top customers by
    // RETURNED-item revenue — the fact table filters at the scan
    // (l_returnflag pushed), flows through two fact-dimension equi-joins
    // driven by the shrunk side, picks up the nation name by broadcast,
    // and ends in one grouped decimal-exact aggregation + TakeOrdered(20).
    // At 100 TB: the returnflag filter cuts the lineitem scan ~4x before
    // any wire; the orders/customer joins shuffle the filtered fact once
    // each on their keys; the driver receives 20 rows.
    "q99_returns_topk" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(
          sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,4)") - dec(col("l_discount"))))
            .cast("decimal(38,4)").cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },

    // Six-table join, TPC-H Q5 shape (q100): revenue from orders a
    // customer placed with a supplier of their OWN nation, rolled up per
    // (region, nation). The c_nationkey = s_nationkey predicate rides the
    // supplier equi-join; nation and region are broadcast lookups; the
    // fact shuffles once per fact-sized join key and the rollup is
    // (regions x nations)-sized — the canonical star-join rollup at any
    // scale.
    "q100_local_volume" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,4)") - dec(col("l_discount"))))
            .cast("decimal(38,4)").cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // P1/P4: projection pruning + pushed predicates (SURVEY §2.2 P1, P4).
    "q02_project_filter" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_shipdate"))
    },

    // P7/P8/P10: IN-list + null predicate + string-contains (SURVEY §2.2).
    "q03_filter_in_contains" -> { (s, dir) =>
      Tables.customer(s, dir)
        .filter(
          col("c_mktsegment").isin("BUILDING", "AUTOMOBILE") &&
          col("c_acctbal").isNotNull &&
          col("c_name").contains("1"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    },

    // J1 driving equi-join + A-agg on the join result (SURVEY §2.3 J1).
    "q04_join_agg" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_orderkey")).as("order_count"),
          sum(col("l_quantity")).as("sum_qty"))
    },

    // J3 semi-join existence probe (SURVEY §2.3 J3).
    "q05_join_semi" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).select(col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },

    // J2 anti-join — the reference's delta-ingest idiom: keys not yet in the
    // target table (reference: etl/play_by_play.py:50-62).
    "q06_join_anti" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },

    // J4 lookup join over small dims — explicitly broadcast: at 100 TB the
    // fact side never shuffles for a dimension lookup (SURVEY §2.3 J4).
    "q07_broadcast_dims" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      val nat = Tables.nation(s, dir)
      val reg = Tables.region(s, dir)
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec(col("l_discount")))).cast("decimal(38,4)").cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // A2 DISTINCT projection (SURVEY §2.4 A2).
    "q08_distinct" -> { (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_orderpriority"))
        .distinct()
    },

    // U1 union (schema-aligned by name, like the reference's home∪away
    // frames — reference: etl/rotations.py:26) (SURVEY §2.6 U1).
    "q09_union" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val a = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val b = c.filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      a.unionByName(b)
    },

    // U2 except / set-minus delta filtering (SURVEY §2.6 U2).
    "q10_except" -> { (s, dir) =>
      val rich = Tables.customer(s, dir).filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"))
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      rich.except(urgent)
    },

    // W2 first-row-per-group — the starter-derivation window idiom
    // (reference: etl/players_on_court_at_start_of_period.py:73-88).
    "q11_window_topn" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    },

    // W1/W4 global sort + LIMIT with total tiebreak (SURVEY §2.5).
    "q12_sort_limit" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    },

    // A5 duplicate-key check as a group-filter (reference: utils/utils.py:1-10).
    "q13_key_multiplicity" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"))
        .filter(col("n_lines") >= 6)
    },

    // A-agg rollup: the "recompute pre-aggregated season totals" shape
    // (SURVEY §2.4 — the API's season-totals endpoints return data our
    // engine must be able to rebuild from game logs at any grain).
    "q27_rollup_totals" -> { (s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
    },

    // Incremental materialized-view maintenance (ops/IncrementalAgg): the
    // per-customer order rollup maintained from a CDC delta instead of a
    // fact rescan. The query partitions orders deterministically into a
    // base (aggregated into the MV), inserts (o_orderkey % 10 == 0),
    // deletes (base rows with % 7 == 0) and updates (base rows with
    // % 13 == 0, price + 1), applies the delta algebraically, and must
    // reproduce the direct aggregate of the final state — which is exactly
    // what the oracle computes. Value sums ride DECIMAL so
    // sum(base)+sum(delta) == sum(all) bit-exactly (see IncrementalAgg).
    "q86_incremental_agg" -> { (s, dir) =>
      val keyed = Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"), dec(col("o_totalprice")).as("v"))
      val base = keyed.filter(col("o_orderkey") % 10 =!= 0)
      val mv = base.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), sum(col("v")).as("sum_price"))
      val cdc = keyed
        .withColumn("op",
          when(col("o_orderkey") % 10 === 0, "insert")
            .when(col("o_orderkey") % 7 === 0, "delete")
            .when(col("o_orderkey") % 13 === 0, "update"))
        .filter(col("op").isNotNull)
        .select(col("op"), col("o_custkey"),
          when(col("op") =!= "insert", col("v")).as("old_value"),
          when(col("op") === "insert", col("v"))
            .when(col("op") === "update", (col("v") + 1).cast("decimal(18,4)"))
            .as("new_value"))
      IncrementalAgg.maintain(mv, cdc, Seq("o_custkey"), "n_orders", "sum_price")
        .select(col("o_custkey"), col("n_orders"),
          col("sum_price").cast("decimal(38,4)").cast("double").as("sum_price"))
    },

    // Incremental MV maintenance WITH extrema (ops/IncrementalAgg
    // .maintainExtrema): q86's CDC story extended to (count, sum, min,
    // max) — the aggregates the plain algebra cannot maintain. Deletes
    // and updates put a key's min/max at risk exactly when the departing
    // value reaches the current bound; those keys (only) recompute their
    // extrema from the POST-delta base, everything else stays algebraic.
    // The oracle is the direct aggregate of the final state.
    "q108_incremental_extrema" -> { (s, dir) =>
      val keyed = stagedOrdersCdc(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("v"))
      val base = keyed.filter(col("o_orderkey") % 10 =!= 0)
      val mv = base.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), sum(col("v")).as("sum_price"),
          min(col("v")).as("min_price"), max(col("v")).as("max_price"))
      val cdc = keyed
        .withColumn("op",
          when(col("o_orderkey") % 10 === 0, "insert")
            .when(col("o_orderkey") % 7 === 0, "delete")
            .when(col("o_orderkey") % 13 === 0, "update"))
        .filter(col("op").isNotNull)
        .select(col("op"), col("o_custkey"),
          when(col("op") =!= "insert", col("v")).as("old_value"),
          when(col("op") === "insert", col("v"))
            .when(col("op") === "update", (col("v") + 1).cast("decimal(18,4)"))
            .as("new_value"))
      // the post-delta fact state — what the warehouse holds once the
      // CDC batch has landed (maintainExtrema's base contract)
      val post = keyed
        .withColumn("v",
          when(col("o_orderkey") % 10 === 0, col("v"))
            .when(col("o_orderkey") % 13 === 0, (col("v") + 1).cast("decimal(18,4)"))
            .otherwise(col("v")))
        .filter(!(col("o_orderkey") % 10 =!= 0 && col("o_orderkey") % 7 === 0))
      IncrementalAgg.maintainExtrema(mv, cdc, post, Seq("o_custkey"),
          valueCol = "v", countCol = "n_orders", sumCol = "sum_price",
          minCol = "min_price", maxCol = "max_price")
        .select(col("o_custkey"), col("n_orders"),
          col("sum_price").cast("decimal(38,4)").cast("double").as("sum_price"),
          col("min_price").cast("double").as("min_price"),
          col("max_price").cast("double").as("max_price"))
    },

    // Incremental MV maintenance for count(DISTINCT) (ops/IncrementalAgg
    // .maintainDistinctSupport): q86's CDC story over a VALUE domain
    // (order priority; updates re-tag to a synthetic '<v>*' priority) —
    // the aggregate neither the abelian algebra nor the at-risk trick
    // covers. The per-(customer, priority) support table absorbs the
    // delta at (key, value) grain; the published MV derives from it.
    // The oracle is the direct distinct-count of the final state.
    "q110_incremental_distinct" -> { (s, dir) =>
      val keyed = Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"), col("o_orderpriority").as("v"))
      val base = keyed.filter(col("o_orderkey") % 10 =!= 0)
      val support = base.groupBy(col("o_custkey"), col("v"))
        .agg(count(lit(1)).as("n_rows"))
      val cdc = keyed
        .withColumn("op",
          when(col("o_orderkey") % 10 === 0, "insert")
            .when(col("o_orderkey") % 7 === 0, "delete")
            .when(col("o_orderkey") % 13 === 0, "update"))
        .filter(col("op").isNotNull)
        .select(col("op"), col("o_custkey"),
          when(col("op") =!= "insert", col("v")).as("old_value"),
          when(col("op") === "insert", col("v"))
            .when(col("op") === "update", concat(col("v"), lit("*")))
            .as("new_value"))
      IncrementalAgg.distinctCounts(
        IncrementalAgg.maintainDistinctSupport(
          support, cdc, Seq("o_custkey"), "v"),
        Seq("o_custkey"))
    },

    // Incremental MV maintenance for per-key TOP-K (ops/IncrementalAgg
    // .maintainTopK): the fourth IVM class — q86's CDC story over the
    // "3 best-priced orders per customer" serving view. Arrivals fold
    // through the graft_topk bounded-heap merge; a delete/update hitting
    // a KEPT row marks its key at-risk (maintainExtrema's trick
    // generalized from 1 to k) and only those keys recompute from the
    // post-delta base. The oracle is the direct row_number() top-3 of
    // the final state under the same total order (value desc, ties to
    // the lower id).
    "q114_incremental_topk" -> { (s, dir) =>
      val keyed = stagedOrdersCdc(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("v"))
      val base = keyed.filter(col("o_orderkey") % 10 =!= 0)
      val mv = base.groupBy(col("o_custkey"))
        .agg(call_function("graft_topk",
          col("v"), col("o_orderkey"), lit(3)).as("t"))
        .select(col("o_custkey"), explode(col("t")).as("t"))
        .select(col("o_custkey"), col("t.id").as("o_orderkey"),
          col("t.score").as("v"))
      val cdc = keyed
        .withColumn("op",
          when(col("o_orderkey") % 10 === 0, "insert")
            .when(col("o_orderkey") % 7 === 0, "delete")
            .when(col("o_orderkey") % 13 === 0, "update"))
        .filter(col("op").isNotNull)
        .select(col("op"), col("o_custkey"), col("o_orderkey"),
          when(col("op") =!= "insert", col("v")).as("old_value"),
          when(col("op") === "insert", col("v"))
            .when(col("op") === "update", (col("v") + 1).cast("decimal(18,4)"))
            .as("new_value"))
      // the post-delta fact state (maintainExtrema's base contract)
      val post = keyed
        .withColumn("v",
          when(col("o_orderkey") % 10 === 0, col("v"))
            .when(col("o_orderkey") % 13 === 0, (col("v") + 1).cast("decimal(18,4)"))
            .otherwise(col("v")))
        .filter(!(col("o_orderkey") % 10 =!= 0 && col("o_orderkey") % 7 === 0))
      IncrementalAgg.maintainTopK(mv, cdc, post, Seq("o_custkey"),
        k = 3, idCol = "o_orderkey", valueCol = "v")
    },

    // Incremental MV maintenance with ENFORCED extrema (ops/IncrementalAgg
    // .maintainExtremaEnforced): q108's argmin/argmax story routed through
    // the id-carrying top-1 maintainer in both directions — the form a
    // deployment uses when it cannot guarantee maintainExtrema's
    // one-event-per-row feed contract at the source (the id makes a
    // violation detectable and raising, instead of silently folding a
    // superseded value as a live bound). Same deterministic CDC partition
    // of orders as q114; the oracle is the direct argmin/argmax of the
    // final state under graft_topk's total order (ties to the LOWER id).
    "q116_incremental_extrema_enforced" -> { (s, dir) =>
      val keyed = stagedOrdersCdc(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("v"))
      val base = keyed.filter(col("o_orderkey") % 10 =!= 0)
      // bootstrap MV: argmin/argmax ids beside the bounds via struct
      // ordering (ties to the lower id — the max direction negates the id
      // so maximizing picks the smaller one), independent of the
      // maintainer's own rebuild kernel
      val mv = base.groupBy(col("o_custkey")).agg(
        min(struct(col("v").cast("double").as("v"),
          col("o_orderkey"))).as("mn"),
        max(struct(col("v").cast("double").as("v"),
          (-col("o_orderkey")).as("nid"))).as("mx"))
        .select(col("o_custkey"),
          col("mn.o_orderkey").as("min_id"), col("mn.v").as("min_value"),
          (-col("mx.nid")).as("max_id"), col("mx.v").as("max_value"))
      val cdc = keyed
        .withColumn("op",
          when(col("o_orderkey") % 10 === 0, "insert")
            .when(col("o_orderkey") % 7 === 0, "delete")
            .when(col("o_orderkey") % 13 === 0, "update"))
        .filter(col("op").isNotNull)
        .select(col("op"), col("o_custkey"), col("o_orderkey"),
          when(col("op") =!= "insert", col("v")).as("old_value"),
          when(col("op") === "insert", col("v"))
            .when(col("op") === "update", (col("v") + 1).cast("decimal(18,4)"))
            .as("new_value"))
      // the post-delta fact state (maintainExtrema's base contract)
      val post = keyed
        .withColumn("v",
          when(col("o_orderkey") % 10 === 0, col("v"))
            .when(col("o_orderkey") % 13 === 0, (col("v") + 1).cast("decimal(18,4)"))
            .otherwise(col("v")))
        .filter(!(col("o_orderkey") % 10 =!= 0 && col("o_orderkey") % 7 === 0))
      IncrementalAgg.maintainExtremaEnforced(mv, cdc, post, Seq("o_custkey"),
        idCol = "o_orderkey", valueCol = "v")
    },

    // F5 synthetic dash-joined id (reference: utils/utils.py:57-60).
    "q14_id_synth" -> { (s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_totalprice") > 400000)
        .select(
          GameIds.syntheticId(col("o_orderkey"), col("o_custkey")).as("id"),
          col("o_totalprice"))
    })

  val oracles: Map[String, String] = Map(
    // The direct aggregate of the FINAL table state after the CDC story
    // (inserts present, deletes absent, updates at their new value) — the
    // incremental path must land on exactly this.
    "q86_incremental_agg" ->
      """WITH f AS (
           SELECT o_custkey,
             CASE WHEN o_orderkey % 10 = 0
                    THEN CAST(o_totalprice AS DECIMAL(18,4))
                  WHEN o_orderkey % 13 = 0
                    THEN CAST(o_totalprice AS DECIMAL(18,4)) + 1
                  ELSE CAST(o_totalprice AS DECIMAL(18,4)) END AS v
           FROM orders
           WHERE NOT (o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0))
         SELECT o_custkey, count(*) AS n_orders,
           CAST(CAST(sum(v) AS DECIMAL(38,4)) AS DOUBLE) AS sum_price
         FROM f GROUP BY 1""",
    // q86's final-state aggregate with the extrema the selective
    // recompute must land on
    "q108_incremental_extrema" ->
      """WITH f AS (
           SELECT o_custkey,
             CASE WHEN o_orderkey % 10 = 0
                    THEN CAST(o_totalprice AS DECIMAL(18,4))
                  WHEN o_orderkey % 13 = 0
                    THEN CAST(o_totalprice AS DECIMAL(18,4)) + 1
                  ELSE CAST(o_totalprice AS DECIMAL(18,4)) END AS v
           FROM orders
           WHERE NOT (o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0))
         SELECT o_custkey, count(*) AS n_orders,
           CAST(CAST(sum(v) AS DECIMAL(38,4)) AS DOUBLE) AS sum_price,
           CAST(min(v) AS DOUBLE) AS min_price,
           CAST(max(v) AS DOUBLE) AS max_price
         FROM f GROUP BY 1""",
    // the final-state distinct-count the support-table maintenance must
    // land on (same CDC partition as q86/q108, string value domain)
    "q110_incremental_distinct" ->
      """WITH f AS (
           SELECT o_custkey,
             CASE WHEN o_orderkey % 10 = 0 THEN o_orderpriority
                  WHEN o_orderkey % 13 = 0 THEN o_orderpriority || '*'
                  ELSE o_orderpriority END AS v
           FROM orders
           WHERE NOT (o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0))
         SELECT o_custkey, count(DISTINCT v) AS n_distinct,
           count(*) AS n_rows
         FROM f GROUP BY 1""",
    // the final-state top-3 per customer under the SAME total order the
    // bounded heap keeps (value desc, ties to the lower id) — the
    // incremental fold must land on exactly these rows
    "q114_incremental_topk" ->
      """WITH f AS (
           SELECT o_custkey, o_orderkey,
             CASE WHEN o_orderkey % 10 = 0
                    THEN CAST(o_totalprice AS DECIMAL(18,4))
                  WHEN o_orderkey % 13 = 0
                    THEN CAST(o_totalprice AS DECIMAL(18,4)) + 1
                  ELSE CAST(o_totalprice AS DECIMAL(18,4)) END AS v
           FROM orders
           WHERE NOT (o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0)),
         r AS (
           SELECT o_custkey, o_orderkey, v,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY v DESC, o_orderkey) AS rk
           FROM f)
         SELECT o_custkey, o_orderkey, CAST(v AS DOUBLE) AS v
         FROM r WHERE rk <= 3""",
    // the final-state argmin/argmax per customer under the SAME total
    // order the top-1 heaps keep (min: value asc; max: value desc; ties
    // to the lower id in both directions) — the enforced two-direction
    // fold must land on exactly these (ids included)
    "q116_incremental_extrema_enforced" ->
      """WITH f AS (
           SELECT o_custkey, o_orderkey,
             CASE WHEN o_orderkey % 10 = 0
                    THEN CAST(o_totalprice AS DECIMAL(18,4))
                  WHEN o_orderkey % 13 = 0
                    THEN CAST(o_totalprice AS DECIMAL(18,4)) + 1
                  ELSE CAST(o_totalprice AS DECIMAL(18,4)) END AS v
           FROM orders
           WHERE NOT (o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0)),
         r AS (
           SELECT o_custkey, o_orderkey, v,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY v ASC, o_orderkey) AS rk_min,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY v DESC, o_orderkey) AS rk_max
           FROM f)
         SELECT mn.o_custkey,
           mn.o_orderkey AS min_id, CAST(mn.v AS DOUBLE) AS min_value,
           mx.o_orderkey AS max_id, CAST(mx.v AS DOUBLE) AS max_value
         FROM r mn JOIN r mx ON mn.o_custkey = mx.o_custkey
         WHERE mn.rk_min = 1 AND mx.rk_max = 1""",
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
         avg(l_quantity) AS avg_qty,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",
    "q99_returns_topk" ->
      """SELECT c_custkey, c_name, n_name,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
           AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, c_custkey ASC LIMIT 20""",
    "q100_local_volume" ->
      """SELECT r_name, n_name,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
           AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2""",
    "q02_project_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
         WHERE l_returnflag = 'R' AND l_quantity > 45""",
    "q03_filter_in_contains" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')
           AND c_acctbal IS NOT NULL AND c_name LIKE '%1%'""",
    "q04_join_agg" ->
      """SELECT o_orderpriority,
         count(DISTINCT o_orderkey) AS order_count,
         sum(l_quantity) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",
    "q05_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q06_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""",
    "q07_broadcast_dims" ->
      """SELECT r_name, n_name,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    "q08_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    "q09_union" ->
      """SELECT c_custkey, c_mktsegment AS segment FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION ALL
         SELECT c_custkey, c_mktsegment AS segment FROM customer WHERE c_mktsegment = 'AUTOMOBILE'""",
    "q10_except" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         EXCEPT
         SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""",
    "q11_window_topn" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) t
         WHERE rn <= 3""",
    "q12_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10""",
    "q13_key_multiplicity" ->
      """SELECT l_orderkey, count(*) AS n_lines FROM lineitem
         GROUP BY l_orderkey HAVING count(*) >= 6""",
    "q27_rollup_totals" ->
      """SELECT o_orderpriority, o_orderstatus,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders
         GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""",
    "q14_id_synth" ->
      """SELECT CAST(o_orderkey AS VARCHAR) || '-' || CAST(o_custkey AS VARCHAR) AS id,
         o_totalprice
         FROM orders WHERE o_totalprice > 400000""")
}
