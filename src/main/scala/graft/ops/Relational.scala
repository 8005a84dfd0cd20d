package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational batch operators (SURVEY.md §2B: aggregations, joins,
  * windows, sorts/limits, set ops). All stock DataFrame API — Catalyst
  * picks broadcast-hash for the small dimensions and sort-merge/shuffled
  * hash for fact-fact joins; AQE re-plans at runtime. Scale notes are on
  * each query. */
object Relational {

  def defs: Seq[Q] = Seq(

    // ---------------------------------------------------------- aggregations
    Q(
      "agg_q1",
      "TPC-H Q1 shape: two-phase hash aggregation (partial map-side, " +
        "final after a 2-key shuffle). l_quantity is integral so its sum " +
        "is exact; price sums are rounded post-aggregate so summation " +
        "order can't flip the value. Scales: shuffle carries only " +
        "6 groups × partial buffers, never rows.",
      (s, dir) => {
        val li = Tables.t(s, dir, "lineitem")
        li.filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum("l_quantity").as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
            round(avg("l_quantity"), 4).as("avg_qty"),
            round(avg("l_extendedprice"), 4).as("avg_price"),
            round(avg("l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        sum(l_quantity) AS sum_qty,
        round(sum(l_extendedprice), 2) AS sum_base_price,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        round(avg(l_quantity), 4) AS avg_qty,
        round(avg(l_extendedprice), 4) AS avg_price,
        round(avg(l_discount), 4) AS avg_disc,
        count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    Q(
      "agg_count_distinct",
      "Exact distinct counts per group (expands to a two-level " +
        "aggregation; at scale prefer approx_count_distinct — declared " +
        "separately without an oracle since HLL is approximate).",
      (s, dir) => {
        val li = Tables.t(s, dir, "lineitem")
        li.groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_orderkey")).as("n_orders"),
            countDistinct(col("l_partkey")).as("n_parts"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
        count(DISTINCT l_orderkey) AS n_orders,
        count(DISTINCT l_partkey) AS n_parts,
        count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Q(
      "agg_filtered",
      "Filtered/conditional aggregation (FILTER (WHERE ...) ≡ " +
        "count/sum(when(...))); stays in whole-stage codegen.",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        o.groupBy("o_orderpriority")
          .agg(
            count(when(col("o_totalprice") > 200000, 1)).as("n_big"),
            round(sum(when(col("o_orderstatus") === "F", col("o_totalprice"))), 2).as("sum_f"),
            round(avg(when(col("o_orderstatus") === "O", col("o_totalprice"))), 4).as("avg_o"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
        COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        round(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS sum_f,
        round(AVG(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 4) AS avg_o
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    Q(
      "agg_rollup",
      "ROLLUP grouping-set aggregation with grouping() flags; Spark " +
        "expands to a single Expand + hash aggregate (one shuffle).",
      (s, dir) => {
        val li = Tables.t(s, dir, "lineitem")
        li.rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(
            count(lit(1)).as("n"),
            sum("l_quantity").as("sum_qty"),
            grouping(col("l_returnflag")).cast("int").as("g_rf"),
            grouping(col("l_linestatus")).cast("int").as("g_ls"))
          .orderBy(col("g_rf"), col("g_ls"),
            col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty,
        CAST(GROUPING(l_returnflag) AS INT) AS g_rf, CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    Q(
      "agg_cube",
      "CUBE over two order dimensions with an exact-cents sum. The " +
        "money column sums as integer cents, not doubles: the cube's " +
        "GRAND-TOTAL row aggregates the whole table, and a float sum " +
        "that wide is association-order-dependent — the r15 sf1 sweep " +
        "caught the last cent flipping between engines at 10× data. " +
        "Integer sums are order-independent at any scale (exact to " +
        "2^63 cents).",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        o.cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("sum_price"),
            grouping(col("o_orderstatus")).cast("int").as("g_st"),
            grouping(col("o_orderpriority")).cast("int").as("g_pr"))
          .orderBy(col("g_st"), col("g_pr"),
            col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS sum_price,
        CAST(GROUPING(o_orderstatus) AS INT) AS g_st, CAST(GROUPING(o_orderpriority) AS INT) AS g_pr
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY g_st, g_pr, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    Q(
      "agg_collect",
      "collect_list / collect_set made deterministic by sorting the " +
        "arrays (numerically, before the canonical ','-joined string " +
        "encoding — string-sorting would put 10 before 2). Bounded input " +
        "(filter) — unbounded collect on a hot key is an anti-pattern at " +
        "scale, hence the guard.",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        c.filter(col("c_custkey") < 200)
          .groupBy("c_mktsegment")
          .agg(
            concat_ws(",", transform(array_sort(collect_list(col("c_custkey"))),
              x => x.cast("string"))).as("custkeys"),
            concat_ws(",", transform(array_sort(collect_set(col("c_nationkey"))),
              x => x.cast("string"))).as("nations"),
            count(lit(1)).as("n"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
        array_to_string(list_sort(list(c_custkey)), ',') AS custkeys,
        array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
        count(*) AS n
        FROM customer WHERE c_custkey < 200
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    Q(
      "agg_pivot",
      "Pivot: order counts + rounded sums per priority, one column per " +
        "status. Explicit value list keeps the output schema static (at " +
        "scale an implicit pivot means an extra distinct-values job).",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        o.groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(round(sum("o_totalprice"), 2))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
        round(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS F,
        round(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS O,
        round(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2) AS P
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    Q(
      "agg_unpivot",
      "Unpivot (melt): wide per-part numeric columns to (key, metric, " +
        "value) rows — narrow shuffle-friendly form.",
      (s, dir) => {
        val p = Tables.t(s, dir, "part")
        p.select(col("p_partkey"), col("p_retailprice"), col("p_size").cast("double").as("p_size"))
          .unpivot(
            Array(col("p_partkey")),
            Array(col("p_retailprice"), col("p_size")),
            "metric", "value")
          .orderBy("p_partkey", "metric")
      },
      Some("""SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
        UNION ALL
        SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
        ORDER BY p_partkey, metric""")),

    Q(
      "agg_string_agg",
      "String aggregation (listagg): ordered, delimited concatenation " +
        "per group — built as concat_ws over a sorted collect_list.",
      (s, dir) => {
        val n = Tables.t(s, dir, "nation")
        n.groupBy("n_regionkey")
          .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
          .orderBy("n_regionkey")
      },
      Some("""SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    Q(
      "agg_percentile",
      "Exact interpolated percentiles per group (median + p90). Rounded " +
        "post-aggregate: both engines interpolate over the same sorted " +
        "values, but the lerp formula may differ in the last ulp. At " +
        "100 TB the exact form needs a per-group sort — approx_percentile " +
        "is the sketch-based alternative (t-digest).",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        o.groupBy("o_orderstatus")
          .agg(
            round(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000000)), 4).as("p50_approx"),
            round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
            round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
        round(quantile_disc(o_totalprice, 0.5), 4) AS p50_approx,
        round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        round(quantile_cont(o_totalprice, 0.9), 4) AS p90
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ----------------------------------------------------------------- joins
    Q(
      "join_inner_chain",
      "customer⋈nation⋈region dimension chain — both dims broadcast " +
        "(no shuffle of the fact side at any scale).",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        val n = broadcast(Tables.t(s, dir, "nation"))
        val r = broadcast(Tables.t(s, dir, "region"))
        c.join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("sum_bal"))
          .orderBy("r_name")
      },
      Some("""SELECT r_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")),

    Q(
      "join_left_outer",
      "Left outer join preserving customers with zero orders; " +
        "count(col) skips the nulls the outer side introduces.",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        val o = Tables.t(s, dir, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("n_orders"),
            round(sum("o_totalprice"), 2).as("sum_price"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
        round(sum(o_totalprice), 2) AS sum_price
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey ORDER BY c_custkey""")),

    Q(
      "join_semi",
      "Left semi join (EXISTS): customers having at least one big order. " +
        "Semi joins ship only the join key of the right side.",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        val big = Tables.t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        c.join(big, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        ORDER BY c_custkey""")),

    Q(
      "join_anti",
      "Left anti join (NOT EXISTS): customers with no big order.",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        val big = Tables.t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        c.join(big, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        ORDER BY c_custkey""")),

    Q(
      "join_right_outer",
      "Right outer join preserving order rows whose customer was " +
        "filtered away (null customer columns).",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer").filter(col("c_custkey") < 700)
        val o = Tables.t(s, dir, "orders").filter(col("o_orderkey") < 3000)
        c.join(o, col("c_custkey") === col("o_custkey"), "right")
          .select(col("o_orderkey"), col("o_custkey"), col("c_name"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey, c_name
        FROM (SELECT * FROM customer WHERE c_custkey < 700) c
        RIGHT JOIN (SELECT * FROM orders WHERE o_orderkey < 3000) o
          ON c_custkey = o_custkey
        ORDER BY o_orderkey""")),

    Q(
      "join_full_outer",
      "Full outer join over partially overlapping key ranges, nulls on " +
        "both sides; total order via nulls-first keys.",
      (s, dir) => {
        val left = Tables.t(s, dir, "customer")
          .filter(col("c_custkey") < 1000)
          .select(col("c_custkey").as("k"), col("c_name"))
        val right = Tables.t(s, dir, "orders")
          .filter(col("o_custkey") >= 500)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
          .select(col("o_custkey").as("k2"), col("n_orders"))
        left.join(right, col("k") === col("k2"), "full")
          .orderBy(col("k").asc_nulls_first, col("k2").asc_nulls_first)
      },
      Some("""SELECT l.k, l.c_name, r.k2, r.n_orders
        FROM (SELECT c_custkey AS k, c_name FROM customer WHERE c_custkey < 1000) l
        FULL JOIN (SELECT o_custkey AS k2, count(*) AS n_orders
                   FROM orders WHERE o_custkey >= 500 GROUP BY 1) r
          ON l.k = r.k2
        ORDER BY l.k NULLS FIRST, r.k2 NULLS FIRST""")),

    Q(
      "join_cross",
      "Cross join bounded to tiny inputs (5 regions × order statuses).",
      (s, dir) => {
        val r = Tables.t(s, dir, "region")
        val st = Tables.t(s, dir, "orders").select("o_orderstatus").distinct()
        r.crossJoin(st)
          .select("r_name", "o_orderstatus")
          .orderBy("r_name", "o_orderstatus")
      },
      Some("""SELECT r_name, o_orderstatus
        FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        ORDER BY r_name, o_orderstatus""")),

    Q(
      "join_theta",
      "Theta self-join: nation pairs within a region (equi conjunct " +
        "keeps it a hash join; the < is a post-join filter).",
      (s, dir) => {
        val n = Tables.t(s, dir, "nation")
        val n1 = n.select(col("n_nationkey").as("k1"), col("n_name").as("name1"), col("n_regionkey").as("rk"))
        val n2 = n.select(col("n_nationkey").as("k2"), col("n_name").as("name2"), col("n_regionkey").as("rk2"))
        n1.join(n2, col("rk") === col("rk2") && col("k1") < col("k2"))
          .select("rk", "k1", "name1", "k2", "name2")
          .orderBy("rk", "k1", "k2")
      },
      Some("""SELECT a.n_regionkey AS rk, a.n_nationkey AS k1, a.n_name AS name1,
        b.n_nationkey AS k2, b.n_name AS name2
        FROM nation a JOIN nation b
          ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        ORDER BY rk, k1, k2""")),

    Q(
      "join_range_band",
      "Pure non-equi band join, planned through the engine's " +
        "BandJoinRule (injected by GraftExtensions at session build): the O(|L|·|R|) " +
        "nested loop Spark would pick is rewritten to a bucketed " +
        "equi-join on floor(value/width) — 5|L|+|R| rows through a hash " +
        "join, the shape that survives 100 TB. Results are identical to " +
        "the nested loop (the rule re-verifies the exact band " +
        "condition); ScaleSpec pins the no-BNLJ plan at realistic |R|.",
      (s, dir) => {
        val su = broadcast(Tables.t(s, dir, "supplier"))
        val p = Tables.t(s, dir, "part")
        p.join(su, col("p_retailprice").between(col("s_acctbal") - 500, col("s_acctbal") + 500))
          .groupBy("s_suppkey")
          .agg(count(lit(1)).as("n_parts"), min("p_partkey").as("min_part"))
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, count(*) AS n_parts, min(p_partkey) AS min_part
        FROM part JOIN supplier
          ON p_retailprice BETWEEN s_acctbal - 500 AND s_acctbal + 500
        GROUP BY s_suppkey ORDER BY s_suppkey""")),

    Q(
      "join_asof",
      "As-of join: for each event, the most recent purchase ts (≤ its " +
        "own ts) of the same user. Implemented as a single-pass window " +
        "(max over an unbounded-preceding RANGE frame) — one shuffle on " +
        "user_id, no self-join blowup; DuckDB's native ASOF JOIN is the " +
        "oracle. The RANGE (not ROWS) frame includes same-ts peers, so a " +
        "same-timestamp purchase matches — ASOF's `>=` semantics exactly. " +
        "Emitted as epoch-µs (events.ts is ns in parquet).",
      (s, dir) => {
        val e = Tables.t(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy(col("ts"))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        e.withColumn("p_ts",
            max(when(col("event_type") === "purchase", col("ts"))).over(w))
          .select(col("event_id"), Tables.epochUs(col("p_ts")).as("asof_us"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, epoch_us(CAST(p.ts AS TIMESTAMP)) AS asof_us
        FROM events e
        ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
          ON e.user_id = p.user_id AND e.ts >= p.ts
        ORDER BY e.event_id""")),

    Q(
      "join_asof_native",
      "Same as-of semantics through the engine's native operator stack " +
        "(AsOfJoin logical node → AsOfJoinStrategy → AsOfJoinExec " +
        "two-pointer merge over co-partitioned sorted children) — " +
        "O(|L|+|R|) with O(1) state, vs the window composition that " +
        "buffers through window machinery. Same DuckDB ASOF oracle.",
      (s, dir) => {
        val e = Tables.t(s, dir, "events")
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        AsOf.join(e, purchases, "user_id", "p_user", "ts", "p_ts")
          .select(col("event_id"), Tables.epochUs(col("p_ts")).as("asof_us"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, epoch_us(CAST(p.ts AS TIMESTAMP)) AS asof_us
        FROM events e
        ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
          ON e.user_id = p.user_id AND e.ts >= p.ts
        ORDER BY e.event_id""")),

    Q(
      "join_asof_forward_native",
      "Forward as-of through the native operator stack: the exec " +
        "drops same-key right rows strictly below the left time (left " +
        "times ascend within a key, so they can never match again) " +
        "and PEEKS the head as the match without consuming it — one " +
        "right row may serve many left rows. Same O(|L|+|R|) merge, " +
        "same oracle as the window-based join_asof_forward.",
      (s, dir) => {
        val e = Tables.t(s, dir, "events")
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        AsOf.join(e, purchases, "user_id", "p_user", "ts", "p_ts",
            direction = "forward")
          .select(col("event_id"), Tables.epochUs(col("p_ts")).as("asof_us"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id,
          (SELECT min(epoch_us(CAST(p.ts AS TIMESTAMP))) FROM events p
            WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
              AND p.ts >= e.ts) AS asof_us
        FROM events e ORDER BY e.event_id""")),

    Q(
      "join_asof_nearest_native",
      "Nearest as-of through the native operator stack: the backward " +
        "candidate buffers as in the classic merge, the forward " +
        "candidate is the peeked head, and the closer exact-integer-" +
        "µs gap wins with ties backward (the pandas merge_asof rule). " +
        "Still one pass, O(1) state. Same oracle as the window-based " +
        "join_asof_nearest.",
      (s, dir) => {
        val e = Tables.t(s, dir, "events")
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        AsOf.join(e, purchases, "user_id", "p_user", "ts", "p_ts",
            direction = "nearest")
          .select(col("event_id"), Tables.epochUs(col("p_ts")).as("asof_us"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type,
            epoch_us(CAST(ts AS TIMESTAMP)) AS eus FROM events),
        b AS (SELECT event_id, user_id, eus,
            max(CASE WHEN event_type = 'purchase' THEN eus END)
              OVER (PARTITION BY user_id ORDER BY eus
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_us,
            min(CASE WHEN event_type = 'purchase' THEN eus END)
              OVER (PARTITION BY user_id ORDER BY eus
                RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f_us
          FROM e)
        SELECT event_id,
          CASE WHEN b_us IS NULL THEN f_us
               WHEN f_us IS NULL THEN b_us
               WHEN eus - b_us <= f_us - eus THEN b_us
               ELSE f_us END AS asof_us
        FROM b ORDER BY event_id""")),

    Q(
      "join_asof_tolerance_native",
      "Staleness-bounded backward as-of through the native operator " +
        "stack: the exec's emit step nulls any match whose exact-" +
        "integer-µs gap exceeds the 1h tolerance (pandas merge_asof " +
        "tolerance=, composable with every direction). Same single " +
        "merge pass; same oracle as the window-based " +
        "join_asof_tolerance.",
      (s, dir) => {
        val e = Tables.t(s, dir, "events")
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        AsOf.join(e, purchases, "user_id", "p_user", "ts", "p_ts",
            tolerance = Some(3600000000L))
          .select(col("event_id"), Tables.epochUs(col("p_ts")).as("asof_us"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id,
          (SELECT max(epoch_us(CAST(p.ts AS TIMESTAMP))) FROM events p
            WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
              AND p.ts <= e.ts
              AND epoch_us(CAST(e.ts AS TIMESTAMP))
                - epoch_us(CAST(p.ts AS TIMESTAMP)) <= 3600000000) AS asof_us
        FROM events e ORDER BY e.event_id""")),

    Q(
      "join_asof_forward",
      "Forward as-of join (pandas merge_asof direction='forward'): for " +
        "each event, the EARLIEST purchase at-or-after its own ts by " +
        "the same user — the mirror of join_asof, as a min over an " +
        "unbounded-FOLLOWING RANGE frame. Same one-shuffle-on-user_id " +
        "shape, no self-join; the oracle is an independent correlated " +
        "min subquery (DuckDB decorrelates it into a join).",
      (s, dir) => {
        val e = Tables.t(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy(col("ts"))
          .rangeBetween(Window.currentRow, Window.unboundedFollowing)
        e.withColumn("p_ts",
            min(when(col("event_type") === "purchase", col("ts"))).over(w))
          .select(col("event_id"), Tables.epochUs(col("p_ts")).as("asof_us"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id,
          (SELECT min(epoch_us(CAST(p.ts AS TIMESTAMP))) FROM events p
            WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
              AND p.ts >= e.ts) AS asof_us
        FROM events e ORDER BY e.event_id""")),

    Q(
      "join_asof_tolerance",
      "Backward as-of join with a max-staleness tolerance (pandas " +
        "merge_asof tolerance=1h): each event takes the latest same-" +
        "user purchase at-or-before its ts, but only if it is at most " +
        "one hour old — the freshness bound every feature-store lookup " +
        "needs. Same single exchange+sort on (user_id, ts) as " +
        "join_asof (unbounded-PRECEDING RANGE max frame); the bound is " +
        "a null-out on the exact integer µs gap, which is equivalent " +
        "to windowing the frame itself (the latest purchase ≤ ts " +
        "either is the latest within tolerance, or none is) without " +
        "needing a range-offset frame over a timestamp key. Oracle: " +
        "independent correlated subquery with the bound in the " +
        "predicate.",
      (s, dir) => {
        val e = Tables.t(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy(col("ts"))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        e.withColumn("b_us", Tables.epochUs(
            max(when(col("event_type") === "purchase", col("ts"))).over(w)))
          .withColumn("eus", Tables.epochUs(col("ts")))
          .select(col("event_id"),
            when(col("eus") - col("b_us") <= lit(3600000000L), col("b_us"))
              .as("asof_us"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id,
          (SELECT max(epoch_us(CAST(p.ts AS TIMESTAMP))) FROM events p
            WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
              AND p.ts <= e.ts
              AND epoch_us(CAST(e.ts AS TIMESTAMP))
                - epoch_us(CAST(p.ts AS TIMESTAMP)) <= 3600000000) AS asof_us
        FROM events e ORDER BY e.event_id""")),

    Q(
      "join_asof_nearest",
      "Nearest as-of join (pandas merge_asof direction='nearest', ties " +
        "to the earlier side): each event matched to the purchase " +
        "closest in time by the same user, in either direction. " +
        "Composes the backward max-frame and forward min-frame over " +
        "one exchange+sort on (user_id, ts) — Spark stacks the two " +
        "frame passes directly on the same sorted partitioning, no " +
        "second shuffle — then picks the smaller exact-integer µs " +
        "gap. NULL direction falls back to the other side; tie " +
        "prefers backward.",
      (s, dir) => {
        val e = Tables.t(s, dir, "events")
        val ord = Window.partitionBy("user_id").orderBy(col("ts"))
        val wb = ord.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        val wf = ord.rangeBetween(Window.currentRow, Window.unboundedFollowing)
        val isP = col("event_type") === "purchase"
        e.withColumn("b_us", Tables.epochUs(max(when(isP, col("ts"))).over(wb)))
          .withColumn("f_us", Tables.epochUs(min(when(isP, col("ts"))).over(wf)))
          .withColumn("eus", Tables.epochUs(col("ts")))
          .select(col("event_id"),
            when(col("b_us").isNull, col("f_us"))
              .when(col("f_us").isNull, col("b_us"))
              .when(col("eus") - col("b_us") <= col("f_us") - col("eus"),
                col("b_us"))
              .otherwise(col("f_us")).as("asof_us"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type,
            epoch_us(CAST(ts AS TIMESTAMP)) AS eus FROM events),
        b AS (SELECT event_id, user_id, eus,
            max(CASE WHEN event_type = 'purchase' THEN eus END)
              OVER (PARTITION BY user_id ORDER BY eus
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_us,
            min(CASE WHEN event_type = 'purchase' THEN eus END)
              OVER (PARTITION BY user_id ORDER BY eus
                RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f_us
          FROM e)
        SELECT event_id,
          CASE WHEN b_us IS NULL THEN f_us
               WHEN f_us IS NULL THEN b_us
               WHEN eus - b_us <= f_us - eus THEN b_us
               ELSE f_us END AS asof_us
        FROM b ORDER BY event_id""")),

    // --------------------------------------------------------------- windows
    Q(
      "window_rank",
      "Ranking window functions: top-3 orders per customer by price " +
        "(row_number with key tie-break) plus a dense_rank on status.",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val byPrice = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val byStatus = Window.partitionBy("o_custkey").orderBy(col("o_orderstatus"))
        o.withColumn("rn", row_number().over(byPrice).cast("int"))
          .withColumn("drk", dense_rank().over(byStatus).cast("int"))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn", "drk")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn, drk FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
            CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn,
            CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS INT) AS drk
          FROM orders)
        WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    Q(
      "window_lag_lead",
      "Analytic lag/lead/first over per-user event streams; deltas in " +
        "epoch-µs (exact integers, immune to ts precision skew).",
      (s, dir) => {
        val e = Tables.t(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        e.select(
            col("event_id"), col("user_id"),
            (Tables.epochUs(col("ts")) - Tables.epochUs(lag(col("ts"), 1).over(w))).as("delta_us"),
            lead(col("event_type"), 1).over(w).as("next_type"),
            first(col("event_type")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_type"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type,
          epoch_us(CAST(ts AS TIMESTAMP)) AS eus FROM events)
        SELECT event_id, user_id,
          eus - lag(eus) OVER w AS delta_us,
          lead(event_type) OVER w AS next_type,
          first_value(event_type) OVER (PARTITION BY user_id ORDER BY eus, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_type
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY eus, event_id)
        ORDER BY event_id""")),

    Q(
      "window_frames",
      "Frame specs: running sum (unbounded preceding) and sliding " +
        "3-row average per customer; rounded post-window so segment-tree " +
        "vs sequential accumulation order can't flip values.",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        o.select(
            col("o_custkey"), col("o_orderkey"),
            round(sum("o_totalprice").over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running_sum"),
            round(avg("o_totalprice").over(w.rowsBetween(-2, 0)), 4).as("sliding_avg"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
        round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum,
        round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS sliding_avg
        FROM orders ORDER BY o_custkey, o_orderkey""")),

    Q(
      "window_range_frame",
      "RANGE frame over a numeric day offset: 30-day trailing order " +
        "count and rounded sum per customer (rangeBetween needs a " +
        "single numeric sort key — day-since-epoch here).",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val day = datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
        val w = Window.partitionBy("o_custkey").orderBy(col("day"))
          .rangeBetween(-30, 0)
        o.withColumn("day", day)
          .select(
            col("o_custkey"), col("o_orderkey"), col("day"),
            count(lit(1)).over(w).as("n_30d"),
            round(sum("o_totalprice").over(w), 2).as("sum_30d"))
          .orderBy("o_custkey", "day", "o_orderkey")
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice,
          CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day
        FROM orders)
        SELECT o_custkey, o_orderkey, day,
          count(*) OVER w AS n_30d,
          round(sum(o_totalprice) OVER w, 2) AS sum_30d
        FROM o
        WINDOW w AS (PARTITION BY o_custkey ORDER BY day
          RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, day, o_orderkey""")),

    Q(
      "window_distribution",
      "Distribution window functions: percent_rank and cume_dist per " +
        "market segment (exact rational values — identical operands both " +
        "engines, no rounding needed). Ranks ride [[Skew.groupedRank]] " +
        "(range-partitioned per-group rank + broadcast offsets + the " +
        "per-group total) instead of a window partitioned by the " +
        "5-value segment — the order includes the unique key, so " +
        "rank = row_number and pr = (r−1)/(n−1), cd = r/n are the " +
        "same divisions percent_rank/cume_dist evaluate.",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        Skew.groupedRank(c, Seq("c_mktsegment"),
            Seq(col("c_acctbal"), col("c_custkey")),
            rankCol = "__r", totalCol = Some("__n"))
          .select(
            col("c_custkey"), col("c_mktsegment"),
            // singleton group: percent_rank defines 0.0 where raw
            // division would give 0/0 = NaN
            when(col("__n") === 1, lit(0.0))
              .otherwise((col("__r") - 1).cast("double")
                / (col("__n") - 1).cast("double")).as("pr"),
            (col("__r").cast("double") / col("__n").cast("double")).as("cd"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment,
        percent_rank() OVER w AS pr,
        cume_dist() OVER w AS cd
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        ORDER BY c_custkey""")),

    Q(
      "window_ntile",
      "ntile quartiles over a global ordering, computed at scale by " +
        "[[Skew.globalNtile]]: range-repartition on the sort key, rank " +
        "locally per partition, add broadcast per-partition offsets, " +
        "and reconstruct the SQL-standard tile rule in integer " +
        "arithmetic — bit-identical to an unpartitioned-window ntile " +
        "(the DuckDB oracle) with no single-task global sort anywhere " +
        "in the plan.",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        Skew.globalNtile(c,
            Seq(col("c_acctbal").desc, col("c_custkey")), 4, "quartile")
          .select(col("c_custkey"), col("quartile").cast("int").as("quartile"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
        CAST(ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS INT) AS quartile
        FROM customer ORDER BY c_custkey""")),

    Q(
      "join_null_safe",
      "Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys " +
        "match each other instead of vanishing — the semantic every " +
        "dimension-with-unknown-member join needs. Keys are pre-" +
        "aggregated per side so the null bucket joins 1:1.",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val k = nullif(substring(col("o_orderpriority"), 1, 1), lit("3"))
        val a = o.filter(col("o_orderkey") % 2 === 0)
          .groupBy(k.as("k")).agg(count(lit(1)).as("n_even"))
        val b = o.filter(col("o_orderkey") % 2 === 1)
          .groupBy(k.as("k")).agg(count(lit(1)).as("n_odd"))
        a.join(b, a("k") <=> b("k"))
          .select(a("k").as("k"), col("n_even"), col("n_odd"))
          .orderBy(col("k").asc_nulls_first)
      },
      Some("""WITH a AS (SELECT nullif(substring(o_orderpriority, 1, 1), '3') AS k,
            count(*) AS n_even FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
        b AS (SELECT nullif(substring(o_orderpriority, 1, 1), '3') AS k,
            count(*) AS n_odd FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1)
        SELECT a.k, a.n_even, b.n_odd
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        ORDER BY a.k NULLS FIRST""")),

    Q(
      "window_ntile_partitioned",
      "The fact-scale ntile shape the plain query's NOTE points at: " +
        "quartiles per nation (partitioned window — every partition key " +
        "sorts independently, full task parallelism) plus width_bucket " +
        "equal-width binning, which needs no sort at all. (DuckDB lacks " +
        "width_bucket — the oracle spells out the SQL-standard formula; " +
        "cent-valued inputs sit far from bin edges so the engines' " +
        "float paths agree on every floor.)",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        c.select(
            col("c_custkey"),
            col("c_nationkey"),
            ntile(4).over(
              Window.partitionBy(col("c_nationkey"))
                .orderBy(col("c_acctbal").desc, col("c_custkey"))).cast("int").as("nation_quartile"),
            width_bucket(col("c_acctbal"), lit(-1000.0), lit(10000.0), lit(8)).cast("int").as("bal_bin"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_nationkey,
        CAST(ntile(4) OVER (PARTITION BY c_nationkey
          ORDER BY c_acctbal DESC, c_custkey) AS INT) AS nation_quartile,
        CAST(CASE WHEN c_acctbal < -1000.0 THEN 0
                  WHEN c_acctbal >= 10000.0 THEN 9
                  ELSE 1 + floor((c_acctbal - (-1000.0)) / ((10000.0 - (-1000.0)) / 8))
             END AS INT) AS bal_bin
        FROM customer ORDER BY c_custkey""")),

    // --------------------------------------------------------- sorts / top-k
    Q(
      "sort_topk",
      "Global top-k: planned as TakeOrderedAndProject (per-partition " +
        "heap + driver merge of k rows — no global sort at any scale).",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        o.orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(15)
          .select("o_orderkey", "o_totalprice", "o_orderdate")
      },
      Some("""SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""")),

    Q(
      "sort_global",
      "Global range-partitioned sort (sampled range exchange) over a " +
        "filtered projection.",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        o.filter(col("o_orderstatus") === "P")
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
          .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        WHERE o_orderstatus = 'P'
        ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""")),

    // ---------------------------------------------------------------- set ops
    Q(
      "set_union",
      "UNION (distinct) of two customer key sets.",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
          .union(c.filter(col("c_acctbal") > 7000).select("c_custkey"))
          .distinct()
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION SELECT c_custkey FROM customer WHERE c_acctbal > 7000
        ORDER BY c_custkey""")),

    Q(
      "set_union_all",
      "UNION ALL keeping duplicates (unionByName; no shuffle at all).",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey", "c_nationkey")
          .unionByName(c.filter(col("c_acctbal") > 7000).select("c_custkey", "c_nationkey"))
          .orderBy("c_custkey", "c_nationkey")
      },
      Some("""SELECT * FROM (
          SELECT c_custkey, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
          UNION ALL SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 7000)
        ORDER BY c_custkey, c_nationkey""")),

    Q(
      "set_intersect",
      "INTERSECT (distinct) of the same two key sets.",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
          .intersect(c.filter(col("c_acctbal") > 7000).select("c_custkey"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 7000
        ORDER BY c_custkey""")),

    Q(
      "set_except",
      "EXCEPT (distinct).",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
          .except(c.filter(col("c_acctbal") > 7000).select("c_custkey"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 7000
        ORDER BY c_custkey""")),

    Q(
      "set_except_all",
      "EXCEPT ALL — multiset difference with duplicate counting.",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .exceptAll(o.filter(col("o_orderstatus") === "P").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        ORDER BY o_custkey""")),

    Q(
      "set_intersect_all",
      "INTERSECT ALL — multiset intersection.",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .intersectAll(o.filter(col("o_orderstatus") === "P").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        ORDER BY o_custkey""")),

    Q(
      "join_interval_overlap",
      "Keyed interval-overlap join: each customer's open-status order " +
        "windows [orderdate, +14d] against their finished-status " +
        "windows, pairs where the intervals overlap (a.start ≤ b.end ∧ " +
        "b.start ≤ a.end). The customer key makes this an EQUI-join " +
        "with a range post-filter — sort-merge/hash on the key, never " +
        "a nested loop — so it scales as any keyed join does; the " +
        "unkeyed analogue is join_range_band's bucketed rewrite.",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        def side(status: String, pre: String) = o
          .filter(col("o_orderstatus") === status)
          .select(col("o_custkey").as(s"${pre}_cust"),
            col("o_orderkey").as(s"${pre}_order"),
            to_date(col("o_orderdate")).as(s"${pre}_start"),
            date_add(to_date(col("o_orderdate")), 14).as(s"${pre}_end"))
        side("O", "a").join(side("F", "b"),
            col("a_cust") === col("b_cust") &&
              col("a_start") <= col("b_end") && col("b_start") <= col("a_end"))
          .select(col("a_cust").as("custkey"),
            col("a_order"), col("b_order"), col("a_start"), col("b_start"))
          .orderBy("custkey", "a_order", "b_order")
      },
      Some("""WITH a AS (
          SELECT o_custkey AS cust, o_orderkey AS ord,
            CAST(o_orderdate AS DATE) AS s,
            CAST(o_orderdate AS DATE) + 14 AS e
          FROM orders WHERE o_orderstatus = 'O'),
        b AS (
          SELECT o_custkey AS cust, o_orderkey AS ord,
            CAST(o_orderdate AS DATE) AS s,
            CAST(o_orderdate AS DATE) + 14 AS e
          FROM orders WHERE o_orderstatus = 'F')
        SELECT a.cust AS custkey, a.ord AS a_order, b.ord AS b_order,
          a.s AS a_start, b.s AS b_start
        FROM a JOIN b ON a.cust = b.cust AND a.s <= b.e AND b.s <= a.e
        ORDER BY custkey, a_order, b_order""")),

    Q(
      "join_bloom_prefilter",
      "Explicit bloom-filter semi-join: build a bloom filter over the " +
        "high-value order keys (distributed treeAggregate via " +
        "DataFrameStatFunctions — the driver holds only the ~24 KB " +
        "sketch, the same cost class as a broadcast), evaluate " +
        "membership with the codegen'd BloomFilterMightContain " +
        "expression as a constant prefilter BEFORE the shuffle, then " +
        "an exact left-semi join scrubs the false positives, so the " +
        "result equals the plain semi-join (that is the oracle). At " +
        "100 TB the bloom drops ~all non-matching rows at the scan, " +
        "shrinking the shuffle by the selectivity factor; Spark's " +
        "runtime row-group bloom pushdown is the implicit twin " +
        "(pinned in ScaleSpec).",
      (s, dir) => {
        import org.apache.spark.sql.graftshim.CatalystBridge
        import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
        val li = Tables.t(s, dir, "lineitem")
        val hot = Tables.t(s, dir, "orders")
          .filter(col("o_totalprice") > 400000)
          .select(col("o_orderkey"))
        val bf = hot.stat.bloomFilter("o_orderkey", 20000L, 0.01)
        val bytes = {
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos); bos.toByteArray
        }
        val mightContain = CatalystBridge.column(BloomFilterMightContain(
          Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
          CatalystBridge.expression(col("l_orderkey"))))
        li.filter(mightContain)
          .join(hot, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
              .as("revenue"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n_items,
          round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        FROM lineitem
        WHERE l_orderkey IN
          (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    Q(
      "join_fuzzy_name",
      "Blocked fuzzy (edit-distance) self-join — the entity-resolution " +
        "operator: near-matching part-name pairs at Levenshtein ≤ 4. " +
        "The scale discipline is dedupe-then-compare: pairing runs over " +
        "the DISTINCT name vocabulary (a hash aggregate collapses the " +
        "corpus to its value domain FIRST, so a billion rows with a " +
        "bounded vocabulary never go quadratic), candidates are blocked " +
        "on the first token (an equi-join — never all-pairs; production " +
        "would add q-gram or length-band blocking keys the same way), " +
        "and the codegen'd levenshtein verifies survivors only inside " +
        "a block. The bounded distinct side is broadcast, so the " +
        "candidate join is shuffle-free.",
      (s, dir) => {
        val names = Tables.t(s, dir, "part")
          .select(col("p_name").as("name")).distinct()
          .withColumn("blk", split(col("name"), " ").getItem(0))
        val right = broadcast(names
          .select(col("name").as("name_b"), col("blk")))
        names.select(col("name").as("name_a"), col("blk"))
          .join(right, Seq("blk"))
          .filter(col("name_a") < col("name_b"))
          .withColumn("dist",
            levenshtein(col("name_a"), col("name_b")).cast("long"))
          .filter(col("dist") <= 4)
          .select(col("name_a"), col("name_b"), col("dist"))
          .orderBy("name_a", "name_b")
      },
      Some("""WITH n AS (SELECT DISTINCT p_name AS name FROM part),
        b AS (SELECT name, string_split(name, ' ')[1] AS blk FROM n)
        SELECT a.name AS name_a, c.name AS name_b,
          CAST(levenshtein(a.name, c.name) AS BIGINT) AS dist
        FROM b a JOIN b c ON a.blk = c.blk AND a.name < c.name
        WHERE levenshtein(a.name, c.name) <= 4
        ORDER BY name_a, name_b""")),

    Q(
      "agg_to_map",
      "Aggregation INTO a map column — per return flag, a " +
        "linestatus→row-count map built from the key-sorted entry " +
        "array (map_from_entries over sort_array, so entry order is " +
        "total), emitted through the canonical to_json encoding the " +
        "complex-type queries use: Spark's map JSON and a " +
        "key-ordered string_agg construction in DuckDB produce the " +
        "identical byte string for integer values. The " +
        "dynamic-schema pivot shape (keys not known at plan time) " +
        "that a fixed-column pivot can't express.",
      (s, dir) => {
        Tables.t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"))
          .groupBy("l_returnflag")
          .agg(map_from_entries(
            sort_array(collect_list(struct(col("l_linestatus"), col("n")))))
            .as("m"))
          .select(col("l_returnflag"), to_json(col("m")).as("status_counts"))
          .orderBy("l_returnflag")
      },
      Some("""WITH c AS (SELECT l_returnflag, l_linestatus, count(*) AS n
          FROM lineitem GROUP BY 1, 2)
        SELECT l_returnflag,
          '{' || string_agg('"' || l_linestatus || '":' || CAST(n AS VARCHAR),
            ',' ORDER BY l_linestatus) || '}' AS status_counts
        FROM c GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Q(
      "agg_count_if",
      "Predicate aggregates — count_if / every / some in one grouped " +
        "pass (the SQL-standard FILTER sugar's function-form cousins; " +
        "agg_filtered pins FILTER itself, agg_bool_bitwise the " +
        "bit-typed forms). All map-side-combinable boolean/count " +
        "buffers; nothing but the predicate evaluation touches the " +
        "rows.",
      (s, dir) => {
        val li = Tables.t(s, dir, "lineitem")
        li.groupBy("l_returnflag")
          .agg(expr("count_if(l_discount > 0.05)").as("n_discounted"),
            expr("every(l_quantity >= 1)").as("all_positive_qty"),
            expr("some(l_tax > 0.07)").as("any_high_tax"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
          CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
          bool_and(l_quantity >= 1) AS all_positive_qty,
          bool_or(l_tax > 0.07) AS any_high_tax,
          count(*) AS n
        FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""))
  )
}
