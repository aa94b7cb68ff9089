"""Join queries — the engine's deliberate capability upgrade over the
reference's zero-join surface (SURVEY §2.3, §7.1 M2), expressed Spark-first:
broadcast hash joins for dims, shuffle joins for fact-fact, semi/anti forms.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from newyork_taxi_etl_spark.functions.exact import avg_exact, avg_exact_sql, sum_exact, sum_exact_sql
from newyork_taxi_etl_spark.operators import joins as J
from newyork_taxi_etl_spark.registry import register
from newyork_taxi_etl_spark.sources.readers import read_events, table_path


def _t(spark, sf_dir, name):
    return spark.read.parquet(table_path(sf_dir, name))


@register(
    "broadcast_enrich",
    f"""
    SELECT r.r_name AS region_name,
           COUNT(*) AS order_cnt,
           {avg_exact_sql('o.o_totalprice')} AS avg_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
    doc="Broadcast star join (zone-enrichment upgrade, SURVEY §2.3): fact "
    "orders never shuffles, 3 dims broadcast",
)
def broadcast_enrich(spark, sf_dir):
    fact = _t(spark, sf_dir, "orders")
    joined = J.star_join(
        fact,
        [
            (_t(spark, sf_dir, "customer"), "o_custkey", "c_custkey"),
            (_t(spark, sf_dir, "nation"), "c_nationkey", "n_nationkey"),
            (_t(spark, sf_dir, "region"), "n_regionkey", "r_regionkey"),
        ],
    )
    return (
        joined.groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            avg_exact("o_totalprice").alias("avg_price"),
        )
        .orderBy("region_name")
    )


@register(
    "revenue_by_nation",
    f"""
    SELECT n.n_name AS nation_name,
           {sum_exact_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS line_cnt
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus <> 'F'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation_name
    """,
    doc="TPC-H Q5-shaped multi-join revenue rollup: lineitem⋈orders shuffle "
    "join (AQE-coalesced), customer/nation broadcast; filter pushed below "
    "the join",
)
def revenue_by_nation(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("line_cnt"),
        )
        .orderBy(F.desc("revenue"), "nation_name")
    )


@register(
    "top_unshipped_orders",
    f"""
    SELECT l.l_orderkey AS orderkey,
           {sum_exact_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND l.l_shipdate > o.o_orderdate
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-shaped top-k: segment-filtered broadcast dim + shuffle "
    "join + TakeOrderedAndProject",
)
def top_unshipped_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    joined = (
        o.join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
    )
    return (
        joined.groupBy(
            F.col("l_orderkey").alias("orderkey"), F.col("o_orderdate").alias("orderdate")
        )
        .agg(
            sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select("orderkey", "revenue", "orderdate")
        .orderBy(F.desc("revenue"), "orderkey")
        .limit(10)
    )


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
    doc="Anti join (NOT EXISTS) — left_anti, no payload crosses the exchange",
)
def customers_without_orders(spark, sf_dir):
    return (
        J.anti_join(
            _t(spark, sf_dir, "customer"),
            _t(spark, sf_dir, "orders"),
            "c_custkey",
            "o_custkey",
        )
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "suppliers_in_order_nations",
    """
    SELECT s_suppkey, s_name
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM customer c WHERE c.c_nationkey = s.s_nationkey
    )
    ORDER BY s_suppkey
    """,
    doc="Semi join (EXISTS) — left_semi",
)
def suppliers_in_order_nations(spark, sf_dir):
    return (
        J.semi_join(
            _t(spark, sf_dir, "supplier"),
            _t(spark, sf_dir, "customer"),
            "s_nationkey",
            "c_nationkey",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "set_ops",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'signup' AND value > 300
    ORDER BY user_id
    """,
    doc="Set operations (absent from the reference, SURVEY §2.7): "
    "INTERSECT + EXCEPT with distinct semantics",
)
def set_ops(spark, sf_dir):
    from newyork_taxi_etl_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    err = ev.filter(F.col("event_type") == "error").select("user_id")
    signup_hi = ev.filter(
        (F.col("event_type") == "signup") & (F.col("value") > 300)
    ).select("user_id")
    return purch.intersect(err).subtract(signup_hi).orderBy("user_id")


@register(
    "asof_join_events",
    """
    WITH t AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_type
      FROM events
    ),
    c AS (SELECT event_id, user_id, ts FROM t WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, value FROM t WHERE event_type = 'purchase')
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS matched_ts, p.value AS matched_value
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    doc="as-of (point-in-time) join: each click matched to the user's "
    "latest prior-or-equal purchase via the union+window formulation (one "
    "hash shuffle on the key + per-key sort — no non-equi nested loop); "
    "oracle is DuckDB's native ASOF LEFT JOIN",
)
def asof_join_events(spark, sf_dir):
    ev = read_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return J.asof_join(
        clicks, purchases, on="user_id", ts="ts", right_cols=["ts", "value"]
    )


@register(
    "range_join_windows",
    f"""
    WITH iv AS (
      SELECT i AS window_id,
             TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '30 hours' AS w_start,
             TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '30 hours'
               + INTERVAL '90 minutes' AS w_end
      FROM range(24) t(i)
    ),
    t AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events)
    SELECT iv.window_id, COUNT(*) AS cnt, {avg_exact_sql('t.value')} AS avg_value
    FROM t JOIN iv ON t.ts BETWEEN iv.w_start AND iv.w_end
    GROUP BY iv.window_id
    ORDER BY iv.window_id
    """,
    doc="range (interval-containment) join, bucketed: intervals explode "
    "into hour buckets, facts own one bucket each, the join is a hash "
    "equi-join on the bucket + exact containment filter — vs the "
    "quadratic nested-loop Spark plans for a raw BETWEEN join",
)
def range_join_windows(spark, sf_dir):
    ev = read_events(spark, sf_dir).select("ts", "value")
    iv = spark.range(24).select(
        F.col("id").cast("int").alias("window_id"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,id*30,0,0)"
        ).alias("w_start"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,id*30,90,0)"
        ).alias("w_end"),
    )
    joined = J.range_join_bucketed(ev, iv, "ts", "w_start", "w_end")
    return (
        joined.groupBy("window_id")
        .agg(F.count(F.lit(1)).alias("cnt"), avg_exact("value").alias("avg_value"))
        .orderBy("window_id")
    )


@register(
    "skew_salted_join",
    f"""
    SELECT o.o_orderpriority AS priority,
           COUNT(*) AS line_cnt,
           {sum_exact_sql('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    ORDER BY 1
    """,
    doc="skew-salted fact-fact join: lineitem salted on its full row "
    "identity (pmod(hash(l_orderkey, l_linenumber), 8) — a composite whose "
    "cardinality is the row count, so a hot orderkey genuinely spreads over "
    "all 8 salts; salting on l_linenumber alone would yield ≤7 correlated "
    "values), orders exploded 8 ways, join on (orderkey, salt). Result is "
    "value-identical to the plain join (the oracle runs the "
    "plain join); at 100 TB this is the fallback when AQE skew-split can't "
    "apply. Salt column is dropped before the aggregate so the group-by "
    "re-shuffles on the group key only",
)
def skew_salted_join(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.joins import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li,
        orders,
        "l_orderkey",
        "o_orderkey",
        n_salt=8,
        salt_on=("l_orderkey", "l_linenumber"),
    )
    return (
        joined.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            sum_exact("l_extendedprice").alias("revenue"),
        )
        .orderBy("priority")
    )


@register(
    "nation_trade_volume",
    f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           COUNT(*) AS line_cnt,
           {sum_exact_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_nationkey <> n2.n_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="TPC-H Q7-shaped 5-way join (cross-nation trade volume): the "
    "supplier/customer/nation dims broadcast, the lineitem-orders fact-fact "
    "join is the only shuffle, and Catalyst reorders the dim joins behind "
    "the fact join — the canonical join-graph shape at 100 TB (star + one "
    "fact-fact edge). Excludes same-nation trade to keep the predicate "
    "non-trivial",
)
def nation_trade_volume(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp = broadcast(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    cust = broadcast(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = broadcast(nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    n2 = broadcast(nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    joined = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("s_nk") != F.col("c_nk"))
    )
    return (
        joined.groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .orderBy("supp_nation", "cust_nation")
    )


@register(
    "promo_revenue_share",
    f"""
    WITH j AS (
      SELECT p.p_type, l.l_extendedprice, l.l_discount
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1996-04-01'
    )
    SELECT
      {sum_exact_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
        AS promo_revenue,
      {sum_exact_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue,
      ROUND(100 * {sum_exact_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
            / {sum_exact_sql('l_extendedprice * (1 - l_discount)')}, 6)
        AS promo_share_pct
    FROM j
    """,
    doc="TPC-H Q14-shaped promo revenue share: one quarter of lineitem "
    "broadcast-joined to part (the dim side is small by definition), "
    "conditional + total revenue in ONE map-side-combinable aggregate "
    "pass, decimal-exact sums so the percentage is order-independent; "
    "shipdate filter pushed to the fact scan",
)
def promo_revenue_share(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    p = _t(spark, sf_dir, "part")
    j = l.join(broadcast(p), l.l_partkey == p.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return j.agg(
        sum_exact(promo).alias("promo_revenue"),
        sum_exact(rev).alias("total_revenue"),
        F.round(
            100 * sum_exact(promo) / sum_exact(rev), 6
        ).alias("promo_share_pct"),
    )


@register(
    "top_supplier_revenue",
    f"""
    WITH revs AS (
      SELECT l.l_suppkey,
             {sum_exact_sql('l.l_extendedprice * (1 - l.l_discount)')}
               AS total_revenue
      FROM lineitem l
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l.l_suppkey
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS supplier_name,
           r.total_revenue
    FROM revs r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revs)
    ORDER BY suppkey
    """,
    doc="TPC-H Q15-shaped top supplier: per-supplier quarterly revenue "
    "(decimal-exact, so the max comparison is bit-deterministic), the "
    "argmax via a broadcast 1-row max joined back — no second scan of "
    "lineitem; supplier dim broadcast",
)
def top_supplier_revenue(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    revs = l.groupBy("l_suppkey").agg(
        sum_exact(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("total_revenue")
    )
    mx = revs.agg(F.max("total_revenue").alias("_mx"))
    return (
        revs.crossJoin(broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            "total_revenue",
        )
        .orderBy("suppkey")
    )


@register(
    "small_qty_revenue_bridge",
    f"""
    WITH brand_parts AS (
      SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'
    ),
    li AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l JOIN brand_parts b ON l.l_partkey = b.p_partkey
    ),
    lim AS (
      SELECT l_partkey, ({avg_exact_sql('l_quantity')}) * 0.2 AS qty_lim
      FROM li GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
           ROUND({sum_exact_sql('li.l_extendedprice')}, 2) AS revenue_small,
           ROUND({sum_exact_sql('li.l_extendedprice')} / 7.0, 2) AS avg_yearly
    FROM li JOIN lim ON li.l_partkey = lim.l_partkey
    WHERE li.l_quantity < lim.qty_lim
    """,
    doc="TPC-H Q17 shape (small-quantity revenue bridge): revenue from "
    "lineitems below 20%% of their part's average quantity, one brand. "
    "The correlated per-part AVG becomes a grouped aggregate joined back "
    "onto the same semi-joined fact slice — the fact scans once (broadcast "
    "semi join on the brand's part ids prunes before any aggregate), and "
    "the threshold expression is decimal-exact + identically parenthesized "
    "in both engines so the strict < comparison cannot flip on a boundary",
)
def small_qty_revenue_bridge(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    bp = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select(
        F.col("p_partkey").alias("l_partkey")
    )
    sliced = li.join(broadcast(bp), "l_partkey").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    lim = sliced.groupBy("l_partkey").agg(
        (avg_exact("l_quantity") * F.lit(0.2)).alias("qty_lim")
    )
    return (
        sliced.join(lim, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_lim"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_small"),
            F.round(sum_exact("l_extendedprice"), 2).alias("revenue_small"),
            F.round(sum_exact("l_extendedprice") / F.lit(7.0), 2).alias(
                "avg_yearly"
            ),
        )
    )


@register(
    "large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           big.total_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape (large-volume customers): HAVING over a "
    "fact-grain aggregate, the surviving keys (~1%% of orders) then drive "
    "the joins — orders joins the tiny big-order set (broadcast after "
    "AQE sees its size), customer dim broadcasts, and the final TOP-20 is "
    "a TakeOrderedAndProject, never a global sort. Quantity sums are "
    "integer-valued doubles (exact at any accumulation order), so no "
    "decimal routing is needed for the HAVING threshold",
)
def large_volume_customers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey"))
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "idle_rich_customers",
    f"""
    WITH thresh AS (
      SELECT {avg_exact_sql('c_acctbal')} AS bal_lim
      FROM customer WHERE c_acctbal > 0
    ),
    recent AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '2000-07-01 00:00:00'
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           ROUND({sum_exact_sql('c.c_acctbal')}, 2) AS total_bal
    FROM customer c, thresh
    WHERE c.c_acctbal > thresh.bal_lim
      AND NOT EXISTS (SELECT 1 FROM recent r
                      WHERE r.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    doc="TPC-H Q22 shape (idle above-average-balance customers): scalar "
    "subquery (global decimal-exact AVG, a broadcast 1-row cross join) "
    "sets the balance floor; the anti join removes customers with recent "
    "orders (the DISTINCT custkey set is a fraction of customers, so the "
    "anti join's build side stays small); one segment-keyed aggregate "
    "finishes. Every leg is either broadcast or keyed on the row's own "
    "key — no fact-fact shuffle anywhere",
)
def idle_rich_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    thresh = cust.filter(F.col("c_acctbal") > 0).agg(
        avg_exact("c_acctbal").alias("bal_lim")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-07-01")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        cust.crossJoin(broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("bal_lim"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.round(sum_exact("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


_JOIN_CHOICE_SQL = """
    WITH s1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS small_rows,
             CAST(12 * COUNT(*) + SUM(LENGTH(s_name)) AS BIGINT)
               AS small_bytes
      FROM supplier
    ),
    b1 AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS big_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_key_rows
      FROM (SELECT COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey)
    ),
    s2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS small_rows,
             CAST(12 * COUNT(*) + SUM(LENGTH(o_orderpriority)) AS BIGINT)
               AS small_bytes
      FROM orders
    ),
    b2 AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS big_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_key_rows
      FROM (SELECT COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey)
    ),
    s3 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS small_rows,
             CAST(12 * COUNT(*) + SUM(LENGTH(event_type)) AS BIGINT)
               AS small_bytes
      FROM events
    ),
    b3 AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS big_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_key_rows
      FROM (SELECT COUNT(*) AS cnt FROM events GROUP BY event_type)
    ),
    stats AS (
      SELECT 'lineitem_x_supplier_on_suppkey' AS join_name, * FROM s1, b1
      UNION ALL
      SELECT 'lineitem_x_orders_on_orderkey' AS join_name, * FROM s2, b2
      UNION ALL
      SELECT 'events_self_on_event_type' AS join_name, * FROM s3, b3
    )
    SELECT join_name, small_rows, small_bytes, big_rows, max_key_rows,
           ROUND(CASE WHEN big_rows > 0
                      THEN CAST(max_key_rows AS DOUBLE) * 32 / big_rows
                      ELSE 0.0 END, 6)
             AS skew_ratio,
           CASE WHEN small_bytes <= 65536 THEN 'broadcast'
                WHEN big_rows > 0
                     AND CAST(max_key_rows AS DOUBLE) * 32 / big_rows > 4.0
                  THEN 'salted'
                ELSE 'shuffle' END AS strategy,
           CAST(CASE WHEN small_bytes <= 65536 THEN 1
                     WHEN big_rows > 0
                          AND CAST(max_key_rows AS DOUBLE) * 32 / big_rows
                              > 4.0
                       THEN LEAST(32, CAST(CEIL(CAST(max_key_rows AS DOUBLE)
                                                * 32 / big_rows) AS INT))
                     ELSE 1 END AS INT) AS n_salt
    FROM stats
    ORDER BY join_name
    """


@register(
    "join_strategy_choice",
    _JOIN_CHOICE_SQL,
    doc="automatic broadcast-vs-salt-vs-shuffle JOIN CHOOSER (round-4 "
    "verdict optional-breadth #7): the decision layer that composes the "
    "verified diagnostics — per-join build-side projected bytes (fixed "
    "8B numerics + measured string lengths + 4B row overhead, computable "
    "identically in both engines), probe-side row count and hottest-key "
    "count (skew_diagnostics' numbers), then "
    "operators.joins.join_strategy_columns picks: broadcast when the "
    "build side fits the budget, salted (with derived n_salt) when the "
    "hottest key exceeds 4 average post-shuffle partitions, else plain "
    "shuffle. Priced here on three live shapes that exercise every "
    "branch at sf>=0.01: dim join (supplier -> broadcast), clean FK "
    "fact-fact (orders -> shuffle), and the skew-stress self-join on "
    "event_type (top key 20%% of rows -> salted, n_salt ~ 7). Stats are "
    "grouped counts + one aggregate per side — diagnosis costs one scan "
    "per table, never a trial join; the 64 KiB budget is deliberately "
    "scaled to the local SFs so each branch is data-driven (a cluster "
    "passes spark.sql.autoBroadcastJoinThreshold and its partition "
    "count; the rules are scale-free ratios)",
)
def join_strategy_choice(spark, sf_dir):
    # the 3-row decision table goes through the per-process stage cache
    # (r16, r15 verdict item 3): join_auto_dispatch re-derived the
    # decisions (two full lineitem grouped counts + the events/supplier/
    # orders stats) before every execution — the chooser is a pure
    # deterministic function of the corpus, so it now prices once per
    # process and both queries read it back.
    from newyork_taxi_etl_spark.stagecache import cached_df

    return cached_df(
        spark,
        f"join_choice:{sf_dir}",
        lambda: _join_strategy_choice_build(spark, sf_dir),
        n_files=1,
    ).orderBy("join_name")


def _join_strategy_choice_build(spark, sf_dir):
    def small_stats(df, strcol):
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("small_rows"),
            (F.lit(12) * F.count(F.lit(1)) + F.sum(F.length(F.col(strcol))))
            .cast("bigint")
            .alias("small_bytes"),
        )

    def big_stats(df, key):
        counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        return counts.agg(
            F.sum("cnt").cast("bigint").alias("big_rows"),
            F.max("cnt").cast("bigint").alias("max_key_rows"),
        )

    cols = ["small_rows", "small_bytes", "big_rows", "max_key_rows"]

    def stat_row(name, df):
        return df.select(F.lit(name).alias("join_name"), *cols)

    li = _t(spark, sf_dir, "lineitem")
    # self-join candidate: BOTH sides' stats from the ONE per-key grouped
    # aggregate (build bytes = sum of per-key string mass + row overhead;
    # probe rows/hottest key from the same counts) — one scan of events,
    # as the doc promises
    ev_per_key = (
        read_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.length("event_type")).alias("len_sum"),
        )
    )
    ev_stats = ev_per_key.agg(
        F.sum("cnt").cast("bigint").alias("small_rows"),
        (F.lit(12) * F.sum("cnt") + F.sum("len_sum"))
        .cast("bigint")
        .alias("small_bytes"),
        F.sum("cnt").cast("bigint").alias("big_rows"),
        F.max("cnt").cast("bigint").alias("max_key_rows"),
    )
    pieces = [
        stat_row(
            "lineitem_x_supplier_on_suppkey",
            small_stats(_t(spark, sf_dir, "supplier"), "s_name").crossJoin(
                broadcast(big_stats(li, "l_suppkey"))
            ),
        ),
        stat_row(
            "lineitem_x_orders_on_orderkey",
            small_stats(_t(spark, sf_dir, "orders"), "o_orderpriority").crossJoin(
                broadcast(big_stats(li, "l_orderkey"))
            ),
        ),
        stat_row("events_self_on_event_type", ev_stats),
    ]
    rows = pieces[0]
    for piece in pieces[1:]:
        rows = rows.unionAll(piece)
    return rows.select(
        "join_name",
        "small_rows",
        "small_bytes",
        "big_rows",
        "max_key_rows",
        *J.join_strategy_columns(parts=32, bcast_bytes=64 * 1024),
    ).orderBy("join_name")


@register(
    "shipping_priority_top10",
    f"""
    SELECT l.l_orderkey AS orderkey,
           {sum_exact_sql('l.l_extendedprice * (1 - l.l_discount)')}
             AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-shaped shipping priority: segment-filtered customer dim "
    "broadcasts into orders, the date predicates push to both fact "
    "scans, revenue per unshipped order decimal-exact, top-10 via "
    "TakeOrderedAndProject (never a global sort). Ties broken by "
    "orderkey; the order date is emitted as a formatted string so both "
    "engines hash the identical value",
)
def shipping_priority_top10(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    j = o.join(broadcast(c), o.o_custkey == c.c_custkey).join(
        l, o.o_orderkey == l.l_orderkey
    )
    return (
        j.groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(
            sum_exact(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("orderkey", "revenue", "orderdate", "orderpriority")
        .orderBy(F.desc("revenue"), "orderkey")
        .limit(10)
    )


@register(
    "returned_item_customers",
    f"""
    SELECT c.c_custkey AS custkey, c.c_name AS cust_name,
           n.n_name AS nation_name,
           {sum_exact_sql('l.l_extendedprice * (1 - l.l_discount)')}
             AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, custkey
    LIMIT 20
    """,
    doc="TPC-H Q10-shaped returned-item report: which customers returned "
    "the most revenue in a half-year window. returnflag + date filters "
    "push to the scans, customer/nation dims broadcast, ONE hash "
    "aggregate keyed by customer, top-20 via TakeOrderedAndProject with "
    "custkey tie-break. The fact table shuffles once (the group-by), "
    "never for a join",
)
def returned_item_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    j = (
        l.join(broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            sum_exact(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("custkey", "cust_name", "nation_name", "revenue")
        .orderBy(F.desc("revenue"), "custkey")
        .limit(20)
    )


@register(
    "dominant_part_suppliers",
    """
    WITH pq AS (
      SELECT l_partkey, l_suppkey, SUM(l_quantity) AS supp_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT l_partkey, SUM(supp_qty) AS part_qty FROM pq GROUP BY 1
    ),
    dominant AS (
      SELECT DISTINCT pq.l_suppkey
      FROM pq
      JOIN tot ON pq.l_partkey = tot.l_partkey
      WHERE pq.l_partkey IN
            (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        AND pq.supp_qty > 0.5 * tot.part_qty
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS supplier_name
    FROM supplier s
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM dominant)
    ORDER BY suppkey
    """,
    doc="TPC-H Q20-shaped nested-subquery filter (reshaped to this "
    "schema's tables: no partsupp, so 'excess stock' becomes 'shipped "
    "more than half of a PROMO part's 1996 volume'): two stacked "
    "semi-join subqueries — parts filtered by type prune the per-"
    "(part,supplier) quantity table (broadcast semi join), the dominance "
    "predicate compares against the per-part total (one additional "
    "aggregate of the SAME grouped table, no rescan), and the surviving "
    "supplier keys semi-join the supplier dim. Quantities are integer-"
    "valued doubles, so the sums and the 0.5x comparison are exact in "
    "both engines",
)
def dominant_part_suppliers(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    promo_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    pq = l.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    pq = pq.join(
        broadcast(promo_parts), pq.l_partkey == promo_parts.p_partkey, "semi"
    )
    tot = pq.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    dominant = (
        pq.join(broadcast(tot), "l_partkey")
        .filter(F.col("supp_qty") > 0.5 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(broadcast(dominant), s.s_suppkey == dominant.l_suppkey, "semi")
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
        )
        .orderBy("suppkey")
    )


@register(
    "waiting_orders_suppliers",
    """
    WITH l1 AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    ),
    waiting AS (
      SELECT l1.l_orderkey, l1.l_suppkey
      FROM l1
      WHERE EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM l1 l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey)
    )
    SELECT s.s_name AS supplier_name,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM waiting w JOIN supplier s ON w.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, supplier_name
    LIMIT 10
    """,
    doc="TPC-H Q21-shaped waiting-orders blame report (reshaped: the "
    "synthetic lineitem has no commit/receipt dates, so 'late' is "
    "shipping >90 days after the order date): for finalized orders, "
    "count per supplier the late lineitems in MULTI-supplier orders "
    "where that supplier was the ONLY late one — the classic "
    "EXISTS (another supplier in the order) + NOT EXISTS (another LATE "
    "supplier) pattern, expressed as an equi semi join and an equi anti "
    "join with a supplier-inequality residual (no nested-loop: both "
    "correlate on orderkey). The late set l1 is computed once and "
    "reused for both the probe and the anti side; orders broadcasts "
    "into the date comparison; final count is supplier-dim-sized",
)
def waiting_orders_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    l1 = (
        li.join(broadcast(o), li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = l1.select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "anti",
        )
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        waiting.join(broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_name").alias("supplier_name"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "supplier_name")
        .limit(10)
    )


@register(
    "local_supplier_volume",
    f"""
    SELECT n.n_name AS nation_name,
           {sum_exact_sql('l.l_extendedprice * (1 - l.l_discount)')}
             AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation_name
    """,
    doc="TPC-H Q5-shaped local supplier volume: revenue from orders where "
    "the customer and the supplier share a nation inside one region — "
    "the 6-way join whose distinguishing feature is the NON-key "
    "c_nationkey = s_nationkey condition riding the supplier join. "
    "Region->nation prune the dims before anything big; customer/"
    "supplier/nation broadcast; the date filter pushes to the orders "
    "scan, so lineitem joins an already-thinned orders side. Decimal-"
    "exact revenue; nation_name tie-break",
)
def local_supplier_volume(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        l.join(broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            broadcast(s),
            (l.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        j.groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            sum_exact(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "nation_name")
    )


@register(
    "bracket_discount_revenue",
    f"""
    SELECT {sum_exact_sql('l.l_extendedprice * (1 - l.l_discount)')}
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19-shaped disjunctive bracket predicate: three (brand, "
    "size, quantity) OR-brackets over the part join — the optimizer "
    "shape the rest of the join family doesn't exercise: Catalyst "
    "extracts the common p_partkey equi-condition into a hash join and "
    "keeps the OR-of-ANDs as a residual filter, while each side's "
    "derivable disjunction (brand IN (...), quantity ranges) is pushed "
    "below the join toward the scans. One broadcast join + one 1-row "
    "aggregate; decimal-exact revenue",
)
def bracket_discount_revenue(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(broadcast(p), l.l_partkey == p.p_partkey)
    br = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(br).agg(
        sum_exact(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


@register(
    "nation_market_share",
    f"""
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           ROUND({sum_exact_sql(
               "CASE WHEN n2.n_name = 'NATION_3' "
               "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END"
           )}
                 / {sum_exact_sql('l.l_extendedprice * (1 - l.l_discount)')},
                 6) AS mkt_share,
           {sum_exact_sql('l.l_extendedprice * (1 - l.l_discount)')}
             AS total_volume
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
    JOIN region r   ON n1.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8-shaped market share: NATION_3 suppliers' share of "
    "ECONOMY-part revenue sold into ASIA customers, per order year — the "
    "7-way join with nation in TWO roles (customer residency gating the "
    "market, supplier residency defining the share) feeding a "
    "numerator-over-denominator conditional aggregate. Scale plan: part "
    "(type-filtered), supplier and both nation legs + region broadcast; "
    "orders (2-year pushed-down date slice) and customer are left to "
    "Catalyst/AQE — they auto-broadcast while they fit and degrade to a "
    "shuffle join at cluster scale, which is the honest Q8 plan. Share "
    "division follows promo_revenue_share's decimal-sum-then-double "
    "discipline so both engines divide identical doubles",
)
def nation_market_share(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = _t(spark, sf_dir, "supplier")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        l.join(broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n1), c.c_nationkey == F.col("c_nkey"))
        .join(broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .join(broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(broadcast(n2), s.s_nationkey == F.col("s_nkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                sum_exact(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        F.lit(0)
                    )
                )
                / sum_exact(vol),
                6,
            ).alias("mkt_share"),
            sum_exact(vol).alias("total_volume"),
        )
        .orderBy("o_year")
    )


@register(
    "product_type_profit",
    f"""
    SELECT n.n_name AS nation_name,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           {sum_exact_sql(
               'l.l_extendedprice * (1 - l.l_discount)'
               ' - 0.1 * p.p_retailprice * l.l_quantity'
           )} AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY nation_name, o_year
    ORDER BY nation_name, o_year DESC
    """,
    doc="TPC-H Q9-shaped product-type profit (adapted: the corpus has no "
    "partsupp, so supply cost is proxied as 10% of p_retailprice per "
    "unit — deterministic and identical in both engines): profit on "
    "'%bolt%' parts grouped by supplier nation x order year. The shape "
    "Q9 exercises: a non-sargable LIKE pruning part BEFORE it meets "
    "lineitem (broadcast), a 5-way join where orders arrives only for "
    "its year, and a two-key aggregate. part/supplier/nation broadcast; "
    "the lineitem-orders leg is left to Catalyst/AQE (auto-broadcast "
    "while it fits, shuffle at scale). Per-row profit is pure double "
    "arithmetic in identical association order, then the decimal-exact "
    "sum discipline",
)
def product_type_profit(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.1
    ) * F.col("p_retailprice") * F.col("l_quantity")
    j = (
        l.join(broadcast(p), l.l_partkey == p.p_partkey)
        .join(broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(sum_exact(profit).alias("profit"))
        .orderBy("nation_name", F.desc("o_year"))
    )


_STREAK_BODY = """
    WITH RECURSIVE ords AS (
      SELECT o_custkey AS c, o_orderdate AS d,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS pd
      FROM {orders}
    ),
    streaks(c, rn, head_rn, pos) AS (
      SELECT c, rn, rn, 1 FROM ords
      WHERE pd IS NULL OR d > pd + INTERVAL 30 DAY
      UNION ALL
      SELECT o.c, o.rn, s.head_rn, s.pos + 1
      FROM streaks s JOIN ords o
        ON o.c = s.c AND o.rn = s.rn + 1
       AND o.pd IS NOT NULL AND o.d <= o.pd + INTERVAL 30 DAY
    )
    SELECT c AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT head_rn) AS BIGINT) AS n_streaks,
           CAST(MAX(pos) AS INT) AS longest_streak
    FROM streaks
    GROUP BY c
    ORDER BY custkey
"""


@register(
    "order_streaks_recursive",
    _STREAK_BODY.format(orders="orders"),
    doc="RECURSIVE CTE (WITH RECURSIVE — the Spark 4 SQL surface, "
    "UnionLoop iterative execution): per-customer purchase streaks — "
    "maximal runs of orders each within 30 days of the previous. The "
    "recursion follows PRECOMPUTED successor pointers (row_number per "
    "customer, lag for the gap): base = streak heads (no prior order "
    "within 30d), step = extend to rn+1 while the gap holds. rn strictly "
    "increases, so the recursion is acyclic and terminates in "
    "max-streak-length rounds (orders/customer is bounded; Spark's "
    "cteRecursionLevelLimit=100 is never approached) — the formulation "
    "chosen because Spark 4 supports only UNION ALL recursion (UNION-"
    "distinct closure raises UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, "
    "probed this round). IDENTICAL SQL text runs on both engines — "
    "Spark parses it via spark.sql over a temp view, DuckDB natively — "
    "so the oracle exercises dialect-shared recursion itself. Output: "
    "per customer, order count, streak count, longest streak",
)
def order_streaks_recursive(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView(
        "nyte_recursive_orders"
    )
    return spark.sql(_STREAK_BODY.format(orders="nyte_recursive_orders"))


@register(
    "join_auto_dispatch",
    f"""
    WITH choice AS ({_JOIN_CHOICE_SQL}),
    sup AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             {sum_exact_sql('l.l_extendedprice')} AS checksum
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ),
    ord AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             {sum_exact_sql('l.l_extendedprice')} AS checksum
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    evs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             {sum_exact_sql('b.value')} AS checksum
      FROM events a JOIN (
        SELECT event_type, value FROM (
          SELECT event_type, value,
                 ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
          FROM events
        ) WHERE rn <= 128
      ) b ON a.event_type = b.event_type
    ),
    results AS (
      SELECT 'lineitem_x_supplier_on_suppkey' AS join_name, * FROM sup
      UNION ALL
      SELECT 'lineitem_x_orders_on_orderkey', * FROM ord
      UNION ALL
      SELECT 'events_self_on_event_type', * FROM evs
    )
    SELECT c.join_name, c.strategy, c.n_salt, r.n_rows, r.checksum
    FROM choice c JOIN results r ON c.join_name = r.join_name
    ORDER BY c.join_name
    """,
    doc="the join chooser DRIVING execution (closes the loop "
    "join_strategy_choice only priced): the three decision rows are "
    "fetched (a 3-row planner-decision collect — the one driver-side "
    "step, same role as Catalyst reading its stats) and each shape "
    "executes under ITS decided strategy — supplier enrich under an "
    "explicit broadcast(), lineitem x orders as a plain shuffle join, "
    "and the skewed event_type self-join through operators.joins."
    "salted_join with the DECIDED n_salt.  The self-join's build side is "
    "capped at an ABSOLUTE budget — the 128 rows per event_type with the "
    "smallest md5(event_id), a deterministic rank that Spark compiles to "
    "a map-side WindowGroupLimit pre-prune — so the demo's join output is "
    "O(n x 128) at ANY scale factor, never the quadratic "
    "O(n^2/fraction) a fixed sampling fraction gives (r6 verdict item); "
    "the cap is mirrored verbatim in the oracle via ROW_NUMBER. Output "
    "carries the decision columns plus each join's "
    "row count and decimal checksum; the oracle recomputes the "
    "decisions AND the aggregates from plain joins, so a dispatch "
    "sending any shape down the wrong plan or a salted execution "
    "changing results fails the hash",
)
def join_auto_dispatch(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.joins import salted_join

    decisions = {
        r["join_name"]: r.asDict()
        for r in join_strategy_choice(spark, sf_dir).collect()
    }

    def row(name, agg_df):
        d = decisions[name]
        return agg_df.select(
            F.lit(name).alias("join_name"),
            F.lit(d["strategy"]).alias("strategy"),
            F.lit(d["n_salt"]).cast("int").alias("n_salt"),
            "n_rows",
            "checksum",
        )

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey", "l_extendedprice")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey")
    ev = read_events(spark, sf_dir).select("event_id", "event_type", "value")

    def agg(df, col):
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            sum_exact(col).alias("checksum"),
        )

    def execute(name, probe, build, pk, bk):
        """The dispatch itself: whatever the decision row says, run —
        the decisions are DATA-DEPENDENT (orders broadcasts at sf0.001,
        shuffles at sf0.01+ under the same 64 KiB budget)."""
        d = decisions[name]
        if d["strategy"] == "broadcast":
            return probe.join(broadcast(build), probe[pk] == build[bk])
        if d["strategy"] == "salted":
            return salted_join(probe, build, pk, bk, n_salt=int(d["n_salt"]))
        return probe.join(build, probe[pk] == build[bk])

    j_sup = execute(
        "lineitem_x_supplier_on_suppkey", li, sup, "l_suppkey", "s_suppkey"
    )
    j_ord = execute(
        "lineitem_x_orders_on_orderkey", li, orders, "l_orderkey", "o_orderkey"
    )
    probe = ev.select("event_type", F.col("value").alias("a_value"))
    # absolute per-type build budget: the 128 rows per event_type with the
    # smallest md5(event_id) — rank <= k compiles to WindowGroupLimit, so
    # each map task pre-prunes to its local top-128 before the exchange and
    # the join output is O(n * 128) at any scale factor.
    wcap = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    sample = (
        ev.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= 128)
        .select(F.col("event_type").alias("b_type"), "value")
    )
    j_ev = execute(
        "events_self_on_event_type", probe, sample, "event_type", "b_type"
    )

    return (
        row("lineitem_x_supplier_on_suppkey", agg(j_sup, "l_extendedprice"))
        .unionAll(row("lineitem_x_orders_on_orderkey", agg(j_ord, "l_extendedprice")))
        .unionAll(row("events_self_on_event_type", agg(j_ev, "value")))
        .orderBy("join_name")
    )


# ---------------------------------------------------------------------------
# Round-6 batch two: the six remaining classic TPC-H join/agg shapes the
# registry lacked — Q2 (min-per-group correlated subquery, decorrelated),
# Q4 (EXISTS → semi join with a non-equi residual), Q11 (HAVING vs a global
# scalar), Q12 (conditional CASE counts over a fact-fact join), Q13 (outer
# join with an ON-clause filter feeding a two-level aggregate) and Q16
# (NOT IN → anti join + grouped distinct count).  The corpus has no
# partsupp / commitdate / shipmode, so each is re-anchored on existing
# columns while preserving exactly the plan shape the original exercises.
# ---------------------------------------------------------------------------


@register(
    "min_cost_supplier",
    """
    SELECT DISTINCT s.s_acctbal, s.s_name, n.n_name AS nation_name,
           p.p_partkey, s.s_suppkey
    FROM part p, lineitem l, supplier s, nation n
    WHERE p.p_partkey = l.l_partkey
      AND s.s_suppkey = l.l_suppkey
      AND s.s_nationkey = n.n_nationkey
      AND p.p_type = 'ECONOMY' AND p.p_size BETWEEN 10 AND 20
      AND l.l_extendedprice / l.l_quantity = (
          SELECT MIN(l2.l_extendedprice / l2.l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = p.p_partkey)
    ORDER BY s.s_acctbal DESC, nation_name, s.s_name, p.p_partkey, s.s_suppkey
    LIMIT 100
    """,
    doc="TPC-H Q2-shaped min-cost supplier (adapted: no partsupp, so the "
    "per-part 'supply cost' is the lineitem unit price "
    "l_extendedprice/l_quantity): for each ECONOMY part sized 10-20, the "
    "supplier(s) whose unit price equals the part's minimum across ALL "
    "lineitems.  The oracle keeps Q2's literal correlated scalar subquery; "
    "the Spark side is the decorrelation Catalyst would produce anyway — "
    "a grouped MIN re-joined on (partkey, unit=min) — written explicitly "
    "so the plan is a broadcast of the tiny per-part min table, never a "
    "per-row subquery.  Unit price is one IEEE double division in both "
    "engines, so the equality join on its MIN is bit-exact.  Scale plan: "
    "part (filtered, ~1.5% of rows) and the min table broadcast; lineitem "
    "is scanned twice but never shuffled; supplier/nation broadcast.  "
    "DISTINCT collapses repeat (part, supplier) wins; the ORDER BY carries "
    "the full unique key so LIMIT 100 is deterministic.",
)
def min_cost_supplier(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & F.col("p_size").between(10, 20)
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    # inner subquery, decorrelated: min unit price per part — restricted to
    # the filtered partkeys first (equality with p.p_partkey makes that
    # semantics-preserving) so the grouped MIN and the broadcast stay tiny.
    # The grouped side is renamed (mk, min_unit) to keep the re-join against
    # the same lineitem scan unambiguous.
    pk = p.select("p_partkey")
    minu = (
        l.join(broadcast(pk), l.l_partkey == pk.p_partkey)
        .groupBy(F.col("l_partkey").alias("mk"))
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("min_unit"))
    )
    cand = (
        l.withColumn("unit", F.col("l_extendedprice") / F.col("l_quantity"))
        .join(
            broadcast(minu),
            (F.col("l_partkey") == F.col("mk"))
            & (F.col("unit") == F.col("min_unit")),
        )
        .join(broadcast(p), l.l_partkey == p.p_partkey)
        .join(broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return (
        cand.select(
            "s_acctbal", "s_name", F.col("n_name").alias("nation_name"),
            "p_partkey", "s_suppkey",
        )
        .distinct()
        .orderBy(
            F.desc("s_acctbal"), "nation_name", "s_name", "p_partkey", "s_suppkey"
        )
        .limit(100)
    )


@register(
    "late_shipment_priority",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    doc="TPC-H Q4-shaped order-priority check (adapted: no commitdate/"
    "receiptdate, so 'late' is a lineitem shipping >60 days after the "
    "order date): orders from a 6-month window with at least one late "
    "line, counted per priority.  The EXISTS becomes a LEFT SEMI hash "
    "join in Spark — equi key l_orderkey plus the non-equi residual "
    "l_shipdate > o_orderdate + 60d evaluated as a post-probe filter, so "
    "it stays a single-pass hash semi join, never a nested loop, and each "
    "qualifying order counts once no matter how many late lines it has.  "
    "Scale plan: the date slice prunes orders at the scan; the semi join "
    "shuffles on orderkey (AQE-coalesced) and the final 5-group aggregate "
    "is map-side combined.",
)
def late_shipment_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    l = _t(spark, sf_dir, "lineitem")
    semi = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        semi.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "important_part_values",
    f"""
    SELECT l.l_partkey AS partkey,
           {sum_exact_sql('l.l_extendedprice * (1 - l.l_discount)')} AS part_value
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_1'
    GROUP BY partkey
    HAVING {sum_exact_sql('l.l_extendedprice * (1 - l.l_discount)')} > (
        SELECT 0.001 * {sum_exact_sql('l2.l_extendedprice * (1 - l2.l_discount)')}
        FROM lineitem l2
        JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
        JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
        WHERE n2.n_name = 'NATION_1')
    ORDER BY part_value DESC, partkey
    """,
    doc="TPC-H Q11-shaped important stock (adapted: no partsupp, so a "
    "part's held value is its discounted lineitem revenue through "
    "NATION_1 suppliers): parts whose value exceeds 0.1% of the nation's "
    "total.  The shape Q11 exercises — a grouped aggregate filtered "
    "against a GLOBAL scalar of the same measure — decorrelates in Spark "
    "to one grouped agg plus a 1-row global agg cross-joined (broadcast "
    "nested loop of a single row) into the filter, so the fact is read "
    "once per aggregate and never collected to the driver.  Both the "
    "group values and the threshold go through the decimal-exact sum "
    "discipline, so the > comparison sees bit-identical doubles in both "
    "engines.  Scale plan: supplier/nation broadcast, both aggregates "
    "map-side combined; the threshold side reduces to one row before the "
    "cross join.",
)
def important_part_values(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    val = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = l.join(broadcast(s), l.l_suppkey == s.s_suppkey).join(
        broadcast(n), s.s_nationkey == n.n_nationkey
    )
    grouped = base.groupBy(F.col("l_partkey").alias("partkey")).agg(
        sum_exact(val).alias("part_value")
    )
    total = base.agg((F.lit(0.001) * sum_exact(val)).alias("threshold"))
    return (
        grouped.join(broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("partkey", "part_value")
        .orderBy(F.desc("part_value"), "partkey")
    )


@register(
    "priority_by_linestatus",
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
    doc="TPC-H Q12-shaped shipping-priority split (adapted: no l_shipmode, "
    "so the grouping key is l_linestatus; no receipt/commit dates, so the "
    "window is on l_shipdate): per line status in 1997, how many lines "
    "belonged to high-priority orders vs the rest, as two conditional "
    "SUM(CASE) aggregates over one orders⋈lineitem join.  Spark side uses "
    "sum(when(...)) — the same single-pass conditional aggregation, "
    "map-side combined to 2 groups.  Scale plan: the shipdate year prunes "
    "lineitem at the scan (PushedFilters), the join shuffles both facts "
    "on orderkey (AQE-coalesced), and the priority IN-list is evaluated "
    "pre-aggregation with no second pass.",
)
def priority_by_linestatus(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "customer_order_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey) per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13-shaped customer order-count distribution (adapted: the "
    "original excludes orders by a comment pattern; here the exclusion is "
    "o_orderpriority <> '5-LOW'): how many customers placed exactly k "
    "qualifying orders, INCLUDING k=0.  The two Q13 subtleties are kept: "
    "the exclusion predicate lives in the outer join's ON clause (a WHERE "
    "would silently drop the zero-order customers the query exists to "
    "count), and COUNT(o_orderkey) — not COUNT(*) — so the null-extended "
    "row of an orderless customer counts 0, not 1.  Scale plan: the first "
    "aggregate shuffles on custkey (same key as the join, so AQE reuses "
    "the exchange), the second is over ~tens of distinct counts and "
    "map-side combines to almost nothing.",
)
def customer_order_distribution(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "supplier_cnt_by_part",
    """
    SELECT p.p_brand, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25)
      AND l.l_suppkey NOT IN (
          SELECT s.s_suppkey FROM supplier s WHERE s.s_acctbal < 0)
    GROUP BY p.p_brand, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
    """,
    doc="TPC-H Q16-shaped supplier diversity (adapted: no partsupp, so the "
    "part-supplier relation is distinct (l_partkey, l_suppkey) pairs from "
    "lineitem; the 'customer complaints' exclusion becomes negative "
    "account balance): distinct suppliers per (brand, size) for "
    "non-Brand#1 parts in 7 size buckets, excluding bad-standing "
    "suppliers.  The NOT IN compiles to a LEFT ANTI broadcast join — "
    "safe here because s_suppkey is never NULL (a NULL in a NOT IN list "
    "would empty the result under 3VL; the anti join is the non-null "
    "fast path).  Scale plan: part (brand+size filtered, pushed to the "
    "scan) and the 6-row exclusion list broadcast; COUNT(DISTINCT) "
    "expands to a two-phase grouped distinct, partial-deduped before the "
    "shuffle on (brand, size).",
)
def supplier_cnt_by_part(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        l.join(broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )
