"""General relational surface (SURVEY §2 Part B): aggregation, top-k,
window functions, the join matrix, set ops, rollup/cube, JSON/array
functions. All thin declarative wrappers over Spark built-ins — Catalyst
picks partial aggregation, broadcast vs shuffle joins, and
TakeOrderedAndProject automatically.

Money aggregates route through DECIMAL(18,2) (exact, order-independent)
and emit DOUBLE — see queries/_sql.money_sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.queries import register
from nyc_opendata_etl_spark.queries._sql import PY_WS_RE2, money_sum
from nyc_opendata_etl_spark.sources.staging import staged
from nyc_opendata_etl_spark.sources.tables import load_table, spread


_WS = "[" + PY_WS_RE2 + "]+"


def _money(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {money_sum('l_quantity')} AS sum_qty,
           {money_sum('l_extendedprice')} AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2)
                AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(12,2)))
                        * (1 + CAST(l_tax AS DECIMAL(12,2)))), 2)
                AS DOUBLE) AS sum_charge,
           CAST(round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                      / count(*), 4) AS DOUBLE) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: multi-agg group-by with exact
    decimal money math."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = _money("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    charge = disc_price * (F.lit(1) + F.col("l_tax").cast("decimal(12,2)"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(_money("l_quantity")), 2).cast("double").alias("sum_qty"),
        F.round(F.sum(_money("l_extendedprice")), 2)
        .cast("double")
        .alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
        F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
        F.round(
            F.sum(_money("l_quantity")).cast("double") / F.count("*"), 4
        )
        .cast("double")
        .alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


@register(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           {money_sum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum(_money("l_extendedprice")), 2).cast("double").alias("sum_price"),
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           {money_sum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum(_money("l_quantity")), 2).cast("double").alias("sum_qty"),
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           true AS approx_within_2pct
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count — the scale path (no exact-distinct
    shuffle explosion at 100 TB). The HLL estimate itself is
    approximate, so the driver-checked surface is the exact count plus
    an in-query accuracy invariant: ``approx_within_2pct`` asserts the
    rsd=0.01 estimate lands within 2% of exact (same pattern as
    rollup_hll_distinct), turning the sketch's error contract into a
    hard differential check instead of a rows-only row.

    The exact and approx aggregates run as SEPARATE plans joined on the
    5-row group key: mixing count(DISTINCT) with approx_count_distinct
    in one agg makes Catalyst compute the partial HLL per
    (priority, custkey) pair — one ~1.6k-word sketch buffer per
    distinct customer (measured 4.1 s at sf0.01 vs 0.3 s split)."""
    orders = load_table(spark, sf_dir, "orders")
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers")
    )
    approx = orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.01).alias("approx")
    )
    return exact.join(F.broadcast(approx), "o_orderpriority").select(
        "o_orderpriority",
        "n_customers",
        (
            F.abs(F.col("approx") - F.col("n_customers"))
            <= 0.02 * F.col("n_customers")
        ).alias("approx_within_2pct"),
    )


# --------------------------------------------------------------------------
# Sort / top-k
# --------------------------------------------------------------------------

@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: plans as TakeOrderedAndProject — per-partition heap
    + driver merge, no full sort, no shuffle of the full table."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------

@register(
    "window_rank",
    oracle="""
    SELECT * FROM (
        SELECT c_custkey, c_nationkey, c_acctbal,
               CAST(row_number() OVER (PARTITION BY c_nationkey
                    ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn
        FROM customer
    ) WHERE rn <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group via row_number with deterministic tie-break."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        customer.select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           lag(o_orderdate) OVER w AS prev_order_date,
           lead(o_orderdate) OVER w AS next_order_date,
           CAST(rank() OVER w AS INT) AS order_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderdate").over(w).alias("prev_order_date"),
        F.lead("o_orderdate").over(w).alias("next_order_date"),
        F.rank().over(w).alias("order_rank"),
    )


@register(
    "window_moving_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)
                AS DOUBLE) AS moving_sum_3,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                AS DOUBLE) AS running_total
    FROM orders
    """,
)
def q_window_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving 3-row sum + running total (rows frames)."""
    orders = load_table(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(price).over(base.rowsBetween(-2, 0)), 2)
        .cast("double")
        .alias("moving_sum_3"),
        F.round(
            F.sum(price).over(base.rowsBetween(Window.unboundedPreceding, 0)), 2
        )
        .cast("double")
        .alias("running_total"),
    )


# --------------------------------------------------------------------------
# Join matrix (beyond the reference's single left-equi join)
# --------------------------------------------------------------------------

@register(
    "join_inner_agg",
    oracle=f"""
    SELECT n.n_name, count(*) AS n_orders, {money_sum('o.o_totalprice')} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_join_inner_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way inner join. nation (25 rows, fixed) is broadcast-hinted;
    customer scales with SF so it carries no hint — Catalyst broadcasts
    it from size stats while small and shuffles it at scale."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(_money("o_totalprice")), 2).cast("double").alias("revenue"),
        )
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 300000)
    return customer.join(
        big, customer["c_custkey"] == big["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_full_outer",
    oracle="""
    WITH co AS (SELECT c_nationkey AS nk, count(*) AS n_cust
                FROM customer GROUP BY c_nationkey),
         so AS (SELECT s_nationkey AS nk, count(*) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(co.nk, so.nk) AS nationkey, co.n_cust, so.n_supp
    FROM co FULL OUTER JOIN so ON co.nk = so.nk
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    co = customer.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count("*").alias("n_cust")
    )
    so = supplier.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count("*").alias("n_supp")
    )
    return co.join(so, co["nk"] == so["nk"], "full_outer").select(
        F.coalesce(co["nk"], so["nk"]).alias("nationkey"),
        "n_cust",
        "n_supp",
    )


@register(
    "join_range",
    oracle="""
    SELECT p.p_partkey, p.p_size, b.bucket_id
    FROM part p
    JOIN (SELECT CAST(i AS INT) AS bucket_id,
                 CAST(i * 10 AS INT) AS lo, CAST((i + 1) * 10 AS INT) AS hi
          FROM range(0, 6) t(i)) b
      ON p.p_size >= b.lo AND p.p_size < b.hi
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join (band assignment). The small band table is
    broadcast → a BroadcastNestedLoopJoin, which is the right physical
    plan when one side is tiny; never a cartesian shuffle."""
    part = load_table(spark, sf_dir, "part")
    buckets = spark.range(0, 6).select(
        F.col("id").cast("int").alias("bucket_id"),
        (F.col("id") * 10).cast("int").alias("lo"),
        ((F.col("id") + 1) * 10).cast("int").alias("hi"),
    )
    return (
        part.join(
            F.broadcast(buckets),
            (part["p_size"] >= buckets["lo"]) & (part["p_size"] < buckets["hi"]),
        )
        .select("p_partkey", "p_size", "bucket_id")
    )


@register(
    "join_asof",
    oracle="""
    WITH j AS (
        SELECT e.event_id, o.o_orderkey,
               row_number() OVER (PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        JOIN orders o
          ON e.user_id % 1500 + 1 = o.o_custkey AND o.o_orderdate <= e.ts
    )
    SELECT e.event_id, e.user_id, e.ts, j.o_orderkey AS last_order_key
    FROM events e
    LEFT JOIN (SELECT event_id, o_orderkey FROM j WHERE rn = 1) j
      USING (event_id)
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest order at-or-before each event for the matching
    customer. Spark lacks a native as-of join; since r14 this runs the
    MERGE form (operators/asof.asof_join_merge — union both sides,
    one window per customer, last-observation-carried-forward):
    linear in |events| + |orders| per key, where the old equi-join +
    inequality-filter + max_by formulation paid Σ_key |E_k|·|O_k|
    comparisons — quadratic on a hot customer, the 100 TB review
    finding of the round. Ties on o_orderdate are broken by max
    o_orderkey (the merge sorts right rows by (date, key) so LOCF's
    last preceding row IS max_by(struct); the oracle uses row_number
    DESC, DESC).
    """
    from nyc_opendata_etl_spark.operators.asof import asof_join_merge

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    e = events.select(
        "event_id", "user_id", "ts", (F.col("user_id") % 1500 + 1).alias("join_cust")
    )
    o = orders.select(
        F.col("o_custkey").alias("join_cust"), "o_orderdate", "o_orderkey"
    )
    return asof_join_merge(
        e,
        o,
        key="join_cust",
        left_time="ts",
        right_time="o_orderdate",
        right_value="o_orderkey",
        out_col="last_order_key",
        direction="backward",
    ).select("event_id", "user_id", "ts", "last_order_key")


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------

@register(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return customer.select(F.col("c_nationkey").alias("nationkey")).intersect(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


@register(
    "set_except",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    """,
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct set semantics): ordering customers minus
    negative-balance customers."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(F.col("o_custkey").alias("custkey")).subtract(
        customer.filter(F.col("c_acctbal") < 0).select(
            F.col("c_custkey").alias("custkey")
        )
    )


@register(
    "set_except_all",
    oracle="""
    SELECT l_suppkey AS suppkey FROM lineitem
    EXCEPT ALL
    SELECT s_suppkey FROM supplier
    """,
)
def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset semantics): each supplier key removes ONE
    occurrence from the lineitem multiset, keeping count-1 duplicates —
    distinct-based EXCEPT would collapse them. Plans as a single
    aggregate of signed counts (sum of +1/-1), not a join."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    return li.select(F.col("l_suppkey").alias("suppkey")).exceptAll(
        sup.select(F.col("s_suppkey").alias("suppkey"))
    )


@register(
    "set_intersect_all",
    oracle="""
    SELECT l_suppkey AS suppkey FROM lineitem WHERE l_linenumber % 2 = 1
    INTERSECT ALL
    SELECT l_suppkey FROM lineitem WHERE l_linenumber % 2 = 0
    """,
)
def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL: per supplier key, min(occurrences in odd-numbered
    lines, occurrences in even-numbered lines) copies survive — true
    multiset intersection of the two halves."""
    li = load_table(spark, sf_dir, "lineitem")
    odd = li.filter(F.col("l_linenumber") % 2 == 1).select(
        F.col("l_suppkey").alias("suppkey")
    )
    even = li.filter(F.col("l_linenumber") % 2 == 0).select(
        F.col("l_suppkey").alias("suppkey")
    )
    return odd.intersectAll(even)


# --------------------------------------------------------------------------
# JSON / array functions (events.props)
# --------------------------------------------------------------------------

@register(
    "json_extract",
    oracle="""
    SELECT event_id, event_type,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@register(
    "json_agg_by_key",
    oracle="""
    SELECT event_type,
           CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q_json_agg_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"), F.count("*").alias("n")
    )


@register(
    "explode_tokens",
    oracle=f"""
    SELECT token, count(*) AS n
    FROM (
        SELECT unnest(list_filter(regexp_split_to_array(lower(text), '{_WS}'),
                                  x -> x <> '')) AS token
        FROM documents
    )
    GROUP BY token
    """,
)
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array explode + re-aggregate: global token frequencies."""
    docs = load_table(spark, sf_dir, "documents")
    from nyc_opendata_etl_spark.operators.text import tokens as tok

    tokens = docs.select(F.explode(tok(F.lower("text"))).alias("token"))
    return tokens.groupBy("token").agg(F.count("*").alias("n"))


@register(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           {money_sum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (not derivable from rollup/cube: it skips
    the (l_returnflag) level). SQL surface on a registered temp view."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem__")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS sum_qty
        FROM __gs_lineitem__
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        """
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles + p99 per group (linear-interpolation percentile,
    same continuous-quantile semantics as DuckDB quantile_cont).

    Exact percentile needs the full sorted group — fine per-group here;
    at 100 TB swap in approx_percentile (t-digest sketch, mergeable and
    shuffle-light) and accept the declared error bound."""
    li = load_table(spark, sf_dir, "lineitem")
    pcts = F.expr(
        "percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D, 0.99D))"
    )
    agg = li.groupBy("l_returnflag").agg(pcts.alias("p"))
    return agg.select(
        "l_returnflag",
        *[
            F.round(F.col("p")[i], 6).alias(n)
            for i, n in enumerate(["p25", "p50", "p75", "p99"])
        ],
    )


@register(
    "agg_percentile_approx",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
           true AS approx_p50_in_band,
           true AS approx_p99_in_band
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: approx_percentile (mergeable
    Greenwald-Khanna sketch — bounded memory per group, map-side
    partials, no full sort) pinned against the exact quantiles computed
    alongside. accuracy=10000 bounds RANK error at 0.01%, so the
    in-query booleans assert each estimate lands inside the exact
    [p49, p51] / [p98, p99.5] rank band — 100x looser than the sketch's
    guarantee, hence stable under any partition merge order, yet still
    failing loudly if the sketch breaks. The driver-checked value
    surface is the exact quantiles (engine-portable continuous
    interpolation, 6-dp rounded) plus the two bands."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = F.expr(
        "percentile(l_extendedprice, "
        "array(0.49D, 0.50D, 0.51D, 0.98D, 0.99D, 0.995D))"
    )
    approx = F.expr(
        "approx_percentile(l_extendedprice, array(0.50D, 0.99D), 10000)"
    )
    agg = li.groupBy("l_returnflag").agg(exact.alias("e"), approx.alias("a"))
    return agg.select(
        "l_returnflag",
        F.round(F.col("e")[1], 6).alias("p50"),
        F.round(F.col("e")[4], 6).alias("p99"),
        F.col("a")[0].between(F.col("e")[0], F.col("e")[2]).alias(
            "approx_p50_in_band"
        ),
        F.col("a")[1].between(F.col("e")[3], F.col("e")[5]).alias(
            "approx_p99_in_band"
        ),
    )


@register(
    "pivot_orderstatus",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           count(*) FILTER (o_orderstatus = 'F') AS status_f,
           count(*) FILTER (o_orderstatus = 'O') AS status_o,
           count(*) FILTER (o_orderstatus = 'P') AS status_p
    FROM orders
    GROUP BY 1
    """,
)
def q_pivot_orderstatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) with an explicit value list — the explicit list
    keeps the plan one pass (no extra distinct-values job) and a stable
    output schema, which is what you want at scale."""
    orders = load_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "order_year",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2)))
                OVER (PARTITION BY l_orderkey ORDER BY l_quantity
                      RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING), 2)
                AS DOUBLE) AS qty_within_5
    FROM lineitem
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): per order, sum of
    quantities within ±5 units of each row's quantity — peers enter the
    frame by value distance, so tied values share identical frames."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy(F.col("l_quantity"))
        .rangeBetween(-5, 5)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")).over(w), 2)
        .cast("double")
        .alias("qty_within_5"),
    )


@register(
    "map_props_agg",
    oracle="""
    WITH kv AS (
        SELECT event_type, unnest(json_keys(props)) AS k
        FROM events
    )
    SELECT event_type, k AS prop_key, count(*) AS n
    FROM kv GROUP BY 1, 2
    """,
)
def q_map_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: parse the JSON props into a
    map<string,string>, explode its keys, count key usage per event
    type."""
    events = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,string>")
    return (
        events.select("event_type", F.explode(F.map_keys(m)).alias("prop_key"))
        .groupBy("event_type", "prop_key")
        .agg(F.count("*").alias("n"))
    )


@register(
    "window_distribution",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           CAST(round(percent_rank() OVER w
                      * (count(*) OVER p - 1), 0) AS BIGINT) AS pr_units,
           CAST(round(cume_dist() OVER w
                      * count(*) OVER p, 0) AS BIGINT) AS cume_units
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey),
           p AS (PARTITION BY c_nationkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    with a deterministic total order. The fractional outputs are scaled
    back to exact integer rank units (× n−1 / × n) for the comparison:
    at any fixed decimal rounding there exist partition sizes where the
    double lands exactly on a rounding tie and Spark (half-up) and
    DuckDB (half-even) legitimately disagree — scaling to near-integers
    makes the round tie-free at every scale factor (caught at sf0.1:
    percent_rank 410/6400 = 0.0640625)."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    p = Window.partitionBy("c_nationkey")
    n = F.count("*").over(p)
    return customer.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w) * (n - 1), 0)
        .cast("long")
        .alias("pr_units"),
        F.round(F.cume_dist().over(w) * n, 0).cast("long").alias("cume_units"),
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS price_stddev,
           round(var_samp(l_quantity), 4) AS qty_var,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (sample stddev/variance, correlation,
    covariance) — single-pass partial-aggregable moments, so they scale
    like any sum."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("qty_disc_covar"),
    )


@register(
    "fuzzy_name_match",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand
     AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
     AND a.p_partkey < b.p_partkey
     AND abs(length(a.p_name) - length(b.p_name)) <= 5
    WHERE levenshtein(a.p_name, b.p_name) <= 5
    """,
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching (entity-resolution primitive): name pairs
    within edit distance 5 under multi-key blocking (brand + first name
    token) — the standard trick that turns an O(n²) cross join into
    Σ per-block |b|² with a skew-free shuffle key; a lossless
    length-difference prune then guards the O(mn) levenshtein kernel.
    Pairs split across blocks are excluded by design (blocking trades
    recall for tractability; the oracle mirrors the same blocks)."""
    part = load_table(spark, sf_dir, "part")
    # probe side spread: the CPU-bound levenshtein verify join streams
    # the scan side of a broadcast join, so an under-split small input
    # serializes the whole Σ|b|² kernel (1 task at bench scale); no-op
    # once the scan yields >= parallelism splits
    a = spread(part).alias("a")
    b = part.alias("b")
    # bounded levenshtein: the threshold arg caps the DP band and
    # early-exits, returning -1 past the bound — identical values for
    # every surviving pair, so `!= -1` is exactly the oracle's `<= 5`
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 5)
    # lossless prune: edit distance >= |len(a)-len(b)|, so pairs whose
    # lengths differ by more than the threshold never reach the banded
    # levenshtein kernel
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (
                F.split(F.col("a.p_name"), " ")[0]
                == F.split(F.col("b.p_name"), " ")[0]
            )
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (
                F.abs(
                    F.length(F.col("a.p_name")) - F.length(F.col("b.p_name"))
                )
                <= 5
            ),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            dist.cast("int").alias("edit_dist"),
        )
        # bounded levenshtein signals "past threshold" as -1, so the
        # oracle's `dist <= 5` translates to `!= -1` (NOT `<= 5`,
        # which would wrongly admit the -1 sentinel rows)
        .filter(F.col("edit_dist") != -1)
    )


# Fellegi–Sunter field priors for linkage_fellegi_sunter: column -> (m, u)
# where m = P(agree | same entity), u = P(agree | different entities).
# Fixed documented priors (NOT estimated here — the emitted pattern table
# is the EM sufficient statistic, see operators/linkage.py); dict order
# fixes the float summation order on both engines.
_FS_FIELDS = {
    "agree_name": (0.95, 0.25),
    "agree_type": (0.90, 0.17),
    "agree_size": (0.85, 0.10),
    "agree_price": (0.90, 0.01),
}


def _fs_oracle() -> str:
    from nyc_opendata_etl_spark.operators.linkage import fs_score_sql

    return f"""
    WITH c AS (
        SELECT p_partkey AS key, p_brand AS blk_brand,
               split_part(p_name, ' ', 1) AS blk_tok,
               p_name, p_type, p_size,
               CAST(floor(p_retailprice) AS INT) AS price_band
        FROM part
    ), pairs AS (
        SELECT CAST(levenshtein(a.p_name, b.p_name) <= 3 AS INT) AS agree_name,
               CAST(a.p_type = b.p_type AS INT) AS agree_type,
               CAST(abs(a.p_size - b.p_size) <= 2 AS INT) AS agree_size,
               CAST(a.price_band = b.price_band AS INT) AS agree_price
        FROM c a JOIN c b
          ON a.blk_brand = b.blk_brand AND a.blk_tok = b.blk_tok
         AND a.key < b.key
    ), pat AS (
        SELECT agree_name, agree_type, agree_size, agree_price,
               count(*) AS n_pairs,
               round({fs_score_sql(_FS_FIELDS)}, 4) AS fs_score
        FROM pairs GROUP BY 1, 2, 3, 4
    )
    SELECT agree_name, agree_type, agree_size, agree_price, n_pairs,
           fs_score,
           CASE WHEN fs_score >= 6.0 THEN 'match'
                WHEN fs_score >= 0.0 THEN 'possible'
                ELSE 'nonmatch' END AS decision
    FROM pat
    """


def _fs_collapsed_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared collapse-first Fellegi–Sunter kernel: records byte-identical
    on every compared field collapse to one (fields, cnt, min-key)
    representative BEFORE pairing; cross-rep pairs weigh cnt_a·cnt_b,
    each rep with cnt ≥ 2 adds C(cnt, 2) all-agree within-group pairs.
    Both registered FS queries run THIS plan — one verified against the
    weighted-collapsed oracle, one against the unchanged full-pair
    oracle (the two-sided equivalence gate, the dedup_clusters pattern)."""
    from nyc_opendata_etl_spark.operators.linkage import (
        fs_pattern_table_weighted,
    )

    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("key"),
        F.col("p_brand").alias("blk_brand"),
        F.split(F.col("p_name"), " ")[0].alias("blk_tok"),
        "p_name",
        "p_type",
        "p_size",
        F.floor("p_retailprice").cast("int").alias("price_band"),
    )
    reps = part.groupBy(
        "blk_brand", "blk_tok", "p_name", "p_type", "p_size", "price_band"
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"), F.min("key").alias("rep_key"))
    a, b = reps.alias("a"), reps.alias("b")
    cross = a.join(
        b,
        (F.col("a.blk_brand") == F.col("b.blk_brand"))
        & (F.col("a.blk_tok") == F.col("b.blk_tok"))
        & (F.col("a.rep_key") < F.col("b.rep_key")),
    ).select(
        # bounded levenshtein (threshold caps the DP band, -1 = past
        # bound): `!= -1` is exactly the oracle's `dist <= 3`
        (F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 3) != -1)
        .cast("int")
        .alias("agree_name"),
        (F.col("a.p_type") == F.col("b.p_type")).cast("int").alias("agree_type"),
        (F.abs(F.col("a.p_size") - F.col("b.p_size")) <= 2)
        .cast("int")
        .alias("agree_size"),
        (F.col("a.price_band") == F.col("b.price_band"))
        .cast("int")
        .alias("agree_price"),
        (F.col("a.cnt") * F.col("b.cnt")).alias("w"),
    )
    within = reps.filter(F.col("cnt") >= 2).select(
        F.lit(1).cast("int").alias("agree_name"),
        F.lit(1).cast("int").alias("agree_type"),
        F.lit(1).cast("int").alias("agree_size"),
        F.lit(1).cast("int").alias("agree_price"),
        F.expr("cnt * (cnt - 1) div 2").alias("w"),
    )
    pairs = cross.unionByName(within)
    return fs_pattern_table_weighted(
        pairs, _FS_FIELDS, weight_col="w", upper=6.0, lower=0.0
    )


@register("linkage_fellegi_sunter", oracle=_fs_oracle())
def q_linkage_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage over the part catalog
    (the classical extension of fuzzy_name_match's blocked pairs):
    (brand, first-name-token) blocking generates candidate pairs, each
    pair is compared on four fields (name edit distance ≤ 3, type
    equality, size within ±2, integer price band), and every field
    contributes a log₂(m/u) agreement / log₂((1-m)/(1-u)) disagreement
    weight under fixed documented priors. Output is the agreement-
    PATTERN table (≤2⁴ rows: pattern, pair count, summed score,
    match/possible/nonmatch decision at thresholds 6.0/0.0) — constant-
    size however large the pair set, and exactly the sufficient
    statistic EM needs to refine m/u without re-touching pairs.

    Since round 9 this runs the COLLAPSE-FIRST kernel
    (:func:`_fs_collapsed_pattern` — per-block join work
    Σ|distinct(block)|², duplicate-skew immune) while keeping the
    original FULL-PAIR oracle: the driver's differential check is the
    standing equivalence gate that the weighted collapsed pattern table
    equals the all-pairs one (agreements are symmetric and
    field-determined). The dedup_clusters pattern — the twin query
    linkage_fs_collapsed pins the same plan against the weighted
    oracle. See operators/linkage.py."""
    return _fs_collapsed_pattern(spark, sf_dir)


def _fs_collapsed_oracle() -> str:
    from nyc_opendata_etl_spark.operators.linkage import fs_score_sql

    return f"""
    WITH c AS (
        SELECT p_partkey AS key, p_brand AS blk_brand,
               split_part(p_name, ' ', 1) AS blk_tok,
               p_name, p_type, p_size,
               CAST(floor(p_retailprice) AS INT) AS price_band
        FROM part
    ), reps AS (
        SELECT blk_brand, blk_tok, p_name, p_type, p_size, price_band,
               CAST(count(*) AS BIGINT) AS cnt, min(key) AS rep_key
        FROM c GROUP BY 1, 2, 3, 4, 5, 6
    ), cross_pairs AS (
        SELECT CAST(levenshtein(a.p_name, b.p_name) <= 3 AS INT) AS agree_name,
               CAST(a.p_type = b.p_type AS INT) AS agree_type,
               CAST(abs(a.p_size - b.p_size) <= 2 AS INT) AS agree_size,
               CAST(a.price_band = b.price_band AS INT) AS agree_price,
               a.cnt * b.cnt AS w
        FROM reps a JOIN reps b
          ON a.blk_brand = b.blk_brand AND a.blk_tok = b.blk_tok
         AND a.rep_key < b.rep_key
    ), within_pairs AS (
        SELECT CAST(1 AS INT) AS agree_name, CAST(1 AS INT) AS agree_type,
               CAST(1 AS INT) AS agree_size, CAST(1 AS INT) AS agree_price,
               cnt * (cnt - 1) // 2 AS w
        FROM reps WHERE cnt >= 2
    ), pairs AS (
        SELECT * FROM cross_pairs UNION ALL SELECT * FROM within_pairs
    ), pat AS (
        SELECT agree_name, agree_type, agree_size, agree_price,
               CAST(sum(w) AS BIGINT) AS n_pairs,
               round({fs_score_sql(_FS_FIELDS)}, 4) AS fs_score
        FROM pairs GROUP BY 1, 2, 3, 4
    )
    SELECT agree_name, agree_type, agree_size, agree_price, n_pairs,
           fs_score,
           CASE WHEN fs_score >= 6.0 THEN 'match'
                WHEN fs_score >= 0.0 THEN 'possible'
                ELSE 'nonmatch' END AS decision
    FROM pat
    """


@register("linkage_fs_collapsed", oracle=_fs_collapsed_oracle())
def q_linkage_fs_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """linkage_fellegi_sunter's duplicate-skew-immune twin: the
    exact-collapse-first rewrite the dedup family got in round 7,
    applied to record linkage. Records byte-identical on every compared
    field collapse to one representative with a count BEFORE pairing;
    a cross-representative candidate pair stands for cnt_a·cnt_b record
    pairs and each representative with cnt ≥ 2 contributes C(cnt, 2)
    all-agree within-group pairs. Agreement functions are symmetric and
    field-determined, so the weighted pattern table is EXACTLY the
    full-pair version's output (the unchanged-oracle equivalence
    argument) — but per-block join work is Σ|distinct(block)|² instead
    of Σ|block|², so a corpus that is 100× copies of the same entities
    costs one collapse aggregate more, not 10000× the pair work.

    Scale shape: collapse is a map-side-combinable hash aggregate on
    the compared fields; reps carry (cnt, min-key) — constant-size
    state; everything downstream is the fs pattern-table shape
    (operators/linkage.py fs_pattern_table_weighted). Shares
    :func:`_fs_collapsed_pattern` with linkage_fellegi_sunter, which
    verifies the identical plan against the UNCHANGED full-pair oracle."""
    return _fs_collapsed_pattern(spark, sf_dir)


# --------------------------------------------------------------------------
# Multi-join star queries (TPC-H Q3/Q5 shapes) — join-order/broadcast
# planning exercise: Catalyst broadcasts every sub-threshold dimension and
# AQE re-plans the probe-side shuffles at runtime.
# --------------------------------------------------------------------------

_REVENUE_DEC = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))"
)


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(round(sum({_REVENUE_DEC}), 2) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1996-03-15'
      AND l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⨝ date-filtered orders ⨝
    lineitem, revenue top-10. The filtered customer side carries NO
    broadcast hint (r14 review: customer scales with SF — a forced
    broadcast is an OOM cliff at 100 TB; AQE still broadcasts it from
    runtime sizes while it fits). Both date filters push into the scans
    (verified in tests/test_plans.py pushdown style); the limit plans
    as TakeOrderedAndProject."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    revenue = _money("l_extendedprice") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q18_large_volume_customer",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
              SELECT l_orderkey FROM lineitem
              GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: the grouped-HAVING IN-subquery (orders whose
    total lineitem quantity exceeds a threshold) becomes an aggregate →
    LEFT SEMI join — Spark never materializes the subquery as a column,
    so the fact table is filtered before the wide customer/orders
    joins. Neither the qualifying-key side nor customer carries a
    broadcast hint (r14 review: both scale with SF — the HAVING
    survivor count is a fixed FRACTION of orders, not a fixed size, so
    a forced broadcast is an OOM cliff at 100 TB; AQE broadcasts
    either from runtime sizes while small). Quantity sums route
    through DECIMAL (exact, order-independent)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", _money("l_quantity").alias("qty")
    )
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders").join(
        qualifying,
        F.col("o_orderkey") == qualifying["l_orderkey"],
        "left_semi",
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("qty"), 2).cast("double").alias("sum_qty"))
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, CAST(round(sum({_REVENUE_DEC}), 2) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (fact ⨝ orders ⨝ customer ⨝ supplier ⨝
    nation ⨝ region) with the customer-nation = supplier-nation locality
    constraint. Only the FIXED-cardinality dims (nation: 25 rows,
    region: 5) carry broadcast hints; customer and supplier scale with
    SF, so they are unhinted (r14 review — AQE broadcasts them from
    runtime sizes at bench scale, shuffles them at 100 TB instead of
    OOMing the executors)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = _money("l_extendedprice") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            supp,
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
    )


@register(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
           l_quantity AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    """,
)
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of three lineitem measures — the inverse
    of pivot_orderstatus. Native ``DataFrame.unpivot`` lowers to a
    generator Expand node: one scan, rows×3 output, no shuffle at all
    (the oracle's UNION ALL mirror would scan three times)."""
    li = load_table(spark, sf_dir, "lineitem")
    renamed = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_discount").alias("discount"),
    )
    return renamed.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["quantity", "price", "discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@register(
    "profile_columns",
    oracle="""
    SELECT 'o_orderkey' AS col, count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS DOUBLE) AS min_val,
           CAST(max(o_orderkey) AS DOUBLE) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           min(o_totalprice), max(o_totalprice)
    FROM orders
    """,
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: per-column row/null/distinct counts and min/max
    in long format — the health check a pipeline runs before trusting a
    new drop. ONE scan + one Expand (Spark rewrites the multi-column
    count-distinct into grouping-set form); the oracle's UNION ALL
    mirror scans once per column."""
    orders = load_table(spark, sf_dir, "orders")
    profiled = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            e
            for c in ("o_orderkey", "o_custkey", "o_totalprice")
            for e in (
                F.count(c).alias(f"cnt_{c}"),
                F.countDistinct(c).alias(f"nd_{c}"),
                F.min(F.col(c).cast("double")).alias(f"min_{c}"),
                F.max(F.col(c).cast("double")).alias(f"max_{c}"),
            )
        ],
    )
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"cnt_{c}")).alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"min_{c}").alias("min_val"),
                F.col(f"max_{c}").alias("max_val"),
            )
            for c in ("o_orderkey", "o_custkey", "o_totalprice")
        ]
    )
    return profiled.select(F.explode(per_col).alias("p")).select("p.*")


@register(
    "array_hof_pipeline",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey,
               list(CAST(l_quantity AS BIGINT) ORDER BY l_linenumber) AS qs
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           len(qs) AS n_lines,
           CAST(COALESCE(list_sum(list_filter(list_transform(qs, q -> q * 2),
                                              q -> q > 40)), 0) AS BIGINT)
               AS doubled_big_sum
    FROM per_order
    """,
)
def q_array_hof_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as a pipeline: per-order quantity
    list (deterministic line order) → transform (×2) → filter (>40) →
    aggregate (sum). All four run as codegen lambda expressions over the
    grouped array — no explode/re-group round trip, no Python. Integer
    quantities keep the fold exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct("l_linenumber", F.col("l_quantity").cast("long").alias("q"))
            )
        ).alias("pairs")
    )
    qs = F.transform(F.col("pairs"), lambda p: p["q"])
    doubled_big = F.filter(
        F.transform(qs, lambda q: q * 2), lambda q: q > 40
    )
    return per_order.select(
        "l_orderkey",
        F.size("pairs").cast("long").alias("n_lines"),
        F.aggregate(
            doubled_big, F.lit(0).cast("long"), lambda acc, q: acc + q
        ).alias("doubled_big_sum"),
    )


@register(
    "join_interval_bucketed",
    oracle="""
    WITH pts AS (
        SELECT l_orderkey, l_linenumber,
               date_diff('day', DATE '1970-01-01', l_shipdate) AS d
        FROM lineitem
    ),
    iv AS (
        SELECT o_orderkey AS interval_id,
               date_diff('day', DATE '1970-01-01', o_orderdate) AS lo,
               date_diff('day', DATE '1970-01-01', o_orderdate) + 7 AS hi
        FROM orders WHERE o_orderkey % 40 = 0
    )
    SELECT p.l_orderkey, p.l_linenumber, i.interval_id
    FROM pts p JOIN iv i ON p.d >= i.lo AND p.d < i.hi
    """,
)
def q_join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large×large point-in-interval join without a nested loop: both
    sides map onto a 7-day bucket grid and hash-equi-join on the bucket
    id (operators/interval.py). The oracle runs the direct theta join —
    same pairs, different plan; DuckDB can afford it at oracle scale,
    a 100 TB cluster cannot."""
    from nyc_opendata_etl_spark.operators.interval import (
        bucketed_point_in_interval_join,
    )

    epoch = F.lit("1970-01-01").cast("date")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.col("l_shipdate"), epoch).cast("long").alias("d"),
    )
    iv = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 40 == 0)
        .select(
            F.col("o_orderkey").alias("interval_id"),
            F.datediff(F.col("o_orderdate"), epoch).cast("long").alias("lo"),
            (F.datediff(F.col("o_orderdate"), epoch) + 7).cast("long").alias("hi"),
        )
    )
    joined = bucketed_point_in_interval_join(li, iv, "d", "lo", "hi", bucket_size=7)
    return joined.select("l_orderkey", "l_linenumber", "interval_id")


# --------------------------------------------------------------------------
# Iterative graph centrality (exact fixed-point PageRank)
# --------------------------------------------------------------------------

def _pagerank_oracle(iterations: int = 3, n_nodes: int = 25) -> str:
    """DuckDB replay of operators/graph.pagerank_int: identical integer
    recurrence (floor-div fixed-point), one chained CTE per iteration."""
    from nyc_opendata_etl_spark.operators.graph import (
        DAMP_DEN,
        DAMP_NUM,
        SCALE,
    )

    init = SCALE // n_nodes
    base = init * (DAMP_DEN - DAMP_NUM) // DAMP_DEN
    ctes = [
        """nodes AS (SELECT n_nationkey AS node_id, n_name FROM nation),
        edges AS (
            SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                   count(*) AS weight
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY 1, 2
        ),
        ew AS (SELECT e.*, sum(weight) OVER (PARTITION BY src) AS w_out
               FROM edges e)""",
        f"r0 AS (SELECT node_id, CAST({init} AS BIGINT) AS r FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(f"""r{k} AS (
            SELECT n.node_id,
                   CAST({base} + ({DAMP_NUM} * COALESCE(c.s, 0)) // {DAMP_DEN}
                        AS BIGINT) AS r
            FROM nodes n LEFT JOIN (
                SELECT ew.dst, sum((p.r * ew.weight) // ew.w_out) AS s
                FROM ew JOIN r{k - 1} p ON p.node_id = ew.src
                GROUP BY ew.dst
            ) c ON c.dst = n.node_id
        )""")
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT n.n_name, r{iterations}.r AS rank_scaled
        FROM r{iterations} JOIN nodes n ON n.node_id = r{iterations}.node_id
        """
    )


@register("graph_pagerank_trade", oracle=_pagerank_oracle())
def q_graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the customer-nation → supplier-nation
    trade graph (edge weight = lineitem count), 3 synchronous
    iterations in exact SCALE-unit integer arithmetic — every floor-div
    and long-sum is order/partitioning-independent, so the DuckDB
    oracle replays the recurrence to the last fixed-point unit. The
    heavy stage (edge aggregation: the 4-way star join) runs once and
    is checkpointed; customer and supplier are key-projected but
    UNHINTED — they scale with SF, so AQE decides broadcast vs shuffle
    (r14 review; the forced broadcast was the 100 TB OOM cliff). Each
    iteration broadcasts only the |V|-row rank relation."""
    from nyc_opendata_etl_spark.operators.graph import pagerank_int

    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node_id"), "n_name"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    ranks = pagerank_int(nation.select("node_id"), edges, iterations=3)
    return ranks.join(F.broadcast(nation), "node_id").select(
        "n_name", "rank_scaled"
    )


@register(
    "agg_listagg_ordered",
    oracle="""
    SELECT c_nationkey,
           string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
               AS segments,
           count(*) AS n_customers
    FROM customer GROUP BY c_nationkey
    """,
)
def q_agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (Spark 4 listagg WITHIN GROUP — the
    reporting/export concatenation op). The explicit ORDER BY inside the
    aggregate is what makes a concatenation deterministic on a
    distributed engine: without it, partition arrival order leaks into
    the result."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.expr(
            "listagg(DISTINCT c_mktsegment, ',') "
            "WITHIN GROUP (ORDER BY c_mktsegment)"
        ).alias("segments"),
        F.count("*").alias("n_customers"),
    )


@register(
    "audit_constraints",
    oracle="""
    SELECT 'pk_orders' AS constraint, 
           count(*) - count(DISTINCT o_orderkey) AS n_violations FROM orders
    UNION ALL
    SELECT 'pk_lineitem',
           count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
    UNION ALL
    SELECT 'fk_lineitem_orders', count(*) FROM lineitem l
    LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL AND l.l_orderkey IS NOT NULL
    UNION ALL
    SELECT 'fk_orders_customer', count(*) FROM orders od
    LEFT JOIN customer c ON od.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL AND od.o_custkey IS NOT NULL
    UNION ALL
    SELECT 'fk_customer_nation', count(*) FROM customer cu
    LEFT JOIN nation n ON cu.c_nationkey = n.n_nationkey
    WHERE n.n_nationkey IS NULL AND cu.c_nationkey IS NOT NULL
    """,
)
def q_audit_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse constraint audit: PK uniqueness via one count-vs-
    distinct aggregate per table (no join) and FK orphan detection via
    LEFT ANTI joins whose parent side is a key-column projection (dims
    broadcast; the fact scan never shuffles)."""
    from nyc_opendata_etl_spark.operators.quality import audit_constraints

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return audit_constraints(
        pk_checks={
            "pk_orders": (orders, ["o_orderkey"]),
            "pk_lineitem": (li, ["l_orderkey", "l_linenumber"]),
        },
        fk_checks={
            "fk_lineitem_orders": (li, ["l_orderkey"], orders, ["o_orderkey"]),
            "fk_orders_customer": (orders, ["o_custkey"], cust, ["c_custkey"]),
            "fk_customer_nation": (cust, ["c_nationkey"], nation, ["n_nationkey"]),
        },
    )


_PROFILE_HALF_SQL = """
    SELECT col, n_rows, n_nulls, n_distinct, min_val, max_val FROM (
        SELECT 'o_custkey' AS col, count(*) AS n_rows,
               count(*) - count(o_custkey) AS n_nulls,
               count(DISTINCT o_custkey) AS n_distinct,
               CAST(min(o_custkey) AS DOUBLE) AS min_val,
               CAST(max(o_custkey) AS DOUBLE) AS max_val
        FROM orders WHERE o_orderkey % 2 = {par}
        UNION ALL
        SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
               count(DISTINCT o_totalprice),
               min(o_totalprice), max(o_totalprice)
        FROM orders WHERE o_orderkey % 2 = {par}
    )
"""


@register(
    "profile_drift",
    oracle=f"""
    WITH a AS ({_PROFILE_HALF_SQL.format(par=0)}),
         b AS ({_PROFILE_HALF_SQL.format(par=1)})
    SELECT a.col,
           a.n_rows AS n_rows_old, b.n_rows AS n_rows_new,
           a.n_distinct AS n_distinct_old, b.n_distinct AS n_distinct_new,
           round(b.n_nulls / CAST(b.n_rows AS DOUBLE)
                 - a.n_nulls / CAST(a.n_rows AS DOUBLE), 6)
               AS null_rate_delta,
           round(b.min_val - a.min_val, 6) AS min_shift,
           round(b.max_val - a.max_val, 6) AS max_shift
    FROM a JOIN b ON a.col = b.col
    """,
)
def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot drift report (even vs odd order keys standing in
    for old/new drops): two one-scan profiles joined into per-column
    row/distinct counts, null-rate delta, and range shifts — the gate a
    pipeline runs before trusting a new snapshot."""
    from nyc_opendata_etl_spark.operators.profile import profile_drift

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 2 == 0)
    new = orders.filter(F.col("o_orderkey") % 2 == 1)
    return profile_drift(old, new, ["o_custkey", "o_totalprice"])


@register(
    "join_asof_forward",
    oracle="""
    WITH j AS (
        SELECT e.event_id, o.o_orderkey,
               row_number() OVER (PARTITION BY e.event_id
                   ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
        FROM events e
        JOIN orders o
          ON e.user_id % 1500 + 1 = o.o_custkey AND o.o_orderdate >= e.ts
    )
    SELECT e.event_id, e.user_id, e.ts, j.o_orderkey AS next_order_key
    FROM events e
    LEFT JOIN (SELECT event_id, o_orderkey FROM j WHERE rn = 1) j
      USING (event_id)
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (the backward twin is `join_asof`): earliest
    order at-or-after each event for the matching customer — the lookup
    a label-building pipeline uses for "next action after exposure".
    Since r14 the MERGE form (operators/asof.asof_join_merge, forward
    direction: first-following-observation over the per-customer
    union) — linear per key where the old equi-join + min_by paid the
    per-key cross product. Ties broken by min o_orderkey (the merge's
    first following row IS min_by(struct)), so both engines pick the
    same row."""
    from nyc_opendata_etl_spark.operators.asof import asof_join_merge

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    e = events.select(
        "event_id", "user_id", "ts", (F.col("user_id") % 1500 + 1).alias("join_cust")
    )
    o = orders.select(
        F.col("o_custkey").alias("join_cust"), "o_orderdate", "o_orderkey"
    )
    return asof_join_merge(
        e,
        o,
        key="join_cust",
        left_time="ts",
        right_time="o_orderdate",
        right_value="o_orderkey",
        out_col="next_order_key",
        direction="forward",
    ).select("event_id", "user_id", "ts", "next_order_key")


@register(
    "join_asof_nearest",
    oracle="""
    WITH j AS (
        SELECT e.event_id, o.o_orderkey,
               row_number() OVER (PARTITION BY e.event_id
                   ORDER BY abs(epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
                                - epoch_us(e.ts)),
                            o.o_orderdate, o.o_orderkey) AS rn
        FROM events e
        JOIN orders o ON e.user_id % 1500 + 1 = o.o_custkey
    )
    SELECT e.event_id, e.user_id, e.ts, j.o_orderkey AS nearest_order_key
    FROM events e
    LEFT JOIN (SELECT event_id, o_orderkey FROM j WHERE rn = 1) j
      USING (event_id)
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join — the third member of the family
    (backward `join_asof`, forward `join_asof_forward`; pandas/polars
    ``merge_asof(direction='nearest')`` parity): the order whose date
    is CLOSEST to each event's timestamp in either direction, distance
    in exact microseconds (UTC session ⇔ DuckDB epoch_us, bit-equal),
    ties → earlier date then smaller key. Since r14 the MERGE form,
    like its siblings: orders pre-aggregate to one (customer, date,
    min-key) row — minimal distance is date-determined, and the
    (date, key)-ascending tie-break wants the MIN key at the chosen
    date — then ONE merge pass yields both candidates
    (operators/asof.asof_candidates_merge: backward LOCF and
    strictly-forward first-observation share a single exchange + sort,
    two stacked Window nodes; the at-or-after-equal-date case is
    subsumed by the backward candidate at distance zero), and a pure
    expression picks the closer side (tie → the earlier, i.e.
    backward, date). Linear in |events| + |order dates| per key; the
    old equi-join + min_by(struct) formulation paid the per-customer
    cross product before its aggregate collapsed it."""
    from nyc_opendata_etl_spark.operators.asof import asof_candidates_merge

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    e = events.select(
        "event_id", "user_id", "ts", (F.col("user_id") % 1500 + 1).alias("join_cust")
    )
    od = (
        orders.groupBy(
            F.col("o_custkey").alias("join_cust"),
            F.col("o_orderdate").cast("timestamp_ntz").alias("od"),
        )
        .agg(F.min("o_orderkey").alias("min_key"))
        .select(
            "join_cust", "od", F.struct("od", "min_key").alias("cand")
        )
    )
    bf = asof_candidates_merge(
        e,
        od,
        key="join_cust",
        left_time="ts",
        right_time="od",
        right_value="cand",
        backward_col="bcand",
        forward_strict_col="fcand",
    )
    # ts arrives TIMESTAMP_NTZ (the nanos-parquet conversion);
    # unix_micros needs TIMESTAMP — the NTZ→LTZ cast is exact under the
    # UTC session, matching DuckDB's epoch_us on the naive value
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    d_b = t_us - F.unix_micros(F.col("bcand.od").cast("timestamp"))
    d_f = F.unix_micros(F.col("fcand.od").cast("timestamp")) - t_us
    nearest = (
        F.when(F.col("bcand").isNull(), F.col("fcand.min_key"))
        .when(F.col("fcand").isNull(), F.col("bcand.min_key"))
        .when(d_b <= d_f, F.col("bcand.min_key"))
        .otherwise(F.col("fcand.min_key"))
    )
    return bf.select(
        "event_id", "user_id", "ts", nearest.alias("nearest_order_key")
    )


@register(
    "market_basket_pairs",
    oracle="""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    freq AS (SELECT pk, count(*) AS c FROM b GROUP BY pk),
    tot AS (SELECT count(DISTINCT ok) AS n FROM b),
    pairs AS (
        SELECT b1.pk AS part_a, b2.pk AS part_b,
               CAST(count(*) AS BIGINT) AS pair_orders
        FROM b b1 JOIN b b2 ON b1.ok = b2.ok AND b1.pk < b2.pk
        GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT p.part_a, p.part_b, p.pair_orders,
           round(CAST(p.pair_orders * t.n AS DOUBLE)
                 / CAST(fa.c * fb.c AS DOUBLE), 6) AS lift
    FROM pairs p
    JOIN freq fa ON fa.pk = p.part_a
    JOIN freq fb ON fb.pk = p.part_b
    CROSS JOIN tot t
    """,
)
def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset pair mining (market-basket / association rules)
    over order baskets: co-occurring part pairs with support >= 3
    orders, scored by lift = P(a,b) / (P(a)·P(b)) over the order space.

    The canonical distributed a-priori shape: distinct (order, part)
    once, self-join ONLY within an order (work is Σ basket², bounded by
    basket size — at 100 TB you cap or pre-filter giant baskets, the
    a-priori pruning step), pair counts partial-aggregate map-side, and
    the support filter runs BEFORE the lift join so the item-frequency
    relation (|parts|, small) broadcasts onto the surviving pairs.
    Lift determinism: both products are exact BIGINT multiplies, so the
    single double division agrees bit-for-bit across engines."""
    li = load_table(spark, sf_dir, "lineitem", spread_input=True)
    # the basket relation feeds four consumers (freq, tot, both pair
    # sides); materialize the two-long proxy once instead of re-running
    # the lineitem scan + distinct shuffle per consumer (the plan held
    # four copies of the scan subtree before this). DISK_ONLY: the
    # proxy is O(distinct basket rows) — the default MEMORY_AND_DISK
    # deserialized blocks pinned enough unified memory at the 100×
    # replica to starve execution (UNABLE_TO_ACQUIRE_MEMORY); spilling
    # the serialized proxy to local disk costs one write+read, same
    # order as the shuffle that produced it.
    from pyspark import StorageLevel

    b = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    freq = b.groupBy("pk").agg(F.count("*").alias("c"))
    tot = b.agg(F.count_distinct("ok").alias("n"))
    b2 = b.select(F.col("ok"), F.col("pk").alias("pk2"))
    pairs = (
        b.join(b2, "ok")
        .filter(F.col("pk") < F.col("pk2"))
        .groupBy(F.col("pk").alias("part_a"), F.col("pk2").alias("part_b"))
        .agg(F.count("*").alias("pair_orders"))
        .filter(F.col("pair_orders") >= 3)
    )
    fa = freq.select(F.col("pk").alias("part_a"), F.col("c").alias("ca"))
    fb = freq.select(F.col("pk").alias("part_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            F.round(
                (F.col("pair_orders") * F.col("n")).cast("double")
                / (F.col("ca") * F.col("cb")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


@register(
    "market_basket_pairs_relative",
    oracle="""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    tot AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM b),
    sup AS (
        SELECT n, greatest(CAST(3 AS BIGINT), (n + 4999) // 5000) AS min_sup
        FROM tot
    ),
    freq AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY pk),
    fitems AS (
        SELECT f.pk, f.c FROM freq f CROSS JOIN sup s WHERE f.c >= s.min_sup
    ),
    fb AS (SELECT b.ok, b.pk FROM b JOIN fitems fi ON fi.pk = b.pk),
    pairs AS (
        SELECT b1.pk AS part_a, b2.pk AS part_b,
               CAST(count(*) AS BIGINT) AS pair_orders
        FROM fb b1 JOIN fb b2 ON b1.ok = b2.ok AND b1.pk < b2.pk
        GROUP BY 1, 2
    ),
    fp AS (
        SELECT p.* FROM pairs p CROSS JOIN sup s
        WHERE p.pair_orders >= s.min_sup
    )
    SELECT fp.part_a, fp.part_b, fp.pair_orders,
           round(CAST(fp.pair_orders * s.n AS DOUBLE)
                 / CAST(fa.c * fc.c AS DOUBLE), 6) AS lift
    FROM fp
    JOIN fitems fa ON fa.pk = fp.part_a
    JOIN fitems fc ON fc.pk = fp.part_b
    CROSS JOIN sup s
    """,
)
def q_market_basket_pairs_relative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """market_basket_pairs' 100 TB twin: min-support scales with the
    order count — ``max(3, ceil(|orders| / 5000))``, all-integer
    arithmetic so both engines compute the identical threshold — and
    the a-priori ITEM prune runs before pair generation (an item below
    min-support can't appear in any frequent pair, so dropping its
    basket rows first is provably lossless; at sf0.01 the threshold
    floors at 3 and this query's output is exactly
    market_basket_pairs').

    Why the twin exists: the absolute-support anchor stops pruning as
    data grows — the round-7 100× sweep spilled 77 GB of pair state
    (BASELINE.md round-7 basket finding). Relative support keeps the
    surviving item vocabulary (and hence the pair key space) roughly
    scale-invariant: the frequent-item list broadcasts onto the basket
    scan (no shuffle for the prune), pair counts partial-aggregate
    map-side, and the support filter still runs before the lift join so
    item frequencies broadcast onto surviving pairs only."""
    li = load_table(spark, sf_dir, "lineitem", spread_input=True)
    # basket proxy feeds sup/freq/both pair sides; sup (1 row) and
    # fitems (frequent vocabulary, scale-invariant by construction) are
    # each consumed three times — materialize all three once instead of
    # re-running the scan/distinct (b) or a full count_distinct over b
    # (sup) per consumer (22 scan subtrees in the pre-change plan).
    # b is the one O(n) proxy — DISK_ONLY, same rationale as
    # market_basket_pairs (default-level blocks starved execution
    # memory at the 100× replica).
    from pyspark import StorageLevel

    b = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    sup = (
        b.agg(F.count_distinct("ok").alias("n"))
        .select(
            "n",
            F.greatest(
                F.lit(3).cast("long"), F.expr("(n + 4999) div 5000")
            ).alias("min_sup"),
        )
        .localCheckpoint()
    )
    freq = b.groupBy("pk").agg(F.count("*").alias("c"))
    fitems = (
        freq.crossJoin(F.broadcast(sup))
        .filter(F.col("c") >= F.col("min_sup"))
        .select("pk", "c")
        .localCheckpoint()
    )
    fb = b.join(F.broadcast(fitems.select("pk")), "pk")
    fb2 = fb.select(F.col("ok"), F.col("pk").alias("pk2"))
    pairs = (
        fb.join(fb2, "ok")
        .filter(F.col("pk") < F.col("pk2"))
        .groupBy(F.col("pk").alias("part_a"), F.col("pk2").alias("part_b"))
        .agg(F.count("*").alias("pair_orders"))
    )
    fp = pairs.crossJoin(F.broadcast(sup)).filter(
        F.col("pair_orders") >= F.col("min_sup")
    )
    fa = fitems.select(F.col("pk").alias("part_a"), F.col("c").alias("ca"))
    fc = fitems.select(F.col("pk").alias("part_b"), F.col("c").alias("cb"))
    return (
        fp.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fc), "part_b")
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            F.round(
                (F.col("pair_orders") * F.col("n")).cast("double")
                / (F.col("ca") * F.col("cb")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


_REACH_EDGES = """
edges AS (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           CAST(count(*) AS BIGINT) AS weight
    FROM {li} l
    JOIN {o} o ON l.l_orderkey = o.o_orderkey
    JOIN {c} c ON o.o_custkey = c.c_custkey
    JOIN {s} s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_e,
               CAST(sum(weight) AS BIGINT) AS w_tot FROM edges),
strong AS (
    SELECT e.src, e.dst FROM edges e CROSS JOIN tot t
    WHERE e.weight * t.n_e > t.w_tot
),
reach(nationkey, hop) AS (
    SELECT CAST(0 AS BIGINT), 0
    UNION ALL
    SELECT s.dst, r.hop + 1
    FROM reach r JOIN strong s ON s.src = r.nationkey
    WHERE r.hop < 3
)
SELECT n.n_name, CAST(min(r.hop) AS BIGINT) AS min_hops
FROM reach r JOIN {n} n ON n.n_nationkey = r.nationkey
GROUP BY n.n_name
"""


@register(
    "recursive_reachability",
    oracle="WITH RECURSIVE "
    + _REACH_EDGES.format(
        li="lineitem", o="orders", c="customer", s="supplier", n="nation"
    ),
)
def q_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability via a RECURSIVE CTE (new SQL surface in Spark
    4): minimum hops from nation 0 over the "strong" trade graph —
    edges kept only where their lineitem count exceeds the mean edge
    weight, an exact integer comparison (weight·n_edges > total), so
    the graph is data-dependent yet replayed identically by the
    oracle. The recursion is walk-enumeration bounded by the hop cap
    (3) — right for sparse/shallow graphs; for unbounded diameters the
    engine's iterative frontier loop with per-round dedup
    (operators/graph.pagerank_int's idiom, dedup_clusters) is the
    100 TB path, and this query is the declarative twin the SQL user
    reaches for. The heavy stage — the 4-way edge aggregate
    (customer/supplier key-projected, unhinted — r14 review: they
    scale with SF, AQE decides broadcast vs shuffle) — is
    materialized via localCheckpoint BEFORE the recursion: a recursive
    CTE's body re-executes per iteration, so leaving the edge build
    inside it re-ran the star join every hop (measured 3× slower).
    The recursion then touches only the ≤625-row nation-graph
    relation."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("weight"))
        .localCheckpoint(eager=False)
    )
    tot = edges.agg(
        F.count(F.lit(1)).alias("n_e"), F.sum("weight").alias("w_tot")
    )
    strong = (
        edges.crossJoin(F.broadcast(tot))
        .filter(F.col("weight") * F.col("n_e") > F.col("w_tot"))
        .select("src", "dst")
    )
    strong.createOrReplaceTempView("__reach_strong")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("__reach_nation")
    return spark.sql(
        """
        WITH RECURSIVE reach(nationkey, hop) AS (
            SELECT CAST(0 AS BIGINT), 0
            UNION ALL
            SELECT s.dst, r.hop + 1
            FROM reach r JOIN __reach_strong s ON s.src = r.nationkey
            WHERE r.hop < 3
        )
        SELECT n.n_name, CAST(min(r.hop) AS BIGINT) AS min_hops
        FROM reach r JOIN __reach_nation n ON n.n_nationkey = r.nationkey
        GROUP BY n.n_name
        """
    )


_LATERAL_TOPN = """
SELECT c.c_custkey, t.o_orderkey, t.o_orderdate
FROM {cust} c,
LATERAL (SELECT o_orderkey, o_orderdate FROM {ords} o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_orderdate DESC, o_orderkey LIMIT 2) t
WHERE c.c_mktsegment = 'BUILDING'
"""


@register(
    "join_lateral_topn",
    oracle=_LATERAL_TOPN.format(cust="customer", ords="orders"),
)
def q_join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT: the
    two most recent orders for every BUILDING-segment customer. Spark
    DE-CORRELATES this — the executed plan is one broadcast hash join
    plus a rank window partitioned by customer (verified: no cartesian
    product, no per-row re-scan), i.e. the optimizer rewrites the
    point-lookup formulation into the set-based top-n-per-group shape
    you would hand-write, making the declarative form safe at 100 TB.
    Tie-broken by o_orderkey so both engines pick identical rows."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("__lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__lat_orders")
    return spark.sql(_LATERAL_TOPN.format(cust="__lat_customer", ords="__lat_orders"))


@register(
    "json_variant_shred",
    oracle="""
    SELECT event_type,
           CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) - count(TRY_CAST(json_extract_string(props, '$.k')
                                          AS BIGINT)) AS BIGINT) AS n_null_k,
           TRUE AS schema_is_k_bigint
    FROM events
    GROUP BY event_type
    """,
)
def q_json_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type: props
    is parsed ONCE into variant binary, then typed paths are extracted
    with variant_get and the per-group physical schema is inferred with
    schema_of_variant_agg. Versus get_json_object (the json_extract
    query), variant avoids re-tokenizing the JSON string per path — the
    open-format answer to shredded JSON columns, and the right 100 TB
    encoding for schema-drifting event streams. The inferred-schema pin
    is emitted as an in-query boolean (the agg_approx_distinct
    pattern: DuckDB can't reproduce Spark's schema string, so the
    assertion itself is the oracle-checked value)."""
    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("__variant_events")
    return spark.sql(
        """
        SELECT event_type,
               sum(variant_get(v, '$.k', 'long')) AS sum_k,
               count(*) AS n_events,
               count(*) - count(variant_get(v, '$.k', 'long')) AS n_null_k,
               schema_of_variant_agg(v) = 'OBJECT<k: BIGINT>'
                   AS schema_is_k_bigint
        FROM (SELECT event_type, parse_json(props) AS v
              FROM __variant_events)
        GROUP BY event_type
        """
    )


@register(
    "sketch_theta_setops",
    oracle="""
    WITH f AS (
        SELECT o_custkey,
               max(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS a,
               max(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS b
        FROM orders
        WHERE year(o_orderdate) IN (1995, 1996)
        GROUP BY o_custkey
    )
    SELECT CAST(sum(a) AS BIGINT) AS n_1995,
           CAST(sum(b) AS BIGINT) AS n_1996,
           CAST(count(*) AS BIGINT) AS n_union,
           CAST(sum(a * b) AS BIGINT) AS n_intersect,
           CAST(sum(a * (1 - b)) AS BIGINT) AS n_churned,
           TRUE AS theta_within_band
    FROM f
    """,
)
def q_sketch_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count SET ALGEBRA from Theta sketches (Spark 4.1
    Datasketches bindings): buyer overlap/churn between 1995 and 1996.
    Both year segments sketch in ONE pass over orders (conditional
    theta_sketch_agg per segment — aggregates skip the NULLs the CASE
    produces), then union / intersection / difference are evaluated on
    the two compact sketches at read time. This is the question family
    HLL cannot answer from state (HLL only unions); at 100 TB the
    sketches are the persisted partial-aggregate and any segment-vs-
    segment overlap query is O(sketch) instead of a re-scan + exact
    distinct join. Exact counts ride alongside via one custkey-grain
    aggregate (the verification surface); the driver-checked boolean
    asserts all five estimates land within 5% of the exact UNION size —
    the theoretically correct normalization, since theta set-op error
    scales with the union of the operands (measured ≤1.7% at sf0.1,
    where the 2^12-entry sketches are genuinely estimating).
    The reference has no sketch surface (distinct values come from
    full pandas re-scans, `etl/core/dim_loader.py`); this is the
    Spark-native scale path."""
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", F.year("o_orderdate").alias("y"))
        .filter(F.col("y").isin(1995, 1996))
    )
    sk = o.agg(
        F.theta_sketch_agg(
            F.when(F.col("y") == 1995, F.col("o_custkey")), 12
        ).alias("sa"),
        F.theta_sketch_agg(
            F.when(F.col("y") == 1996, F.col("o_custkey")), 12
        ).alias("sb"),
    ).select(
        F.theta_sketch_estimate("sa").alias("ea"),
        F.theta_sketch_estimate("sb").alias("eb"),
        F.theta_sketch_estimate(F.theta_union("sa", "sb")).alias("eu"),
        F.theta_sketch_estimate(F.theta_intersection("sa", "sb")).alias("ei"),
        F.theta_sketch_estimate(F.theta_difference("sa", "sb")).alias("ed"),
    )
    flags = o.groupBy("o_custkey").agg(
        F.max((F.col("y") == 1995).cast("int")).alias("a"),
        F.max((F.col("y") == 1996).cast("int")).alias("b"),
    )
    exact = flags.agg(
        F.sum("a").cast("long").alias("n_1995"),
        F.sum("b").cast("long").alias("n_1996"),
        F.count(F.lit(1)).alias("n_union"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n_intersect"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n_churned"),
    )
    band = 0.05 * F.col("n_union")
    within = (
        (F.abs(F.col("ea") - F.col("n_1995")) <= band)
        & (F.abs(F.col("eb") - F.col("n_1996")) <= band)
        & (F.abs(F.col("eu") - F.col("n_union")) <= band)
        & (F.abs(F.col("ei") - F.col("n_intersect")) <= band)
        & (F.abs(F.col("ed") - F.col("n_churned")) <= band)
    )
    return exact.crossJoin(F.broadcast(sk)).select(
        "n_1995",
        "n_1996",
        "n_union",
        "n_intersect",
        "n_churned",
        within.alias("theta_within_band"),
    )


@register(
    "sketch_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct_custkey,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct_orderkey,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_sketch_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct-count state via Spark 4 bitmap
    aggregates (operators/rollup.bitmap_batch/_merge/_counts): one
    32768-bit bitmap per (priority, id-bucket), OR-merged across two
    deterministic half-batches (orderkey parity), popcount-summed at
    read time. Completes the sketch-state matrix: HLL (union-only
    estimate), Theta (set-algebra estimate), KLL (quantiles), bitmap
    (EXACT distinct for dense integer domains — the per-bucket 4 KB
    state is the price of exactness, viable for surrogate-key spaces).
    The o_custkey state lands in one bucket at this SF while o_orderkey
    spans several, so both the single- and multi-bucket paths are
    exercised; OR-idempotence means re-delivered batches cannot inflate
    the distinct counts (unlike additive counters — ``n`` does re-add).
    Differential contract: the bitmap path must reproduce DuckDB's
    exact count(DISTINCT) to the row."""
    from nyc_opendata_etl_spark.operators.rollup import (
        bitmap_batch,
        bitmap_counts,
        bitmap_merge,
    )

    orders = load_table(spark, sf_dir, "orders")
    keys = ["o_orderpriority"]
    halves = [orders.filter(F.col("o_orderkey") % 2 == i) for i in (0, 1)]
    counts = {}
    for col in ("o_custkey", "o_orderkey"):
        state = bitmap_merge(
            bitmap_batch(halves[0], keys, col),
            bitmap_batch(halves[1], keys, col),
            keys,
            col,
        )
        counts[col] = bitmap_counts(state, keys, col)
    return (
        counts["o_custkey"]
        .join(
            F.broadcast(
                counts["o_orderkey"].select(
                    *keys, "n_distinct_o_orderkey"
                )
            ),
            keys,
        )
        .select(
            "o_orderpriority",
            F.col("n_distinct_o_custkey").alias("n_distinct_custkey"),
            F.col("n_distinct_o_orderkey").alias("n_distinct_orderkey"),
            F.col("n").alias("n_orders"),
        )
    )


@staged("copurchase_edges", "lineitem")
def _stage_copurchase_edges(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The DISTINCT part co-purchase edge relation, materialized once
    per lineitem version as a BUCKETED table (sources/sinks.
    write_bucketed, hash-clustered on ``a``) — the expensive per-basket
    self-join + DISTINCT is write-time work; graph queries read the
    edge set and joins/aggregations on ``a`` start from the persisted
    clustering with no Exchange on the edge side."""
    from nyc_opendata_etl_spark.sources.sinks import write_bucketed

    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    b2 = b.select(F.col("ok"), F.col("pk").alias("pk2"))
    edges = (
        b.join(b2, "ok")
        .filter(F.col("pk") < F.col("pk2"))
        .select(F.col("pk").alias("a"), F.col("pk2").alias("b"))
        .distinct()
    )
    tbl = _copurchase_table_name(sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    write_bucketed(edges, tbl, ["a"], 8, path)


def _copurchase_table_name(sf_dir: str) -> str:
    import hashlib

    key = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:12]
    return f"copurchase_edges_{key}"


def copurchase_edges_table(spark: SparkSession, sf_dir: str) -> str:
    """Catalog name of the staged co-purchase edge table. A staging
    that survives from an earlier session is re-registered over its
    files as the same bucketed layout (bucketing metadata lives in the
    catalog, not the files)."""
    path = _stage_copurchase_edges(spark, sf_dir)
    tbl = _copurchase_table_name(sf_dir)
    if not spark.catalog.tableExists(tbl):
        spark.sql(
            f"CREATE TABLE {tbl} (a BIGINT, b BIGINT) USING PARQUET "
            f"CLUSTERED BY (a) SORTED BY (a) INTO 8 BUCKETS "
            f"LOCATION '{path}'"
        )
    return tbl


@register(
    "graph_triangles",
    oracle="""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    e AS (
        SELECT DISTINCT b1.pk AS a, b2.pk AS b
        FROM b b1 JOIN b b2 ON b1.ok = b2.ok AND b1.pk < b2.pk
    ),
    deg AS (
        SELECT v, count(*) AS d
        FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
        GROUP BY v
    ),
    tri AS (
        SELECT count(*) AS t
        FROM e e1
        JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges FROM deg)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           w.wedges AS n_wedges,
           CAST(tri.t AS BIGINT) AS n_triangles,
           round(3.0 * tri.t / w.wedges, 6) AS global_clustering
    FROM tri, w
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    part co-purchase graph (parts are adjacent iff some order contains
    both). The edge relation — a DISTINCT per-basket self-join, the
    dominant cost of the old in-query formulation — is STAGED once per
    lineitem version as a bucketed table (_stage_copurchase_edges), so
    the query path starts from a clustered edge scan. The operator
    (operators/graph.triangle_count) orients each edge by the
    (degree, id) total order so the wedge self-join is O(m^1.5) instead
    of Σ deg² — hub parts contribute in-edges, not wedge fan-out —
    which is what keeps the plan runnable when the co-purchase graph
    has power-law degrees at corpus scale. The DuckDB oracle counts the
    same triangles declaratively from lineitem (a < b < c triple join);
    staging and orientation change join inputs and sizes, never the
    count. All outputs are exact integers except the final
    6-dp-rounded single double division."""
    from nyc_opendata_etl_spark.operators.graph import triangle_count

    tbl = copurchase_edges_table(spark, sf_dir)
    # the staged scan is cheap to replay — skip the operator's input
    # materialization (it exists for expensive in-query edge builds)
    return triangle_count(spark.table(tbl), materialize_input=False)


# --------------------------------------------------------------------------
# Deterministic bloom-prefiltered join (portable runtime-filter semantics)
# --------------------------------------------------------------------------

def _bloom_oracle() -> str:
    from nyc_opendata_etl_spark.functions.hashing import md5_long_oracle_sql
    from nyc_opendata_etl_spark.operators.bloom import bloom_position_sql

    # mirror the Spark shape: ONE md5 fold per row (the `h` columns),
    # then k affine maps — the oracle replays the shared-fold family
    # value-for-value.
    p = [bloom_position_sql(i, "h", 32, prehashed=True) for i in range(2)]
    return f"""
    WITH bkeys AS (
        SELECT DISTINCT s_suppkey AS bk FROM supplier
        WHERE s_nationkey = 3 AND s_suppkey IS NOT NULL
    ),
    bhash AS (
        SELECT bk, {md5_long_oracle_sql("bk")} AS h FROM bkeys
    ),
    bits AS (
        SELECT DISTINCT pos FROM (
            SELECT {p[0]} AS pos FROM bhash
            UNION ALL
            SELECT {p[1]} AS pos FROM bhash
        )
    ),
    lhash AS (
        SELECT l_suppkey, l_quantity,
               {md5_long_oracle_sql("l_suppkey")} AS h
        FROM lineitem
    ),
    cand AS (
        SELECT l_suppkey, l_quantity FROM lhash
        WHERE {p[0]} IN (SELECT pos FROM bits)
          AND {p[1]} IN (SELECT pos FROM bits)
    )
    SELECT (SELECT count(*) FROM bkeys) AS n_build_keys,
           (SELECT count(*) FROM bits) AS n_bits_set,
           count(*) AS n_candidates,
           count(CASE WHEN bk IS NOT NULL THEN 1 END) AS n_matched,
           count(CASE WHEN bk IS NULL THEN 1 END) AS n_false_positives,
           round(sum(CASE WHEN bk IS NOT NULL THEN l_quantity END), 2)
               AS sum_matched_qty
    FROM cand LEFT JOIN bkeys ON cand.l_suppkey = bkeys.bk
    """


@register("join_bloom_prefiltered", oracle=_bloom_oracle())
def q_join_bloom_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered selective join with the false-positive math
    itself under the differential gate.

    Spark's native runtime bloom injection is engine-private (pinned in
    tests/test_plans.py); this query builds the same reduction from the
    portable md5-affine family (operators/bloom.py) so DuckDB replays the
    EXACT candidate set — m=32/k=2 is deliberately undersized so false
    positives genuinely occur and are counted. The probe-side prefilter
    is a scan-local ``forall`` over a broadcast bitmap: at 100 TB the
    fact never shuffles its non-candidate complement, and the exact
    join that removes false positives sees only the candidate sliver
    (~3% here) — its key side is UNHINTED (r14 review: the nation-3
    supplier-key set scales with SF; AQE broadcasts it while small).
    Build side: one distinct+explode aggregate over the dim."""
    from nyc_opendata_etl_spark.operators.bloom import bloom_prefilter, build_bloom_bitmap

    m, k = 32, 2
    sup = load_table(spark, sf_dir, "supplier").where(F.col("s_nationkey") == 3)
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    bitmap = build_bloom_bitmap(sup, "s_suppkey", m=m, k=k)
    cand = bloom_prefilter(li, "l_suppkey", bitmap, m=m, k=k)
    keys = sup.select(F.col("s_suppkey").alias("bk")).where(F.col("s_suppkey").isNotNull()).distinct()
    agg = cand.join(keys, cand["l_suppkey"] == F.col("bk"), "left").agg(
        F.count("*").alias("n_candidates"),
        F.count(F.when(F.col("bk").isNotNull(), 1)).alias("n_matched"),
        F.count(F.when(F.col("bk").isNull(), 1)).alias("n_false_positives"),
        F.round(F.sum(F.when(F.col("bk").isNotNull(), F.col("l_quantity"))), 2)
        .alias("sum_matched_qty"),
    )
    return agg.crossJoin(
        F.broadcast(
            bitmap.select(F.col("n_keys").cast("long").alias("n_build_keys"), "n_bits_set")
        )
    ).select(
        "n_build_keys", "n_bits_set", "n_candidates",
        "n_matched", "n_false_positives", "sum_matched_qty",
    )


def _bloom_packed_oracle() -> str:
    from nyc_opendata_etl_spark.functions.hashing import md5_long_oracle_sql
    from nyc_opendata_etl_spark.operators.bloom import bloom_position_sql

    m, k = 65536, 3
    pos = [bloom_position_sql(i, "h", m, prehashed=True) for i in range(k)]
    bits_union = "\n            UNION ALL\n            ".join(
        f"SELECT {e} AS pos FROM bhash" for e in pos
    )
    cand_pred = "\n          AND ".join(f"{e} IN (SELECT pos FROM bits)" for e in pos)
    return f"""
    WITH bkeys AS (
        SELECT DISTINCT s_suppkey AS bk FROM supplier
        WHERE s_nationkey = 3 AND s_suppkey IS NOT NULL
    ),
    bhash AS (
        SELECT bk, {md5_long_oracle_sql("bk")} AS h FROM bkeys
    ),
    bits AS (
        SELECT DISTINCT pos FROM (
            {bits_union}
        )
    ),
    lhash AS (
        SELECT l_suppkey, l_quantity,
               {md5_long_oracle_sql("l_suppkey")} AS h
        FROM lineitem
    ),
    cand AS (
        SELECT l_suppkey, l_quantity FROM lhash
        WHERE {cand_pred}
    )
    SELECT (SELECT count(*) FROM bkeys) AS n_build_keys,
           (SELECT count(*) FROM bits) AS n_bits_set,
           count(*) AS n_candidates,
           count(CASE WHEN bk IS NOT NULL THEN 1 END) AS n_matched,
           count(CASE WHEN bk IS NULL THEN 1 END) AS n_false_positives,
           round(sum(CASE WHEN bk IS NOT NULL THEN l_quantity END), 2)
               AS sum_matched_qty
    FROM cand LEFT JOIN bkeys ON cand.l_suppkey = bkeys.bk
    """


@register("join_bloom_packed", oracle=_bloom_packed_oracle())
def q_join_bloom_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_bloom_prefiltered's production physical form: the same
    md5-affine bloom logic over a PACKED long-array bitset
    (operators/bloom.py build_bloom_bitset) at production-shaped
    parameters — m=65536 bits (1024 words, 8 KiB broadcast), k=3.
    The sorted-position-array twin exists so the oracle replays the
    false-positive set at deliberately-undersized m; this query pins
    the representation you'd actually broadcast at 100 TB: m/8 bytes
    total rather than 8 bytes per set bit, probe = shift+AND+word-load
    in whole-stage codegen (plan-pinned scan-local in
    tests/test_plans.py), build = map-side-combinable per-word bit_or.
    The oracle replays candidates from position membership — identical
    logic, representation-independent — and Spark's own runtime bloom
    injection (engine-private hashing) is separately pinned in
    tests/test_plans.py."""
    from nyc_opendata_etl_spark.operators.bloom import (
        bloom_prefilter_packed,
        build_bloom_bitset,
    )

    m, k = 65536, 3
    sup = load_table(spark, sf_dir, "supplier").where(F.col("s_nationkey") == 3)
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    bitset = build_bloom_bitset(sup, "s_suppkey", m=m, k=k)
    cand = bloom_prefilter_packed(li, "l_suppkey", bitset, m=m, k=k)
    keys = (
        sup.select(F.col("s_suppkey").alias("bk"))
        .where(F.col("s_suppkey").isNotNull())
        .distinct()
    )
    agg = cand.join(keys, cand["l_suppkey"] == F.col("bk"), "left").agg(
        F.count("*").alias("n_candidates"),
        F.count(F.when(F.col("bk").isNotNull(), 1)).alias("n_matched"),
        F.count(F.when(F.col("bk").isNull(), 1)).alias("n_false_positives"),
        F.round(F.sum(F.when(F.col("bk").isNotNull(), F.col("l_quantity"))), 2)
        .alias("sum_matched_qty"),
    )
    return agg.crossJoin(
        F.broadcast(
            bitset.select(F.col("n_keys").cast("long").alias("n_build_keys"), "n_bits_set")
        )
    ).select(
        "n_build_keys", "n_bits_set", "n_candidates",
        "n_matched", "n_false_positives", "sum_matched_qty",
    )


@register(
    "join_null_safe",
    oracle=f"""
    WITH f AS (
        SELECT nullif(o_orderkey % 7, 0) AS k1, o_totalprice FROM orders
    ),
    d AS (
        SELECT unnest([NULL, 1, 2, 3, 4, 5, 6]) AS k,
               unnest(['grp_null', 'grp_1', 'grp_2', 'grp_3',
                       'grp_4', 'grp_5', 'grp_6']) AS dim_val
    )
    SELECT dim_val, count(*) AS n, {money_sum('o_totalprice')} AS revenue
    FROM f JOIN d ON f.k1 IS NOT DISTINCT FROM d.k
    GROUP BY dim_val
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (Spark ``<=>`` / SQL ``IS NOT DISTINCT
    FROM``): NULL keys MATCH each other instead of silently dropping —
    the semantic corner every late-arriving / unknown-member pipeline
    hits. A seventh of the fact's keys are nulled via NULLIF and still
    land on the dim's NULL member; a plain equi-join would lose the
    whole grp_null row. Null-safe equality remains hash-joinable (NULL
    is just another key value under ``<=>``), so the plan is the same
    broadcast hash join as the plain-key case — no fallback to
    nested-loop."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.expr("nullif(o_orderkey % 7, 0)").alias("k1"), "o_totalprice"
    )
    dim = spark.createDataFrame(
        [(None, "grp_null")] + [(i, f"grp_{i}") for i in range(1, 7)],
        "k long, dim_val string",
    )
    return (
        orders.join(F.broadcast(dim), orders["k1"].eqNullSafe(dim["k"]))
        .groupBy("dim_val")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(_money("o_totalprice")), 2).cast("double").alias("revenue"),
        )
    )


@register(
    "agg_mode_median",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag, l_quantity, count(*) AS cnt
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag,
           arg_max(l_quantity, cnt * 1024 - l_quantity) AS mode_qty,
           max(cnt) AS n_mode,
           (SELECT round(median(l_quantity), 6) FROM lineitem i
            WHERE i.l_returnflag = counts.l_returnflag) AS median_qty
    FROM counts
    GROUP BY l_returnflag
    """,
)
def q_agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode + median per group with a DETERMINISTIC mode tie-break
    (highest count, then smallest value — engines' built-in mode() picks
    an arbitrary tied value, so it can never sit under a differential
    gate). Mode is two hash aggregates — (group, value) counts, then an
    arg-max selection — both map-side combinable; median is the exact
    interpolating percentile. At 100 TB the exact median becomes the KLL
    sketch (sketch_kll_quantiles); mode's shape is unchanged."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("cnt"))
    # (cnt, -qty) lexicographic order packed into one scalar: valid while
    # 0 <= l_quantity < 1024 (TPC-H quantities are 1..50); DuckDB's
    # arg_max has no composite-key form, so both engines use the packing.
    mode = counts.groupBy("l_returnflag").agg(
        F.max_by("l_quantity", F.col("cnt") * 1024 - F.col("l_quantity")).alias(
            "mode_qty"
        ),
        F.max("cnt").alias("n_mode"),
    )
    med = li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 6).alias("median_qty")
    )
    return mode.join(med, "l_returnflag")


@register(
    "stats_equidepth_bins",
    oracle="""
    WITH binned AS (
        SELECT o_totalprice,
               ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
        FROM orders
    )
    SELECT CAST(bin AS INT) AS bin,
           count(*) AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS bin_total
    FROM binned
    GROUP BY bin
    """,
)
def q_stats_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram via ntile — the optimizer's
    own statistics shape, and the right binning for skewed money
    columns where equi-WIDTH bins put 99% of rows in one bucket. The
    ntile order is total (price, orderkey) so bin edges are
    deterministic. Note the single-partition window sort: exact global
    ntile fundamentally serializes the order — at 100 TB the engine
    swaps in approx_percentile cut points (agg_percentile_approx /
    sketch_kll_quantiles) and bins by range instead."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    binned = orders.select(
        "o_totalprice", F.ntile(8).over(w).alias("bin")
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("bin_total"),
    )


@register(
    "stats_equidepth_bins_approx",
    oracle="""
    WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM orders)
    SELECT CAST(range AS INT) AS bin,
           CAST(floor((n_total / 8.0) * 0.98) AS BIGINT) AS n_lo,
           CAST(ceil((n_total / 8.0) * 1.02) AS BIGINT) AS n_hi,
           true AS depth_in_band
    FROM range(1, 9) CROSS JOIN t
    """,
)
def q_stats_equidepth_bins_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats_equidepth_bins' 100 TB twin: approx_percentile cut points
    (mergeable Greenwald–Khanna sketch, accuracy=10000 → rank error
    ≤ 0.01%·N per cut) + range binning by the 7 interior octile cuts —
    one map-side-combined aggregate for the cuts, a broadcast of the
    7-value array back onto the scan, and one 8-group aggregate. NO
    global sort: this replaces the exact twin's single-partition ntile
    window, the documented 50×-at-100× wall (VERDICT r7 wrong-list #2).

    Verification (the agg_percentile_approx technique): sketch cut
    values differ across engines, so the driver-hashed surface is the
    deterministic part — 8 bins must exist (row-count match), the
    tolerance bounds n_lo/n_hi = N/8 ± 2% are exact integer/IEEE
    arithmetic on both engines, and depth_in_band asserts each bin's
    count lands inside the band, 100× looser than the sketch's rank
    guarantee (two cuts × 0.01%·N ≈ 0.16% of a bin) yet failing loudly
    if the sketch or the binning breaks. An empty or out-of-band bin
    surfaces as a row-count or hash mismatch."""
    orders = load_table(spark, sf_dir, "orders")
    probs = "array(0.125D, 0.25D, 0.375D, 0.5D, 0.625D, 0.75D, 0.875D)"
    cuts = orders.agg(
        F.expr(f"approx_percentile(o_totalprice, {probs}, 10000)").alias("cuts"),
        F.count("*").alias("n_total"),
    )
    binned = orders.select("o_totalprice").crossJoin(F.broadcast(cuts))
    bins = (
        binned.select(
            F.expr(
                "1 + aggregate(cuts, 0, (acc, c) -> "
                "acc + CASE WHEN o_totalprice > c THEN 1 ELSE 0 END)"
            ).cast("int").alias("bin"),
            "n_total",
        )
        .groupBy("bin", "n_total")
        .agg(F.count("*").alias("n"))
    )
    n_lo = F.floor((F.col("n_total") / F.lit(8.0)) * F.lit(0.98)).cast("long")
    n_hi = F.ceil((F.col("n_total") / F.lit(8.0)) * F.lit(1.02)).cast("long")
    return bins.select(
        "bin",
        n_lo.alias("n_lo"),
        n_hi.alias("n_hi"),
        F.col("n").between(n_lo, n_hi).alias("depth_in_band"),
    )


@register(
    "stats_weighted_quantiles",
    oracle="""
    WITH c AS (
        SELECT lang, n_chars AS v, CAST(sum(n_chars) AS BIGINT) AS w
        FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ), cum AS (
        SELECT lang, v,
               CAST(sum(w) OVER (PARTITION BY lang ORDER BY v) AS BIGINT)
                   AS cw,
               CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT) AS tw
        FROM c
    )
    SELECT lang,
           min(CASE WHEN cw * 4 >= tw THEN v END) AS p25_mass_len,
           min(CASE WHEN cw * 2 >= tw THEN v END) AS p50_mass_len,
           min(CASE WHEN cw * 4 >= tw * 3 THEN v END) AS p75_mass_len,
           CAST(max(tw) AS BIGINT) AS total_chars
    FROM cum GROUP BY lang
    """,
)
def q_stats_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-mass-weighted doc-length quantiles per language:
    p50_mass_len is the length below which HALF this language's
    characters live — the curation metric behind byte-budgeted corpus
    mixes, where the unweighted median is useless (a million tweets and
    one book have the tweet as median but the book as the mass). Exact
    and all-integer on both engines (min v with cumw·den ≥ totw·num) —
    no float CDF, no interpolation, so the full value oracle hashes.

    Scale shape (operators/rollup.weighted_quantiles): one collapse
    shuffle groupBy (lang, n_chars) with map-side combine — the only
    exchange that sees raw rows — then a per-lang cum-sum window over
    |distinct lengths| rows, bounded by the length DOMAIN, not the
    corpus size. The exact 100 TB shape for discrete values; for
    continuous domains see stats_weighted_quantiles_approx."""
    from nyc_opendata_etl_spark.operators.rollup import weighted_quantiles

    docs = load_table(spark, sf_dir, "documents")
    return weighted_quantiles(
        docs,
        "lang",
        "n_chars",
        F.col("n_chars"),
        {
            "p25_mass_len": (1, 4),
            "p50_mass_len": (1, 2),
            "p75_mass_len": (3, 4),
        },
        total_name="total_chars",
    )


@register(
    "stats_weighted_quantiles_approx",
    oracle="""
    WITH c AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice / 100) AS BIGINT) * 100 AS cell,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
    ), cum AS (
        SELECT flag, cell,
               CAST(sum(w) OVER (PARTITION BY flag ORDER BY cell) AS BIGINT)
                   AS cw,
               CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
        FROM c
    )
    SELECT flag,
           min(CASE WHEN cw * 4 >= tw THEN cell END) AS p25_price_cell,
           min(CASE WHEN cw * 2 >= tw THEN cell END) AS p50_price_cell,
           min(CASE WHEN cw * 4 >= tw * 3 THEN cell END) AS p75_price_cell,
           CAST(max(tw) AS BIGINT) AS total_units
    FROM cum GROUP BY flag
    """,
)
def q_stats_weighted_quantiles_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """stats_weighted_quantiles' unbounded-domain twin: QUANTIZE-first.
    Continuous values (here l_extendedprice, weighted by units sold)
    are floored to a fixed $100 grid BEFORE the collapse, so the
    cum-sum window input is bounded by (price range / cell width) per
    group at ANY corpus size — the knob that keeps the exact operator's
    window from growing with distinct-value cardinality. The answer is
    the exact lower weighted quantile of the QUANTIZED distribution
    (error ≤ one cell), and the quantization itself is portable IEEE
    arithmetic — so unlike sketch cut points, the full value oracle
    still hashes bit-for-bit. Same kernel, same integer math
    (operators/rollup.weighted_quantiles)."""
    from nyc_opendata_etl_spark.operators.rollup import weighted_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    quantized = li.where(F.col("l_extendedprice").isNotNull()).select(
        F.col("l_returnflag").alias("flag"),
        (F.floor(F.col("l_extendedprice") / F.lit(100)) * 100).alias("cell"),
        F.col("l_quantity").cast("long").alias("units"),
    )
    return weighted_quantiles(
        quantized,
        "flag",
        "cell",
        F.col("units"),
        {
            "p25_price_cell": (1, 4),
            "p50_price_cell": (1, 2),
            "p75_price_cell": (3, 4),
        },
        total_name="total_units",
    )


@register(
    "stats_regression",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
               sum(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
               sum(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
               AS intercept,
           round((CAST(n * sxy - sx * sy AS DOUBLE)
                  * CAST(n * sxy - sx * sy AS DOUBLE))
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
    FROM m
    """,
)
def q_stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares (price ~ quantity by return
    flag): slope, intercept, R² from the five classical moment sums.
    The sums route through DECIMAL(18,2) products so they are EXACT
    (single-pass, partial-aggregable — the same shape as any sum);
    floats appear only in the final divisions, each correctly rounded
    from identical exact operands on both engines, so the whole output
    is bit-deterministic — unlike the built-in regr_slope/regr_r2
    pair, whose streaming-moment accumulation is order-dependent.
    Scale: one map-side-combined aggregate, 3 output rows."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / den
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
            6,
        ).alias("intercept"),
        F.round(num * num / (den * deny), 6).alias("r2"),
    )
