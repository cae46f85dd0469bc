"""Parity queries: the reference's operator inventory (SURVEY §2 Part A)
re-expressed over the driver's benchmark tables, each with a DuckDB
oracle.

Where the reference operator needs inputs the benchmark tables don't have
(dirty strings, AM/PM time strings, Yes/No flags), the query *synthesizes
them deterministically* from table content first — both sides of the
differential test synthesize identically, so the oracle still verifies
the operator's semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.functions.datetime_fns import (
    date_key,
    fiscal_year,
    parse_ampm_time_key,
    time_key,
)
from nyc_opendata_etl_spark.functions.normalize import (
    bool_map,
    normalize_string,
    numeric_coerce,
)
from nyc_opendata_etl_spark.operators.dims import (
    build_dim,
    build_dim_first_per_group,
    date_dim,
    time_dim,
)
from nyc_opendata_etl_spark.operators.keys import assign_keys
from nyc_opendata_etl_spark.operators.star import star_revenue
from nyc_opendata_etl_spark.queries import register
from nyc_opendata_etl_spark.queries._sql import money_sum, norm, surrogate
from nyc_opendata_etl_spark.sources.staging import staged
from nyc_opendata_etl_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Flagship star pipeline (S1+N1+A1+H1+J1+D2+agg in one query)
# --------------------------------------------------------------------------

register(
    "star_revenue",
    oracle=f"""
    WITH dim AS (
        SELECT DISTINCT {norm('c_mktsegment')} AS c_mktsegment FROM customer
    ),
    dimk AS (
        SELECT {surrogate('c_mktsegment')} AS segment_key, c_mktsegment FROM dim
    ),
    fact AS (
        SELECT o.o_orderdate, o.o_totalprice, {norm('c.c_mktsegment')} AS c_mktsegment
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    keyed AS (
        SELECT f.*, d.segment_key
        FROM fact f
        LEFT JOIN dimk d
          ON COALESCE(CAST(f.c_mktsegment AS VARCHAR), 'nan')
           = COALESCE(CAST(d.c_mktsegment AS VARCHAR), 'nan')
    )
    SELECT segment_key,
           CAST(year(o_orderdate) AS INT) AS order_year,
           {money_sum('o_totalprice')} AS revenue,
           count(*) AS num_orders,
           min(CAST(strftime(o_orderdate, '%Y%m%d') AS INT)) AS first_date_key,
           max(CAST(strftime(o_orderdate, '%Y%m%d') AS INT)) AS last_date_key
    FROM keyed
    GROUP BY 1, 2
    """,
)(star_revenue)


# --------------------------------------------------------------------------
# Dimension builds (A1 distinct + H1 hash + N1 normalize)
# --------------------------------------------------------------------------

@register(
    "dim_surrogate",
    oracle=f"""
    WITH d AS (
        SELECT DISTINCT {norm('n_name')} AS n_name, n_regionkey FROM nation
    )
    SELECT {surrogate('n_name', 'n_regionkey')} AS nation_key, n_name, n_regionkey
    FROM d
    """,
)
def q_dim_surrogate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column natural key (string + int) dim build."""
    nation = load_table(spark, sf_dir, "nation")
    return build_dim(
        nation, ["n_name", "n_regionkey"], "nation_key", normalize_cols=["n_name"]
    )


@register(
    "dim_first_per_group",
    oracle="""
    SELECT p_brand, min(p_name) AS p_name,
           min(p_retailprice) AS p_retailprice, count(*) AS n_parts
    FROM part GROUP BY p_brand
    """,
)
def q_dim_first_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 subset-dedup with deterministic MIN tie-break (SURVEY §7 item 3)."""
    part = load_table(spark, sf_dir, "part")
    out = build_dim_first_per_group(part, ["p_brand"], ["p_name", "p_retailprice"])
    return out.join(
        part.groupBy("p_brand").agg(F.count("*").alias("n_parts")), "p_brand"
    )


@register(
    "assign_keys_left",
    oracle=f"""
    WITH dim AS (SELECT DISTINCT n_nationkey AS c_nationkey FROM nation),
    dimk AS (
        SELECT {surrogate('c_nationkey')} AS nation_key, c_nationkey FROM dim
    )
    SELECT c.c_custkey, c.c_name, d.nation_key
    FROM customer c
    LEFT JOIN dimk d
      ON COALESCE(CAST(c.c_nationkey AS VARCHAR), 'nan')
       = COALESCE(CAST(d.c_nationkey AS VARCHAR), 'nan')
    """,
)
def q_assign_keys_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: broadcast left key-stamp join; natural key dropped from fact."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    dim = build_dim(
        nation.select(F.col("n_nationkey").alias("c_nationkey")),
        ["c_nationkey"],
        "nation_key",
        normalize_cols=[],
    )
    fact = customer.select("c_custkey", "c_name", "c_nationkey")
    return assign_keys(fact, dim, ["c_nationkey"], "nation_key")


# --------------------------------------------------------------------------
# Generated dimension sources (S6, S7)
# --------------------------------------------------------------------------

@register(
    "generated_date_dim",
    oracle="""
    SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
           CAST(d AS DATE) AS full_date,
           CAST(day(d) AS INT) AS day,
           CAST(month(d) AS INT) AS month,
           CAST(year(d) AS INT) AS year,
           dayname(d) AS weekday
    FROM (
        SELECT unnest(generate_series(DATE '2010-01-01', DATE '2012-12-31',
                                      INTERVAL 1 DAY)) AS d
    )
    """,
)
def q_generated_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    return date_dim(spark, dt.date(2010, 1, 1), dt.date(2012, 12, 31))


@register(
    "generated_time_dim",
    oracle="""
    SELECT CAST(i // 60 * 10000 + i % 60 * 100 AS INT) AS time_key,
           CAST(i // 60 AS INT) AS hour,
           CAST(i % 60 AS INT) AS minute
    FROM range(0, 1440) t(i)
    """,
)
def q_generated_time_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return time_dim(spark)


# --------------------------------------------------------------------------
# Date/time key derivations (D2-D4, D7)
# --------------------------------------------------------------------------

@register(
    "date_keys",
    oracle="""
    SELECT o_orderkey,
           CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS date_key,
           CAST(day(o_orderdate) AS INT) AS day,
           CAST(month(o_orderdate) AS INT) AS month,
           CAST(year(o_orderdate) AS INT) AS year,
           dayname(o_orderdate) AS weekday,
           CAST(CASE WHEN month(o_orderdate) < 7 THEN year(o_orderdate)
                     ELSE year(o_orderdate) + 1 END AS INT) AS fiscal_year
    FROM orders
    """,
)
def q_date_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    c = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        date_key(c).alias("date_key"),
        F.dayofmonth(c).alias("day"),
        F.month(c).alias("month"),
        F.year(c).alias("year"),
        F.date_format(c, "EEEE").alias("weekday"),
        fiscal_year(c).cast("int").alias("fiscal_year"),
    )


@register(
    "time_keys",
    oracle="""
    SELECT event_id,
           CAST(hour(ts) * 10000 + minute(ts) * 100 AS INT) AS time_key
    FROM events
    """,
)
def q_time_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select("event_id", time_key("ts").alias("time_key"))


@register(
    "ampm_parse_time",
    oracle="""
    SELECT event_id,
           CASE WHEN event_id % 11 IN (0, 1, 2) THEN NULL
                ELSE CAST(hour(ts) * 10000 + minute(ts) * 100 AS INT)
           END AS violation_time_key
    FROM events
    """,
)
def q_ampm_parse_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: synthesize '0853P'/'8:53A'-style strings from ts, run the exact
    reference parser, recover the HHMM00 key. Invalid branches → NULL.

    The oracle is the inverse property: valid synthesized forms parse
    back to ts's own hour/minute key; garbage/NULL/bad-minute forms → NULL.
    """
    events = load_table(spark, sf_dir, "events")
    marker = F.when(F.hour("ts") < 12, F.lit("A")).otherwise(F.lit("P"))
    m = F.col("event_id") % 11
    raw = (
        F.when(m == 0, F.lit("garbage"))
        .when(m == 1, F.lit(None).cast("string"))
        .when(m == 2, F.lit("1275P"))  # minute 75 → strict parse fails
        .when(m == 3, F.concat(F.date_format("ts", "hh:mm"), marker))
        .otherwise(F.concat(F.date_format("ts", "hhmm"), marker))
    )
    return events.select(
        "event_id",
        parse_ampm_time_key(raw).alias("violation_time_key"),
    )


# --------------------------------------------------------------------------
# Normalization / coercion (N1-N4, P5)
# --------------------------------------------------------------------------

@register(
    "normalize_clean",
    oracle=f"""
    WITH dirty AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN '  ' || upper(source) || chr(9)
                    WHEN doc_id % 4 = 1 THEN NULL
                    WHEN doc_id % 4 = 2 THEN chr(10) || source || '  '
                    ELSE source END AS s
        FROM documents
    )
    SELECT doc_id, {norm('s')} AS cleaned FROM dirty
    """,
)
def q_normalize_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 on synthesized dirt: tabs/newlines/case/nulls all normalized."""
    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    dirty = (
        F.when(m == 0, F.concat(F.lit("  "), F.upper("source"), F.lit("\t")))
        .when(m == 1, F.lit(None).cast("string"))
        .when(m == 2, F.concat(F.lit("\n"), F.col("source"), F.lit("  ")))
        .otherwise(F.col("source"))
    )
    return docs.select("doc_id", normalize_string(dirty).alias("cleaned"))


@register(
    "numeric_coercion",
    oracle="""
    WITH s AS (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_orderkey % 5 = 0 THEN 'x12'
                    WHEN l_orderkey % 5 = 1 THEN NULL
                    WHEN l_orderkey % 5 = 2 THEN CAST(l_quantity AS VARCHAR)
                    WHEN l_orderkey % 5 = 3 THEN ' ' || CAST(l_linenumber AS VARCHAR)
                    ELSE CAST(CAST(l_quantity AS INT) AS VARCHAR) END AS qty_str
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           CAST(TRY_CAST(qty_str AS DOUBLE) AS BIGINT) AS qty_long,
           TRY_CAST(qty_str AS DOUBLE) AS qty_double
    FROM s
    """,
)
def q_numeric_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2: pd.to_numeric(errors='coerce') semantics — garbage → NULL,
    '12.0' → 12, leading whitespace tolerated."""
    li = load_table(spark, sf_dir, "lineitem")
    m = F.col("l_orderkey") % 5
    qty_str = (
        F.when(m == 0, F.lit("x12"))
        .when(m == 1, F.lit(None).cast("string"))
        .when(m == 2, F.col("l_quantity").cast("string"))
        .when(m == 3, F.concat(F.lit(" "), F.col("l_linenumber").cast("string")))
        .otherwise(F.col("l_quantity").cast("int").cast("string"))
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        numeric_coerce(qty_str, "long").alias("qty_long"),
        qty_str.try_cast("double").alias("qty_double"),
    )


@register(
    "bool_flag",
    oracle="""
    SELECT event_id,
           CASE WHEN event_id % 3 = 0 THEN TRUE
                WHEN event_id % 3 = 1 THEN FALSE
                ELSE NULL END AS unregistered
    FROM events
    """,
)
def q_bool_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 Yes/No/other → true/false/NULL."""
    events = load_table(spark, sf_dir, "events")
    m = F.col("event_id") % 3
    s = (
        F.when(m == 0, F.lit("Yes"))
        .when(m == 1, F.lit("No"))
        .otherwise(F.lit("Maybe"))
    )
    return events.select("event_id", bool_map(s).alias("unregistered"))


# --------------------------------------------------------------------------
# Union / filter / projection (U1, F2, P1/P2)
# --------------------------------------------------------------------------

@register(
    "union_by_name",
    oracle="""
    SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
           'customer' AS side
    FROM customer
    UNION ALL BY NAME
    SELECT s_suppkey AS id, s_name AS name, 'supplier' AS side
    FROM supplier
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 schema-aligning union: missing columns null-filled
    (pd.concat semantics, ``main.py:50``)."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    a = customer.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("side"),
    )
    b = supplier.select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.lit("supplier").alias("side"),
    )
    return a.unionByName(b, allowMissingColumns=True)


@register(
    "filter_window",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
    """,
)
def q_filter_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 half-open time-window predicate — pushed into the parquet scan
    (PushedFilters visible in .explain), the moral twin of the
    reference's server-side SoQL WHERE."""
    orders = load_table(spark, sf_dir, "orders")
    c = F.col("o_orderdate")
    return orders.filter(
        (c >= F.lit("1995-01-01").cast("timestamp"))
        & (c < F.lit("1996-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_totalprice")


@register(
    "filter_window_yesterday",
    oracle="""
    WITH anchor AS (SELECT CAST(max(ts) AS DATE) AS today FROM events)
    SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.user_id, e.event_type
    FROM events e, anchor a
    WHERE e.ts >= CAST(a.today - INTERVAL 1 DAY AS TIMESTAMP)
      AND e.ts <  CAST(a.today AS TIMESTAMP)
    """,
)
def q_filter_window_yesterday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2's "yesterday" daily-load window (get_yesterdays_311_data,
    load_311.py:20-24) as a verifiable batch twin: the UTC-day bounds
    arithmetic (``date_sub(today, 1) <= ts < today``) anchored at the
    corpus's max event date instead of the wall clock, so the result is
    deterministic and full-value-checkable. The anchor is a 1-row
    aggregate broadcast onto the scan (totals-attach pattern); the
    online path compiles the same bounds to a server-side SoQL $where
    (sources/socrata.py yesterday_window)."""
    events = load_table(spark, sf_dir, "events")
    anchor = events.agg(F.max(F.to_date("ts")).alias("today"))
    return (
        events.crossJoin(F.broadcast(anchor))
        .filter(
            (F.col("ts") >= F.date_sub(F.col("today"), 1).cast("timestamp"))
            & (F.col("ts") < F.col("today").cast("timestamp"))
        )
        .select("event_id", "ts", "user_id", "event_type")
    )


@register(
    "project_defensive",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def q_project_defensive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: target ∩ present projection (target names a column that does
    not exist; it is skipped, not an error)."""
    from nyc_opendata_etl_spark.functions.normalize import project_target

    li = load_table(spark, sf_dir, "lineitem")
    return project_target(
        li, ["l_orderkey", "l_linenumber", "l_quantity", "not_a_column"]
    )


# --------------------------------------------------------------------------
# S5 ingestion formats: CSV / JSON-lines round trips under the driver's
# differential gate — the staged copy is derived deterministically from
# the parquet table, so the oracle over the original parquet verifies
# the whole read path (schema application, quoting, type recovery).
# --------------------------------------------------------------------------


@staged("documents_csv", "documents")
def _stage_documents_csv(spark: SparkSession, sf_dir: str, path: str) -> None:
    """documents.parquet as a header-CSV file drop (the raw-file-drop
    shape the format readers exist for)."""
    load_table(spark, sf_dir, "documents").write.option("header", True).csv(path)


@staged("documents_jsonl", "documents")
def _stage_documents_jsonl(spark: SparkSession, sf_dir: str, path: str) -> None:
    """documents.parquet as a JSON-lines file drop."""
    load_table(spark, sf_dir, "documents").write.json(path)


@staged("documents_orc", "documents")
def _stage_documents_orc(spark: SparkSession, sf_dir: str, path: str) -> None:
    """documents.parquet as an ORC file drop."""
    load_table(spark, sf_dir, "documents").write.orc(path)


_DOCS_AGG_ORACLE = """
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM documents GROUP BY lang, source
"""


@register("ingest_csv_documents", oracle=_DOCS_AGG_ORACLE)
def q_ingest_csv_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion round trip (S5 family): documents staged as a
    header CSV file drop, re-read through sources/formats.read_csv with
    an explicit schema (permissive mode — drifted/malformed cells
    become NULLs, never job failures), then aggregated. Matching the
    parquet-side oracle proves type recovery and quoting are lossless
    for every row, not just a sampled few."""
    from nyc_opendata_etl_spark.sources.formats import read_csv

    stage = _stage_documents_csv(spark, sf_dir)
    docs = read_csv(
        spark,
        stage,
        schema="doc_id BIGINT, text STRING, lang STRING, source STRING,"
        " n_chars BIGINT",
    )
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register("ingest_jsonl_documents", oracle=_DOCS_AGG_ORACLE)
def q_ingest_jsonl_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingestion round trip (the Socrata-record shape): same
    verification as the CSV twin but through sources/formats.read_jsonl
    with schema inference — proving the schemaless path recovers exact
    types and values for the whole table."""
    from nyc_opendata_etl_spark.sources.formats import read_jsonl

    stage = _stage_documents_jsonl(spark, sf_dir)
    docs = read_jsonl(spark, stage)
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register("ingest_orc_documents", oracle=_DOCS_AGG_ORACLE)
def q_ingest_orc_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingestion round trip completing the format-reader family
    (parquet native, CSV, JSONL, ORC): documents staged as ORC files,
    re-read through sources/formats.read_orc (vectorized, footer
    schema — no inference pass), then aggregated against the same
    parquet-side oracle, proving the columnar round trip is lossless
    for every row and type."""
    from nyc_opendata_etl_spark.sources.formats import read_orc

    stage = _stage_documents_orc(spark, sf_dir)
    docs = read_orc(spark, stage)
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register(
    "dim_late_arriving",
    oracle=f"""
    WITH dim AS (
        SELECT c_custkey, {surrogate('c_custkey')} AS cust_key,
               c_name, c_mktsegment
        FROM customer WHERE c_custkey % 7 <> 0
    ),
    fact_keys AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
    inf AS (
        SELECT m.c_custkey, {surrogate('m.c_custkey')} AS cust_key,
               'UNKNOWN' AS c_name, 'UNKNOWN' AS c_mktsegment
        FROM fact_keys m ANTI JOIN dim d ON d.c_custkey = m.c_custkey
    )
    SELECT *, FALSE AS is_inferred FROM dim
    UNION ALL
    SELECT *, TRUE AS is_inferred FROM inf
    """,
)
def q_dim_late_arriving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension upsert (operators/dims.infer_dim_members):
    a customer dim missing every 7th member (simulated load lag) gets
    inferred placeholder rows for each fact-referenced key, carrying the
    SAME content-hash surrogate the real load will produce — facts
    keyed today survive the eventual attribute backfill unchanged.
    One distinct + one anti join + one union; the fact table never
    shuffles wider than its key column."""
    from nyc_opendata_etl_spark.functions.hashing import surrogate_key
    from nyc_opendata_etl_spark.operators.dims import infer_dim_members

    cust = load_table(spark, sf_dir, "customer")
    dim = cust.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey",
        surrogate_key("c_custkey").alias("cust_key"),
        "c_name",
        "c_mktsegment",
    )
    facts = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return infer_dim_members(dim, facts, ["c_custkey"], "cust_key")
