"""Semantic invariants of the round-6 operators, beyond the value
oracles: subset/precision laws, bound checks, and a pure-Python replay."""

from __future__ import annotations

import math
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from nyc_opendata_etl_spark.operators.similarity import (
    cosine_neardup_pairs,
    semantic_neardup_pairs,
)
from nyc_opendata_etl_spark.queries import queries
from nyc_opendata_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_semantic_pairs_subset_of_exact_with_equal_sims(spark):
    """Cluster blocking may MISS cross-cluster pairs but can never
    invent one: the semantic pair set is a subset of exact all-pairs at
    the same threshold, and every common pair carries the identical
    cosine (both kernels are the same float64 matmul)."""
    emb = load_table(spark, SF, "embeddings")
    sem = semantic_neardup_pairs(emb, n_centroids=8, threshold=0.4).select(
        "id_a", "id_b", "cosine_sim"
    )
    exact = cosine_neardup_pairs(emb, threshold=0.4).select(
        "id_a", "id_b", "cosine_sim"
    )
    assert sem.count() > 0
    assert sem.exceptAll(exact).count() == 0


def test_semantic_pairs_live_inside_one_cluster(spark):
    """Both members of every emitted pair must be assigned to the pair's
    cent_id — re-derive the assignment independently and join."""
    from pyspark.sql import Window

    from nyc_opendata_etl_spark.operators.similarity import cosine

    emb = load_table(spark, SF, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    scored = emb.crossJoin(F.broadcast(cents)).withColumn(
        "sim", cosine(F.col("embedding"), F.col("cvec"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cent_id")
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("vec_id", F.col("cent_id").alias("acl"))
    )
    pairs = semantic_neardup_pairs(emb, n_centroids=8, threshold=0.4)
    joined = (
        pairs.join(assigned, pairs["id_a"] == assigned["vec_id"])
        .withColumnRenamed("acl", "cl_a")
        .drop("vec_id")
        .join(assigned, pairs["id_b"] == assigned["vec_id"])
        .withColumnRenamed("acl", "cl_b")
    )
    bad = joined.filter(
        (F.col("cl_a") != F.col("cent_id")) | (F.col("cl_b") != F.col("cent_id"))
    )
    assert bad.count() == 0


def test_market_basket_support_and_lift_recompute(spark):
    """pair_orders matches a brute-force recount for every emitted pair,
    and lift is exactly (pair·total)/(ca·cb)."""
    out = queries()["market_basket_pairs"](spark, SF).collect()
    assert out, "support-3 pairs must exist at sf0.001"
    li = load_table(spark, SF, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey").distinct().collect()
    )
    orders_of = {}
    for r in baskets:
        orders_of.setdefault(r.l_partkey, set()).add(r.l_orderkey)
    total = len({r.l_orderkey for r in baskets})
    for r in out:
        assert r.part_a < r.part_b
        co = len(orders_of[r.part_a] & orders_of[r.part_b])
        assert co == r.pair_orders >= 3
        expect = round(
            (r.pair_orders * total) / (len(orders_of[r.part_a]) * len(orders_of[r.part_b])),
            6,
        )
        assert abs(r.lift - expect) < 1e-9


def test_char_entropy_bounds_and_python_replay(spark):
    """0 <= H <= log2(alphabet); and the engine value replays the exact
    fold contract (per-char term rounded to 9 dp, decimal-summed) in
    pure Python for every document."""
    rows = queries()["text_char_entropy"](spark, SF).collect()
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }
    assert len(rows) == len(docs)
    for r in rows:
        assert 0.0 <= r.char_entropy_bits <= math.log2(r.n_distinct_chars) + 1e-6
        counts = Counter(docs[r.doc_id])
        assert len(counts) == r.n_distinct_chars
        n = sum(counts.values())
        acc = Decimal(0)
        for c in counts.values():
            p = c / n
            term = -(p * math.log(p) / 0.6931471805599453)
            acc += Decimal(repr(term)).quantize(
                Decimal("1.000000000"), rounding=ROUND_HALF_UP
            )
        assert abs(float(acc) - r.char_entropy_bits) < 5e-9


def test_recursive_reachability_hops_are_consistent(spark):
    """hop 0 is exactly the seed; every hop-1 nation is a direct strong
    edge target of the seed; all hops within the cap."""
    out = {r.n_name: r.min_hops for r in
           queries()["recursive_reachability"](spark, SF).collect()}
    assert all(0 <= h <= 3 for h in out.values())
    nation = load_table(spark, SF, "nation")
    names = {r.n_nationkey: r.n_name for r in nation.collect()}
    assert out[names[0]] == 0
    assert sum(1 for h in out.values() if h == 0) == 1


def test_lateral_topn_matches_window_form(spark):
    """The LATERAL formulation returns exactly the window top-2 rows."""
    from pyspark.sql import Window

    out = queries()["join_lateral_topn"](spark, SF)
    cust = load_table(spark, SF, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = load_table(spark, SF, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey")
    )
    ref = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 2")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "o_orderkey", "o_orderdate")
    )
    assert out.exceptAll(ref).count() == 0
    assert ref.exceptAll(out).count() == 0


def test_orc_round_trip_is_row_identical(spark):
    """ORC staging + re-read returns exactly the parquet rows — full
    multiset equality, not just the aggregate the oracle checks."""
    from nyc_opendata_etl_spark.queries.parity import _stage_documents_orc
    from nyc_opendata_etl_spark.sources.formats import read_orc

    docs = load_table(spark, SF, "documents")
    back = read_orc(spark, _stage_documents_orc(spark, SF))
    assert back.schema == docs.schema
    assert back.exceptAll(docs).count() == 0
    assert docs.exceptAll(back).count() == 0


def test_variant_shred_matches_string_json_path(spark):
    """The VARIANT extraction agrees with the get_json_object string
    path on every group (same sums, same null accounting)."""
    out = {r.event_type: r for r in
           queries()["json_variant_shred"](spark, SF).collect()}
    ev = load_table(spark, SF, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    ref = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.count("*").alias("n"),
            (F.count("*") - F.count(k)).alias("n_null"),
        )
        .collect()
    }
    assert set(out) == set(ref)
    for t, r in out.items():
        assert r.sum_k == ref[t].sum_k
        assert r.n_events == ref[t].n
        assert r.n_null_k == ref[t].n_null
        assert r.schema_is_k_bigint is True


def test_derived_partsupp_primary_key_and_spec_shape(spark):
    """The derived partsupp must keep (ps_partkey, ps_suppkey) a true
    primary key even where the spec stride collides (sf0.001 has S=10
    suppliers, where stride 5 repeats mod 10), reference every part,
    assign at most 4 and at least 1 supplier per part, and keep every
    ps_suppkey inside [1, S] so the supplier join never drops rows."""
    from nyc_opendata_etl_spark.queries.tpch import _partsupp

    ps = _partsupp(spark, SF).cache()
    try:
        n = ps.count()
        assert ps.select("ps_partkey", "ps_suppkey").distinct().count() == n
        parts = load_table(spark, SF, "part").select("p_partkey")
        n_parts = parts.count()
        per_part = ps.groupBy("ps_partkey").count()
        assert per_part.count() == n_parts  # every part covered
        mn, mx = per_part.agg(F.min("count"), F.max("count")).first()
        assert 1 <= mn and mx <= 4
        s_cnt = load_table(spark, SF, "supplier").count()
        bad = ps.filter(
            (F.col("ps_suppkey") < 1) | (F.col("ps_suppkey") > s_cnt)
        ).count()
        assert bad == 0
        # attributes are pure functions of the key pair: availqty and
        # supplycost recompute exactly from (partkey, suppkey)
        recomputed = ps.filter(
            (F.col("ps_availqty")
             != (F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 9999 + 1)
            | (
                F.col("ps_supplycost").cast("decimal(18,4)")
                != (
                    (F.col("ps_partkey") * 7 + F.col("ps_suppkey") * 11) % 90000
                    + 10000
                ).cast("decimal(12,2)")
                * F.expr("CAST(0.01 AS DECIMAL(3,2))")
            )
        ).count()
        assert recomputed == 0
    finally:
        ps.unpersist()


def test_bitmap_distinct_state_is_exact_and_merge_invariant(spark):
    """Bitmap distinct state must (a) reproduce exact count(DISTINCT)
    and (b) be invariant to how the input is batched — including
    re-delivery of a batch, which bitwise OR absorbs idempotently."""
    from nyc_opendata_etl_spark.operators.rollup import (
        bitmap_batch,
        bitmap_counts,
        bitmap_merge,
    )

    orders = load_table(spark, SF, "orders")
    keys = ["o_orderpriority"]
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in orders.groupBy(*keys)
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    thirds = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    state = bitmap_batch(thirds[0], keys, "o_custkey")
    for b in thirds[1:]:
        state = bitmap_merge(state, bitmap_batch(b, keys, "o_custkey"), keys, "o_custkey")
    # re-deliver batch 1: distinct counts must not change
    state_redeliver = bitmap_merge(
        state, bitmap_batch(thirds[1], keys, "o_custkey"), keys, "o_custkey"
    )
    for st in (state, state_redeliver):
        got = {
            r["o_orderpriority"]: r["n_distinct_o_custkey"]
            for r in bitmap_counts(st, keys, "o_custkey").collect()
        }
        assert got == exact


def test_triangle_count_matches_brute_force(spark):
    """Degree-ordered orientation must count exactly the triangles a
    pure-Python brute force finds on a small co-purchase graph."""
    from itertools import combinations

    from nyc_opendata_etl_spark.operators.graph import triangle_count

    li = load_table(spark, SF, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    b2 = b.select("ok", F.col("pk").alias("pk2"))
    edges_df = (
        b.join(b2, "ok")
        .filter(F.col("pk") < F.col("pk2"))
        .select(F.col("pk").alias("a"), F.col("pk2").alias("b"))
        .distinct()
    )
    edges = {(r["a"], r["b"]) for r in edges_df.collect()}
    adj: dict[int, set[int]] = {}
    for a, bb in edges:
        adj.setdefault(a, set()).add(bb)
        adj.setdefault(bb, set()).add(a)
    tri = sum(
        1
        for v, nbrs in adj.items()
        for x, y in combinations(sorted(nbrs), 2)
        if v < x and y in adj.get(x, ())
    )
    wedges = sum(len(n) * (len(n) - 1) // 2 for n in adj.values())
    row = triangle_count(edges_df).collect()[0]
    assert row["n_edges"] == len(edges)
    assert row["n_wedges"] == wedges
    assert row["n_triangles"] == tri
    assert row["global_clustering"] == round(3.0 * tri / wedges, 6)


def test_gramian_block_matches_numpy(spark):
    """The expression-sum Gramian must equal a numpy reference that
    replays the identical fold (round each double product to 9 dp,
    exact-sum), and the covariance derived from it must match numpy's
    biased covariance within rounding tolerance."""
    import numpy as np

    from nyc_opendata_etl_spark.operators.similarity import gramian_block

    emb = load_table(spark, SF, "embeddings")
    rows = gramian_block(emb, dims=8).collect()
    X = np.array(
        [r["embedding"][:8] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    n = X.shape[0]
    by_ij = {(r["i"], r["j"]): r for r in rows}
    assert set(by_ij) == {(i, j) for i in range(8) for j in range(i, 8)}
    for (i, j), r in by_ij.items():
        s_ref = float(np.sum(np.round(X[:, i] * X[:, j], 9)))
        assert abs(r["s_xy"] - s_ref) < 1e-6
        assert r["n"] == n
        cov_engine = (n * r["s_xy"] - r["s_x"] * r["s_y"]) / (n * n)
        cov_ref = float(np.cov(X[:, i], X[:, j], bias=True)[0, 1])
        assert abs(cov_engine - cov_ref) < 1e-6


def test_zorder_write_prunes_2d_box_queries(spark, tmp_path):
    """A z-ordered layout must give parquet files bounding boxes tight
    in BOTH dimensions: for a small 2-D box predicate, footer min/max
    stats must prune strictly more files than a layout sorted on one
    column only — and the z-values must fit the declared bit budget."""
    import pyarrow.parquet as pq

    from nyc_opendata_etl_spark.operators.layout import write_zordered

    ev = load_table(spark, SF, "events").select(
        "user_id",
        (F.hour("ts") * 60 + F.minute("ts")).cast("long").alias("minute_of_day"),
    )
    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(ev, ["user_id", "minute_of_day"], zdir, num_files=8)
    (
        ev.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(sdir)
    )

    def surviving(d: str, box: dict[str, tuple[int, int]]) -> tuple[int, int]:
        import glob

        files = glob.glob(f"{d}/*.parquet")
        alive = 0
        for f in files:
            md = pq.read_metadata(f)
            names = md.schema.to_arrow_schema().names
            hit = True
            for col, (lo, hi) in box.items():
                idx = names.index(col)
                stats = md.row_group(0).column(idx).statistics
                cmin = min(
                    md.row_group(g).column(idx).statistics.min
                    for g in range(md.num_row_groups)
                )
                cmax = max(
                    md.row_group(g).column(idx).statistics.max
                    for g in range(md.num_row_groups)
                )
                assert stats is not None
                if cmax < lo or cmin > hi:
                    hit = False
            alive += hit
        return alive, len(files)

    # the claim z-order earns: a predicate on the SECOND dimension only.
    # A user_id-sorted layout has every minute in every file (prunes
    # nothing); the z-ordered layout bounds minute_of_day per file too.
    minute_box = {"minute_of_day": (600, 659)}
    z_alive, z_total = surviving(zdir, minute_box)
    s_alive, s_total = surviving(sdir, minute_box)
    assert z_total == s_total == 8
    assert s_alive == s_total  # single-col sort: zero second-dim pruning
    assert z_alive < s_alive  # z-order: real second-dim pruning
    # and a 2-D box must still prune under z-order
    box = {"user_id": (4, 5), "minute_of_day": (600, 659)}
    z2, _ = surviving(zdir, box)
    assert z2 < z_total


def test_temperature_mix_flattens_toward_uniform(spark):
    """τ=0.5 weights must (a) normalize to 1, (b) oversample every
    below-average domain and undersample every above-average one, and
    (c) sit strictly between natural share and uniform for non-border
    cells — the definition of flattening."""
    from nyc_opendata_etl_spark.operators.curation import temperature_mix

    docs = load_table(spark, SF, "documents")
    rows = temperature_mix(docs).collect()
    assert abs(sum(r["w_temperature"] for r in rows) - 1.0) < 1e-4
    # w = p crosses over at p* = 1 / (Σ√p)²: below it domains
    # oversample, above it they undersample
    denom = sum(math.sqrt(r["p_natural"]) for r in rows)
    crossover = 1.0 / (denom * denom)
    for r in rows:
        p = r["p_natural"]
        if p < crossover * 0.95:
            assert r["oversample_factor"] > 1.0
        elif p > crossover * 1.05:
            assert r["oversample_factor"] < 1.0
    # flattening: weight order tracks share order, but strictly less
    # spread — w/p must be antitone in p
    by_p = sorted(rows, key=lambda r: r["p_natural"])
    ws = [r["w_temperature"] for r in by_p]
    assert ws == sorted(ws)
    overs = [r["oversample_factor"] for r in by_p]
    assert overs == sorted(overs, reverse=True)


def test_pq_encode_replays_in_numpy_and_adc_beats_random(spark):
    """(a) Every code must equal the numpy argmin over the same
    codebooks (9-dp-rounded d², code tie-break); (b) codebook vectors
    encode to themselves at distance 0; (c) asymmetric-distance top-10
    recall must beat the random-guess baseline by an order of
    magnitude even with these untrained convention codebooks."""
    import numpy as np

    from nyc_opendata_etl_spark.operators.similarity import pq_encode

    emb = load_table(spark, SF, "embeddings")
    rows = pq_encode(emb).collect()
    X = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    C = {
        (mi, c): X[c][mi * 8 : (mi + 1) * 8]
        for mi in range(8)
        for c in range(16)
    }
    code_of: dict[int, dict[int, int]] = {}
    for r in rows:
        code_of.setdefault(r["id"], {})[r["m"]] = r["code"]
        sub = X[r["id"]][r["m"] * 8 : (r["m"] + 1) * 8]
        cands = [
            (round(float(np.sum((sub - C[(r["m"], c)]) ** 2)), 9), c)
            for c in range(16)
        ]
        d_ref, c_ref = min(cands)
        assert r["code"] == c_ref
        assert abs(r["dist2"] - d_ref) < 1e-6
    for c in range(16):
        for mi in range(8):
            assert code_of[c][mi] == c
    q = 42
    qs = {mi: X[q][mi * 8 : (mi + 1) * 8] for mi in range(8)}
    ids = [i for i in X if i != q]
    adc = {
        i: sum(
            float(np.sum((qs[mi] - C[(mi, code_of[i][mi])]) ** 2))
            for mi in range(8)
        )
        for i in ids
    }
    exact = {i: float(np.sum((X[q] - X[i]) ** 2)) for i in ids}
    top_adc = set(sorted(ids, key=lambda i: (adc[i], i))[:10])
    top_ex = set(sorted(ids, key=lambda i: (exact[i], i))[:10])
    recall = len(top_adc & top_ex) / 10
    assert recall >= 0.1  # random baseline is 10/len(ids) ≈ 0.02


def test_udtf_props_extraction_matches_declarative_twin(spark):
    """The Python UDTF and the from_json/explode declarative path must
    agree row-for-row on (event_id, key, sval) over real data, and the
    UDTF must add the type introspection the declarative path cannot:
    correct python type names over a mixed-type synthetic payload."""
    from nyc_opendata_etl_spark.functions.extraction import (
        explode_props_declarative,
        explode_props_udtf,
    )

    ev = load_table(spark, SF, "events").select("event_id", "props")
    u = explode_props_udtf(spark, ev).select("event_id", "key", "sval")
    d = explode_props_declarative(ev)
    assert u.exceptAll(d).count() == 0
    assert d.exceptAll(u).count() == 0

    synth = spark.createDataFrame(
        [
            (1, '{"b": true, "f": 8.5, "i": 3, "s": "x", "z": null, '
                '"o": {"a": 1}, "l": [1, "y"]}'),
            (2, "not json"),
            (3, "[1, 2]"),
            (4, None),
        ],
        "event_id long, props string",
    )
    rows = {
        (r["key"]): (r["vtype"], r["sval"])
        for r in explode_props_udtf(spark, synth).collect()
    }
    # sval renders the way from_json(map<string,string>) renders JSON —
    # lowercase booleans and compact JSON for nested shapes, never
    # Python reprs — so the declarative-twin parity is shape-independent
    assert rows == {
        "b": ("bool", "true"),
        "f": ("float", "8.5"),
        "i": ("int", "3"),
        "s": ("str", "x"),
        "z": ("NoneType", None),
        "o": ("dict", '{"a":1}'),
        "l": ("list", '[1,"y"]'),
    }
    # the parity itself must hold on the mixed-shape payload too
    u2 = explode_props_udtf(spark, synth).select("event_id", "key", "sval")
    d2 = explode_props_declarative(synth)
    assert u2.exceptAll(d2).count() == 0
    assert d2.exceptAll(u2).count() == 0


def test_ivfpq_candidates_routing_and_ranking_laws(spark):
    """IVF-PQ structural laws: exactly k results, ADC ascending with id
    tie-break, every result routed from a probed cell, and recall
    strictly better than random guessing (untrained codebooks)."""
    from nyc_opendata_etl_spark.operators.similarity import cosine, ivfpq_topk

    emb = load_table(spark, SF, "embeddings")
    rows = ivfpq_topk(emb, query_vec_id=42).collect()
    assert len(rows) == 10
    key = [(r["adc_dist2"], r["vec_id"]) for r in rows]
    assert key == sorted(key)
    assert sum(r["in_exact_topk"] for r in rows) >= 1  # ≫ E[random] ≈ 0.2

    # every returned id must live in one of the query's 2 probed cells
    from pyspark.sql import Window

    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    scored = emb.crossJoin(F.broadcast(cents)).withColumn(
        "sim", cosine(F.col("embedding"), F.col("cvec"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cid")
    cell_of = {
        r["vec_id"]: r["cid"]
        for r in scored.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("vec_id", "cid")
        .collect()
    }
    probed = {
        r["cid"]
        for r in scored.filter(F.col("vec_id") == 42)
        .orderBy(F.col("sim").desc(), "cid")
        .limit(2)
        .collect()
    }
    for r in rows:
        assert cell_of[r["vec_id"]] in probed


def test_sql_udf_fiscal_year_inlines_and_matches_column_form(spark):
    """Spark 4 SQL UDFs (CREATE FUNCTION ... RETURN expr) let the
    engine's semantics ship as catalog objects plain-SQL users can
    call. The body must INLINE into the plan (pure expression, no
    Python eval operator) and agree with the column-API fiscal_year on
    every order date."""
    from nyc_opendata_etl_spark.functions.datetime_fns import fiscal_year

    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION fy_sql(ts TIMESTAMP) "
        "RETURNS INT RETURN "
        "CASE WHEN month(ts) < 7 THEN year(ts) ELSE year(ts) + 1 END"
    )
    try:
        load_table(spark, SF, "orders").createOrReplaceTempView("__fy_orders__")
        out = spark.sql(
            "SELECT o_orderkey, fy_sql(o_orderdate) AS fy FROM __fy_orders__"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan  # inlined expression, not a UDF eval
        ref = (
            spark.table("__fy_orders__")
            .select(
                "o_orderkey",
                fiscal_year("o_orderdate").cast("int").alias("fy"),
            )
        )
        assert out.exceptAll(ref).count() == 0
        assert ref.exceptAll(out).count() == 0
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS fy_sql")


def test_inferred_members_need_no_rekey_after_real_load(spark):
    """The inferred placeholder's surrogate must equal the one the real
    dimension load later produces for the same natural key — facts
    stamped against the stub survive the backfill unchanged — and the
    inferred set must be exactly the fact-referenced keys absent from
    the dim."""
    from nyc_opendata_etl_spark.functions.hashing import surrogate_key
    from nyc_opendata_etl_spark.operators.dims import infer_dim_members

    cust = load_table(spark, SF, "customer")
    dim = cust.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey",
        surrogate_key("c_custkey").alias("cust_key"),
        "c_name",
        "c_mktsegment",
    )
    facts = load_table(spark, SF, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    # NULL-keyed fact rows must NOT spawn a surrogate_key(NULL) stub —
    # nothing ever overwrites it and the NULL facts still wouldn't join
    null_fact = spark.createDataFrame(
        [(None,)], "c_custkey bigint"
    )
    facts = facts.unionByName(null_fact)
    out = infer_dim_members(dim, facts, ["c_custkey"], "cust_key")
    assert out.filter("is_inferred AND c_custkey IS NULL").count() == 0
    inferred = {
        r["c_custkey"]: r["cust_key"]
        for r in out.filter("is_inferred").collect()
    }
    fact_keys = {
        r["c_custkey"]
        for r in facts.distinct().collect()
        if r["c_custkey"] is not None
    }
    assert set(inferred) == {k for k in fact_keys if k % 7 == 0}
    # the real load's surrogate for those keys must match the stub's
    real = {
        r["c_custkey"]: r["cust_key"]
        for r in cust.select(
            "c_custkey", surrogate_key("c_custkey").alias("cust_key")
        ).collect()
    }
    for k, sk in inferred.items():
        assert real[k] == sk
    # placeholder policy: string attrs stubbed, flag partitions the dim
    stub = out.filter("is_inferred").first()
    assert stub["c_name"] == "UNKNOWN" and stub["c_mktsegment"] == "UNKNOWN"
    assert out.filter(~F.col("is_inferred")).count() == dim.count()


def test_bm25_replays_in_pure_python(spark):
    """The full BM25 top-20 (scores AND order) must match an
    independent pure-Python implementation replaying the same fold
    contract (per-term contribution rounded to 9 dp, decimal-summed)."""
    import re

    from nyc_opendata_etl_spark.operators.text import bm25_scores

    terms = ["hash", "join", "vector"]
    docs = load_table(spark, SF, "documents")
    rows = bm25_scores(docs, terms).collect()
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.select("doc_id", "text").collect()
    }
    tok = {
        d: [t for t in re.split(r"\s+", txt.lower()) if t]
        for d, txt in texts.items()
    }
    n = len(tok)
    avgdl = sum(len(t) for t in tok.values()) / n
    df = {
        q: sum(1 for t in tok.values() if q in t) for q in terms
    }
    k1, b = 1.2, 0.75

    def score(d):
        acc = Decimal(0)
        hits = 0
        for q in terms:
            tf = tok[d].count(q)
            if tf == 0:
                continue
            hits += 1
            idf = math.log(1 + (n - df[q] + 0.5) / (df[q] + 0.5))
            c = idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(tok[d]) / avgdl)
            )
            acc += Decimal(repr(round(c, 9))).quantize(Decimal("1.000000000"))
        return float(acc), hits

    expected = sorted(
        ((score(d), d) for d in tok if score(d)[1] > 0),
        key=lambda x: (-x[0][0], x[1]),
    )[:20]
    assert [(r["doc_id"], r["bm25"], r["n_hit_terms"]) for r in rows] == [
        (d, s, h) for (s, h), d in expected
    ]


def test_rrf_fusion_laws(spark):
    """RRF laws: a doc ranked by both backends beats one seen by a
    single backend at comparable ranks; scores are exactly
    1/(60+ra) + 1/(60+rb); and the fused top-20 is rank-deterministic."""
    rows = queries()["search_hybrid_rrf"](spark, SF).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        expect = round(
            (1.0 / (60 + r["rank_a"]) if r["rank_a"] is not None else 0.0)
            + (1.0 / (60 + r["rank_b"]) if r["rank_b"] is not None else 0.0),
            6,
        )
        assert r["rrf"] == expect
    key = [(-r["rrf"], r["doc_id"]) for r in rows]
    assert key == sorted(key)
    both = [r for r in rows if r["rank_a"] is not None and r["rank_b"] is not None]
    assert both, "some doc should be ranked by both backends"
