"""Round-9 pins: adaptive sorted-neighborhood blocking laws.

The verdict's round-8 gap: dedup_snm_adaptive had no unit coverage and
a single extension level (a block hot at the doubled prefix still
serialized its window sort). These tests pin the recursion + salt
bound and the collapse-first/cold-block equivalence laws of
operators/dedup.adaptive_block_keys / sorted_neighborhood_pairs_adaptive.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_opendata_etl_spark.operators import dedup
from nyc_opendata_etl_spark.operators.text import canon_text

CAP = 20


def _reps(spark, rows):
    """Collapse-first representative frame (id, canon, sh) — the exact
    input shape sorted_neighborhood_pairs_adaptive feeds to
    adaptive_block_keys."""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return (
        docs.select(F.col("doc_id").alias("raw_id"), canon_text("text").alias("canon"))
        .groupBy("canon")
        .agg(F.min("raw_id").alias("id"))
        .select(
            "id",
            "canon",
            F.array_sort(
                F.array_distinct(dedup.word_shingles(F.col("canon"), 3))
            ).alias("sh"),
        )
        .filter(F.size("sh") > 0)
    )


def test_adaptive_cold_blocks_bit_match_fixed_snm(spark):
    """On a corpus with no hot base block, the adaptive variant must
    emit EXACTLY the fixed variant's pairs (same keys, same jaccards):
    the measurement machinery is a no-op when nothing exceeds the cap."""
    rows = []
    for i in range(12):
        # 4 distinct 3-char base prefixes (p0x..p3x), 6 docs each — all
        # well under the cap, so no block extends
        rows.append((i, f"p{i % 4}x shared middle words tail {i}"))
        rows.append((100 + i, f"p{i % 4}x shared middle words tail {i} extra"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fixed = sorted(
        tuple(r)
        for r in dedup.sorted_neighborhood_pairs(docs, threshold=0.3).collect()
    )
    adaptive = sorted(
        tuple(r)
        for r in dedup.sorted_neighborhood_pairs_adaptive(
            docs, threshold=0.3, block_cap=CAP
        ).collect()
    )
    assert fixed and adaptive == fixed


def test_hot_base_block_reblocks_at_doubled_prefix(spark):
    """>cap reps sharing the 3-char base prefix but diverging by char 6
    must re-key at the 6-char prefix — the single-task window sort of
    the hot block splits into per-subprefix tasks — while an unrelated
    cold block keeps its base-length key."""
    rows = [(i, f"aaa{i:02d} common tail words here {i}") for i in range(30)]
    rows += [(500 + i, f"zzz cold block tail {i}") for i in range(3)]
    keyed = dedup.adaptive_block_keys(_reps(spark, rows), block_cap=CAP).collect()
    hot = [r for r in keyed if r["canon"].startswith("aaa")]
    cold = [r for r in keyed if r["canon"].startswith("zzz")]
    assert len(hot) == 30 and all(len(r["blk"]) == 6 for r in hot)
    assert len({r["blk"] for r in hot}) == 30  # each aaaNN diverges by char 6
    assert cold and all(r["blk"] == "zzz" for r in cold)


def test_deep_hot_block_salts_and_bound_is_unconditional(spark):
    """A block still hot at the deepest (24-char) prefix must split by
    the deterministic md5 salt into ceil(n/cap) buckets — the round-9
    law: NO final block key may hold more than ~cap reps; a block hot
    at every prefix level can no longer serialize one task."""
    prefix = "deepsharedprefix24chars!"  # 24 chars, identical across docs
    assert len(prefix) == 24
    rows = [(i, f"{prefix} divergent tail {i} words {i}") for i in range(50)]
    keyed = dedup.adaptive_block_keys(_reps(spark, rows), block_cap=CAP)
    per_blk = {
        r["blk"]: r["n"]
        for r in keyed.groupBy("blk").agg(F.count("*").alias("n")).collect()
    }
    assert sum(per_blk.values()) == 50
    assert all(dedup.SNM_SALT_SEP in blk for blk in per_blk)
    salts = {int(blk.split(dedup.SNM_SALT_SEP)[1]) for blk in per_blk}
    assert salts <= {0, 1, 2} and len(salts) >= 2  # ceil(50/20) = 3 buckets
    # deterministic md5 spread: no bucket re-concentrates the block
    assert max(per_blk.values()) <= 2 * CAP
    # the whole keying is a pure function of the corpus
    again = {
        r["blk"]: r["n"]
        for r in dedup.adaptive_block_keys(_reps(spark, rows), block_cap=CAP)
        .groupBy("blk")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert again == per_blk


def test_every_final_block_fits_cap_or_is_salted(spark):
    """Global bound over a mixed corpus (cold + hot-at-6 + hot-at-24):
    every final block key either holds <= cap reps or carries the salt
    separator (the deepest-level split)."""
    rows = [(i, f"aaa{i:02d} common tail words here {i}") for i in range(30)]
    prefix = "deepsharedprefix24chars!"
    rows += [(1000 + i, f"{prefix} divergent tail {i} words {i}") for i in range(50)]
    rows += [(2000 + i, f"zzz cold block tail {i}") for i in range(3)]
    counts = (
        dedup.adaptive_block_keys(_reps(spark, rows), block_cap=CAP)
        .groupBy("blk")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert all(r["n"] <= CAP or dedup.SNM_SALT_SEP in r["blk"] for r in counts)


def test_collapse_first_identical_docs_never_pair(spark):
    """The collapse-first law: byte-identical canonical texts reduce to
    one min-id representative BEFORE blocking, so no output pair joins
    two ids of the same canon (that's exact_dedup_groups' territory) —
    and the representative still pairs with a genuine near-dup."""
    base = "the quick brown fox jumps over the lazy dog"
    rows = [(100 + i, base) for i in range(25)]  # 25 identical copies
    rows.append((200, "the quick brown fox jumps over the lazy cat"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup.sorted_neighborhood_pairs_adaptive(
            docs, threshold=0.5, block_cap=CAP
        ).collect()
    )
    assert pairs == [(100, 200)]  # min-id rep only; copies 101..124 absent


def test_bloom_empty_build_side_yields_zero_not_null(spark):
    """ADVICE r8: an empty/fully-filtered build side must report
    n_bits_set = 0 (not NULL) from BOTH bitmap representations, and the
    prefilter against the empty filter must pass no rows."""
    from nyc_opendata_etl_spark.operators.bloom import (
        bloom_prefilter,
        bloom_prefilter_packed,
        build_bloom_bitmap,
        build_bloom_bitset,
    )

    empty = spark.createDataFrame([], "k long")
    probe = spark.createDataFrame([(i,) for i in range(10)], "k long")
    bm = build_bloom_bitmap(empty, "k", m=64, k=3).collect()[0]
    assert bm["n_bits_set"] == 0 and bm["n_keys"] == 0 and bm["bits"] == []
    bs = build_bloom_bitset(empty, "k", m=64, k=3).collect()[0]
    assert bs["n_bits_set"] == 0 and bs["n_keys"] == 0
    assert bs["bitset"] == [0]  # 64 bits -> one all-zero word
    bitmap = build_bloom_bitmap(empty, "k", m=64, k=3)
    bitset = build_bloom_bitset(empty, "k", m=64, k=3)
    assert bloom_prefilter(probe, "k", bitmap, m=64, k=3).count() == 0
    assert bloom_prefilter_packed(probe, "k", bitset, m=64, k=3).count() == 0


def test_bloom_packed_and_sorted_array_agree(spark):
    """Representation independence: the packed bitset and the sorted
    position array must admit the IDENTICAL candidate set (same hash
    family, same positions — only the physical form differs)."""
    from nyc_opendata_etl_spark.operators.bloom import (
        bloom_prefilter,
        bloom_prefilter_packed,
        build_bloom_bitmap,
        build_bloom_bitset,
    )

    build = spark.createDataFrame([(i * 7,) for i in range(20)], "k long")
    probe = spark.createDataFrame([(i,) for i in range(200)], "k long")
    m, k = 128, 3
    via_array = sorted(
        r["k"]
        for r in bloom_prefilter(
            probe, "k", build_bloom_bitmap(build, "k", m=m, k=k), m=m, k=k
        ).collect()
    )
    via_packed = sorted(
        r["k"]
        for r in bloom_prefilter_packed(
            probe, "k", build_bloom_bitset(build, "k", m=m, k=k), m=m, k=k
        ).collect()
    )
    assert via_packed == via_array
    assert set(i * 7 for i in range(20)) <= set(via_array)  # no false negatives


# ---------------------------------------------------------------------------
# Weighted quantiles (operators/rollup.weighted_quantiles)
# ---------------------------------------------------------------------------

_PROBS = {"p25": (1, 4), "p50": (1, 2), "p75": (3, 4)}


def _wq_brute(pairs, num, den):
    """Pure-python lower weighted quantile: smallest v whose cumulative
    weight (values ascending) reaches num/den of the total."""
    tot = sum(w for _, w in pairs)
    cum = 0
    for v, w in sorted(pairs):
        cum += w
        if cum * den >= tot * num:
            return v
    raise AssertionError("unreachable: q <= 1")


def _run_wq(spark, pairs, probs=_PROBS):
    from nyc_opendata_etl_spark.operators.rollup import weighted_quantiles

    df = spark.createDataFrame(
        [("g", v, w) for v, w in pairs], "grp string, v long, w long"
    )
    [row] = weighted_quantiles(df, "grp", "v", F.col("w"), probs).collect()
    return row


def test_weighted_quantiles_matches_bruteforce(spark):
    """Operator output equals the pure-python lower weighted quantile on
    data with duplicate values, tied cumulative boundaries, and heavy
    weight skew."""
    pairs = [(3, 1), (1, 2), (7, 5), (3, 4), (10, 1), (2, 3), (7, 1)]
    row = _run_wq(spark, pairs)
    for name, (num, den) in _PROBS.items():
        assert row[name] == _wq_brute(pairs, num, den), name
    assert row["total_weight"] == sum(w for _, w in pairs)


def test_weighted_quantiles_exact_boundary_tie(spark):
    """cum·den == tot·num must INCLUDE the boundary value (>=, the lower
    quantile): two values with equal weight put p50 on the first."""
    row = _run_wq(spark, [(1, 5), (2, 5)])
    assert row["p50"] == 1
    assert row["p25"] == 1
    assert row["p75"] == 2


def test_weighted_quantiles_mass_skew_collapses(spark):
    """One value holding >=75% of the mass is every quantile — and the
    collapse law: 10^3 duplicate rows of that value reach the window as
    ONE row (weights summed in the collapse aggregate, so the result is
    identical to the pre-summed form)."""
    heavy = [(42, 1)] * 900  # 900 duplicate rows, weight 1 each
    tail = [(1, 50), (99, 50)]
    row = _run_wq(spark, heavy + tail)
    pre_summed = _run_wq(spark, [(42, 900)] + tail)
    assert (row["p25"], row["p50"], row["p75"]) == (42, 42, 42)
    assert tuple(row) == tuple(pre_summed)


def test_weighted_quantiles_null_values_dropped(spark):
    """NULL values are excluded before collapsing (Spark orders NULL
    first, ANSI engines last — dropping pins the portable order)."""
    from nyc_opendata_etl_spark.operators.rollup import weighted_quantiles

    df = spark.createDataFrame(
        [("g", None, 100), ("g", 5, 1), ("g", 6, 1)],
        "grp string, v long, w long",
    )
    [row] = weighted_quantiles(df, "grp", "v", F.col("w"), _PROBS).collect()
    assert (row["p50"], row["total_weight"]) == (5, 2)


def test_weighted_quantiles_quantize_law(spark):
    """Quantize-first (the _approx twin's shape) returns EXACTLY the
    grid-floor of the exact weighted quantile — flooring is monotone, and
    no mass below the exact quantile's cell can reach the threshold
    early. So the twin's error is bounded by one cell by construction."""
    import random

    rng = random.Random(907)
    pairs = [(rng.randrange(0, 2000), rng.randrange(1, 9)) for _ in range(300)]
    exact = _run_wq(spark, pairs)
    quant = _run_wq(spark, [(v // 100 * 100, w) for v, w in pairs])
    for name in _PROBS:
        assert quant[name] == exact[name] // 100 * 100, name


def test_weighted_quantiles_two_exchange_plan(spark):
    """Scale pin: the physical plan carries exactly TWO shuffles — the
    (group, value) collapse (fed by a partial map-side aggregate) and
    the per-group window repartition over COLLAPSED rows. Raw rows cross
    one exchange only."""
    from nyc_opendata_etl_spark.operators.rollup import weighted_quantiles

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("grp"),
        (F.col("id") % 43).alias("v"),
        F.lit(1).alias("w"),
    )
    plan = (
        weighted_quantiles(df, "grp", "v", F.col("w"), _PROBS)
        ._jdf.queryExecution().executedPlan().toString()
    )
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 2, plan
    assert "partial_sum" in plan.lower() or "partial" in plan.lower(), plan


def test_stage_root_honors_env_override(monkeypatch, tmp_path):
    """Every staged artifact resolves under $SPARK_GRAFT_STAGE_ROOT
    when set (the scale_sweep TMPDIR-isolation escape hatch) and under
    the system temp dir otherwise. Without the override, every sweep
    child rebuilt each write-time index into its throwaway TMPDIR — the
    recorded 100x numbers for the staged family were build-inclusive on
    every run."""
    import tempfile

    from nyc_opendata_etl_spark.sources import staging

    monkeypatch.delenv("SPARK_GRAFT_STAGE_ROOT", raising=False)
    assert staging.stage_root() == tempfile.gettempdir()
    assert staging.stage_dir("/data/sfX", "text_index").startswith(
        tempfile.gettempdir()
    )

    monkeypatch.setenv("SPARK_GRAFT_STAGE_ROOT", str(tmp_path))
    assert staging.stage_root() == str(tmp_path)
    d = staging.stage_dir("/data/sfX", "text_index")
    assert d.startswith(str(tmp_path)) and d.endswith("text_index")


def test_onepass_collapse_matches_independent_spec(spark):
    """The one-pass collapse kernel (single aggregate, min_by rep
    canon) returns the SAME (id, __canon__) rep rows as an INDEPENDENT
    value-level spec — groupBy(canon).agg(min(id)) with the canon
    carried by the key itself — including the whitespace traps
    canon_text exists for (leading tab, interior runs, case). The spec
    shares no code with the kernel (no md5, no min_by), so a kernel
    regression cannot hide behind a shared bug."""
    rows = [
        (10, "Hello  World"),
        (11, "\thello world "),      # same canon as 10 -> collapses, min id 10
        (12, "hello world"),          # same canon again
        (20, "Other doc"),
        (21, "other  doc"),      # nbsp is not in the Java \s set? pin whatever canon says
        (30, ""),
        (31, "   "),                  # canon "" -> collapses with 30
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from nyc_opendata_etl_spark.operators.dedup import _collapse_to_reps_onepass

    spec = {
        (r["id"], r["__canon__"])
        for r in df.select(canon_text("text").alias("__canon__"), "doc_id")
        .groupBy("__canon__")
        .agg(F.min("doc_id").alias("id"))
        .collect()
    }
    onepass = {
        (r["id"], r["__canon__"])
        for r in _collapse_to_reps_onepass(df, "text", "doc_id").collect()
    }
    assert onepass == spec
    assert (10, "hello world") in spec and 11 not in {i for i, _ in spec}


def _mh_pairs(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(df, portable=True, **kw).collect()
    }


_MH_BASE = [
    (1, "the quick brown fox jumps over the lazy dog tonight"),
    (2, "the quick brown fox jumps over the lazy dog today"),
    (3, "a completely different document about spark shuffles and joins"),
    (4, "another unrelated text mentioning parquet files and columnar io"),
]


def test_minhash_collapse_is_identity_on_dupfree_corpus(spark):
    """With no byte-identical canonical texts, collapse-first MinHash
    emits exactly the uncollapsed pair set."""
    assert _mh_pairs(spark, _MH_BASE, collapse_exact=True) == _mh_pairs(
        spark, _MH_BASE, collapse_exact=False
    )


def test_minhash_collapsed_pairs_invariant_under_duplication(spark):
    """The collapse-first law: adding byte-identical copies (fresh ids,
    whitespace/case variants included) leaves the rep-pair set
    unchanged — the uncollapsed bucket self-join would instead grow
    C(g,2) pairs per copy group (the 100x-replica 44.6M-pair blowup)."""
    copies = _MH_BASE + [
        (101, _MH_BASE[0][1].upper()),
        (102, "  " + _MH_BASE[0][1] + "  "),
        (103, _MH_BASE[2][1]),
        (104, _MH_BASE[2][1].replace(" ", "   ")),
    ]
    assert _mh_pairs(spark, copies, collapse_exact=True) == _mh_pairs(
        spark, _MH_BASE, collapse_exact=True
    )


def test_minhash_collapsed_never_pairs_identical_canons(spark):
    """Identical-copy pairs belong to exact dedup, never to the LSH
    candidate set: ids of non-representative copies cannot appear."""
    copies = _MH_BASE + [(101, _MH_BASE[0][1].upper())]
    ids = {i for p in _mh_pairs(spark, copies, collapse_exact=True) for i in p}
    assert 101 not in ids
