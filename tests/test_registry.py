"""The registry's two contracts with the correctness driver: a query
passes the driver's differential compare, and ``queries()`` is ordered
so that the ~50 entries the driver samples are the ones most in need of
a verdict."""

from __future__ import annotations

import json

import pytest

from nyc_opendata_etl_spark.queries import REGISTRY, _load_all, _ordered, latest_verdicts
from tools.check_correctness import connect, mismatch

# The staged-artifact and streaming queries whose driver compare runs in
# the suite at sf0.01 (the other queries are checked by
# tools/check_correctness.py and the driver itself).
SUITE_COMPARED = (
    "dedup_incremental_rc",
    "multimodal_audio_features",
    "multimodal_video_frames",
    "stream_dedup_ingest",
    "stream_scd2_upserts",
    "stream_index_ingest",
    "dedup_clusters_incremental",
    "stream_ivfpq_ingest",
    "stream_cluster_ingest",
    "similarity_after_delete",
    "similarity_ivfpq_retrain",
    "corpus_shard_epoch",
    "similarity_knn_join",
    "corpus_decontaminate_semantic",
    "corpus_knn_label",
)


SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    return connect(SF)


@pytest.mark.parametrize("name", SUITE_COMPARED)
def test_query_passes_the_driver_compare(spark, con, name):
    """Row count, column names and canonical values against the DuckDB
    oracle at sf0.01 — the compare the driver's gate runs."""
    _load_all()
    qd = REGISTRY[name]
    assert mismatch(con, qd.oracle, qd.fn(spark, SF)) is None


def _write_verdicts(root, rnd, rows):
    verdict = {
        "green": {"hash_match": True, "spark_rows": 1, "err": None},
        "rows-only": {"hash_match": False, "spark_rows": 1, "err": "no_oracle"},
        "red": {"hash_match": False, "spark_rows": 1, "err": None},
    }
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(
        json.dumps({n: verdict[v] for n, v in rows.items()})
    )


def test_order_follows_the_latest_verdicts(tmp_path):
    _load_all()
    names = list(REGISTRY)
    # a tie whose registry order disagrees with name order and file order
    tie_a, tie_b = next((a, b) for a, b in zip(names, names[1:]) if a > b)
    red, rows_only, g9, g10 = [n for n in names if n not in (tie_a, tie_b)][:4]
    _write_verdicts(tmp_path, 1, {tie_b: "green", tie_a: "green", red: "green",
                                  g9: "green", g10: "green", rows_only: "rows-only"})
    _write_verdicts(tmp_path, 9, {red: "red", g9: "green"})
    _write_verdicts(tmp_path, 10, {g10: "green"})
    order = list(_ordered(tmp_path))
    assert sorted(order) == sorted(REGISTRY)
    # green then red: leads the order
    assert order[0] == red
    # rows-only and never-checked come before every green; greens by
    # ascending round, registry position breaking the round-1 tie
    assert order[-4:] == [tie_a, tie_b, g9, g10]
    assert rows_only in order[1:-4]


def test_driver_sample_skips_the_latest_greens():
    """On the repo's verdict files: the driver's ~50-entry sample holds
    no query the newest CORRECTNESS file just verified green, and no
    red or unchecked query sits behind a green one."""
    verdicts = latest_verdicts()
    newest = max(rnd for _, rnd in verdicts.values())
    order = list(_ordered())
    assert not [n for n in order[:50] if verdicts.get(n) == ("green", newest)]
    green = [verdicts.get(n, (None, 0))[0] == "green" for n in order]
    assert green == sorted(green)
