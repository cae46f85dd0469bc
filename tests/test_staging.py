"""The write-time staging contract (sources/staging.py): freshness is
the marker's builder-source hash plus its mtime against the source
table, a stale artifact rebuilds from an empty directory, a warm call
runs no Spark job, and ``stage_all`` enumerates the registry."""

from __future__ import annotations

import os
import time
import uuid

import pytest

from nyc_opendata_etl_spark.queries.parity import _stage_documents_orc
from nyc_opendata_etl_spark.sources import staging
from tests.test_round6_ops import SF


@pytest.fixture
def stage_root(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STAGE_ROOT", str(tmp_path))
    return tmp_path


def _jobs_during(spark, fn):
    """Run ``fn`` and return the Spark job ids it submitted."""
    sc = spark.sparkContext
    group = f"staging_test_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _marker(path: str) -> str:
    with open(os.path.join(path, staging.MARKER)) as fh:
        return fh.read()


def test_warm_call_runs_no_spark_job(spark, stage_root):
    path = _stage_documents_orc(spark, SF)
    assert path == staging.stage_dir(SF, "documents_orc")
    assert path.startswith(str(stage_root))
    assert _marker(path) == _stage_documents_orc.version
    assert _jobs_during(spark, lambda: _stage_documents_orc(spark, SF)) == []


def test_changed_builder_source_hash_forces_rebuild(spark, stage_root):
    path = _stage_documents_orc(spark, SF)
    with open(os.path.join(path, staging.MARKER), "w") as fh:
        fh.write("md5-of-an-older-builder")
    assert _jobs_during(spark, lambda: _stage_documents_orc(spark, SF))
    assert _marker(path) == _stage_documents_orc.version


def test_missing_marker_rebuilds_from_empty_dir(spark, stage_root):
    path = _stage_documents_orc(spark, SF)
    n_rows = spark.read.orc(path).count()
    stray = os.path.join(path, "part-stray-from-a-crashed-build.orc")
    with open(stray, "w") as fh:
        fh.write("junk")
    os.remove(os.path.join(path, staging.MARKER))
    assert _stage_documents_orc(spark, SF) == path
    assert not os.path.exists(stray)
    assert _marker(path) == _stage_documents_orc.version
    assert spark.read.orc(path).count() == n_rows


def test_source_newer_than_marker_is_stale(stage_root, tmp_path):
    """The mtime half of freshness: a source regenerated after the
    marker makes the artifact stale even with a matching version."""
    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "documents.parquet"
    src.write_text("")
    built = []

    @staging.staged("probe_kind", "documents")
    def _stage_probe(spark, sf_dir, path):
        os.makedirs(path)
        built.append(path)

    try:
        path = _stage_probe(None, str(sf))
        _stage_probe(None, str(sf))
        assert built == [path]
        t = os.path.getmtime(os.path.join(path, staging.MARKER)) + 5
        os.utime(src, (t, t))
        _stage_probe(None, str(sf))
        assert built == [path, path]
    finally:
        staging.STAGED.pop("probe_kind")


def test_stamp_in_order_is_strict_at_ms_precision(tmp_path):
    paths = [str(tmp_path / f"p{i}") for i in range(5)]
    for p in paths:
        open(p, "w").close()
    staging.stamp_in_order(paths)
    ms = [int(os.path.getmtime(p) * 1000) for p in paths]
    assert all(a < b for a, b in zip(ms, ms[1:]))
    assert ms[-1] / 1000 <= time.time()  # none in the future


def test_stage_all_covers_every_registered_kind(monkeypatch):
    """stage_all has no hand list: after loading every live query
    module it visits exactly the registered kinds, in registration
    order, and every ``_stage_*`` function of a loaded query module is
    registered."""
    import sys

    from nyc_opendata_etl_spark.queries import _load_all

    _load_all()
    registered = set(staging.STAGED.values())
    for name, mod in list(sys.modules.items()):
        if name.startswith("nyc_opendata_etl_spark.queries.") and mod:
            for attr, fn in vars(mod).items():
                if attr.startswith("_stage_") and callable(fn):
                    assert fn in registered, f"{name}.{attr} is not @staged"

    visited = []
    monkeypatch.setattr(
        staging,
        "STAGED",
        {k: (lambda spark, sf_dir, k=k: visited.append(k)) for k in staging.STAGED},
    )
    kinds = [kind for kind, _ in staging.stage_all(None, SF)]
    assert kinds == visited == list(staging.STAGED)
