"""Round-17 optimization-round pins: the operator internals that
changed for performance keep their contracts.

- spread_batch's fill-then-grow width rule (the r16 bytes/target rule
  starved CPU-bound kernels at the 100× replica; the byte probe was
  also a silent no-op inside foreachBatch — these pin the fixed rule
  and the fixed probe).
- dedup_ingest_batch's persisted survivor relation must not change the
  ingest contract (covered by the existing replay tests; here we pin
  that the persist is released even when a write fails).
- build_star's raw-level F3 probes: dim emptiness must still track
  source emptiness for every stamped dim (the schema branch the probes
  guard), including the vehicle missing-columns case.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.streaming.ingest import (
    _SPREAD_MIN_TASK_BYTES,
    _SPREAD_TARGET_BYTES,
    _spread_width,
    spread_batch,
)


def test_spread_width_fill_then_grow():
    par = 32
    t = _SPREAD_TARGET_BYTES
    # kilobyte batch: stays narrow (1 task — the shuffle-skip regime)
    assert _spread_width(1 << 10, par, t) == 1
    # just past one min-task slice: 2 tasks, still far below par
    assert _spread_width(_SPREAD_MIN_TASK_BYTES + 1, par, t) == 2
    # a 14 MB batch (the 100× micro-batch): FILLS the box even though
    # bytes/target alone would say 2 — the starvation case measured at
    # the replica (41.8 s at 2-wide vs 26-32 s at full width)
    assert _spread_width(14 << 20, par, t) == par
    # huge batch: grows at target_bytes/task beyond par…
    assert _spread_width(512 << 20, par, t) == 64
    # …capped at 4× parallelism
    assert _spread_width(100 << 30, par, t) == 4 * par
    # per-kernel target is respected in the grow regime
    assert _spread_width(512 << 20, par, 1 << 20) == 4 * par


def test_spread_batch_reads_plan_stats_without_input_files(spark, monkeypatch):
    """A DataFrame with NO inputFiles() (the foreachBatch shape — its
    scan is an internal batch relation) must still get a width from the
    optimizer's size statistics, not silently skip the spread (the r16
    no-op this round fixed). A range relation has empty inputFiles and
    EXACT stats (8 bytes per row), so the recorded byte count proves the
    stats path ran — the unknown-stats fallback (width = parallelism)
    never reaches _spread_width."""
    from nyc_opendata_etl_spark.streaming import ingest

    seen = []

    def recording_width(nbytes, par, target_bytes):
        seen.append(nbytes)
        return _spread_width(nbytes, par, target_bytes)

    monkeypatch.setattr(ingest, "_spread_width", recording_width)
    df = spark.range(0, 100_000, numPartitions=1)
    assert df.inputFiles() == []
    out = spread_batch(df, target_bytes=64 << 10)
    assert seen == [800_000]
    # 800 kB at a 64 kB target: 13 tasks (fill needs only 7), capped
    # at 4× parallelism
    par = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == min(13, 4 * par)


def test_spread_batch_leaves_tiny_batches_alone(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, text string")
    out = spread_batch(df)
    assert out.rdd.getNumPartitions() == df.rdd.getNumPartitions()


def test_dedup_ingest_unpersists_fresh_on_write_failure(spark, tmp_path):
    """The survivor cache introduced this round must be released even
    when a write fails mid-batch (a replayed batch would otherwise leak
    one cached relation per retry)."""
    from nyc_opendata_etl_spark.streaming.ingest import dedup_ingest_batch

    jvm_sc = spark.sparkContext._jsc.sc()
    before = jvm_sc.getPersistentRDDs().size()
    batch = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    # seed an index so the probe/anti-join path (fresh is not collapsed)
    # is exercised
    dedup_ingest_batch(
        batch, 0, str(tmp_path / "idx"), str(tmp_path / "out")
    )
    with pytest.raises(Exception, match="TASK_WRITE_FAILED|Failed|writ"):
        # invalid sink path ⇒ the corpus write throws inside the
        # persisted window
        dedup_ingest_batch(
            spark.createDataFrame(
                [(3, "gamma")], "doc_id long, text string"
            ),
            1,
            str(tmp_path / "idx"),
            "file:///proc/definitely/not/writable/out",
        )
    after = jvm_sc.getPersistentRDDs().size()
    # each driven batch leaves exactly its `collapsed` localCheckpoint
    # RDD (released on GC, the localCheckpoint contract); a leaked
    # `fresh` cache from the failed batch would add a third entry
    assert after <= before + 2, (before, after)


def test_build_star_raw_probes_match_dim_emptiness(spark):
    """F3 schema branch: stamped dims over EMPTY raws must still come
    out empty-branch (fact columns keyed NULL-free schema contract) and
    non-empty raws must probe non-empty — now decided from the raws."""
    from nyc_opendata_etl_spark.operators.warehouse import build_star

    empty_311 = spark.createDataFrame(
        [],
        "unique_key string, created_date string, closed_date string, "
        "agency string, agency_name string, complaint_type string, "
        "descriptor string, borough string, city string, incident_zip string, "
        "street_name string, incident_address string, cross_street_1 string, "
        "cross_street_2 string, intersection_street_1 string, "
        "intersection_street_2 string, latitude string, longitude string, "
        "status string",
    )
    parking = spark.createDataFrame(
        [
            (
                "10", "2024-01-02", "0101A", "5", "d", "p1", "NY", "PAS",
                "SDN", "MAKE", "2020", "BLK", "No", "12", "main st",
                "cross", "K", "7",
            )
        ],
        "summons_number string, issue_date string, violation_time string, "
        "violation_code string, violation_description string, plate_id string, "
        "registration_state string, plate_type string, vehicle_body_type string, "
        "vehicle_make string, vehicle_year string, vehicle_color string, "
        "unregistered_vehicle string, house_number string, street_name string, "
        "intersecting_street string, violation_county string, "
        "violation_precinct string",
    )
    out = build_star(spark, empty_311, parking, facts=("parking",))
    # vehicle dim (stamped, raw non-empty) must be non-empty and the
    # fact must carry real vehicle keys
    fact = out["fact_parking_tickets"]
    rows = fact.select("vehicle_key").collect()
    assert len(rows) == 1 and rows[0][0] is not None
    # a 311 build over the empty raw takes the empty-dim branch without
    # error (the F3 guard the probes exist for), and its 311-side dims
    # come out empty
    out2 = build_star(spark, empty_311, parking, facts=("311",))
    assert out2["dim_complaint"].count() == 0
    assert out2["fact_311_complaints"].count() == 0


def test_build_star_stamped_dims_preserve_rows(spark):
    """The raw-level F3 probes in build_star read dim emptiness off the
    RAWS, which is only sound while every stamped dim builder is a
    row-preserving chain: a raw with ≥ 1 rows — even one all-NULL row —
    must yield a non-empty dim. A filter (e.g. the na.drop the unstamped
    violation dim has) added to a stamped builder fails here instead of
    silently flipping the fact schema branch."""
    from nyc_opendata_etl_spark.functions.normalize import ensure_columns
    from nyc_opendata_etl_spark.operators.warehouse import (
        AGENCY_NK,
        build_agency_dim,
        build_complaint_dim,
        build_location_dim,
        build_vehicle_dim,
    )

    def null_row(cols: str):
        schema = ", ".join(f"{c} string" for c in cols.split())
        return spark.createDataFrame([tuple(None for _ in cols.split())], schema)

    raw_311 = null_row(
        "unique_key created_date closed_date agency agency_name "
        "complaint_type descriptor location_type borough city incident_zip "
        "street_name incident_address cross_street_1 cross_street_2 "
        "intersection_street_1 intersection_street_2 latitude longitude status"
    )
    raw_parking = null_row(
        "summons_number issue_date violation_time violation_code "
        "violation_description plate_id registration_state plate_type "
        "vehicle_body_type vehicle_make vehicle_year vehicle_color "
        "unregistered_vehicle house_number street_name intersecting_street "
        "violation_county violation_precinct"
    )
    # the stamped dims and their raws, as build_star's probe maps them
    stamped = {
        "dim_agency (311 side)": build_agency_dim(raw_311),
        "dim_agency (parking side)": build_agency_dim(
            ensure_columns(raw_parking, {c: "string" for c in AGENCY_NK})
        ),
        "dim_location": build_location_dim(raw_311),
        "dim_complaint": build_complaint_dim(raw_311),
        "dim_vehicle": build_vehicle_dim(raw_parking),
    }
    empty = [name for name, dim in stamped.items() if dim.isEmpty()]
    assert not empty, f"stamped dims dropped an all-NULL raw row: {empty}"


def test_io_codec_error_names_the_accepted_short_names(monkeypatch):
    from nyc_opendata_etl_spark.session import _io_codec

    monkeypatch.setenv(
        "SPARK_GRAFT_IO_CODEC", "org.apache.spark.io.ZStdCompressionCodec"
    )
    with pytest.raises(ValueError, match="only the short codec names"):
        _io_codec()
    monkeypatch.setenv("SPARK_GRAFT_IO_CODEC", "ZSTD")
    assert _io_codec() == "zstd"
