"""Structured Streaming semantics: backfill equivalence and watermark
eviction (append vs complete)."""

from __future__ import annotations

import os
import tempfile
import uuid

from nyc_opendata_etl_spark.sources.tables import load_table
from nyc_opendata_etl_spark.streaming import events as se

SF_DIR = "/root/testdata/sf0.001"


def _stage(spark) -> str:
    stage = os.path.join(tempfile.gettempdir(), f"stream_test_{uuid.uuid4().hex[:8]}")
    load_table(spark, SF_DIR, "events").write.mode("overwrite").parquet(stage)
    return stage


def test_stream_backfill_matches_batch(spark):
    stage = _stage(spark)
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in se.tumbling_counts(spark.read.parquet(stage)).collect()
    }
    stream = se.read_event_stream(spark, stage, max_files_per_trigger=2)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in se.run_available_now(
            se.tumbling_counts(stream), f"t_{uuid.uuid4().hex[:8]}", "complete"
        ).collect()
    }
    assert got == batch


def test_watermark_withholds_open_windows_in_append_mode(spark):
    """In append mode, windows newer than the final watermark (max event
    time - 2h) must NOT be emitted; complete mode emits everything."""
    stage = _stage(spark)
    stream = se.read_event_stream(spark, stage)
    complete = se.run_available_now(
        se.tumbling_counts(stream), f"c_{uuid.uuid4().hex[:8]}", "complete"
    ).collect()
    stream2 = se.read_event_stream(spark, stage)
    append = se.run_available_now(
        se.tumbling_counts(stream2), f"a_{uuid.uuid4().hex[:8]}", "append"
    ).collect()
    assert 0 < len(append) < len(complete)
    ckeys = {(r["window_start"], r["event_type"]) for r in complete}
    assert {(r["window_start"], r["event_type"]) for r in append} <= ckeys
    # the withheld windows are exactly the newest ones
    max_appended = max(r["window_end"] for r in append)
    max_complete = max(r["window_end"] for r in complete)
    assert max_appended < max_complete


def test_streaming_session_windows(spark):
    stage = _stage(spark)
    stream = se.read_event_stream(spark, stage)
    rows = se.run_available_now(
        se.session_windows(stream), f"s_{uuid.uuid4().hex[:8]}", "complete"
    ).collect()
    assert rows
    for r in rows[:50]:
        assert r["session_start"] == r["first_event"]
        assert r["session_end"] > r["last_event"]


def test_stateful_first_seen_dedup(spark, tmp_path):
    from pyspark.sql import functions as F
    from nyc_opendata_etl_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        stateful_first_seen,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}"),
        (2, "2024-01-01 00:01:00", 10, "click", 1.0, "{}"),
        (3, "2024-01-01 00:02:00", 20, "view", 2.0, "{}"),
        (4, "2024-01-01 00:03:00", 10, "view", 3.0, "{}"),
        (5, "2024-01-01 00:04:00", 30, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "events")
    # multiple files -> multiple micro-batches with maxFilesPerTrigger=1
    df.repartition(3).write.parquet(path)

    stream = read_event_stream(spark, path, max_files_per_trigger=1)
    out = run_available_now(
        stateful_first_seen(stream, "user_id"), "t_dedup", output_mode="append"
    )
    assert sorted(r.user_id for r in out.collect()) == [10, 20, 30]


def test_stream_to_partitioned_sink_is_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.streaming.events import (
        read_event_stream,
        stream_to_partitioned_sink,
    )

    rows = [
        (1, "2024-01-10 00:00:00", 10, "click", 1.0, "{}"),
        (2, "2024-02-10 00:00:00", 20, "view", 2.0, "{}"),
        (3, "2024-02-20 00:00:00", 30, "click", 3.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    df.write.parquet(src)

    stream_to_partitioned_sink(read_event_stream(spark, src), sink, query_name="s1")
    assert spark.read.parquet(sink).count() == 3
    # replaying the same bounded stream (fresh query, same source, batch
    # ids restart) must REPLACE its own partitions, not append duplicates
    stream_to_partitioned_sink(read_event_stream(spark, src), sink, query_name="s2")
    out = spark.read.parquet(sink)
    assert out.count() == 3
    assert {r.month for r in out.select("month").distinct().collect()} == {
        "2024-01", "2024-02",
    }


def test_stream_sink_keeps_all_batches_of_a_month(spark, tmp_path):
    """Regression: a month spanning several micro-batches must keep
    EVERY batch's rows (overwriting by month alone dropped all but the
    last batch)."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.streaming.events import (
        read_event_stream,
        stream_to_partitioned_sink,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")

    def mk(eid, day):
        return spark.createDataFrame(
            [(eid, f"2024-02-{day:02d} 00:00:00", eid, "click", 1.0, "{}")],
            "event_id long, ts string, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    # two separate files, same month -> two micro-batches with
    # maxFilesPerTrigger=1
    mk(1, 10).write.mode("append").parquet(src)
    mk(2, 20).write.mode("append").parquet(src)
    stream_to_partitioned_sink(
        read_event_stream(spark, src, max_files_per_trigger=1), sink,
        query_name="s3",
    )
    out = spark.read.parquet(sink)
    assert sorted(r.event_id for r in out.collect()) == [1, 2]


def test_checkpointed_available_now_is_incremental(spark, tmp_path):
    """Trigger.AvailableNow + checkpointLocation = incremental batch: a
    second run processes ONLY files that arrived since the first run's
    checkpoint (the Spark-native replacement for the reference's manual
    month-window bookkeeping), and a replay adds nothing."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.streaming.events import read_event_stream

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def drain():
        q = (
            read_event_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    mk([(1, "2024-01-01 00:00:00", 1, "click", 1.0, "{}")]).write.mode(
        "append"
    ).parquet(src)
    drain()
    assert spark.read.parquet(sink).count() == 1

    # new file arrives; old file unchanged -> only the new row lands
    mk([(2, "2024-01-02 00:00:00", 2, "view", 2.0, "{}")]).write.mode(
        "append"
    ).parquet(src)
    drain()
    assert spark.read.parquet(sink).count() == 2

    # no new data -> replay is a no-op (no duplicates)
    drain()
    assert spark.read.parquet(sink).count() == 2


def test_tws_count_threshold_gated_or_runs(spark, tmp_path):
    """transformWithStateInPandas needs protobuf at runtime. Where the
    package exists the operator must produce the batching-invariant
    threshold set; where it doesn't, it must fail fast with a clear
    NotImplementedError instead of a mid-stream worker crash."""
    import pytest

    from nyc_opendata_etl_spark.sources.tables import load_table
    from nyc_opendata_etl_spark.streaming import events as se

    sf = "/root/testdata/sf0.001"
    stage = str(tmp_path / "events_stage")
    load_table(spark, sf, "events").write.mode("overwrite").parquet(stage)
    stream = se.read_event_stream(spark, stage, max_files_per_trigger=4)
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            se.tws_count_threshold(stream, "user_id", threshold=67)
        return
    crossed = se.tws_count_threshold(stream, "user_id", threshold=67)
    out = se.run_available_now(crossed, "tws_test", output_mode="append")
    expected = (
        load_table(spark, sf, "events")
        .groupBy("user_id")
        .count()
        .filter("count >= 67")
        .count()
    )
    assert out.count() == expected


def test_stream_static_dim_enrichment_matches_batch(spark):
    """Stream-to-static enrichment: a streaming fact joined to a batch
    dimension (the FK-stamping shape, broadcast per micro-batch) must
    produce exactly the batch join's aggregate — and the static side
    needs no watermark or state."""
    from pyspark.sql import functions as F

    stage = _stage(spark)
    dim = (
        load_table(spark, SF_DIR, "events")
        .select("user_id")
        .distinct()
        .withColumn("cohort", (F.col("user_id") % 3).cast("int"))
    )
    batch = {
        (r["cohort"], r["event_type"]): r["n"]
        for r in spark.read.parquet(stage)
        .join(F.broadcast(dim), "user_id")
        .groupBy("cohort", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    stream = se.read_event_stream(spark, stage, max_files_per_trigger=2)
    enriched = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy("cohort", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {
        (r["cohort"], r["event_type"]): r["n"]
        for r in se.run_available_now(
            enriched, f"d_{uuid.uuid4().hex[:8]}", "complete"
        ).collect()
    }
    assert got == batch


def test_interval_join_multibatch_equals_single_batch(spark):
    """Multi-batch AvailableNow replay over the TIME-ORDERED staged
    copy is output-identical to the single-batch drain for the
    stream-stream interval join: ordered files mean zero cross-batch
    lateness, inner-join matches emit eagerly, and the advancing
    watermark only evicts state that can no longer match. (At 100x the
    eviction is a 7.6x wall win — BASELINE.md round-9 streaming note;
    this pins the equivalence the sizing threshold in
    queries/event_windows.py relies on.)"""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.queries.event_windows import _stage_events
    from nyc_opendata_etl_spark.sources.staging import MARKER

    stage = _stage_events(spark, SF_DIR)
    parts = sorted(p for p in os.listdir(stage) if p.startswith("part-"))
    # the staged copy is the current ordered-layout build
    with open(os.path.join(stage, MARKER)) as fh:
        assert fh.read() == _stage_events.version
    # ascending mtimes in path order = replay order = event-time order
    mtimes = [os.path.getmtime(os.path.join(stage, p)) for p in parts]
    assert mtimes == sorted(mtimes)

    def run(k):
        clicks = se.read_event_stream(spark, stage, max_files_per_trigger=k).filter(
            F.col("event_type") == "click"
        )
        views = se.read_event_stream(spark, stage, max_files_per_trigger=k).filter(
            F.col("event_type") == "view"
        )
        out = se.run_available_now(
            se.interval_join_clicks_views(clicks, views),
            f"ijmb_{uuid.uuid4().hex[:8]}",
            output_mode="append",
            state_partitions=4,
        )
        return {tuple(r) for r in out.collect()}

    assert run(4) == run(None)


def test_stateful_first_seen_string_key(spark, tmp_path):
    """Round-11 review pin: the output schema derives from the ACTUAL
    key type — a hardcoded 'long' crashed the Arrow conversion for any
    non-bigint grouping key (e.g. event_type)."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        stateful_first_seen,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}"),
        (2, "2024-01-01 00:01:00", 11, "click", 1.0, "{}"),
        (3, "2024-01-01 00:02:00", 12, "view", 2.0, "{}"),
        (4, "2024-01-01 00:03:00", 13, "signup", 3.0, "{}"),
        (5, "2024-01-01 00:04:00", 14, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "events")
    df.repartition(2).write.parquet(path)

    stream = read_event_stream(spark, path, max_files_per_trigger=1)
    out = run_available_now(
        stateful_first_seen(stream, "event_type"),
        "t_dedup_str",
        output_mode="append",
    )
    assert sorted(r.event_type for r in out.collect()) == [
        "click",
        "signup",
        "view",
    ]


def test_stream_sink_accepts_checkpoint_location(spark, tmp_path):
    """The durable-checkpoint parameter (round-11 review: the
    idempotency contract needs one to pin batch boundaries across
    restarts) drives an actual offset log on disk."""
    import os

    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.streaming.events import (
        read_event_stream,
        stream_to_partitioned_sink,
    )

    rows = [(1, "2024-02-01 00:00:00", 1, "click", 1.0, "{}")]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "src")
    df.write.parquet(src)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    stream_to_partitioned_sink(
        read_event_stream(spark, src), sink, query_name="s_ck",
        checkpoint_location=ckpt,
    )
    assert os.path.isdir(os.path.join(ckpt, "offsets"))
    assert spark.read.parquet(sink).count() == 1
    # a replay over the SAME checkpoint re-delivers nothing new and
    # leaves the sink unchanged
    stream_to_partitioned_sink(
        read_event_stream(spark, src), sink, query_name="s_ck2",
        checkpoint_location=ckpt,
    )
    assert spark.read.parquet(sink).count() == 1


def test_exactly_once_wrappers_require_checkpoint_or_explicit_optout():
    """ADVICE r14, applied family-wide: every exactly-once streaming
    wrapper's contract rides on the offset log pinning batch
    composition, so a caller omitting checkpoint_location must get a
    raise (not silent at-most-once semantics) unless they opt out with
    ephemeral=True. The guard fires before the stream is touched, so a
    None stream reaches it."""
    import pytest

    from nyc_opendata_etl_spark.streaming.ann_ingest import stream_ivfpq_ingest
    from nyc_opendata_etl_spark.streaming.cluster_ingest import (
        stream_cluster_ingest,
    )
    from nyc_opendata_etl_spark.streaming.dim_sink import stream_scd2_upserts
    from nyc_opendata_etl_spark.streaming.index_ingest import stream_index_ingest
    from nyc_opendata_etl_spark.streaming.ingest import stream_dedup_ingest

    cases = [
        lambda: stream_index_ingest(None, "/tmp/x"),
        lambda: stream_ivfpq_ingest(None, "/tmp/x"),
        lambda: stream_dedup_ingest(None, "/tmp/x", "/tmp/y"),
        lambda: stream_scd2_upserts(None, "/tmp/x", ["k"], ["v"]),
        lambda: stream_cluster_ingest(None, "/tmp/x"),
    ]
    for case in cases:
        with pytest.raises(ValueError, match="checkpoint_location"):
            case()
