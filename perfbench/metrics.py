"""Every metric the benchmark prints, with its unit and, for per-layer
metrics, the end-to-end metric it should move, the workloads where it
should move it and the workloads where it should stay flat.

``BENCHMARK.json`` lists the same names; ``perfbench/selfcheck.py``
checks that every name it declares is printed with its unit.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    moves: str = ""  # end-to-end metric this layer metric should move
    on: str = ""  # workloads where it should move it
    flat_on: str = ""  # workloads where it should not move


#: Printed by every untraced run (``--trace 0``), on every workload.
END_TO_END = (
    Metric("setup_s", "s"),  # process start → session ready, plus median input generation
    Metric("cold_pass_s", "s"),  # first pass in the fresh process
    Metric("pass_s", "s"),  # median warm pass
)

ALL = "star_etl, corpus_10x, stream_ingest"

#: Printed by every traced run (``--trace 1``), on every workload; a
#: metric of a layer a workload does not use reads 0 there.
PER_LAYER = (
    Metric("session.start_s", "s", "setup_s", ALL),
    Metric("sources.generate_s", "s", "setup_s", "corpus_10x, stream_ingest", "star_etl"),
    Metric("sources.stage_bytes", "bytes", "cold_pass_s", "corpus_10x, star_etl"),
    Metric("sources.input_bytes", "bytes", "pass_s", "corpus_10x"),
    Metric("queries.cold_build_s", "s", "cold_pass_s", "corpus_10x, star_etl"),
    Metric("queries.build_s", "s", "pass_s", "star_etl, corpus_10x", "stream_ingest"),
    Metric("queries.build_jobs", "count", "pass_s", "star_etl, corpus_10x", "stream_ingest"),
    Metric("plans.analysis_s", "s", "pass_s", "star_etl", "stream_ingest"),
    Metric("plans.optimization_s", "s", "pass_s", "star_etl", "stream_ingest"),
    Metric("plans.planning_s", "s", "pass_s", "star_etl", "stream_ingest"),
    Metric("operators.exec_s", "s", "pass_s", "corpus_10x"),
    Metric("operators.jobs", "count", "pass_s", "corpus_10x"),
    Metric("operators.stages", "count", "pass_s", "corpus_10x"),
    Metric("operators.tasks", "count", "pass_s", "corpus_10x"),
    Metric("operators.shuffle_read_bytes", "bytes", "pass_s, peak_rss_mb", "corpus_10x", "star_etl"),
    Metric("operators.shuffle_write_bytes", "bytes", "pass_s, peak_rss_mb", "corpus_10x", "star_etl"),
    Metric("operators.spill_bytes", "bytes", "pass_s, peak_rss_mb", "corpus_10x", "star_etl"),
    Metric("operators.executor_run_s", "s", "pass_s, peak_rss_mb", "corpus_10x, star_etl"),
    Metric("operators.executor_cpu_s", "s", "pass_s, peak_rss_mb", "corpus_10x, star_etl"),
    Metric("operators.gc_s", "s", "pass_s, peak_rss_mb", "corpus_10x, star_etl"),
    Metric("operators.idle_core_s", "s", "pass_s", "corpus_10x"),
    Metric("streaming.batches", "count", "microbatch_s_p90", "stream_ingest", "star_etl, corpus_10x"),
    Metric("streaming.jobs_per_batch", "count", "microbatch_s_p90", "stream_ingest", "star_etl, corpus_10x"),
    Metric("streaming.addBatch_ms", "ms", "microbatch_s_p50", "stream_ingest"),
    Metric("streaming.walCommit_ms", "ms", "microbatch_s_p50", "stream_ingest"),
    Metric("streaming.commitOffsets_ms", "ms", "microbatch_s_p50", "stream_ingest"),
    Metric("streaming.latestOffset_ms", "ms", "microbatch_s_p50", "stream_ingest"),
    Metric("streaming.getBatch_ms", "ms", "microbatch_s_p50", "stream_ingest"),
    Metric("streaming.queryPlanning_ms", "ms", "microbatch_s_p50", "stream_ingest"),
    Metric("streaming.commit_share", "ratio", "microbatch_s_p50", "stream_ingest"),
    Metric("streaming.rows_read_per_input_row", "ratio", "ingest_rows_per_s", "stream_ingest"),
    # End-to-end figures that cannot be gated: the streaming ones do not
    # apply to every workload and the failure ratio reads 0 when all is
    # well. Every run's report line carries them too.
    Metric("microbatch_s_p50", "s", "pass_s", "stream_ingest"),
    Metric("microbatch_s_p90", "s", "pass_s", "stream_ingest"),
    Metric("ingest_rows_per_s", "rows/s", "pass_s", "stream_ingest"),
    Metric("ops_failed_ratio", "ratio"),
    # VmHWM summed over the process tree (this process, the JVM, Python workers).
    # Not gated: the JVM's heap growth follows GC timing, and its
    # run-to-run spread is wider than any bound the benchmark may set.
    Metric("peak_rss_mb", "MB"),
    # Self time of each span layer over one traced pass, and the cost of
    # tracing itself (median traced pass − median untraced pass).
    Metric("trace.self.pass_s", "s", "pass_s", ALL),
    Metric("trace.self.op_s", "s", "pass_s", ALL),
    Metric("trace.self.queries.build_s", "s", "pass_s", "star_etl, corpus_10x", "stream_ingest"),
    Metric("trace.self.plans.plan_s", "s", "pass_s", "star_etl", "stream_ingest"),
    Metric("trace.self.operators.execute_s", "s", "pass_s", "corpus_10x, star_etl"),
    Metric("trace.self.streaming.drain_s", "s", "pass_s", "stream_ingest", "star_etl, corpus_10x"),
    Metric("trace.self.streaming.batch_s", "s", "pass_s", "stream_ingest", "star_etl, corpus_10x"),
    Metric("trace.overhead_s", "s"),
)

UNITS = {m.name: m.unit for m in END_TO_END + PER_LAYER}
