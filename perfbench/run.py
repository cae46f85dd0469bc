"""Benchmark entry point: one workload, one fresh process, one client.

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 5 --trace 0
    python3 perfbench/selfcheck.py    # tiny-size self-check of the benchmark

Run from the root of a checkout. A run has three parts:

1. setup: build the session with ``session.get_spark`` as shipped, on
   ``local[<cores>]``, and generate the workload's inputs from the seed
   (generation is repeated and its median taken);
2. one cold pass over the workload's ops;
3. warm passes until ``--seconds`` have passed, then, outside every
   timer, every op's last output checked against its DuckDB oracle.

With ``--trace 1`` the warm passes alternate traced and untraced,
starting traced, at least one of each: a traced pass reads job/stage
counters at each span boundary, plans every op explicitly and reads
stage metrics after the pass. The untraced passes of the same run give
the tracing overhead. Stream drains run on the generated documents, one
file per trigger. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) of
``perfbench/metrics.py``; the line before it is the full report, which
also goes to ``.perfbench_out/`` with the spans.

Everything the run writes stays under ``.perfbench_run/`` (removed at
exit) and ``.perfbench_out/`` in the working directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from nyc_opendata_etl_spark.session import get_spark  # noqa: E402
from perfbench.gen import Size, generate, write_doc_stream  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, UNITS  # noqa: E402
from perfbench.oracle import Oracle  # noqa: E402
from perfbench.probe import (  # noqa: E402
    BatchListener,
    PeakRss,
    SparkCounters,
    descendants,
)
from perfbench.trace import Span, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, OpRunner, Workload, describe  # noqa: E402

GEN_REPEATS = 3
COMMIT_PARTS = ("walCommit", "commitOffsets", "latestOffset", "getBatch")
DURATION_PARTS = ("addBatch", "queryPlanning") + COMMIT_PARTS


def process_start() -> float:
    """Epoch seconds at which this process started."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """user, nice, system, idle, iowait, irq, softirq, steal ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def host_load(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and iowait shares of the CPU ticks between two readings: a
    host under contention reads high steal and slows every timing."""
    d = [a - b for a, b in zip(after, before)]
    total = max(sum(d), 1)
    return {"steal_pct": 100.0 * d[7] / total, "iowait_pct": 100.0 * d[4] / total}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(run_dir: Path) -> None:
    """Point every scratch location of the engine, Spark and the JVM
    into ``run_dir``; the stage root starts empty."""
    dirs = {k: run_dir / k for k in ("stage", "tmp", "local", "warehouse")}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_STAGE_ROOT=str(dirs["stage"]),
        SPARK_GRAFT_WAREHOUSE=str(dirs["warehouse"]),
        SPARK_LOCAL_DIRS=str(dirs["local"]),
        TMPDIR=str(dirs["tmp"]),
        # no hsperfdata file in the system temp dir either
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    )


def du(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    return sorted(values)[max(math.ceil(q * len(values)) - 1, 0)]


class Run:
    """One workload run inside an already built session."""

    def __init__(self, spark, workload: Workload, size: Size, seed: int,
                 seconds: float, trace: bool, run_dir: Path, tracer: Tracer) -> None:
        self.w = workload
        self.size = size
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.tracer = tracer
        self.counters = SparkCounters(spark)
        self.listener = BatchListener()
        spark.streams.addListener(self.listener)
        self.order = random.Random(seed)
        self.passes: list[tuple[Span, list]] = []
        self.stage_metrics: dict[int, dict] = {}
        self.gen_s: list[float] = []
        self.stage_bytes = 0
        self.inputs: dict = {}
        data_dir = run_dir / "data"
        self.runner = OpRunner(
            spark, str(data_dir), str(run_dir / "stream"),
            str(run_dir / "scratch"), tracer, self.counters, self.listener,
        )

    # -- parts of a run -------------------------------------------------

    def setup_inputs(self) -> None:
        for _ in range(GEN_REPEATS):
            with self.tracer.span("sources.generate") as s:
                self.inputs = generate(self.size, self.seed, self.runner.data_dir)
                if self.w.stream_files:
                    write_doc_stream(self.runner.data_dir, self.runner.stream_dir,
                                     self.w.stream_files)
            self.gen_s.append(s.dur)
        self.runner.stream_rows = self.inputs["documents"]["rows"]

    def one_pass(self, tag: str) -> None:
        traced = tag == "traced" or (tag == "cold" and self.trace)
        self.tracer.counters = self.counters if traced else None
        self.runner.clear_scratch()
        ops = list(self.w.ops)
        self.order.shuffle(ops)
        with self.tracer.span("pass") as p:
            p.tag = tag
            results = [self.runner.run(op, plan=tag == "traced") for op in ops]
        self.tracer.counters = None
        if traced:
            self.stage_metrics.update(self.counters.stages())
        self.passes.append((p, results))

    def timed_passes(self) -> None:
        self.one_pass("cold")
        self.stage_bytes = du(self.run_dir / "stage")
        t0 = time.time()
        i = 0
        while True:
            self.one_pass("traced" if self.trace and i % 2 == 0 else "warm")
            i += 1
            if time.time() - t0 >= self.seconds and (i >= 2 or not self.trace):
                break

    def check(self) -> list[dict]:
        """Compare every op's output from the last pass with its oracle."""
        oracle = Oracle(self.runner.data_dir)
        out = []
        try:
            for r in self.passes[-1][1]:
                reason = r.error
                if reason is None:
                    try:
                        reason = oracle.mismatch(self.runner.oracle_sql(r.op), r.df)
                    except Exception as e:  # noqa: BLE001 - counted as a failed op
                        reason = describe(e)
                out.append({"op": r.op, "ok": reason is None, "reason": reason})
        finally:
            oracle.close()
        return out

    # -- metrics --------------------------------------------------------

    def _passes(self, tag: str) -> list[tuple[Span, list]]:
        return [(p, r) for p, r in self.passes if p.tag == tag]

    def _jobs(self, s: Span) -> int:
        return s.marks[1][0] - s.marks[0][0]

    def _stages(self, s: Span) -> list[dict]:
        return [self.stage_metrics[i] for i in range(s.marks[0][1], s.marks[1][1])
                if i in self.stage_metrics]

    def stages_missing(self) -> int:
        return sum(1 for s in self.tracer.spans
                   if s.marks and s.name in ("operators.execute", "streaming.drain")
                   for i in range(s.marks[0][1], s.marks[1][1])
                   if i not in self.stage_metrics)

    def layer_counters(self, p: Span, results: list) -> dict[str, float]:
        """Per-layer sums over one counted pass."""
        m: dict[str, float] = defaultdict(float)
        n = cores()
        for s in self.tracer.subtree(p):
            if s.name == "queries.build":
                m["queries.build_s"] += s.dur
                m["queries.build_jobs"] += self._jobs(s)
            elif s.name in ("operators.execute", "streaming.drain"):
                st = self._stages(s)
                run_s = sum(x["executor_run_s"] for x in st)
                m["operators.exec_s"] += s.dur
                m["operators.jobs"] += self._jobs(s)
                m["operators.stages"] += sum(x["executed"] for x in st)
                m["operators.tasks"] += sum(x["tasks"] for x in st)
                for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                          "executor_run_s", "executor_cpu_s", "gc_s"):
                    m[f"operators.{k}"] += sum(x[k] for x in st)
                m["sources.input_bytes"] += sum(x["input_bytes"] for x in st)
                m["operators.idle_core_s"] += s.dur * n - run_s
                if s.name == "streaming.drain":
                    m["streaming.drain_jobs"] += self._jobs(s)
        for r in results:
            for phase, secs in (r.phases or {}).items():
                m[f"plans.{phase}_s"] += secs
        for name, secs in self.tracer.self_by_name(p).items():
            m[f"trace.self.{name}_s"] += secs
        m.update(self.stream_metrics([(p, results)]))
        m["streaming.jobs_per_batch"] = (
            m.pop("streaming.drain_jobs", 0.0) / m["streaming.batches"]
            if m["streaming.batches"] else 0.0
        )
        return m

    def stream_metrics(self, passes: list[tuple[Span, list]]) -> dict[str, float]:
        batches = [b for _, rs in passes for r in rs for b in (r.batches or [])]
        drains = [s for p, _ in passes for s in self.tracer.subtree(p)
                  if s.name == "streaming.drain"]
        fed = sum(r.input_rows for _, rs in passes for r in rs if r.batches is not None)
        m: dict[str, float] = {"streaming.batches": len(batches) / max(len(passes), 1)}
        trig = [b.duration_ms.get("triggerExecution", 0) for b in batches]
        for part in DURATION_PARTS:
            m[f"streaming.{part}_ms"] = sum(b.duration_ms.get(part, 0) for b in batches) / max(len(passes), 1)
        commit = sum(m[f"streaming.{part}_ms"] for part in COMMIT_PARTS)
        m["streaming.commit_share"] = commit / (sum(trig) / max(len(passes), 1)) if trig else 0.0
        m["streaming.rows_read_per_input_row"] = (
            sum(b.input_rows for b in batches) / fed if fed else 0.0
        )
        m["microbatch_s_p50"] = statistics.median(trig) / 1e3 if trig else 0.0
        m["microbatch_s_p90"] = pct(trig, 0.9) / 1e3 if trig else 0.0
        m["microbatch_samples"] = len(trig)
        drain_s = sum(s.dur for s in drains)
        m["ingest_rows_per_s"] = fed / drain_s if drain_s else 0.0
        return m

    def per_op(self, tag: str) -> dict[str, dict[str, float]]:
        """Median build/exec seconds per op over the passes of ``tag``,
        and build jobs where counted."""
        acc: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
        for p, _ in self._passes(tag):
            for op_span in self.tracer.children(p):
                kids = self.tracer.children(op_span)
                a = acc[op_span.op]
                a["wall_s"].append(op_span.dur)
                a["exec_s"].append(sum(s.dur for s in kids
                                       if s.name in ("operators.execute", "streaming.drain")))
                build = [s for s in kids if s.name == "queries.build"]
                if build:
                    a["build_s"].append(sum(s.dur for s in build))
                    if all(s.marks for s in build):
                        a["build_jobs"].append(sum(self._jobs(s) for s in build))
        return {op: {k: statistics.median(v) for k, v in d.items()} for op, d in acc.items()}

    def report(self, session_s: float, checks: list[dict], peak_mb: float) -> dict:
        cold = self._passes("cold")[0][0]
        warm = [p.dur for p, _ in self._passes("warm")]
        attempted = sum(len(r) for _, r in self.passes)
        # an op that raised counts once per pass it raised in; an op whose
        # last output mismatched its oracle counts once more
        failed = sum(1 for _, rs in self.passes for r in rs if r.error) + sum(
            1 for c, r in zip(checks, self.passes[-1][1]) if not c["ok"] and r.error is None
        )
        gen_med = statistics.median(self.gen_s)
        e2e = {
            "setup_s": session_s + gen_med,
            "cold_pass_s": cold.dur,
            "pass_s": statistics.median(warm),
        }
        stream = self.stream_metrics(self._passes("traced" if self.trace else "warm"))
        rep = {
            "workload": self.w.name,
            "seed": self.seed,
            "cores": cores(),
            "trace": int(self.trace),
            "inputs": self.inputs,
            "ops": list(self.w.ops),
            "warm_passes": len(warm),
            "end_to_end": e2e,
            "microbatch_s_p50": stream["microbatch_s_p50"],
            "microbatch_s_p90": stream["microbatch_s_p90"],
            "microbatch_samples": stream["microbatch_samples"],
            "ingest_rows_per_s": stream["ingest_rows_per_s"],
            "peak_rss_mb": peak_mb,
            "ops_failed_ratio": failed / attempted,
            "failed_ops": sorted({c["op"] for c in checks if not c["ok"]}
                                 | {r.op for _, rs in self.passes for r in rs if r.error}),
            "checks": checks,
            "per_op": self.per_op("traced" if self.trace else "warm"),
            "attempted": attempted,
            "failed": failed,
        }
        if self.trace:
            traced = self._passes("traced")
            rows = [self.layer_counters(p, r) for p, r in traced]
            layer = {k: statistics.median(row.get(k, 0.0) for row in rows)
                     for k in {k for row in rows for k in row}}
            layer["session.start_s"] = session_s
            layer["sources.generate_s"] = gen_med
            layer["sources.stage_bytes"] = float(self.stage_bytes)
            layer["queries.cold_build_s"] = sum(
                s.dur for s in self.tracer.subtree(cold) if s.name == "queries.build"
            )
            layer["ops_failed_ratio"] = rep["ops_failed_ratio"]
            layer["peak_rss_mb"] = peak_mb
            layer["trace.overhead_s"] = (
                statistics.median(p.dur for p, _ in traced) - e2e["pass_s"]
            )
            rep["per_layer"] = layer
            rep["stages_missing"] = self.stages_missing()
            rep["self_time_residual_s"] = max(
                abs(sum(self.tracer.self_by_name(s).values()) - s.dur)
                for p, _ in traced for s in self.tracer.children(p)
            )
        return rep


def result_line(rep: dict, trace: bool) -> dict:
    """The contract's result line: the end-to-end metrics of an untraced
    run, or the per-layer metrics of a traced one, each with its unit."""
    values = rep["per_layer"] if trace else rep["end_to_end"]
    names = [m.name for m in (PER_LAYER if trace else END_TO_END)]
    return {
        "correct": rep["failed"] == 0,
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": UNITS[n]} for n in names},
    }


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and every process below
    this one, and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def run_workload(spark, workload: Workload, size: Size, seed: int, seconds: float,
                 trace: bool, run_dir: Path, tracer: Tracer, t0: float,
                 session_s: float, rss: PeakRss | None) -> dict:
    """Set up inputs, run the passes and the output check in ``spark``,
    which was built ``session_s`` seconds after ``t0``; the report."""
    run = Run(spark, workload, size, seed, seconds, trace, run_dir, tracer)
    with tracer.span("run", start=t0):
        with tracer.span("setup", start=t0) as setup:
            tracer.spans.append(Span(len(tracer.spans), "session.get_spark", t0,
                                     t0 + session_s, setup.id, None))
            run.setup_inputs()
        run.timed_passes()
    t = time.time()
    checks = run.check()
    check_s = time.time() - t
    spark.streams.removeListener(run.listener)
    peak = rss.stop_mb() if rss else 0.0
    return run.report(session_s, checks, peak) | {"check_s": check_s}


def main(argv: list[str] | None = None) -> int:
    t0 = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    workload = WORKLOADS[args.workload]

    cwd = Path.cwd()
    run_dir = cwd / ".perfbench_run" / f"{workload.name}-{os.getpid()}"
    out_dir = cwd / ".perfbench_out"
    isolate(run_dir)
    ticks = cpu_ticks()
    rss = PeakRss()
    rss.start()
    tracer = Tracer()
    spark = get_spark()
    session_s = time.time() - t0
    try:
        rep = run_workload(spark, workload, workload.size, args.seed, args.seconds,
                           bool(args.trace), run_dir, tracer, t0, session_s, rss)
    finally:
        t = time.time()
        stop_spark(spark)
        stop_s = time.time() - t
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            run_dir.parent.rmdir()  # only once no other run uses it
    rep["stop_s"] = stop_s
    rep["host"] = host_load(ticks, cpu_ticks())
    out_dir.mkdir(exist_ok=True)
    stem = f"{workload.name}-seed{args.seed}-trace{args.trace}"
    (out_dir / f"{stem}.json").write_text(json.dumps({"report": rep, "spans": tracer.to_json()}))
    print(json.dumps(rep, default=float))
    print(json.dumps(result_line(rep, bool(args.trace))))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
