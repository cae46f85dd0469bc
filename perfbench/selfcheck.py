"""Self-check of the benchmark at tiny size.

    python3 perfbench/selfcheck.py

Runs every workload once, traced, on inputs of the reference sf0.001 row
counts (no replication, one warm pass per kind) in one session, and
checks that:

- every metric name ``BENCHMARK.json`` declares is printed with its unit,
  by the untraced and by the traced result line;
- spans nest inside their parents, every self time is >= 0, and each
  op's self times add up to its wall time;
- every op's output matches its oracle, and the output check fails when
  one op's output is deliberately perturbed.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time
from dataclasses import replace
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.run import isolate, result_line, run_workload, stop_spark  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import TINY, WORKLOADS  # noqa: E402

PERTURBED_OP = "dim_surrogate"
EPS = 1e-6


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selfcheck FAILED: {what}")
    print(f"ok  {what}")


def check_spans(tracer: Tracer, workload: str) -> None:
    by_id = {s.id: s for s in tracer.spans}
    loose = [f"{s.name}#{s.id}" for s in tracer.spans
             if s.parent is not None
             and not by_id[s.parent].start - EPS <= s.start <= s.end <= by_id[s.parent].end + EPS]
    check(not loose, f"{workload}: all {len(tracer.spans)} spans nest in their parents {loose[:3]}")
    low = min(tracer.self_time(s) for s in tracer.spans)
    check(low >= -EPS, f"{workload}: every self time >= 0 (min {low:.6f} s)")


def main() -> int:
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    base = Path.cwd() / ".perfbench_run" / f"selfcheck-{os.getpid()}"
    isolate(base)
    from nyc_opendata_etl_spark.queries import REGISTRY
    from nyc_opendata_etl_spark.session import get_spark

    t0 = time.time()
    spark = get_spark()
    session_s = time.time() - t0
    try:
        for w in WORKLOADS.values():
            w = replace(w, stream_files=min(w.stream_files, 4))
            run_dir = base / w.name
            isolate(run_dir)
            tracer = Tracer()
            rep = run_workload(spark, w, TINY, 1, 0.0, True, run_dir, tracer,
                               t0, session_s, None)
            for trace, key in ((False, "end_to_end"), (True, "per_layer")):
                printed = result_line(rep, trace)["metrics"]
                missing = [m["name"] for m in declared[key]
                           if printed.get(m["name"], {}).get("unit") != m["unit"]]
                check(not missing, f"{w.name}: all {len(declared[key])} {key} metrics "
                      f"printed with their units {missing}")
            check_spans(tracer, w.name)
            check(rep["self_time_residual_s"] < EPS,
                  f"{w.name}: op self times add up to op wall time")
            check(rep["failed"] == 0, f"{w.name}: every op matches its oracle "
                  f"({[c for c in rep['checks'] if not c['ok']]})")

        # Perturb one op's output: a duplicated row must fail its check.
        qd = REGISTRY[PERTURBED_OP]
        REGISTRY[PERTURBED_OP] = replace(
            qd, fn=lambda s, d: (lambda df: df.unionAll(df.limit(1)))(qd.fn(s, d))
        )
        try:
            w = WORKLOADS["star_etl"]
            run_dir = base / "perturbed"
            isolate(run_dir)
            rep = run_workload(spark, w, TINY, 1, 0.0, False, run_dir, Tracer(),
                               t0, session_s, None)
        finally:
            REGISTRY[PERTURBED_OP] = qd
        bad = [c["op"] for c in rep["checks"] if not c["ok"]]
        check(bad == [PERTURBED_OP] and not result_line(rep, False)["correct"],
              f"perturbed {PERTURBED_OP} fails the output check (failed: {bad})")
    finally:
        stop_spark(spark)
        shutil.rmtree(base, ignore_errors=True)
        with contextlib.suppress(OSError):
            base.parent.rmdir()
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
