"""Benchmark harness: times every registered query at a scale-factor dir.

Runs on ``local[$SPARK_GRAFT_CPUS]`` against ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1).

Output contract (learned the hard way — BENCH_r01-r05 all recorded
``"parsed": null``): the driver captures only the TAIL of stdout, so a
single giant JSON line holding 140 per-query timings gets its head
truncated and never parses. Therefore:

- each query's timing prints as its own short JSON line as it finishes
  (``{"query": ..., "sec": ...}``) — individually parseable, and the
  most recent ones survive any tail window;
- the full payload (totals + every timing) is written to
  ``bench_queries.json`` next to this file;
- the LAST stdout line is a SHORT summary
  ``{"metric": "full_query_suite_wall_time", "value": total, "unit":
  "sec", "sf": ..., "n_queries": N, "errors": E, "queries_file":
  "bench_queries.json"}`` — small enough to survive any tail capture.

Each query executes via the ``noop`` sink — full plan execution without
driver-side collect overhead, i.e. what a cluster job would measure.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from nyc_opendata_etl_spark.queries import queries  # noqa: E402
from nyc_opendata_etl_spark.session import get_spark  # noqa: E402

# Per-query host-steal threshold (percent of CPU ticks stolen by the
# hypervisor during the timed window). The box has documented episodic
# 15-32% steal storms (BASELINE.md) that turned 15 of round 10's rows
# into unusable evidence; above this threshold a row is re-run once and,
# if still stormy, flagged so tools/bench_diff.py can exclude it from
# the cross-round regression read.
STEAL_FLAG_PCT = 5.0


def _cpu_ticks() -> tuple[int, int, int] | None:
    """(steal, iowait, total) ticks from /proc/stat, or None off-Linux.
    iowait rides along for diagnosis only (round-11 finding: a 17 s
    outlier row read 0.1% steal — the storm's other face is I/O/page-
    cache pressure, which steal alone cannot see)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
    except OSError:
        return None
    if not parts or parts[0] != "cpu":
        return None
    # Sum only user..steal (fields 0-7): guest/guest_nice are already
    # included in user/nice by the kernel, so summing all ten fields
    # double-counts VM guest time and understates steal_pct on a host
    # running VMs.
    vals = [int(v) for v in parts[1:9]]
    steal = vals[7] if len(vals) > 7 else 0
    iowait = vals[4] if len(vals) > 4 else 0
    return steal, iowait, sum(vals)


def _tick_pcts(
    before: tuple[int, int, int] | None, after: tuple[int, int, int] | None
) -> tuple[float, float] | None:
    """(steal_pct, iowait_pct) across the window, or None."""
    if before is None or after is None:
        return None
    dtotal = after[2] - before[2]
    if dtotal <= 0:
        return None
    return (
        round(100.0 * (after[0] - before[0]) / dtotal, 2),
        round(100.0 * (after[1] - before[1]) / dtotal, 2),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # absorb one-time JVM/codegen bootstrap so the first query's number
    # measures the query, not session warmup (session startup itself is
    # already outside the timed region). Three distinct paths bootstrap
    # lazily and would otherwise be billed to whichever query hits them
    # first: the scheduler/codegen (range-sum), the vectorized parquet
    # reader (scan), and the Python worker pool + Arrow serdes
    # (mapInPandas).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    try:
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(
            10_000
        ).write.format("noop").mode("overwrite").save()
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(
            1_000
        ).write.format("noop").mode("overwrite").save()
        import pandas as pd  # noqa: F401

        spark.range(1_000).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass  # warmup must never fail the bench

    # Prebuild every write-time staged artifact BEFORE the timed suite
    # and report the build cost as its own field: a query's number must
    # measure steady-state query cost, never a one-time index/bronze
    # build that happened to land on it (the round-9 streaming
    # "regression" was a layout-version rebuild billed to the first
    # streaming query). Staged artifacts carry a freshness marker — on
    # a warm stage this costs only the marker probes.
    staging_sec = 0.0
    staging_detail: dict[str, float] = {}
    staging_failed = False
    t0 = time.time()
    try:
        from nyc_opendata_etl_spark.sources.staging import stage_all

        for kind, dt in stage_all(spark, sf_dir):
            staging_detail[kind] = round(dt, 3)
    except Exception as e:  # noqa: BLE001
        # A partial failure must not report staging as free: keep the
        # time already spent and flag it, so a cross-round bench diff
        # showing a "regression" on the first query of an unstaged
        # artifact is self-explaining instead of silently reintroducing
        # the build-billed-to-first-query conflation.
        staging_failed = True
        print(f"bench: staging warmup failed: {e}", file=sys.stderr)
    finally:
        staging_sec = round(time.time() - t0, 3)
    print(
        json.dumps({"staging_sec": staging_sec, "staging_failed": staging_failed}),
        flush=True,
    )

    # Bench in STABLE alphabetical order, decoupled from the registry's
    # verdict-rotation order (which reshuffles every round): whichever
    # query runs first absorbs residual cold-lineage/codegen cost, so a
    # rotation that promotes a heavy query to position 1 showed up as a
    # phantom multi-x "regression" in the cross-round diff (round 10:
    # dedup_clusters 6.3 -> 63.8 s purely from moving to the front).
    # Alphabetical order pins each query's warm-up context across rounds.
    qs = dict(sorted(queries().items()))
    timings: dict[str, float] = {}
    steal_pcts: dict[str, float] = {}
    iowait_pcts: dict[str, float] = {}
    steal_reruns: dict[str, dict[str, float]] = {}
    t_suite = time.time()
    for name, fn in qs.items():
        # A row measured under a steal storm is noise, not signal: re-run
        # once if >STEAL_FLAG_PCT of the window's CPU ticks were stolen.
        # The re-run is slightly warm-biased (plan/codegen cached), so
        # the first attempt is preserved in steal_reruns for the record;
        # rows whose FINAL measurement is still stormy are flagged and
        # bench_diff excludes them from regression classification.
        attempts = 0
        first_good: tuple[float, tuple[float, float]] | None = None
        while True:
            attempts += 1
            c0 = _cpu_ticks()
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                sec = round(time.time() - t0, 3)
            except Exception as e:  # noqa: BLE001
                print(f"bench error in {name}: {e}", file=sys.stderr)
                sec = -1.0
            pcts = _tick_pcts(c0, _cpu_ticks())
            steal = pcts[0] if pcts is not None else None
            if (
                sec > 0
                and steal is not None
                and steal > STEAL_FLAG_PCT
                and attempts == 1
            ):
                steal_reruns[name] = {"sec_first": sec, "steal_pct_first": steal}
                first_good = (sec, pcts)
                continue
            break
        if sec < 0 and first_good is not None:
            # The storm-triggered re-run died (transient executor
            # failure): the query itself DID succeed on attempt 1 —
            # keep that valid-but-stormy measurement (it stays
            # steal-flagged) instead of reporting a phantom error.
            sec, pcts = first_good
            steal = pcts[0]
        timings[name] = sec
        row = {"query": name, "sec": sec}
        if pcts is not None:
            steal_pcts[name] = pcts[0]
            iowait_pcts[name] = pcts[1]
            row["steal_pct"] = pcts[0]
            row["iowait_pct"] = pcts[1]
        print(json.dumps(row), flush=True)
    total = round(time.time() - t_suite, 3)
    steal_flagged = sorted(
        n for n, s in steal_pcts.items() if s > STEAL_FLAG_PCT
    )

    payload = {
        "metric": "full_query_suite_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "staging_sec": staging_sec,
        "staging_failed": staging_failed,
        "staging_detail": staging_detail,
        "steal_pct": steal_pcts,
        "iowait_pct": iowait_pcts,
        "steal_flag_threshold": STEAL_FLAG_PCT,
        "steal_flagged": steal_flagged,
        "steal_reruns": steal_reruns,
    }
    here = Path(__file__).resolve().parent
    qfile = here / "bench_queries.json"
    try:
        qfile.write_text(json.dumps(payload, indent=1))
    except OSError as e:
        print(f"bench: could not write {qfile}: {e}", file=sys.stderr)

    # Round-stamped copy so per-query timings can be diffed ACROSS
    # rounds without tail-capture archaeology: the driver records
    # BENCH_r{N}.json after this run, so the current round is one past
    # the newest existing round file.
    import re

    rounds = [
        int(m.group(1))
        for p in here.glob("BENCH_r*.json")
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", p.name))
    ]
    detail = here / f"BENCH_DETAIL_r{max(rounds, default=0) + 1:02d}.json"
    try:
        detail.write_text(json.dumps(payload, indent=1))
    except OSError as e:
        print(f"bench: could not write {detail}: {e}", file=sys.stderr)

    errors = sum(1 for v in timings.values() if v < 0)
    print(
        json.dumps(
            {
                "metric": "full_query_suite_wall_time",
                "value": total,
                "unit": "sec",
                # inline per-query map per the driver contract; the
                # richer record (steal/iowait context) stays in
                # bench_queries.json / BENCH_DETAIL_r*.json.
                "queries": timings,
                "sf": sf_val,
                "n_queries": len(timings),
                "errors": errors,
                "staging_sec": staging_sec,
                "staging_failed": staging_failed,
                "steal_flagged": len(steal_flagged),
                "queries_file": "bench_queries.json",
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
