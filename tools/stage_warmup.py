"""Prebuild every write-time staged artifact for a table directory.

The engine stages derived artifacts once per source version and
builder version (sources/staging.py). Queries amortize these; the
FIRST query after a source or builder change pays the build.

This tool runs all builders up front so a following bench/sweep run
measures pure query cost (the steady-state number a cluster sees),
never a build — and so the build cost itself is measured and printed
per artifact instead of silently folded into whichever query ran
first.

Usage:
    python tools/stage_warmup.py [sf_dir]        # default /root/testdata/sf0.1
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from nyc_opendata_etl_spark.session import get_spark
    from nyc_opendata_etl_spark.sources.staging import stage_all

    spark = get_spark("stage-warmup")
    spark.sparkContext.setLogLevel("ERROR")

    total = 0.0
    for kind, dt in stage_all(spark, sf_dir):
        total += dt
        state = "built" if dt > 1.0 else "warm"
        print(f"{state:5s} {dt:7.1f}s  {kind}")
    print(f"total {total:7.1f}s  ({sf_dir})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
