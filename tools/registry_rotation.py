"""Report the registry-rotation state the driver will sample.

Reads every CORRECTNESS_r*.json in the repo root through
``queries.latest_verdicts`` (the same verdicts ``queries()`` orders by)
and reports, against the current registry:
- red rows (checked but not fully green — fix before anything else),
- rows-only runs (err == 'no_oracle') as a SEPARATE category — they are
  weaker verdicts and must not rotate out of the prefix as if
  hash-verified,
- queries with NO driver verdict yet,
- whether that must-verify set fits the driver's ~50-entry prefix, and
  the last-verified round of the greens that fill the rest of it.

Usage: python tools/registry_rotation.py
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

PREFIX = 50


def main() -> int:
    from nyc_opendata_etl_spark.queries import _ordered, latest_verdicts

    order = list(_ordered())
    verdicts = latest_verdicts()
    print(f"registry: {len(order)} queries")
    for kind, what in (
        ("red", "fix first, they lead the order"),
        ("rows-only", "weak verdict, kept at the front"),
        (None, "no verdict on record, kept at the front"),
    ):
        names = [n for n in order if verdicts.get(n, (None, 0))[0] == kind]
        print(f"\n{kind or 'never-checked'} ({len(names)}) — {what}:")
        for n in names:
            print(f"    {n}" + (f"  (r{verdicts[n][1]})" if kind else ""))
    need = sum(verdicts.get(n, (None, 0))[0] != "green" for n in order)
    greens = Counter(
        verdicts[n][1] for n in order[need:PREFIX] if n in verdicts
    )
    print(
        f"\nprefix budget: {need} queries need a (re)verdict; driver checks "
        f"~{PREFIX} per round → {'fits' if need <= PREFIX else 'DOES NOT FIT'};"
        f" the other {max(PREFIX - need, 0)} slots go to the stalest greens "
        f"(last verified: {', '.join(f'r{r}×{c}' for r, c in sorted(greens.items()))})"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
