"""Registry-wide lint against known driver-contract hazards.

Two failure classes discovered by driver rounds (NOTES.md "Conventions
to preserve", memory: driver-contract-quirks):

1. The driver's pandas canonicalizer sorts rows over all columns, so an
   output column whose Python value is unhashable (list/dict — i.e.
   Spark ArrayType/MapType/StructType) dies with
   "unhashable type: 'list'" and the query can NEVER go green
   (events_user_sequences, round 5). Registered queries must emit
   scalars only — string-join arrays before returning.

2. DuckDB ``sum(integer)`` returns HUGEINT, which pandas canonicalizes
   as float ("2879.0") while Spark's bigint prints "2879" — a hash
   mismatch on EQUAL values (q12_latency_priority, round 5). Every
   integer sum in an oracle must be CAST to BIGINT; ``DESCRIBE`` plans
   the query without executing it, so the whole registry lints in
   seconds.

Both lints run the REAL artifacts (Spark plan schemas / DuckDB planner
types), not regexes, so new queries are covered automatically.
"""

from __future__ import annotations

import os

from nyc_opendata_etl_spark.queries import _ordered
from tools.check_correctness import connect

SF_DIR = os.environ.get("SPARK_GRAFT_LINT_SF_DIR", "/root/testdata/sf0.001")


def test_oracle_columns_never_hugeint():
    con = connect(SF_DIR)
    offenders: dict[str, list[str]] = {}
    for name, qd in _ordered().items():
        if qd.oracle is None:
            continue
        cols = con.execute(f"DESCRIBE {qd.oracle}").fetchall()
        bad = [f"{c[0]}:{c[1]}" for c in cols if "HUGEINT" in c[1].upper()]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle columns typed HUGEINT (pandas canonicalizes as float → "
        f"hash mismatch on equal values; CAST ... AS BIGINT): {offenders}"
    )


def test_spark_outputs_are_scalar_typed(spark):
    """Build every registered query's DataFrame and reject output
    columns the driver canonicalizer cannot hash (array/map/struct).
    Plans are built lazily — only iterative operators execute jobs, at
    sf0.001."""
    from pyspark.sql import types as T

    offenders: dict[str, list[str]] = {}
    for name, qd in _ordered().items():
        df = qd.fn(spark, SF_DIR)
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "registered queries emitting non-scalar columns (driver pandas "
        f"canonicalizer dies on unhashable values): {offenders}"
    )


def test_every_query_function_is_registered():
    """``@register`` is the only way a query enters the engine: every
    top-level ``q_*`` function under queries/ is the ``fn`` of a
    REGISTRY entry, so a built-but-unregistered query (which the driver
    never samples) cannot come back."""
    import ast
    import importlib
    import pathlib
    import pkgutil

    import nyc_opendata_etl_spark.queries as q

    q._load_all()
    registered = {qd.fn for qd in q.REGISTRY.values()}
    unregistered = []
    for info in pkgutil.iter_modules(q.__path__):
        mod = importlib.import_module(f"{q.__name__}.{info.name}")
        for node in ast.parse(pathlib.Path(mod.__file__).read_text()).body:
            if isinstance(node, ast.FunctionDef) and node.name.startswith("q_"):
                if getattr(mod, node.name) not in registered:
                    unregistered.append(f"{info.name}:{node.name}")
    assert not unregistered, f"q_* functions not in REGISTRY: {unregistered}"


def test_oracle_outputs_never_emit_negative_zero():
    """Signed-zero cross-engine law (r16, NOTES item 20): Spark's
    round() (BigDecimal) can never emit -0.0, DuckDB's round() and
    np.round keep it, and the repr-based value compare distinguishes
    them — so an oracle cell of -0.0 is a latent hash mismatch. The
    registered surface is deterministically safe on the fixed testdata
    (this test IS that proof, re-run every suite); new kernels and
    oracles normalize with `+ 0` / `sims += 0.0`. A failure here means
    a new oracle (or new testdata) crossed the law — normalize its
    rounding the similarity_knn_join way, don't relax the pin."""
    import math

    con = connect(SF_DIR)
    oracles = {n: qd.oracle for n, qd in _ordered().items() if qd.oracle}
    offenders = []
    for name, sql in oracles.items():
        for row in con.execute(sql).fetchall():
            if any(
                isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0
                for v in row
            ):
                offenders.append(name)
                break
    assert not offenders, f"oracles emitting -0.0 cells: {offenders}"


def test_staging_lives_in_one_module():
    """One staging mechanism (sources/staging.py): no other package
    module stamps mtimes, probes freshness or computes a stage path
    itself, and every ``_stage_*`` builder under queries/ is declared
    with ``@staged(kind, src_table)`` — a hand-rolled builder would
    skip the version marker, the rebuild-from-empty rule and the
    stage_all enumeration."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "nyc_opendata_etl_spark"
    staging_py = pkg / "sources" / "staging.py"
    banned = ("os.utime", "is_stale(", "stage_root(", "stage_dir(")
    offenders = []
    undecorated = []
    for py in sorted(pkg.rglob("*.py")):
        if py == staging_py:
            continue
        src = py.read_text()
        offenders += [f"{py.name}: {b}" for b in banned if b in src]
        if py.parent.name != "queries":
            continue
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef) and node.name.startswith("_stage_"):
                decos = [
                    d.func.id
                    for d in node.decorator_list
                    if isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
                ]
                if "staged" not in decos:
                    undecorated.append(f"{py.name}:{node.name}")
    assert not offenders, f"staging logic outside sources/staging.py: {offenders}"
    assert not undecorated, f"_stage_* builders without @staged: {undecorated}"
