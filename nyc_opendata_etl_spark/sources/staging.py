"""Write-time staging: the one mechanism for derived artifacts.

A real lakehouse stages write-time artifacts — posting lists, ANN
indexes, cluster maps, id-ordered stream sources, format copies —
alongside the data and rebuilds them when the source version advances.
Every such artifact in this engine is declared by decorating its
builder::

    @staged("text_index", "documents")
    def _stage_text_index(spark, sf_dir, path) -> None:
        text.build_text_index(load_table(spark, sf_dir, "documents"), path)

and called as ``_stage_text_index(spark, sf_dir) -> path``. The
decorator owns the whole policy:

- **Kind and path.** The artifact lives at ``stage_dir(sf_dir, kind)``:
  ``<stage_root()>/spark_graft_stage/<sf name>_<sf path hash>/<kind>``.
  ``$SPARK_GRAFT_STAGE_ROOT`` overrides the system temp dir, so
  harnesses that isolate ``TMPDIR`` per child still share one staged
  copy.
- **Source table.** The artifact is stale once
  ``<sf_dir>/<src_table>.parquet`` is newer than its marker.
- **Marker.** One file, ``MARKER``, written last. It holds the md5 of
  the builder's own source text (decorator line included), so editing
  a builder invalidates its artifact on the next call. Only the
  decorated body is hashed: a change to code the builder *calls*
  invalidates nothing until the builder itself is edited.
- **Rebuild from empty.** A stale artifact's directory is removed
  before the builder runs, so nothing from a crashed or older build
  survives into the new one.
- **Ordered writes.** Stream sources that must replay in key order are
  written by :func:`write_ordered`; :func:`stamp_in_order` gives files
  strictly increasing mtimes, 1 s apart and backwards from now, and
  checks them at the millisecond precision ``FileStreamSource``
  orders by.

:func:`stage_all` builds every registered artifact (``tools/
stage_warmup.py`` and ``bench.py`` call it before any timed query).
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import os
import shutil
import tempfile
import time
from typing import Callable

#: The completion marker every staged artifact carries (holds the
#: builder-source hash).
MARKER = "_STAGED"

#: kind -> staged builder, in registration (import) order.
STAGED: dict[str, Callable[..., str]] = {}


def stage_root() -> str:
    """Base directory all staged artifacts live under:
    ``$SPARK_GRAFT_STAGE_ROOT`` or the system temp dir."""
    return os.environ.get("SPARK_GRAFT_STAGE_ROOT") or tempfile.gettempdir()


def stage_dir(sf_dir: str, kind: str) -> str:
    """Deterministic staging directory for a derived artifact of
    ``sf_dir`` (keyed by path hash so differently-located replicas —
    e.g. the 10×/100× scale copies — never collide)."""
    key = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:12]
    return os.path.join(
        stage_root(),
        "spark_graft_stage",
        f"{os.path.basename(sf_dir.rstrip('/'))}_{key}",
        kind,
    )


def _is_stale(path: str, sf_dir: str, src_table: str, version: str) -> bool:
    marker = os.path.join(path, MARKER)
    try:
        with open(marker) as fh:
            if fh.read() != version:
                return True
        src = os.path.join(sf_dir, f"{src_table}.parquet")
        return os.path.getmtime(marker) <= os.path.getmtime(src)
    except FileNotFoundError:
        return True


def staged(kind: str, src_table: str):
    """Declare ``build(spark, sf_dir, path) -> None`` as the builder of
    the artifact ``kind`` derived from ``src_table``; the decorated name
    becomes ``(spark, sf_dir) -> path`` (see the module docstring)."""

    def deco(build):
        version = hashlib.md5(inspect.getsource(build).encode()).hexdigest()

        @functools.wraps(build)
        def stage(spark, sf_dir: str) -> str:
            path = stage_dir(sf_dir, kind)
            if _is_stale(path, sf_dir, src_table, version):
                shutil.rmtree(path, ignore_errors=True)
                build(spark, sf_dir, path)
                os.makedirs(path, exist_ok=True)
                with open(os.path.join(path, MARKER), "w") as fh:
                    fh.write(version)
            return path

        stage.version = version
        STAGED[kind] = stage
        return stage

    return deco


def stamp_in_order(paths: list[str]) -> None:
    """Give ``paths`` strictly increasing mtimes in list order — the
    order ``FileStreamSource`` replays them in. Stamps go 1 s apart
    BACKWARDS from now, so none lies in the future (a future stamp
    would outdate the marker written after it and mask a source
    regenerated meanwhile). They are read back and must increase at
    millisecond precision; a filesystem that collapses them raises
    rather than leaving replay order to chance."""
    now = time.time()
    for i, p in enumerate(paths):
        t = now - (len(paths) - i)
        os.utime(p, (t, t))
    ms = [int(os.path.getmtime(p) * 1000) for p in paths]
    if any(a >= b for a, b in zip(ms, ms[1:])):
        raise OSError(f"filesystem collapsed ordered mtimes: {paths}")


def write_ordered(df, key: str, path: str, n_files: int) -> None:
    """Write ``df`` as ``n_files`` parquet files range-partitioned and
    sorted on ``key``, stamped so file replay order is key order (part
    numbering is range order under ``repartitionByRange``)."""
    (
        df.repartitionByRange(n_files, key)
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    stamp_in_order([os.path.join(path, p) for p in parts])


def fresh_run_dir(prefix: str) -> str:
    """Per-invocation scratch dir for a streaming run (sink + index +
    checkpoint), with two-sided leak control: dirs from THIS process
    are removed at interpreter exit (the returned DataFrame is lazy, so
    removal must outlive the caller), and orphans of crashed earlier
    runs are reaped on the next invocation. Liveness, not age, decides
    what is an orphan — a long run legitimately exceeds any age cutoff:
    the owning pid is embedded in the dir name and probed with
    ``os.kill(pid, 0)``; only dead owners are reaped. Dirs without a
    pid tag fall back to a conservative 24 h mtime cutoff."""
    import atexit
    import glob
    import re

    for old in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        m = re.match(re.escape(prefix) + r"p(\d+)_", os.path.basename(old))
        try:
            if m:
                try:
                    os.kill(int(m.group(1)), 0)
                    continue  # owner alive — its run dir is not ours to reap
                except ProcessLookupError:
                    shutil.rmtree(old, ignore_errors=True)
                except PermissionError:
                    continue  # pid exists under another user — treat as live
            elif os.path.getmtime(old) < time.time() - 86400:
                shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass
    run = tempfile.mkdtemp(prefix=f"{prefix}p{os.getpid()}_")
    atexit.register(shutil.rmtree, run, ignore_errors=True)
    return run


def stage_all(spark, sf_dir: str) -> list[tuple[str, float]]:
    """Build (or freshness-probe) every registered artifact for
    ``sf_dir``; returns ``(kind, seconds)`` in registration order. A
    warm call costs only the marker probes. ``bench.py`` runs this
    before its timed suite and reports the cost as ``staging_sec``, so
    a one-time rebuild is never read as a query regression."""
    from nyc_opendata_etl_spark.queries import _load_all

    _load_all()
    out = []
    for kind, stage in list(STAGED.items()):
        t0 = time.time()
        stage(spark, sf_dir)
        out.append((kind, time.time() - t0))
    return out
