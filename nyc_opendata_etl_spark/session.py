"""SparkSession factory tuned for this engine.

Defaults target the test/bench harness (single JVM, ``local[N]``) but every
knob is chosen to also be the right default on a real multi-executor
cluster at 100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy).
- ANSI off: the reference's semantics are permissive — every parse/cast
  failure becomes NULL (pandas ``errors="coerce"``, see SURVEY §2 N2/D1);
  Spark 4 defaults ANSI on, which would raise instead.
- Session timezone UTC so timestamp arithmetic matches the DuckDB oracle
  bit-for-bit regardless of host timezone.
- Arrow enabled for the (rare) Pandas-UDF paths.
- Broadcast threshold left at default 10 MB; dimension tables in this
  engine are all ≪ that, so dim joins plan as broadcast hash joins.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Spark's supported spark.io.compression.codec short names.
_IO_CODECS = frozenset({"lz4", "lzf", "snappy", "zstd"})


def _io_codec() -> str:
    """The shuffle/spill block codec, validated EARLY: a typo in
    SPARK_GRAFT_IO_CODEC (e.g. 'zstandard') would otherwise surface as
    an opaque JVM ClassNotFound at the first shuffle — and in a
    session-reusing test run not at all, since getOrCreate() silently
    ignores configs once a session exists (ADVICE r16)."""
    codec = os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd").strip().lower()
    if codec not in _IO_CODECS:
        raise ValueError(
            f"SPARK_GRAFT_IO_CODEC={codec!r} is not accepted: only the short "
            f"codec names {sorted(_IO_CODECS)} are (not CompressionCodec "
            f"class names)"
        )
    return codec


def get_spark(
    app_name: str = "nyc-opendata-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback ``local[*]``).
    ``shuffle_partitions`` defaults to the parallelism of the master — on a
    real cluster you would size this to ~2-3× total cores and let AQE
    coalesce; at 100 TB you'd raise it so post-shuffle partitions stay
    ≲ 200 MB.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Shuffle/spill/broadcast block codec (guide §2.3/§9): zstd's
        # better ratio wins exactly where shuffle+spill bytes dominate —
        # measured at the 100× replica: market_basket_pairs_relative
        # (the spill-heaviest pair stage) 49.0→34.9 s warm-min (−29%),
        # CPU-bound kernels (dedup_clusters, containment, q9) neutral;
        # sf0.1 bench neutral (tiny shuffles either way). Env override
        # for boxes where lz4's lower CPU cost wins instead.
        .config("spark.io.compression.codec", _io_codec())
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # managed-table location for bucketed tables (sources/bucketed.py);
        # keep artifacts out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        # dynamic partition overwrite: re-running one backfill window
        # replaces only that window's partitions (operators/backfill.py)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
