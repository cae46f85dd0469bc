"""Output check: every op's Spark result against its registry DuckDB
oracle over the same generated inputs.

Rows are compared as multisets with the canonicalisation of
``tools/check_correctness.py``; column names *and types* must match, the
Spark type mapped to the DuckDB type it corresponds to.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from nyc_opendata_etl_spark.sources.tables import TABLES
from tools.check_correctness import _canon_rows

_DUCK = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp_ntz": "TIMESTAMP",
    "binary": "BLOB",
}


def duck_type(dt: T.DataType) -> str:
    """The DuckDB type name a Spark column type corresponds to."""
    if isinstance(dt, T.ArrayType):
        return duck_type(dt.elementType) + "[]"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.StructType):
        return "STRUCT(" + ", ".join(f"{f.name} {duck_type(f.dataType)}" for f in dt.fields) + ")"
    if isinstance(dt, T.MapType):
        return f"MAP({duck_type(dt.keyType)}, {duck_type(dt.valueType)})"
    if isinstance(dt, T.TimestampType):
        # Spark's session-zone timestamp; the session pins UTC, where it
        # holds the same instants as DuckDB's zone-less TIMESTAMP.
        return "TIMESTAMP"
    return _DUCK.get(dt.simpleString(), dt.simpleString().upper())


class Oracle:
    """DuckDB views over one generated input directory."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def close(self) -> None:
        self.con.close()

    def mismatch(self, sql: str, df: DataFrame) -> str | None:
        """None when ``df`` equals the oracle's result, else the reason."""
        rel = self.con.sql(sql)
        duck_cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
        duck_rows = rel.fetchall()
        spark_cols = sorted((f.name, duck_type(f.dataType)) for f in df.schema.fields)
        spark_rows = [tuple(r) for r in df.collect()]
        if spark_cols != duck_cols:
            return f"columns spark={spark_cols} oracle={duck_cols}"
        if len(spark_rows) != len(duck_rows):
            return f"row count spark={len(spark_rows)} oracle={len(duck_rows)}"
        a = _canon_rows(df.columns, spark_rows)
        b = _canon_rows(list(rel.columns), duck_rows)
        if a != b:
            diff = next((x, y) for x, y in zip(a, b) if x != y)
            return f"values differ; first spark/oracle pair {diff}"
        return None
