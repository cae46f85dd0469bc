"""The benchmark's workloads and the op runners that drive the engine.

Each op goes through the engine's public layer functions, each call
inside its own span:

- registry ops: ``queries.build`` (the registry query builder, which
  also fires the builder's eager Spark jobs), ``plans.plan`` (explicit
  Catalyst planning, traced runs only) and ``operators.execute`` (the
  ``noop`` action);
- drains: ``streaming.drain`` around a ``streaming.*`` drain function,
  with one ``streaming.batch`` child per micro-batch taken from the
  streaming progress events.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from nyc_opendata_etl_spark.queries import REGISTRY, queries
from perfbench.gen import Size
from perfbench.probe import BatchListener, SparkCounters, plan_phases
from perfbench.trace import Tracer

STAR_OPS = (
    "pipeline_311_fact",
    "pipeline_parking_fact",
    "pipeline_integrated_fact",
    "dim_surrogate",
    "dim_first_per_group",
    "dim_late_arriving",
    "assign_keys_left",
    "star_revenue",
    "scd1_merge",
    "scd2_merge",
    "scd2_point_in_time",
)
CORPUS_OPS = (
    "dedup_minhash_lsh",
    "dedup_clusters",
    "corpus_e2e_curation",
    "similarity_ivfpq_topk",
    "search_bm25",
    "text_tfidf_top",
    "dedup_semantic",
    "multimodal_image_neardup",
)
#: Drain ops, each checked against the named registry oracle.
STREAM_OPS = {"stream_dedup_ingest": "stream_dedup_ingest", "stream_index_ingest": "search_bm25"}
BM25_TERMS = ["hash", "join", "vector"]


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    size: Size
    stream_files: int = 0  # > 0: ops are drains over this many files


def _corpus_size(base_docs: int, base_vecs: int, copies: int) -> Size:
    return Size(
        customers=150, suppliers=10, parts=200, orders=1500, events=1000, users=15,
        documents=base_docs, embeddings=base_vecs, copies=copies,
    )


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "star_etl",
            STAR_OPS,
            Size(customers=1500, suppliers=100, parts=2000, orders=15000,
                 events=10000, users=150, documents=500, embeddings=500),
        ),
        # Run on demand and by the self-check, not listed in BENCHMARK.json:
        # one run of it costs about as much as the two listed workloads
        # together, which the benchmark's total time budget cannot hold.
        Workload("corpus_10x", CORPUS_OPS, _corpus_size(250, 150, 10)),
        Workload("stream_ingest", tuple(STREAM_OPS), _corpus_size(250, 150, 10), stream_files=6),
    )
}

#: The self-check's size: reference sf0.001 row counts, no replication.
TINY = Size(customers=150, suppliers=10, parts=200, orders=1500, events=1000,
            users=15, documents=100, embeddings=100)


def describe(e: Exception) -> str:
    """One line naming an exception, for the report."""
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0][:300] if lines else ''}"


@dataclass
class OpResult:
    op: str
    df: DataFrame | None = None
    error: str | None = None
    phases: dict[str, float] | None = None
    batches: list | None = None
    input_rows: int = 0


class OpRunner:
    """Runs one op of a workload against generated inputs."""

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        stream_dir: str,
        scratch_dir: str,
        tracer: Tracer,
        counters: SparkCounters,
        listener: BatchListener,
    ) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.stream_dir = stream_dir
        self.scratch_dir = scratch_dir
        self.tracer = tracer
        self.counters = counters
        self.listener = listener
        self.fns = queries()
        self.stream_rows = 0

    def oracle_sql(self, op: str) -> str:
        return REGISTRY[STREAM_OPS.get(op, op)].oracle

    def run(self, op: str, plan: bool) -> OpResult:
        res = OpResult(op)
        with self.tracer.span("op", op):
            try:
                if op in STREAM_OPS:
                    res.df = self._drain(op, res, plan)
                else:
                    res.df = self._query(lambda: self.fns[op](self.spark, self.data_dir), res, plan)
            except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
                res.error = describe(e)
        return res

    def _query(self, build, res: OpResult, plan: bool) -> DataFrame:
        with self.tracer.span("queries.build"):
            df = build()
        if plan:
            with self.tracer.span("plans.plan"):
                res.phases = plan_phases(df)
        with self.tracer.span("operators.execute"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def _drain(self, op: str, res: OpResult, plan: bool) -> DataFrame:
        from nyc_opendata_etl_spark.streaming.index_ingest import (
            bm25_topk_delta,
            stream_index_ingest,
        )
        from nyc_opendata_etl_spark.streaming.ingest import stream_dedup_ingest

        run = os.path.join(self.scratch_dir, f"{op}-{uuid.uuid4().hex[:8]}")
        name = f"bench_{op}_{uuid.uuid4().hex[:8]}"
        stream = (
            self.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(self.stream_dir)
        )
        with self.tracer.span("streaming.drain") as drain:
            if op == "stream_dedup_ingest":
                stream_dedup_ingest(stream, f"{run}/idx", f"{run}/out",
                                    query_name=name, checkpoint_location=f"{run}/ckpt")
            else:
                stream_index_ingest(stream, f"{run}/idx",
                                    query_name=name, checkpoint_location=f"{run}/ckpt")
        self.counters.drain_events()
        res.batches = self.listener.of(name)
        res.input_rows = self.stream_rows
        for b in res.batches:
            start = b.start_ms / 1e3
            self.tracer.add("streaming.batch", start,
                            start + b.duration_ms.get("triggerExecution", 0) / 1e3, drain)
        if op == "stream_dedup_ingest":
            return self.spark.read.parquet(f"{run}/out").select("doc_id")
        return self._query(lambda: bm25_topk_delta(self.spark, f"{run}/idx", BM25_TERMS),
                           res, plan)

    def clear_scratch(self) -> None:
        shutil.rmtree(self.scratch_dir, ignore_errors=True)
        os.makedirs(self.scratch_dir, exist_ok=True)
