"""Round-16 registrations, LIVE since the r16 flip (the
pending_r13/r14/r15 playbook): exactly-once STREAMING near-dup
cluster-map maintenance and the ANN deletion lifecycle (takedown +
compact of the IVF-PQ index), both built in round 15 after the r15
verdict window was already slot-exact at 50, flipped live in round 16
(registry 221 → 223). ``PENDING`` stays as this module's registration
manifest — tests/test_round15_ops.py keeps running the exact driver
compare against it in-suite."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.queries import REGISTRY, llm_ops, register  # noqa: F401
from nyc_opendata_etl_spark.sources.staging import fresh_run_dir, staged, write_ordered
from nyc_opendata_etl_spark.sources.tables import load_table

PENDING: dict[str, tuple] = {}


def _pending(name: str, oracle: str):
    """r15 staging decorator, now ALSO the live registration (the r16
    flip): records the (fn, oracle) pair for the in-suite differential
    test and registers it with the query registry."""

    def deco(fn):
        PENDING[name] = (fn, oracle)
        return register(name, oracle)(fn)

    return deco


@staged("docs_odd_idordered", "documents")
def _stage_docs_odd_idordered(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The ODD-doc_id half of documents as 8 id-range-ordered parquet
    files replayed in id order (sources/staging.write_ordered), so the
    cluster ingest stream drains the maintenance half in deterministic
    id-ordered micro-batches whose ids are disjoint from the even-half
    build — the batch updater's new-ids-only contract."""
    docs = load_table(spark, sf_dir, "documents")
    odd = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    write_ordered(odd, "doc_id", path, 8)


@staged("dup_cluster_index_stream", "documents")
def _stage_cluster_stream(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The STREAMING-maintained cluster map, staged once per corpus
    version: from-scratch build over the even half (batch −1), then
    the odd half arrives through the exactly-once streaming sink
    (4 AvailableNow micro-batches over 8 id-ordered files), each epoch
    folding O(batch) work into the artifact — the
    dedup_clusters_incremental geometry with the single maintenance
    batch replaced by a genuine Structured Streaming drain, so that
    query's oracle transfers VERBATIM."""
    import uuid

    from nyc_opendata_etl_spark.operators import cluster_index as ci
    from nyc_opendata_etl_spark.streaming.cluster_ingest import (
        stream_cluster_ingest,
    )

    docs = load_table(spark, sf_dir, "documents")
    ci.build_dup_cluster_index(docs.filter(F.col("doc_id") % 2 == 0), path)
    src = _stage_docs_odd_idordered(spark, sf_dir)
    run = fresh_run_dir("spark_graft_clidx_run_")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    stream_cluster_ingest(
        stream,
        path,
        query_name=f"clidx_{uuid.uuid4().hex[:8]}",
        checkpoint_location=f"{run}/ckpt",
    )


@_pending(
    # Proof by identity: the streamed cluster map must reproduce
    # dedup_clusters' EXACT output over the same corpus, so its oracle
    # is dedup_clusters' recursive-CTE oracle VERBATIM (shared by
    # reference — a threshold or shingle tweak can never desynchronize
    # the two; the dedup_clusters_incremental proof, streaming
    # edition).
    "stream_cluster_ingest",
    oracle=REGISTRY["dedup_clusters"].oracle,
)
def q_stream_cluster_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from the STREAMING-maintained cluster map
    (streaming/cluster_ingest.py): the even half is clustered from
    scratch, the odd half arrives in 4 exactly-once micro-batches,
    each folded in O(batch) by the replay-idempotent batch updater —
    strictly-below-batch reads + per-batch dynamic overwrite mean a
    replayed epoch rewrites byte-identical content (no marker, no
    dedup pass; the property the r15 ADVICE rework bought). A green
    row proves 4 successive contract-preserving folds reconstruct the
    from-scratch clustering through a real Structured Streaming drain
    — the hourly-cluster-ingest contract end to end. Completes the
    streaming maintenance family: BM25 postings, IVF-PQ codes, and
    now the cluster map."""
    from nyc_opendata_etl_spark.operators import cluster_index as ci

    path = _stage_cluster_stream(spark, sf_dir)
    return ci.read_dup_clusters(spark, path)


@staged("ivfpq_index_deleted", "embeddings")
def _stage_ivfpq_index_deleted(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The DELETION lifecycle of the IVF-PQ index: incremental
    construction (build even half, append odd half — the
    similarity_ivfpq_incremental geometry, so that oracle transfers by
    derivation), then TAKEDOWN of every vec_id ≡ 3 (mod 7) via
    compact_ivfpq_index(delete_ids) — code rows dropped and the
    cell-partitioned layout rewritten, quantizers untouched (they
    survive deletion even of their own training vectors: vec_id 10 is
    both a centroid source and deleted, deliberately)."""
    from nyc_opendata_etl_spark.operators import similarity
    from nyc_opendata_etl_spark.operators.index_maintenance import (
        compact_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    similarity.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), path)
    similarity.update_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), path)
    compact_ivfpq_index(
        spark,
        path,
        delete_ids=emb.filter(F.col("vec_id") % 7 == 3).select(
            F.col("vec_id").alias("id")
        ),
    )


def _ivfpq_after_delete_oracle() -> str:
    """similarity_ivfpq_incremental's oracle BY DERIVATION: identical
    protocol replay (build-half quantizers, full-corpus assignment)
    with deleted vectors excluded from candidacy AND from the exact
    top-k the recall boolean compares against. Derived, not copied, so
    a quantizer/ADC tweak in the parent oracle flows through; the
    anchors are asserted so a parent edit that breaks them fails at
    import, not silently at compare time."""
    base = REGISTRY["similarity_ivfpq_incremental"].oracle
    a1 = "JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> 43"
    a2 = "WHERE e.vec_id <> 43"
    assert base.count(a1) == 1 and base.count(a2) == 1, (
        "parent oracle anchors moved; re-derive the after-delete oracle"
    )
    out = base.replace(a1, a1 + " AND a.vec_id % 7 <> 3")
    out = out.replace(a2, a2 + " AND e.vec_id % 7 <> 3")
    return out


@_pending("similarity_after_delete", oracle=_ivfpq_after_delete_oracle())
def q_similarity_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probe AFTER TAKEDOWN — the deletion lifecycle the text
    index already proves (search_bm25_after_delete), ANN edition,
    completing the IVF-PQ family's lifecycle: build, incremental
    append, exactly-once streaming ingest, and now delete + compact.
    Every vec_id ≡ 3 (mod 7) is removed from the staged incremental
    index via compact_ivfpq_index (code rows dropped, cell layout
    rewritten, quantizers kept — the FAISS remove_ids() contract);
    the unchanged probe (query 43, a survivor) must then return
    exactly what the derivation oracle computes over survivors — a
    green row proves deleted vectors can never resurface as
    candidates AND that the exact-recall boolean is judged against
    the surviving corpus, the right-to-be-forgotten contract for an
    embedding store."""
    from nyc_opendata_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    index = _stage_ivfpq_index_deleted(spark, sf_dir)
    return similarity.ivfpq_topk_indexed(spark, emb, index, query_vec_id=43)
