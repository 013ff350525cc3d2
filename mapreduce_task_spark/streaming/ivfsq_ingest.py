"""Streaming IVF-SQ index maintenance: the append-log pattern
(ivf/ivfpq/bm25/sq_ingest) applied to the probe-bounded compressed
index (``operators.sq.ivfsq_*``) — completing the delta-freshness
matrix across every persisted index family.

TWO frozen quantizers govern an append here, and BOTH monitors land
per batch:

- the coarse k-means centroids (frozen, like ivf_ingest) — each batch
  is assigned by one broadcast argmin and the standard
  assignment-distance DRIFT row lands (ivf_ingest's row; the shared
  ``batchlog`` trend/signal/compact/reset operate on this index's
  ``drift``/``drift_base`` logs);
- the SQ bounds (frozen, 1-row global or k-row per-list) — each batch
  encodes map-only against them and the SATURATION row counts clamped
  components (sq_ingest's row on the ``sat`` log; per-list bounds
  clamp per list, the join handles it).

Delta rows are (id, cluster, codes[, qv, nq]) in the delta log's own
batch partition sub-partitioned by cluster — the same physical shape
as the base code lists, so ``search_with_delta`` probes BOTH sides
with partition pruning and merges scored candidates before the one
top-k window (the shared ``_ivfsq_score`` tail — results are
bit-for-bit what ``ivfsq_search_index`` returns after
``merge_delta_into_base``, asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.pq import (
    _refine_exact,
    _sub_dist,
    check_index_meta,
    read_index_meta,
)
from ..operators.similarity import assign_clusters, with_quantized
from ..operators.sq import (  # noqa: F401 — build_index: the family build
    _assert_dim,
    _codes_expr,
    _ivfsq_score,
    ivfsq_build_index as build_index,
)
from .batchlog import (  # noqa: F401 — the shared delta and monitor functions
    allow_listed,
    attach_batch_sink,
    compact_delta,
    compact_drift,
    compact_saturation,
    drift_signal,
    log_live,
    merge_delta_into_base,
    read_drift_trend,
    read_saturation_trend,
    reset_drift,
    reset_saturation,
    saturation_signal,
    write_batch_partition,
)
from .ivf_ingest import _ivf_drift_row, _probes
from .sq_ingest import _refine_vectors, _sat_row_from_joined

LOGS = ("delta", "drift", "sat")
VECTORS = "vectors"  # the base dataset holding the (id, qv, nq) rows


def append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prequantized: bool = False,
) -> None:
    """Assign one (micro-)batch to the frozen coarse centroids, encode
    against the frozen SQ bounds, and land it in the delta log's own
    batch partition sub-partitioned by cluster, plus the
    assignment-distance drift row AND the bounds-saturation row — two
    extra map-only passes + 1-row aggregates, replay-idempotent like
    the delta write. Metric, ``per_list`` and ``store_vectors`` come
    from the index meta."""
    spark = batch_df.sparkSession
    meta = read_index_meta(spark, index_path) or {}
    kind = meta.get("kind", "ivfsq")
    if kind != "ivfsq":
        raise ValueError(
            f"index at {index_path} is kind={kind!r} — ivfsq_ingest "
            "appends to IVF-SQ indexes only (use sq_ingest for flat SQ8)"
        )
    metric = meta.get("metric", "l2")
    per_list = bool(meta.get("per_list", False))
    cents = spark.read.parquet(f"{index_path}/centroids")
    bounds = spark.read.parquet(f"{index_path}/bounds")
    if prequantized:
        qd = batch_df.select(id_col, "qv", "nq")
    else:
        qd = with_quantized(batch_df, vec_col, metric=metric).select(
            id_col, "qv", "nq"
        )
    assigned = assign_clusters(qd, cents, id_col)
    if per_list:
        joined = assigned.join(F.broadcast(bounds), "cluster")
    else:
        joined = assigned.crossJoin(F.broadcast(bounds))
    joined = joined.select(
        id_col,
        "cluster",
        "nq",
        _assert_dim(F.col("qv"), F.size("minq"), "ivfsq_append").alias("qv"),
        "minq",
        "maxq",
    )
    if meta.get("store_vectors", True):
        rows = joined.select(
            id_col, "cluster", "qv", "nq", _codes_expr().alias("codes")
        )
    else:
        rows = joined.select(id_col, "cluster", _codes_expr().alias("codes"))
    write_batch_partition(
        rows, batch_id, f"{index_path}/delta", sub_partition_cols=("cluster",)
    )
    write_batch_partition(
        _ivf_drift_row(assigned, cents), batch_id, f"{index_path}/drift"
    )
    write_batch_partition(
        _sat_row_from_joined(joined), batch_id, f"{index_path}/sat"
    )


def streaming_ivfsq_append(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Attach the append sink to an embedding stream; returns the
    StreamingQuery. The index (``ivfsq_build_index``) must exist."""
    return attach_batch_sink(
        stream_df,
        checkpoint,
        [f"{index_path}/{log}" for log in LOGS],
        lambda df, b: append_batch(df, b, index_path, id_col, vec_col),
    )


def search_with_delta(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    nprobe: int = 1,
    metric: str = "l2",
    refine: int = 0,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """IVF-SQ top-k over base code lists PLUS everything appended since
    the build — each side scored through its own join against the
    broadcast probe set (partition pruning holds on base AND delta),
    merged before the one top-k window; bit-for-bit what
    ``ivfsq_search_index`` returns after ``merge_delta_into_base``.
    ``refine`` reranks against base ∪ delta vectors and refuses on a
    ``store_vectors=False`` index; ``filter_ids`` pre-filters
    candidates on both sides."""
    check_index_meta(spark, index_path, metric=metric, dim=dim, kind="ivfsq")
    meta = read_index_meta(spark, index_path) or {}
    per_list = bool(meta.get("per_list", False))
    cents = spark.read.parquet(f"{index_path}/centroids")
    bounds = spark.read.parquet(f"{index_path}/bounds")
    delta = log_live(spark, f"{index_path}/delta")

    def side(df: DataFrame) -> DataFrame:
        c = df.select(F.col(id_col).alias("cand_id"), "cluster", "codes")
        return allow_listed(c, id_col, filter_ids)

    sides = [side(spark.read.parquet(f"{index_path}/codes"))]
    if delta is not None:
        sides.append(side(delta))
    qd = with_quantized(queries, vec_col, metric=metric).select(
        id_col,
        _assert_dim(F.col("qv"), F.lit(dim), "ivfsq_search_with_delta").alias(
            "qv"
        ),
        "nq",
    )
    probes = _probes(qd, cents, id_col, nprobe)
    cvecs = None
    if refine:
        cvecs = _refine_vectors(
            spark, index_path, meta, delta, "IVF-SQ",
            (id_col, "cluster", "qv", "nq"),
        ).select(
            F.col(id_col).alias("cand_id"),
            "cluster",
            F.col("qv").alias("qv_c"),
            F.col("nq").alias("nq_c"),
        )
    return _ivfsq_score(
        probes, sides, bounds, cvecs, k, refine, per_list,
        _sub_dist, _refine_exact,
    )


def drift_baseline(
    spark: SparkSession, index_path: str, id_col: str = "vec_id"
) -> None:
    """Record the build corpus's own mean assignment distance from the
    index's persisted ``vectors`` dataset (requires a
    ``store_vectors=True`` build — the codes alone cannot reproduce
    exact distances). Run once after ``ivfsq_build_index`` or a
    retrain (``reset_drift`` first, see ivf_ingest)."""
    meta = read_index_meta(spark, index_path) or {}
    if not meta.get("store_vectors", True):
        raise ValueError(
            f"IVF-SQ index at {index_path} was built store_vectors=False — "
            "drift_baseline needs the persisted vectors dataset"
        )
    cents = spark.read.parquet(f"{index_path}/centroids")
    vectors = spark.read.parquet(f"{index_path}/vectors")
    _ivf_drift_row(vectors, cents).write.mode("overwrite").parquet(
        f"{index_path}/drift_base"
    )
