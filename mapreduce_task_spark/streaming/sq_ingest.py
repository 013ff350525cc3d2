"""Streaming flat-SQ8 index maintenance: keep a persisted SQ index
(``operators.sq.sq_build_index``) fresh as embeddings stream in,
without rebuilding — the ivf/ivfpq/bm25 append-log pattern applied to
the one index family that had none (r11 verdict #3).

The quantizer here is the per-dimension (minq, maxq) BOUNDS frame, and
it stays FROZEN across appends (exactly like the frozen centroids /
codebooks of the IVF family): each micro-batch encodes against the
build-time bounds in one map-only pass and lands in
``<index>/delta``'s own batch partition, so replays dynamically
overwrite exactly their own rows (deterministic in (frozen bounds,
batch rows)). Search unions base codes with the delta log's live view
before the one top-k window — bit-for-bit what ``sq_search_index``
returns after ``merge_delta_into_base`` folds the delta in (asserted
in tests; a full REBUILD would refit bounds and legitimately differ,
the same way an IVF rebuild retrains centroids).

The frozen-bounds degradation is SATURATION, not drift: a new vector
component outside [minq, maxq] clamps to the nearest end
(``sq_encode``'s documented contract) — arithmetic stays exact, but
the clamped component carries no distance information, so recall
decays as the stream leaves the fitted range. ``sq_encode`` clamps
SILENTLY; this module counts it: each appended batch lands one
mergeable (n, n_components, n_clamped) row (exact decimal(38,0) sums,
100 TB-safe merges), and ``saturation_signal`` exposes the refit
trigger. Unlike assignment-distance drift there is no baseline to
record — the build corpus saturates NOTHING by construction (bounds
are its min/max), so the clamped fraction is directly comparable to
zero and the threshold is absolute.

Retrain contract: when ``saturation_signal`` trips, schedule an
offline ``sq_build_index`` over base ∪ delta (fresh bounds), then
``reset_saturation``. Cite: extension family (SURVEY §2.6); no
reference analogue (the reference has no vector ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.pq import check_index_meta, read_index_meta
from ..operators.similarity import with_quantized
from ..operators.sq import _assert_dim, _codes_expr, _sq_flat_score
from . import batchlog
from .batchlog import (  # noqa: F401 — the shared monitor functions
    allow_listed,
    attach_batch_sink,
    compact_saturation,
    log_live,
    read_saturation_trend,
    reset_saturation,
    saturation_signal,
    write_batch_partition,
)

LOGS = ("delta", "sat")


def append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Encode one (micro-)batch against the index's FROZEN bounds and
    land it in the delta log's own batch partition. Delta rows carry
    (id, codes) plus (qv, nq) when the index stores vectors (so the
    refine stage covers streamed-in rows too). Also lands one
    mergeable clamp-counter row — one extra map-only pass + 1-row
    aggregate, replay-idempotent like the delta write itself."""
    spark = batch_df.sparkSession
    meta = read_index_meta(spark, index_path) or {}
    kind = meta.get("kind", "sq8")
    if kind != "sq8":
        raise ValueError(
            f"index at {index_path} is kind={kind!r} — sq_ingest appends "
            "to flat SQ8 indexes only (use ivfsq_ingest for IVF-SQ)"
        )
    metric = meta.get("metric", "l2")
    bounds = spark.read.parquet(f"{index_path}/bounds")
    qd = with_quantized(batch_df, vec_col, metric=metric).select(
        id_col, "qv", "nq"
    )
    joined = qd.crossJoin(F.broadcast(bounds)).select(
        id_col,
        "nq",
        _assert_dim(F.col("qv"), F.size("minq"), "sq_append").alias("qv"),
        "minq",
        "maxq",
    )
    if meta.get("store_vectors", True):
        rows = joined.select(id_col, "qv", "nq", _codes_expr().alias("codes"))
    else:
        rows = joined.select(id_col, _codes_expr().alias("codes"))
    write_batch_partition(rows, batch_id, f"{index_path}/delta")
    write_batch_partition(
        _saturation_row(qd, bounds), batch_id, f"{index_path}/sat"
    )


def streaming_sq_append(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Attach the append sink to an embedding stream; returns the
    StreamingQuery. The index (``sq_build_index``) must exist."""
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
    metric: str = "l2",
    refine: int = 0,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Flat-SQ top-k over base codes PLUS everything appended since
    the build — the shared ``_sq_flat_score`` tail over base ∪ delta,
    so the result is bit-for-bit what ``sq_search_index`` returns
    after ``merge_delta_into_base`` (asserted in tests). ``refine``
    reranks against base ∪ delta vectors and refuses on a
    ``store_vectors=False`` index; ``filter_ids`` pre-filters
    candidates on both sides before scoring (the package-wide
    filtered-search contract)."""
    check_index_meta(spark, index_path, metric=metric, dim=dim, kind="sq8")
    meta = read_index_meta(spark, index_path) or {}
    bounds = spark.read.parquet(f"{index_path}/bounds")
    cand = spark.read.parquet(f"{index_path}/codes").select(
        F.col(id_col).alias("cand_id"), "codes"
    )
    delta = log_live(spark, f"{index_path}/delta")
    if delta is not None:
        cand = cand.unionByName(
            delta.select(F.col(id_col).alias("cand_id"), "codes")
        )
    cand = allow_listed(cand, id_col, filter_ids)
    qd = with_quantized(queries, vec_col, metric=metric).select(
        id_col,
        _assert_dim(F.col("qv"), F.lit(dim), "sq_search_with_delta").alias(
            "qv"
        ),
        "nq",
    )
    vectors = None
    if refine:
        vectors = _refine_vectors(
            spark, index_path, meta, delta, "SQ", (id_col, "qv", "nq")
        )
    return _sq_flat_score(qd, cand, bounds, id_col, k, refine, vectors)


def _refine_vectors(
    spark: SparkSession, index_path: str, meta: dict, delta, label: str, cols
) -> DataFrame:
    """Base ∪ delta ``cols`` of the stored vectors the refine stage
    reranks against; refuses an index built ``store_vectors=False``."""
    if not meta.get("store_vectors", True):
        raise ValueError(
            f"{label} index at {index_path} was built store_vectors=False "
            "— it cannot serve refine>0; rebuild with store_vectors=True "
            "or search with refine=0"
        )
    vectors = spark.read.parquet(f"{index_path}/vectors").select(*cols)
    if delta is not None:
        vectors = vectors.unionByName(delta.select(*cols))
    return vectors


def compact_delta(spark: SparkSession, index_path: str, up_to_batch: int) -> int:
    """``batchlog.compact_delta`` on the flat (unclustered) delta."""
    return batchlog.compact_delta(spark, index_path, up_to_batch, ())


def merge_delta_into_base(spark: SparkSession, index_path: str) -> int:
    """``batchlog.merge_delta_into_base`` on the flat (unclustered)
    codes and vectors; the bounds stay frozen (a merge is not a
    refit)."""
    return batchlog.merge_delta_into_base(
        spark, index_path, sub_partition_cols=()
    )


# ---------------------------------------------------------------------------
# Bounds-saturation monitor — the SQ analogue of quantizer drift. The
# row below holds its sums; trend, signal, compaction and reset are the
# shared ``batchlog`` monitor functions.
# ---------------------------------------------------------------------------


def _saturation_row(qd: DataFrame, bounds: DataFrame) -> DataFrame:
    """(n, n_components, n_clamped) over a quantized batch frame —
    map-only against the broadcast bounds row, then one 1-row
    aggregate. A component clamps when it falls outside [minq, maxq]
    (for a degenerate minq == maxq dimension, any deviation from the
    constant counts — encode emits 0 and decode returns minq there).
    decimal(38,0) sums so corpus-scale merges cannot overflow."""
    return _sat_row_from_joined(qd.crossJoin(F.broadcast(bounds)))


def _sat_row_from_joined(joined: DataFrame) -> DataFrame:
    """The saturation aggregate over a frame already carrying
    (qv, minq, maxq) — shared with ivfsq_ingest, whose per-list bounds
    join on cluster instead of the flat index's 1-row crossJoin."""
    below = F.aggregate(
        F.zip_with("qv", "minq", lambda v, lo: (v < lo).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    above = F.aggregate(
        F.zip_with("qv", "maxq", lambda v, hi: (v > hi).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        joined
        .select(
            F.size("qv").cast("decimal(38,0)").alias("__nc"),
            (below + above).cast("decimal(38,0)").alias("__cl"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__nc").alias("n_components"),
            F.sum("__cl").alias("n_clamped"),
        )
    )
