"""Streaming IVF index maintenance: keep a persisted ANN index fresh
as embeddings stream in, without rebuilding it per batch.

Production ANN serving splits into build-once (``ivf_build_index``:
train the coarse quantizer, write cluster-partitioned inverted lists)
and search-many (``ivf_search_index``: probe ``nprobe`` lists with
partition pruning). What's missing between the two is FRESHNESS — a
crawler keeps producing embeddings, and re-running the full build per
micro-batch would rescan the whole corpus. The standard fix (FAISS,
Lucene-style) is an append log under a FROZEN quantizer:

- Each micro-batch is assigned to the existing centroids (one
  broadcast argmin over the k-row quantizer — shuffle-free, batch-
  proportional work; the quantizer is NOT retrained, so assignments
  are stable and deterministic) and appended to ``<index>/delta``,
  partitioned by (``__batch``, cluster). The ``batchlog`` protocol
  makes replays idempotent: the body is deterministic in (frozen
  centroids, batch rows), so a crash-replayed batch dynamically
  overwrites exactly its own partition tree with identical rows.
- Search probes BASE lists and the delta log's live view as two
  pruned scans (the broadcast probe join prunes each side to the
  probed clusters) and merges the scored candidates before the top-k
  window — results are identical to a full rebuild over base ∪ delta
  under the same quantizer.
- ``compact_delta`` folds committed batch partitions into the
  negative-id partition (rows are immutable vectors — the fold is a
  re-selection; the win is bounded file/partition counts).
- ``merge_delta_into_base`` is the heavyweight maintenance op
  (Lucene's segment merge): rewrite base lists = base ∪ delta live
  view, then drop the delta — after which a fresh quantizer retrain
  (``ivf_build_index``) can be scheduled offline if drift between the
  frozen centroids and the data distribution has grown.

Drift is the documented tradeoff of every append-under-frozen-
quantizer design: new vectors far from all centroids still land in
their nearest list, inflating it; recall for them is unchanged
(search probes by the same metric) but list-size skew grows until a
retrain. At 100 TB this is the right shape — per-batch cost is
O(batch), index reads stay partition-pruned, and retrains are rare,
scheduled, and offline. Since r11 drift is MEASURED, not just named:
each appended batch lands a mergeable assignment-distance row,
``drift_baseline`` records the build corpus's own number, and
``drift_signal`` exposes the retrain trigger (the ivfpq_ingest
pattern, minus the reconstruction-error term a flat index has no
codes for).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.similarity import (  # noqa: F401 — build_index: the family build
    assign_clusters,
    int_dot,
    ivf_build_index as build_index,
    probe_clusters,
    quantized_cosine,
    with_quantized,
)
from . import batchlog
from .batchlog import (  # noqa: F401 — the shared delta and monitor functions
    allow_listed,
    attach_batch_sink,
    compact_delta,
    compact_drift,
    drift_signal,
    log_live,
    read_drift_trend,
    reset_drift,
    write_batch_partition,
)

LOGS = ("delta", "drift")
VECTORS = "lists"  # the base dataset holding the (id, qv, nq) rows


def append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prequantized: bool = False,
) -> None:
    """Assign one (micro-)batch of embeddings to the index's frozen
    centroids and land it in the delta log's own batch partition,
    sub-partitioned by cluster (same physical shape as the base
    lists, so searches prune identically), plus one mergeable
    drift-monitor row for the batch (see the drift section below) —
    one extra map-only pass + 1-row aggregate, replay-idempotent like
    the delta write itself. ``prequantized`` rows are already (id, qv,
    nq) on the index's grid (the retrain carry path)."""
    spark = batch_df.sparkSession
    cents = spark.read.parquet(f"{index_path}/centroids")
    if prequantized:
        qd = batch_df.select(id_col, "qv", "nq")
    else:
        qd = with_quantized(batch_df, vec_col).select(id_col, "qv", "nq")
    assigned = assign_clusters(qd, cents, id_col)
    write_batch_partition(
        assigned,
        batch_id,
        f"{index_path}/delta",
        sub_partition_cols=("cluster",),
    )
    write_batch_partition(
        _ivf_drift_row(assigned, cents), batch_id, f"{index_path}/drift"
    )


def streaming_ivf_append(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Attach the append sink to an embedding stream; returns the
    StreamingQuery. The index (``ivf_build_index``) must exist."""
    return attach_batch_sink(
        stream_df,
        checkpoint,
        [f"{index_path}/{log}" for log in LOGS],
        lambda df, b: append_batch(df, b, index_path, id_col, vec_col),
    )


def _probes(qd: DataFrame, cents: DataFrame, id_col: str, nprobe: int):
    """(query_id, qv_q, nq_q, cluster): each query's ``nprobe`` nearest
    lists — the probe set the IVF families join candidates against."""
    return probe_clusters(qd, cents, id_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col("qv").alias("qv_q"),
        F.col("nq").alias("nq_q"),
        "cluster",
    )


def search_with_delta(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k over base lists PLUS everything appended since the
    build — identical scoring/tie-break to ``ivf_search_index``, so
    the result matches a full index rebuild over base ∪ delta under
    the same quantizer (asserted in tests).

    Each side is scored through its own join against the broadcast
    probe set (rather than a union of scans before the join), so
    partition pruning to the probed clusters holds on base AND delta
    independently; the merged candidates feed one top-k window.

    ``filter_ids`` pre-filters candidates on BOTH sides to an
    allow-list before scoring — the
    ``ivf_search_index(filter_ids=)`` filtered-search contract
    extended over base and streamed-in rows alike."""
    cents = spark.read.parquet(f"{index_path}/centroids")
    qd = with_quantized(queries, vec_col).select(id_col, "qv", "nq")
    probes = _probes(qd, cents, id_col, nprobe)

    def scored(lists: DataFrame) -> DataFrame:
        cand = lists.select(
            F.col(id_col).alias("cand_id"),
            F.col("qv").alias("qv_c"),
            F.col("nq").alias("nq_c"),
            "cluster",
        )
        cand = allow_listed(cand, id_col, filter_ids)
        return (
            F.broadcast(probes)
            .join(cand, "cluster")
            .filter(F.col("cand_id") != F.col("query_id"))
            .select(
                "query_id",
                "cand_id",
                quantized_cosine(
                    int_dot(F.col("qv_q"), F.col("qv_c")),
                    F.col("nq_q"),
                    F.col("nq_c"),
                ).alias("cos"),
            )
        )

    cand_scored = scored(spark.read.parquet(f"{index_path}/lists"))
    delta = log_live(spark, f"{index_path}/delta")
    if delta is not None:
        cand_scored = cand_scored.unionByName(scored(delta))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return cand_scored.select("*", F.row_number().over(w).alias("rank")).filter(
        F.col("rank") <= k
    )


def merge_delta_into_base(spark: SparkSession, index_path: str) -> int:
    """Rewrite the base inverted lists as base ∪ delta live view and
    drop the merged delta partitions (``batchlog.
    merge_delta_into_base``)."""
    return batchlog.merge_delta_into_base(spark, index_path, ("lists",))


def delta_skew_report(spark: SparkSession, index_path: str) -> DataFrame:
    """Per-cluster list sizes, base vs delta — the quantizer-drift
    signal that decides when ``merge_delta_into_base`` + an offline
    retrain (``ivf_build_index``) are due. Columns:

    - ``n_base`` / ``n_delta`` / ``n_total``: list sizes;
    - ``frac_delta``: how much of the list arrived after the build
      (a uniformly growing index drifts everywhere a little; one
      cluster absorbing most of the delta means the frozen quantizer
      no longer describes the incoming distribution);
    - ``imbalance``: n_total / mean(n_total) — probe cost skew: a
      search probing an imbalanced cluster scans that many times the
      average list.

    Cost: two column-pruned scans (cluster column only) + one tiny
    groupBy — safe to run on a schedule against a 100 TB index.

    r11: the per-list core is the shared ``pq.index_list_stats``
    (which also handles the IVF-PQ codes layout); this report layers
    the two derived drift columns on top. Complementary to the
    assignment-DISTANCE drift monitor below: skew says where probe
    cost is going, distance says whether the quantizer still fits.
    """
    from ..operators.pq import index_list_stats

    per = index_list_stats(spark, index_path).withColumn(
        "frac_delta",
        F.when(F.col("n_total") > 0, F.col("n_delta") / F.col("n_total")).otherwise(
            F.lit(0.0)
        ),
    )
    mean_total = F.broadcast(per.agg(F.avg("n_total").alias("__mean")))
    return (
        per.join(mean_total)
        .withColumn(
            "imbalance",
            F.when(
                F.col("__mean") > 0, F.col("n_total") / F.col("__mean")
            ).otherwise(F.lit(0.0)),
        )
        .drop("__mean")
    )


# ---------------------------------------------------------------------------
# Quantizer drift monitor (r11) — the plain-IVF sibling of
# ivfpq_ingest's: one mergeable row per appended batch holding the
# exact sum of squared distances from each vector to its frozen home
# centroid. No reconstruction-error term here — the flat index stores
# exact vectors, so the only drifting quantity is coarse-assignment fit
# (list skew / falling recall at fixed nprobe). Trend, signal,
# compaction and reset are the shared ``batchlog`` monitor functions.
# ---------------------------------------------------------------------------


def _ivf_drift_row(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """(n, sum_assign_d) over an assigned (id, qv, nq, cluster) frame —
    map-only against the broadcast k-row quantizer, then one 1-row
    aggregate. decimal(38,0) across rows so corpus-scale sums cannot
    overflow int64."""
    from ..operators.pq import _sub_dist

    cj = cents.select(F.col("j").alias("cluster"), "cqv")
    return (
        assigned.join(F.broadcast(cj), "cluster")
        .select(
            _sub_dist(F.col("qv"), F.col("cqv"))
            .cast("decimal(38,0)")
            .alias("__ad")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__ad").alias("sum_assign_d"),
        )
    )


def drift_baseline(
    spark: SparkSession, index_path: str, id_col: str = "vec_id"
) -> None:
    """Record the build corpus's own mean assignment distance as the
    comparison base, from the index's persisted ``lists`` dataset (the
    raw corpus is never rescanned). Run once after ``ivf_build_index``
    or a retrain — after a retrain, ``reset_drift`` FIRST (old rows
    measured under the old quantizer poison the new ratios)."""
    cents = spark.read.parquet(f"{index_path}/centroids")
    lists = spark.read.parquet(f"{index_path}/lists")
    _ivf_drift_row(lists, cents).write.mode("overwrite").parquet(
        f"{index_path}/drift_base"
    )
