"""Streaming IVF-PQ index maintenance: keep the compressed (codes +
refine vectors) ANN index fresh as embeddings stream in, without
rebuilding or retraining per batch.

The plain-IVF twin (``ivf_ingest.py``) appends assigned vectors under
a frozen quantizer; this module does the same for the IVF-PQ index
(``operators/pq.py:ivfpq_build_index``), whose at-rest artifacts are
the coarse quantizer, the residual codebook, cluster-partitioned
m-code inverted lists, AND (r10) the cluster-partitioned original
vectors the exact-rerank refine stage reads:

- Each micro-batch is encoded against the FROZEN coarse quantizer +
  residual codebook (``ivfpq_encode_batch`` — one shuffle-free
  broadcast projection; no Lloyd rounds anywhere on the hot path) and
  appended to ``<index>/delta``, partitioned by (``__batch``,
  cluster). One delta log carries both payloads per row — the m codes
  for ADC and (qv, nq) for refine — so codes and vectors can never
  drift apart across a crash. Replays are idempotent: the encoding is
  deterministic in (frozen index, batch rows), so a crash-replayed
  batch dynamically overwrites exactly its own partition tree with
  identical rows (the ``batchlog`` protocol).
- ``search_with_delta`` ADC-scores base lists and the delta live view
  through their own broadcast-probe joins (partition pruning holds on
  both sides independently), merges candidates before the top-k
  window, and with ``refine=N`` exact-reranks the merged shortlist
  against base ∪ delta vectors — results identical to a full
  same-quantizer-same-codebook re-encode over base ∪ appended
  (asserted in tests via merge-then-search equality).
- ``compact_delta`` folds committed batch partitions into the
  negative-id partition (bounded file/partition counts).
- ``merge_delta_into_base`` is the offline segment merge: rewrite
  codes = codes ∪ delta codes and vectors = vectors ∪ delta vectors
  (each through a side directory + rename, never through memory),
  then drop the delta. After a merge, an offline
  ``ivfpq_build_index`` retrain can be scheduled if quantizer/codebook
  drift has grown — the same drift tradeoff every frozen-quantizer
  append design carries (see ivf_ingest's module doc; PQ adds
  codebook drift: residuals of drifted data quantize worse, which
  shows up as falling refined-vs-unrefined recall gap, not wrong
  results — the refine stage scores exact distances regardless).
  Since r11 that failure mode is MEASURED, not just named: every
  appended batch lands a mergeable drift row (assignment distance +
  PQ reconstruction error), ``drift_baseline`` records the build
  corpus's own numbers, and ``drift_signal`` turns the ratio into a
  documented retrain trigger.

At 100 TB: per-batch cost is O(batch) map-only work; searches stay
partition-pruned on base and delta; merges stream through parquet
writes. Cite: reference has no streaming surface — this extends the
LLM-pipeline extension set (SURVEY.md §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.pq import (  # noqa: F401 — build_index: the family build
    _ivfpq_adc_scored,
    _rank_topk_by_distance,
    _refine_stage,
    _vectors_as_cvecs,
    check_index_meta,
    ivfpq_build_index as build_index,
    ivfpq_encode_batch,
    read_index_meta,
)
from ..operators.similarity import probe_clusters, with_quantized
from .batchlog import (  # noqa: F401 — the shared delta and monitor functions
    allow_listed,
    attach_batch_sink,
    compact_delta,
    compact_drift,
    drift_signal,
    log_live,
    merge_delta_into_base,
    read_drift_trend,
    reset_drift,
    write_batch_partition,
)

LOGS = ("delta", "drift")
VECTORS = "vectors"  # the base dataset holding the (id, qv, nq) rows
_BUILD_DEFAULTS = {"m": 8, "dim": 64, "per_list": False, "metric": "l2"}


def _shape(spark: SparkSession, index_path: str, **given) -> dict:
    """The index's (m, dim, per_list, metric): every argument left
    None is read from the index meta (the build defaults for a legacy
    meta-less index); every one passed must match the meta
    (``check_index_meta`` — appending un-normalized rows to a cosine
    index would silently corrupt every ranking the delta touches)."""
    meta = read_index_meta(spark, index_path) or {}
    shape = {
        k: meta.get(k, d) if given.get(k) is None else given[k]
        for k, d in _BUILD_DEFAULTS.items()
    }
    if shape["dim"] % shape["m"]:
        raise ValueError(f"dim {shape['dim']} not divisible by m {shape['m']}")
    check_index_meta(spark, index_path, **shape)
    return shape


def append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int | None = None,
    dim: int | None = None,
    per_list: bool | None = None,
    metric: str = "l2",
    prequantized: bool = False,
) -> None:
    """Encode one (micro-)batch against the index's frozen coarse
    quantizer + residual codebook and land it in the delta log's own
    batch partition, sub-partitioned by cluster (same physical shape
    as the base lists, so searches prune identically). ``m``/``dim``/
    ``per_list`` default to the index meta; ``metric`` describes the
    incoming vectors and is checked against it (``_shape``).
    ``prequantized`` rows are already (id, qv, nq) on the index's grid
    (the retrain carry path), so the index's own metric applies.

    Also lands one mergeable drift-monitor row for the batch (see the
    drift section below) — one extra map-only pass + 1-row aggregate
    over the micro-batch, the price of a frozen-quantizer design NOT
    degrading silently. The drift row is written even when the delta
    write is a merged-watermark replay skip: the batch's vectors are
    part of the appended-since-build population either way, and a
    replay overwrites its own drift partition with identical numbers
    (deterministic encode)."""
    spark = batch_df.sparkSession
    shape = _shape(
        spark, index_path, m=m, dim=dim, per_list=per_list,
        metric=None if prequantized else metric,
    )
    coarse = spark.read.parquet(f"{index_path}/coarse")
    cents = spark.read.parquet(f"{index_path}/codebook")
    rows = ivfpq_encode_batch(
        batch_df, coarse, cents, id_col, vec_col, **shape,
        prequantized=prequantized,
    )
    write_batch_partition(
        rows, batch_id, f"{index_path}/delta", sub_partition_cols=("cluster",)
    )
    write_batch_partition(
        _drift_stats_row(
            rows, coarse, cents, shape["m"], shape["dim"] // shape["m"],
            shape["per_list"],
        ),
        batch_id,
        f"{index_path}/drift",
    )


def streaming_ivfpq_append(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int | None = None,
    dim: int | None = None,
    per_list: bool | None = None,
    metric: str = "l2",
):
    """Attach the append sink to an embedding stream; returns the
    StreamingQuery. The index (``ivfpq_build_index``) must exist."""
    return attach_batch_sink(
        stream_df,
        checkpoint,
        [f"{index_path}/{log}" for log in LOGS],
        lambda df, b: append_batch(
            df, b, index_path, id_col, vec_col,
            m=m, dim=dim, per_list=per_list, metric=metric,
        ),
    )


def search_with_delta(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    m: int | None = None,
    dim: int | None = None,
    per_list: bool | None = None,
    refine: int = 0,
    filter_ids: DataFrame | None = None,
    metric: str = "l2",
) -> DataFrame:
    """IVF-PQ top-k over base lists PLUS everything appended since the
    build — identical ADC arithmetic, tie-breaks, and (with
    ``refine=N``) exact-rerank semantics to ``ivfpq_search_index``, so
    the result matches that function run after ``merge_delta_into_
    base`` (asserted in tests).

    Each side is ADC-scored through its own join against the broadcast
    per-(query, probed cluster) distance tables, so partition pruning
    to the probed clusters holds on base AND delta independently; the
    merged candidates feed one top-k window. The refine shortlist is
    taken over the MERGED candidates and re-scored against base ∪
    delta vectors (the delta rows already carry qv/nq — no second
    encode, no corpus read).

    ``filter_ids`` pre-filters candidates on BOTH sides to an
    allow-list before any ranking — the same filtered-search contract
    as ``ivfpq_search_index(filter_ids=)``, here spanning base and
    streamed-in rows alike. ``m``/``dim``/``per_list`` default to the
    index meta (``_shape``)."""
    shape = _shape(
        spark, index_path, m=m, dim=dim, per_list=per_list, metric=metric
    )
    m, per_list = shape["m"], shape["per_list"]
    dsub = shape["dim"] // m
    coarse = spark.read.parquet(f"{index_path}/coarse")
    cents = spark.read.parquet(f"{index_path}/codebook")

    qd = with_quantized(queries, vec_col, metric=metric).select(id_col, "qv", "nq")
    cj = coarse.select(F.col("j").alias("cluster"), "cqv")
    rq = (
        probe_clusters(qd, coarse, id_col, nprobe=nprobe)
        .join(F.broadcast(cj), "cluster")
        .select(
            F.col(id_col).alias("query_id"),
            "cluster",
            F.zip_with("qv", "cqv", lambda a, b: a - b).alias("qv"),
        )
    )

    def scored_side(lists: DataFrame) -> DataFrame:
        cand = lists.select(F.col(id_col).alias("cand_id"), "cluster", "codes")
        cand = allow_listed(cand, id_col, filter_ids)
        return _ivfpq_adc_scored(cand, rq, cents, m, dsub, per_list=per_list)

    scored = scored_side(spark.read.parquet(f"{index_path}/codes"))
    delta = log_live(spark, f"{index_path}/delta")
    if delta is not None:
        scored = scored.unionByName(scored_side(delta))
    if refine:
        cvecs = _vectors_as_cvecs(
            spark.read.parquet(f"{index_path}/vectors"), id_col
        )
        if delta is not None:
            cvecs = cvecs.unionByName(
                _vectors_as_cvecs(delta.select(id_col, "cluster", "qv", "nq"), id_col)
            )
        return _refine_stage(scored, qd, cvecs, id_col, k, refine)
    return _rank_topk_by_distance(scored, k).drop("cluster")


# ---------------------------------------------------------------------------
# Quantizer/codebook drift monitor
#
# A frozen-quantizer append design degrades SILENTLY as the data
# distribution moves away from what the quantizer was trained on:
# results stay exactly-correct per the ADC/refine contracts, but
# recall falls because residuals quantize worse and vectors land in
# less discriminating lists. The row below makes it OBSERVABLE; trend,
# signal, compaction and reset are the shared ``batchlog`` monitor
# functions (ratios of delta means to the recorded build-corpus means).
#
# Two signals per row, both exact int64-per-row sums (decimal(38,0)
# across rows so a 100 TB corpus's sums cannot overflow):
#   sum_assign_d:  sum ||v - centroid(home)||^2 — coarse-quantizer fit.
#   sum_quant_err: sum ||residual - decode(codes)||^2 — codebook fit
#                  (the PQ reconstruction error ADC rankings degrade
#                  with).
# Ratios near 1.0 mean the stream still looks like the build corpus;
# sustained growth means falling recall at equal nprobe/refine — the
# retrain trigger. Rows merge by pure sum (compact_drift), so any time
# range re-aggregates without rescanning vectors.
# ---------------------------------------------------------------------------


def _drift_stats_row(
    encoded: DataFrame,
    coarse: DataFrame,
    cents: DataFrame,
    m: int,
    dsub: int,
    per_list: bool = False,
) -> DataFrame:
    """One mergeable drift row over encoded (cluster, qv, nq, codes)
    rows: (n, sum_assign_d, sum_quant_err). Map-only against the two
    broadcast tables the encode already used, then a 1-row aggregate —
    O(batch) work, nothing new touches the base index."""
    from ..operators.pq import _sub_dist

    cj = coarse.select(F.col("j").alias("cluster"), "cqv")
    if per_list:
        packed = cents.agg(
            F.array_sort(
                F.collect_list(F.struct("cluster", "sub", "j", "cqv"))
            ).alias("__cb")
        )
        book = F.filter(F.col("__cb"), lambda c: c["cluster"] == F.col("cluster"))
    else:
        packed = cents.agg(
            F.array_sort(F.collect_list(F.struct("sub", "j", "cqv"))).alias("__cb")
        )
        book = F.col("__cb")
    pre = (
        encoded.join(F.broadcast(cj), "cluster")
        .crossJoin(F.broadcast(packed))
        .select(
            _sub_dist(F.col("qv"), F.col("cqv")).alias("__ad"),
            F.zip_with("qv", "cqv", lambda a, b: a - b).alias("__rv"),
            "codes",
            book.alias("__bk"),
        )
    )
    nsub = (F.size("__bk") / F.lit(m)).cast("int")

    def err(s: int):
        entry = F.element_at(
            "__bk", (nsub * s + F.element_at("codes", s + 1)).cast("int")
        )
        return _sub_dist(F.slice("__rv", s * dsub + 1, dsub), entry["cqv"])

    qerr = err(0)
    for s in range(1, m):
        qerr = qerr + err(s)
    return pre.select(
        F.col("__ad").cast("decimal(38,0)").alias("__ad"),
        qerr.cast("decimal(38,0)").alias("__qe"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__ad").alias("sum_assign_d"),
        F.sum("__qe").alias("sum_quant_err"),
    )


def drift_baseline(
    spark: SparkSession,
    index_path: str,
    id_col: str = "vec_id",
    m: int | None = None,
    dim: int | None = None,
    per_list: bool | None = None,
) -> None:
    """Record the build-time corpus's own drift stats as the
    comparison base, from the INDEX's persisted datasets (one read of
    vectors ⋈ codes — the raw corpus is never rescanned). Run once
    after ``ivfpq_build_index`` (or after a retrain); readers join it
    to per-batch rows to turn absolute errors into ratios. The shape
    defaults to the index meta (a per-list or non-64-dim index
    baselined under the wrong shape would record silently wrong
    reconstruction errors).

    RETRAIN CONTRACT: after rebuilding the index (new quantizer /
    codebook), existing drift rows describe batches encoded under the
    OLD quantizer — their errors are meaningless against the new
    baseline and would poison every ratio. Call ``reset_drift`` before
    re-running this, then re-baseline. (The delta log itself is merged
    or discarded by the retrain anyway; the drift log is the one
    artifact that would silently survive.)"""
    shape = _shape(spark, index_path, m=m, dim=dim, per_list=per_list)
    coarse = spark.read.parquet(f"{index_path}/coarse")
    cents = spark.read.parquet(f"{index_path}/codebook")
    vectors = spark.read.parquet(f"{index_path}/vectors")
    codes = spark.read.parquet(f"{index_path}/codes").select(id_col, "codes")
    encoded = vectors.join(codes, id_col)
    _drift_stats_row(
        encoded, coarse, cents, shape["m"], shape["dim"] // shape["m"],
        shape["per_list"],
    ).write.mode("overwrite").parquet(f"{index_path}/drift_base")
