"""Focused tests for operators.pinning — the r14 tiny-pin variant.

``lazy_checkpoint_tiny`` compiles a hyperparameter-bounded frame's pin
with AQE off and a clamped shuffle-partition count so the pin is
genuinely lazy (no eager per-round stage cascade). These pin the three
properties the optimization relies on: result identity with the plain
lazy pin, the partition clamp actually reaching the compiled RDD, and
the session confs being restored afterwards (the pin mutates
session-global confs around the compile — a leak would silently
de-AQE every later query in the session).
"""

from pyspark.sql import functions as F

from mapreduce_task_spark.operators.pinning import (
    lazy_checkpoint,
    lazy_checkpoint_tiny,
)


def _small_agg(spark):
    # a k-group aggregate over a wider input — the codebook/centroid
    # fit shape the tiny pin is for
    return (
        spark.range(0, 10_000)
        .select((F.col("id") % 8).alias("j"), F.col("id").alias("v"))
        .groupBy("j")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )


def test_tiny_pin_results_match_plain_lazy_pin(spark):
    a = sorted(lazy_checkpoint(_small_agg(spark)).collect())
    b = sorted(lazy_checkpoint_tiny(_small_agg(spark)).collect())
    assert a == b


def test_tiny_pin_clamps_partitions_and_restores_confs(spark):
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    sp_before = spark.conf.get("spark.sql.shuffle.partitions")

    pinned = lazy_checkpoint_tiny(_small_agg(spark))
    # the compiled (checkpoint-marked) RDD carries the clamped
    # partition count: its shuffle was planned at <= 8 partitions
    assert pinned.rdd.getNumPartitions() <= 8

    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    assert spark.conf.get("spark.sql.shuffle.partitions") == sp_before
    # and a frame compiled AFTER the pin is adaptive again
    assert aqe_before == "true"


def test_tiny_pin_restores_confs_on_compile_failure(spark):
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    sp_before = spark.conf.get("spark.sql.shuffle.partitions")
    # an unresolvable frame: fails during construction or inside the
    # pin's compile depending on when analysis runs — either way the
    # pin's finally must leave the session confs untouched
    try:
        lazy_checkpoint_tiny(_small_agg(spark).select(F.col("does_not_exist")))
    except Exception:
        pass
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    assert spark.conf.get("spark.sql.shuffle.partitions") == sp_before


def test_tiny_pin_non_numeric_partitions_falls_back(spark, monkeypatch):
    """A non-numeric partition override must not leave the session
    de-AQE'd: the pin falls back to the plain lazy pin with every conf
    untouched."""
    from mapreduce_task_spark.operators import pinning

    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    sp_before = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(pinning, "_TINY_PARTITIONS", "eight")
    pinned = lazy_checkpoint_tiny(_small_agg(spark))
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    assert spark.conf.get("spark.sql.shuffle.partitions") == sp_before
    assert sorted(pinned.collect()) == sorted(_small_agg(spark).collect())


def test_tiny_pin_concurrent_callers_restore_confs(spark):
    """Threads pinning at once (a streaming foreachBatch beside a
    retrain) must not restore each other's clamped confs: the
    mutate/compile/restore window is serialized."""
    import sys
    import threading

    before = (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )
    errors = []

    def work():
        try:
            for _ in range(3):
                lazy_checkpoint_tiny(_small_agg(spark))
        except Exception as e:  # surfaced below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    ) == before
