"""Partitioned writes: layout, dynamic overwrite, partition pruning."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from mapreduce_task_spark.sources.partitioned import (
    partition_filters,
    with_date_partition,
    write_partitioned,
)
from mapreduce_task_spark.sources.tables import load_table


def test_partitioned_write_prune_and_dynamic_overwrite(spark, sf_small):
    d = tempfile.mkdtemp(prefix="events_part_")
    try:
        ev = with_date_partition(load_table(spark, sf_small, "events"))
        write_partitioned(ev, d, ["dt"])
        days = sorted(x for x in os.listdir(d) if x.startswith("dt="))
        assert len(days) >= 25  # one directory per event day

        back = spark.read.parquet(d)
        one_day = back.filter(F.col("dt") == days[0].split("=")[1])
        pf = partition_filters(one_day)
        assert "dt" in pf  # predicate reached PartitionFilters -> pruned scan
        assert one_day.count() == ev.filter(F.col("dt") == days[0].split("=")[1]).count()

        # dynamic overwrite: rewriting ONE day's slice must leave others intact
        total_before = back.count()
        day0_count = one_day.count()
        day0 = ev.filter(F.col("dt") == days[0].split("=")[1]).limit(5)
        write_partitioned(day0, d, ["dt"], dynamic=True)
        spark.catalog.refreshByPath(d)  # drop the cached file listing
        after = spark.read.parquet(d)
        assert after.filter(F.col("dt") == days[0].split("=")[1]).count() == 5
        assert after.count() == total_before - day0_count + 5
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_write_sorted_ranges_disjoint_and_internally_sorted(spark, sf_small):
    """Each output file must hold an internally-sorted, pairwise-disjoint
    event_id range (zone-map layout), and a point predicate must prune
    file reads via parquet min/max stats."""
    import pyarrow.parquet as pq

    from mapreduce_task_spark.sources.partitioned import write_sorted_ranges

    d = tempfile.mkdtemp(prefix="events_sorted_")
    try:
        ev = load_table(spark, sf_small, "events").select(
            "event_id", "user_id", "event_type"
        )
        write_sorted_ranges(ev, d, ["event_id"], num_files=8)
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert 2 <= len(files) <= 8
        ranges = []
        for f in files:
            ids = pq.read_table(os.path.join(d, f), columns=["event_id"])[
                "event_id"
            ].to_pylist()
            assert ids == sorted(ids)  # internally sorted
            ranges.append((min(ids), max(ids)))
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2  # disjoint key ranges across files
        # nothing lost, nothing duplicated
        back = spark.read.parquet(d)
        assert back.count() == ev.count()
        assert back.select(F.sum("event_id")).collect()[0][0] == \
            ev.select(F.sum("event_id")).collect()[0][0]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compact_parquet_reduces_file_count_losslessly(spark, sf_small):
    from mapreduce_task_spark.sources.partitioned import compact_parquet, dir_bytes

    src = tempfile.mkdtemp(prefix="tiny_files_")
    out = tempfile.mkdtemp(prefix="compacted_")
    try:
        ev = load_table(spark, sf_small, "events")
        ev.repartition(64).write.mode("overwrite").parquet(src)  # tiny-file mess
        n_src = len([f for f in os.listdir(src) if f.endswith(".parquet")])
        assert n_src == 64

        total = dir_bytes(spark, src)
        assert total > 0
        # target ~ a third of the data -> ~3 output files
        n = compact_parquet(spark, src, out, target_file_bytes=total // 3 + 1)
        n_out = len([f for f in os.listdir(out) if f.endswith(".parquet")])
        assert n_out == n <= 4 and n_out < n_src

        back = spark.read.parquet(out)
        assert back.count() == ev.count()
        assert (
            back.select(F.sum("event_id")).collect()[0][0]
            == ev.select(F.sum("event_id")).collect()[0][0]
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_zorder_layout_prunes_on_both_dimensions(spark, sf_small):
    """Z-order clustering vs single-dimension sort, judged by the exact
    zone-map decision scan planning makes from per-file min/max stats:
    a single-dim (user_id) sort prunes nothing for a time predicate,
    while the z-layout keeps BOTH dimensions prunable — each file
    covers a compact (user, time) rectangle."""
    from mapreduce_task_spark.sources.partitioned import (
        files_touched_by_range,
        write_sorted_ranges,
        write_zordered,
    )

    ev = (
        load_table(spark, sf_small, "events")
        .select("event_id", "user_id", "ts")
        .withColumn("ts_s", F.col("ts").cast("timestamp").cast("long"))
    )
    lo_u, hi_u = 0, 15
    lo_t, hi_t = 1704067200, 1706745600  # Jan 2024 epoch bounds
    d_user = tempfile.mkdtemp(prefix="ev_usersort_")
    d_z = tempfile.mkdtemp(prefix="ev_zorder_")
    try:
        write_sorted_ranges(ev, d_user, ["user_id"], num_files=16)
        write_zordered(
            ev, d_z, [("user_id", lo_u, hi_u), ("ts_s", lo_t, hi_t)], num_files=16
        )
        # lossless
        assert spark.read.parquet(d_z).count() == ev.count()

        day_lo, day_hi = 1704844800, 1704931200  # one day (Jan 10)
        t_user, n_user = files_touched_by_range(spark, d_user, "ts_s", day_lo, day_hi)
        t_z, n_z = files_touched_by_range(spark, d_z, "ts_s", day_lo, day_hi)
        assert t_user == n_user  # user-major sort: every file spans all time
        assert t_z < t_user  # z-layout prunes the time predicate
        assert t_z <= n_z // 2

        u_z, _ = files_touched_by_range(spark, d_z, "user_id", 7, 7)
        assert u_z <= n_z // 2  # and still prunes on user too
    finally:
        shutil.rmtree(d_user, ignore_errors=True)
        shutil.rmtree(d_z, ignore_errors=True)


def test_zvalue_three_column_interleave_exact(spark):
    """Generic stride-k interleave: bit j of column i lands at position
    j*k+i — checked against a Python Morton reference on a small grid."""
    from pyspark.sql import Row

    from mapreduce_task_spark.sources.partitioned import zvalue

    rows = [Row(a=a, b=b, c=c) for a in range(4) for b in range(4) for c in range(4)]
    df = spark.createDataFrame(rows)
    specs = [("a", 0, 4), ("b", 0, 4), ("c", 0, 4)]
    got = {
        (r["a"], r["b"], r["c"]): r["z"]
        for r in df.withColumn("z", zvalue(specs, bits=2)).collect()
    }

    def ref(vals, bits=2):
        z = 0
        for i, v in enumerate(vals):
            for j in range(bits):
                z |= ((v >> j) & 1) << (j * len(vals) + i)
        return z

    for (a, b, c), z in got.items():
        assert z == ref([a, b, c])


def test_bloom_filter_write_adds_filter_bytes_losslessly(spark, sf_small):
    """SBBF bytes must be present in the bloom-enabled file (observed
    as a stable size delta on identical data — this container's
    pyarrow/duckdb predate bloom metadata accessors) with contents
    unchanged."""
    from mapreduce_task_spark.sources.partitioned import dir_bytes, write_with_bloom

    ev = load_table(spark, sf_small, "events").select("event_id", "user_id").coalesce(1)
    d_plain = tempfile.mkdtemp(prefix="ev_plain_")
    d_bloom = tempfile.mkdtemp(prefix="ev_bloom_")
    try:
        ev.write.mode("overwrite").parquet(d_plain)
        write_with_bloom(ev, d_bloom, ["event_id"], ndv=1000)
        plain_b = dir_bytes(spark, d_plain)
        bloom_b = dir_bytes(spark, d_bloom)
        assert bloom_b > plain_b  # the filter bytes
        assert bloom_b - plain_b < 512 * 1024  # sized by ndv, not data
        a = sorted(r["event_id"] for r in spark.read.parquet(d_bloom).collect())
        b = sorted(r["event_id"] for r in spark.read.parquet(d_plain).collect())
        assert a == b
    finally:
        shutil.rmtree(d_plain, ignore_errors=True)
        shutil.rmtree(d_bloom, ignore_errors=True)


def test_static_write_after_batchlog_append_replaces_dataset(spark, tmp_path):
    """Dynamic partition overwrite is a per-write option, not a session
    conf: after a batchlog append, ``write_partitioned(dynamic=False)``
    still replaces the whole dataset, and the session conf is
    unchanged."""
    from mapreduce_task_spark.streaming.batchlog import write_batch_partition

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        write_batch_partition(spark.range(3), 0, str(tmp_path / "log"))
        d = str(tmp_path / "part")
        write_partitioned(
            spark.createDataFrame([(0, 1), (1, 2)], ["k", "v"]), d, ["k"]
        )
        write_partitioned(
            spark.createDataFrame([(0, 3)], ["k", "v"]), d, ["k"], dynamic=False
        )
        assert sorted(x for x in os.listdir(d) if x.startswith("k=")) == ["k=0"]
        assert [(r["k"], r["v"]) for r in spark.read.parquet(d).collect()] == [
            (0, 3)
        ]
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prev)
