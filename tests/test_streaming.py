"""Streaming operators: file-source micro-batches vs batch equivalence,
and the arbitrary-stateful running count."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mapreduce_task_spark.sources.tables import load_table
from mapreduce_task_spark.streaming import (
    running_dedupe,
    session_counts,
    sliding_counts,
    stateful_running_count,
    stream_from_directory,
    stream_stream_interval_join,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_small):
    """events table re-written as a 4-file parquet directory (so the
    file stream has several input files)."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    load_table(spark, sf_small, "events").repartition(4).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_counts_stream_matches_batch(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    expected = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in tumbling_counts(batch).collect()
    }
    stream = stream_from_directory(spark, events_dir, batch.schema)
    assert stream.isStreaming
    _run_stream(tumbling_counts(stream), "t_tumble")
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("select * from t_tumble").collect()
    }
    assert got == expected and len(got) > 0


def test_sliding_counts_stream_matches_batch(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    expected = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in sliding_counts(batch).collect()
    }
    stream = stream_from_directory(spark, events_dir, batch.schema)
    _run_stream(sliding_counts(stream), "t_slide")
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("select * from t_slide").collect()
    }
    assert got == expected and len(got) > 0


def test_session_counts_batch_merges_within_gap(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0), (1, t0 + dt.timedelta(minutes=10)),        # one session
        (1, t0 + dt.timedelta(minutes=90)),                  # new session
        (2, t0),
    ]
    df = spark.createDataFrame(
        [{"user_id": u, "ts": ts} for u, ts in rows]
    )
    got = sorted(
        (r["user_id"], r["n"]) for r in session_counts(df, gap="30 minutes").collect()
    )
    assert got == [(1, 1), (1, 2), (2, 1)]


def test_running_dedupe_batch(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [{"k": "a", "ts": t0}, {"k": "a", "ts": t0}, {"k": "b", "ts": t0}]
    )
    assert running_dedupe(df, ["k"]).count() == 2


def test_running_dedupe_stream_matches_batch_keys_only(spark, tmp_path):
    """Same key at DIFFERENT event times must still dedupe on streams
    (dropDuplicatesWithinWatermark), matching the batch semantics."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        {"k": "a", "ts": t0},
        {"k": "a", "ts": t0 + dt.timedelta(minutes=5)},  # dup key, new ts
        {"k": "b", "ts": t0},
        {"k": "b", "ts": t0},
    ]
    batch = spark.createDataFrame(rows)
    d = str(tmp_path / "dedup_src")
    batch.coalesce(1).write.mode("overwrite").parquet(d)
    src = spark.read.parquet(d)
    assert running_dedupe(src, ["k"]).count() == 2

    stream = stream_from_directory(spark, d, src.schema)
    q = (
        running_dedupe(stream, ["k"], watermark="1 hour")
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select k from t_dedup").collect()
    assert sorted(r["k"] for r in got) == ["a", "b"]


def test_streaming_chaos_result_invariance(spark, events_dir):
    """F1/F3 on the streaming path: slow micro-batch partitions (map-side
    straggler) + a post-agg straggler stage; the results must be exactly
    the batch results, and the injected hits must surface in the
    streaming progress observedMetrics."""
    from mapreduce_task_spark.chaos import ChaosConfig, inject_map_chaos

    cfg = ChaosConfig.from_conf(
        {
            "insertindex.slow.map.partitions": "0,1,2,3,4,5,6,7",
            "insertindex.slow.map.sleep.ms": "1",
            "insertindex.slow.map.eachN": "500",
        }
    )
    batch = spark.read.parquet(events_dir)
    expected = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in tumbling_counts(batch).collect()
    }
    stream = stream_from_directory(spark, events_dir, batch.schema)
    chaotic = inject_map_chaos(stream, cfg, observation="chaos_map")
    q = _run_stream(tumbling_counts(chaotic), "t_chaos_tumble")
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("select * from t_chaos_tumble").collect()
    }
    assert got == expected and len(got) > 0
    hits = sum(
        p["observedMetrics"]["chaos_map"]["SLOW_INJECT_MAP_HITS"] or 0
        for p in q.recentProgress
        if "chaos_map" in p.get("observedMetrics", {})
    )
    assert hits > 0


def test_streaming_chaos_reduce_side_invariance(spark, events_dir):
    """F3 after the streaming aggregation: a straggling reducer stage
    must not change the emitted window counts."""
    from mapreduce_task_spark.chaos import ChaosConfig, inject_reduce_chaos

    cfg = ChaosConfig.from_conf(
        {
            "insertindex.slow.reduce.partitions": "0,1,2,3",
            "insertindex.slow.reduce.sleep.ms": "1",
            "insertindex.slow.reduce.eachN": "200",
            "insertindex.slow.reduce.setup.sleep.ms": "5",
        }
    )
    batch = spark.read.parquet(events_dir)
    expected = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in tumbling_counts(batch).collect()
    }
    stream = stream_from_directory(spark, events_dir, batch.schema)
    slowed = inject_reduce_chaos(tumbling_counts(stream), cfg)
    q = _run_stream(slowed, "t_chaos_reduce")
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("select * from t_chaos_reduce").collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_chaos_input_path_gated_invariance(spark, events_dir):
    """F2 on streams: input-path-substring gating works per micro-batch
    (input_file_name is populated on file-source streams) and must not
    change results."""
    from mapreduce_task_spark.chaos import ChaosConfig, inject_map_chaos

    cfg = ChaosConfig.from_conf(
        {
            "insertindex.slow.map.input.contains": "part-",
            "insertindex.slow.map.sleep.ms": "1",
            "insertindex.slow.map.eachN": "500",
        }
    )
    batch = spark.read.parquet(events_dir)
    expected = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in tumbling_counts(batch).collect()
    }
    stream = stream_from_directory(spark, events_dir, batch.schema)
    chaotic = inject_map_chaos(stream, cfg, observation="chaos_f2")
    q = _run_stream(tumbling_counts(chaotic), "t_chaos_f2")
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("select * from t_chaos_f2").collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_chaos_heavy_key_invariance(spark, events_dir):
    """F4 on streams: delaying a hot key inside micro-batches (skew
    simulation) must not change the windowed counts."""
    from mapreduce_task_spark.chaos import ChaosConfig, inject_heavy_key

    cfg = ChaosConfig.from_conf(
        {
            "insertindex.slow.reduce.heavy.key": "click",
            "insertindex.slow.reduce.heavy.sleep.ms": "1",
        }
    )
    batch = spark.read.parquet(events_dir)
    expected = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in tumbling_counts(batch).collect()
    }
    stream = stream_from_directory(spark, events_dir, batch.schema)
    chaotic = inject_heavy_key(stream, "event_type", cfg)
    q = _run_stream(tumbling_counts(chaotic), "t_chaos_heavy")
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("select * from t_chaos_heavy").collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_metrics_collector_records_batches(spark, events_dir):
    """O1-O5 on streams: the StreamingQueryListener-based collector must
    see every micro-batch's rows, per-phase durations, and the chaos
    observe counters, and mirror each batch as a span."""
    from mapreduce_task_spark.chaos import ChaosConfig, inject_map_chaos
    from mapreduce_task_spark.obs import (
        StreamingMetricsCollector,
        get_recorded_spans,
    )

    cfg = ChaosConfig.from_conf(
        {
            "insertindex.slow.map.partitions": "0,1,2,3,4,5,6,7",
            "insertindex.slow.map.sleep.ms": "1",
            "insertindex.slow.map.eachN": "1000",
        }
    )
    batch = spark.read.parquet(events_dir)
    n_rows = batch.count()
    stream = stream_from_directory(spark, events_dir, batch.schema)
    chaotic = inject_map_chaos(stream, cfg, observation="obs_chaos")
    with StreamingMetricsCollector(spark) as col:
        _run_stream(tumbling_counts(chaotic), "t_obs_stream")
        # listener events are delivered asynchronously — poll briefly
        import time as _time

        deadline = _time.time() + 30
        while col.total_input_rows() < n_rows and _time.time() < deadline:
            _time.sleep(0.2)
        assert col.total_input_rows() == n_rows
        assert len(col.records) >= 1
        r = col.records[0]
        assert r.batch_id >= 0 and "triggerExecution" in r.duration_ms
        assert r.state_rows > 0  # windowed agg keeps state
        assert col.observed_total("obs_chaos", "SLOW_INJECT_MAP_HITS") > 0
    spans = [s for s in get_recorded_spans() if s.name == "stream.microbatch"]
    assert len(spans) >= len(col.records)
    assert any(s.attributes.get("stream.input_rows", 0) > 0 for s in spans)


def test_streaming_kv_text_sink_round_trip(spark, events_dir, tmp_path):
    """S4 on streams: the key\\tvalue text sink written from a stream
    must contain exactly the rows the batch path would write."""
    from mapreduce_task_spark.sources.text import write_kv_text_stream

    batch = spark.read.parquet(events_dir)
    expected = {
        f"{r['event_id']}\t{r['event_type']}"
        for r in batch.select("event_id", "event_type").collect()
    }
    stream = stream_from_directory(spark, events_dir, batch.schema)
    q = write_kv_text_stream(
        stream.select("event_id", "event_type"),
        str(tmp_path / "out"),
        "event_id",
        "event_type",
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {r["value"] for r in spark.read.text(str(tmp_path / "out")).collect()}
    assert got == expected and len(got) > 0


def test_streaming_content_dedupe_by_digest(spark, tmp_path):
    """Streaming ingestion dedup: documents arriving across micro-batches
    deduped on their content digest (md5 of text) within the watermark —
    the streaming face of dedup_exact. A re-ingested duplicate in a
    LATER micro-batch must also be dropped (state spans batches)."""
    import datetime as dt
    import time as _time

    t0 = dt.datetime(2024, 1, 1)
    schema = "doc_id bigint, ts timestamp, text string"
    d = str(tmp_path / "docs_src")
    spark.createDataFrame(
        [(0, t0, "alpha text"), (1, t0, "alpha text"), (2, t0, "beta text")],
        schema,
    ).coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.1)
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(minutes=5), "alpha text"),
         (4, t0 + dt.timedelta(minutes=5), "gamma text")],
        schema,
    ).coalesce(1).write.mode("append").parquet(d)

    src = spark.read.parquet(d)
    stream = stream_from_directory(spark, d, src.schema, maxFilesPerTrigger=1)
    deduped = running_dedupe(
        stream.withColumn("text_md5", F.md5("text")), ["text_md5"], watermark="1 hour"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_content_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r["text"] for r in spark.sql("select text from t_content_dedup").collect()
    )
    assert got == ["alpha text", "beta text", "gamma text"]


def test_streaming_kv_sink_restart_is_exactly_once(spark, tmp_path):
    """The checkpoint + file-sink manifest make restarts exactly-once:
    re-running over already-committed input adds nothing, and new input
    files land exactly once."""
    from mapreduce_task_spark.sources.text import write_kv_text_stream

    src_dir = tmp_path / "kv_src"
    src_dir.mkdir()
    schema = "k bigint, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir))

    def run():
        q = write_kv_text_stream(
            stream_from_directory(spark, str(src_dir), schema),
            str(tmp_path / "kv_out"),
            "k",
            "v",
            checkpoint=str(tmp_path / "kv_ckpt"),
        )
        q.awaitTermination(120)

    def out():
        return sorted(
            r["value"] for r in spark.read.text(str(tmp_path / "kv_out")).collect()
        )

    run()
    first = out()
    assert first == ["1\ta", "2\tb"]
    run()  # restart over the same committed input: no duplicates
    assert out() == first
    import time as _time

    _time.sleep(1.1)
    spark.createDataFrame([(3, "c")], schema).coalesce(1).write.mode("append").parquet(
        str(src_dir)
    )
    run()  # only the new file is processed, exactly once
    assert out() == ["1\ta", "2\tb", "3\tc"]


def test_stream_static_enrichment_join(spark, events_dir):
    """Stream-static join: each micro-batch enriched against a static dim."""
    batch = spark.read.parquet(events_dir)
    dim = spark.createDataFrame(
        [{"event_type": t, "weight": i} for i, t in enumerate(
            ["click", "view", "purchase", "signup", "error"])]
    )
    expected = batch.join(dim, "event_type").count()
    stream = stream_from_directory(spark, events_dir, batch.schema)
    q = (
        stream.join(dim, "event_type")
        .writeStream.format("memory")
        .queryName("t_enrich")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("select count(*) n from t_enrich").collect()[0]["n"] == expected


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    """Watermarked stream-stream join (impressions x conversions shape):
    clicks joined to same-user purchases within 30 minutes. Append mode
    REQUIRES both watermarks + the time-range bound (the analyzer
    rejects unbounded-state joins), so a passing run is itself the
    state-bound proof; we additionally assert the join state operator
    reported bounded row counts, and that results equal the batch join."""

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("click_id"),
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        return clicks, purchases

    batch = spark.read.parquet(events_dir)
    cb, pb = sides(batch)
    expected = {
        (r["click_id"], r["purchase_id"])
        for r in stream_stream_interval_join(cb, pb).collect()
    }
    assert expected  # fixture has same-user click->purchase pairs in range

    cs, ps = sides(stream_from_directory(spark, events_dir, batch.schema))
    joined = stream_stream_interval_join(cs, ps)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("select click_id, purchase_id from t_ss_join").collect()
    }
    assert got == expected
    # the symmetric-hash-join state operator buffered both sides and is
    # watermark-bounded (finite row counts, eviction capability present)
    state_ops = [
        op
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
        if "symmetricHashJoin" in op.get("operatorName", "")
    ]
    assert state_ops and all(op["numRowsTotal"] > 0 for op in state_ops)


def test_stream_stream_join_chaos_invariance(spark, events_dir):
    """F1 chaos injected into ONE side of a watermarked stream-stream
    join must not change the joined result (stragglers reorder work,
    never data)."""
    from mapreduce_task_spark.chaos import ChaosConfig, inject_map_chaos

    cfg = ChaosConfig.from_conf(
        {
            "insertindex.slow.map.partitions": "0,1,2,3",
            "insertindex.slow.map.sleep.ms": "1",
            "insertindex.slow.map.eachN": "500",
        }
    )

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("click_id")
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("r_ts"), F.col("event_id").alias("purchase_id")
        )
        return clicks, purchases

    batch = spark.read.parquet(events_dir)
    cb, pb = sides(batch)
    expected = {
        (r["click_id"], r["purchase_id"])
        for r in stream_stream_interval_join(cb, pb).collect()
    }
    stream = stream_from_directory(spark, events_dir, batch.schema)
    cs, ps = sides(inject_map_chaos(stream, cfg, observation="ss_chaos"))
    q = (
        stream_stream_interval_join(cs, ps)
        .writeStream.format("memory")
        .queryName("t_ss_chaos")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("select click_id, purchase_id from t_ss_chaos").collect()
    }
    assert got == expected and len(got) > 0


def test_stream_stream_left_outer_join_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """Left-outer stream-stream join: the unmatched impression emits
    with null conversion columns once the watermark passes its match
    horizon. A far-future sentinel file in a later micro-batch pushes
    the watermark; the sentinel itself stays in state (its horizon is
    never passed) and must NOT emit."""
    import datetime as dt
    import time as _time

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, uid, ts, etype):
        return {"event_id": eid, "user_id": uid, "ts": ts, "event_type": etype}

    main_rows = [
        ev(1, 1, t0, "click"),                                # converts
        ev(2, 1, t0 + dt.timedelta(minutes=10), "purchase"),  # the conversion
        ev(3, 2, t0, "click"),                                # never converts
    ]
    # the join's watermark is the MIN over both inputs, so the sentinel
    # batch must advance BOTH sides (a far-future click alone leaves the
    # purchases watermark at t0+10min - 1h and nothing ever evicts);
    # distinct users + a >30min gap keep the sentinels from matching
    sentinel = [
        ev(99, 99, t0 + dt.timedelta(days=10), "click"),
        ev(98, 98, t0 + dt.timedelta(days=10, hours=5), "purchase"),
    ]
    d = str(tmp_path / "funnel_src")
    schema = "event_id bigint, user_id bigint, ts timestamp, event_type string"
    spark.createDataFrame(main_rows, schema).coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.1)  # file stream orders batches by modification time
    spark.createDataFrame(sentinel, schema).coalesce(1).write.mode("append").parquet(d)

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("click_id")
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("r_ts"), F.col("event_id").alias("purchase_id")
        )
        return clicks, purchases

    src = spark.read.parquet(d)
    cs, ps = sides(stream_from_directory(spark, d, src.schema, maxFilesPerTrigger=1))
    joined = stream_stream_interval_join(cs, ps, how="left_outer", watermark="1 hour")
    # outer-null emission happens in a micro-batch AFTER the one that
    # advanced the watermark (state eviction), so availableNow — which
    # stops at the last data batch — would miss it; run continuous
    # micro-batches (no-data batches progress the state) and poll.
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ss_louter")
        .outputMode("append")
        .start()
    )
    try:
        expected = {(1, 2), (3, None)}
        got = set()
        deadline = _time.time() + 90
        while got != expected and _time.time() < deadline:
            _time.sleep(0.5)
            got = {
                (r["click_id"], r["purchase_id"])
                for r in spark.sql(
                    "select click_id, purchase_id from t_ss_louter"
                ).collect()
            }
    finally:
        q.stop()
    # matched pair emitted; unmatched click 3 emitted with null purchase
    # once the sentinel advanced the watermark; sentinel click 99 still
    # inside its horizon -> withheld
    assert got == expected


def test_stateful_running_count_totals(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    expected = {
        r["event_type"]: r["n"]
        for r in batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    stream = stream_from_directory(
        spark, events_dir, batch.schema, maxFilesPerTrigger=1
    )
    q = (
        stateful_running_count(stream)
        .writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last update per key == total count
    final = {
        r["event_type"]: r["n"]
        for r in spark.sql(
            "select event_type, max(n) as n from t_state group by event_type"
        ).collect()
    }
    assert final == expected and len(final) > 0


def test_foreach_batch_upsert_converges_and_is_idempotent(spark, tmp_path):
    """foreachBatch upsert sink: keyed updates across micro-batches
    converge to latest-per-key; replaying a batch (crash-before-
    checkpoint) leaves the target unchanged; only touched buckets are
    rewritten."""
    import time as _time

    from mapreduce_task_spark.streaming.upsert import (
        read_snapshot,
        streaming_upsert,
        upsert_batch,
    )

    schema = "k bigint, seq bigint, v string"
    src = tmp_path / "up_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 1, "a1"), (2, 1, "b1"), (3, 1, "c1")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.1)
    spark.createDataFrame(
        [(1, 2, "a2"), (4, 1, "d1")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    tgt, ckpt = str(tmp_path / "up_tgt"), str(tmp_path / "up_ckpt")

    def run():
        q = streaming_upsert(
            stream_from_directory(spark, str(src), schema, maxFilesPerTrigger=1),
            tgt,
            ckpt,
            key_col="k",
            order_cols=["seq", "v"],
            num_buckets=4,
        )
        q.awaitTermination(120)

    run()
    got = {r["k"]: (r["seq"], r["v"]) for r in read_snapshot(spark, tgt).collect()}
    assert got == {1: (2, "a2"), 2: (1, "b1"), 3: (1, "c1"), 4: (1, "d1")}

    # replaying the last batch's rows is a no-op (idempotent merge)
    replay = spark.createDataFrame([(1, 2, "a2"), (4, 1, "d1")], schema)
    upsert_batch(replay, tgt, "k", ["seq", "v"], num_buckets=4)
    got2 = {r["k"]: (r["seq"], r["v"]) for r in read_snapshot(spark, tgt).collect()}
    assert got2 == got

    # stale update (lower seq) loses to the target's newer row
    upsert_batch(
        spark.createDataFrame([(1, 1, "a1-late")], schema),
        tgt,
        "k",
        ["seq", "v"],
        num_buckets=4,
    )
    got3 = {r["k"]: (r["seq"], r["v"]) for r in read_snapshot(spark, tgt).collect()}
    assert got3[1] == (2, "a2")


def test_transform_with_state_key_stats(spark, events_dir):
    """transformWithStateInPandas (Spark 4 typed-state API): running
    per-key (count, exact cent sum, max) converges to the batch
    aggregate. Needs the RocksDB state store provider — set for this
    query only and restored after (other streams keep the default).

    The TWS python runner needs google.protobuf, which this container
    lacks — skip (not xfail) there, exactly like the multimodal decoder
    stubs; the operator itself builds its plan without it.

    Re-verified round 13 (2026-08-17): ``import google.protobuf`` still
    raises ModuleNotFoundError, and installing is not an option — the
    build brief forbids pip/apt installs in this environment. The skip
    is therefore a recorded impossibility, not an oversight; the
    plan-build path is pinned by
    test_transform_with_state_plan_builds_without_runtime below."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas runner requires protobuf "
        "(absent; installs forbidden by the build brief — re-verified r5)",
    )
    from mapreduce_task_spark.streaming import stateful_key_stats

    batch = spark.read.parquet(events_dir)
    expected = {
        r["event_type"]: (r["n"], r["cents"], r["mx"])
        for r in batch.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(
        conf_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = stream_from_directory(
            spark, events_dir, batch.schema, maxFilesPerTrigger=1
        )
        q = (
            stateful_key_stats(stream)
            .writeStream.format("memory")
            .queryName("t_tws")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    # all three stats are monotone across updates: max() per key is final
    final = {
        r["event_type"]: (r["n"], r["cents"], r["mx"])
        for r in spark.sql(
            "select event_type, max(n) as n, max(sum_cents) as cents, "
            "max(max_value) as mx from t_tws group by event_type"
        ).collect()
    }
    assert final == expected and len(final) > 0


def test_stateful_key_stats_v1_matches_batch_aggregate(spark, events_dir):
    """The applyInPandasWithState twin of stateful_key_stats runs on
    the default state store with no protobuf/RocksDB, so the operator's
    SEMANTICS — per-key running (count, exact cent sum, max) converging
    to the batch aggregate — are end-to-end verified in this container
    even while the transformWithStateInPandas runner test above skips.
    Same oracle aggregate, same monotone-final read-out."""
    from mapreduce_task_spark.streaming import stateful_key_stats_v1

    batch = spark.read.parquet(events_dir)
    expected = {
        r["event_type"]: (r["n"], r["cents"], r["mx"])
        for r in batch.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    stream = stream_from_directory(
        spark, events_dir, batch.schema, maxFilesPerTrigger=1
    )
    q = (
        stateful_key_stats_v1(stream)
        .writeStream.format("memory")
        .queryName("t_aipws_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {
        r["event_type"]: (r["n"], r["cents"], r["mx"])
        for r in spark.sql(
            "select event_type, max(n) as n, max(sum_cents) as cents, "
            "max(max_value) as mx from t_aipws_stats group by event_type"
        ).collect()
    }
    assert final == expected and len(final) > 0


def test_stateful_cent_rounding_is_half_up(spark, tmp_path):
    """Exactly-representable .5-cent values must round HALF UP like
    Spark's F.round (the batch oracle), not banker's half-to-even:
    0.125 * 100 = 12.5 exactly -> 13 cents, 0.375 -> 38. pandas
    .round() gives 12/38 and quietly breaks the exact-cent-sum
    contract on these inputs (regression for the _cents_half_up fix)."""
    from mapreduce_task_spark.streaming import stateful_key_stats_v1

    src = str(tmp_path / "halfup_src")
    rows = [("a", 0.125), ("a", 0.375), ("b", -0.125)]
    batch = spark.createDataFrame(rows, "event_type string, value double")
    batch.coalesce(1).write.parquet(src)
    expected = {
        r["event_type"]: r["cents"]
        for r in batch.groupBy("event_type")
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
        .collect()
    }
    stream = stream_from_directory(spark, src, batch.schema)
    q = (
        stateful_key_stats_v1(stream)
        .writeStream.format("memory")
        .queryName("t_halfup")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_type"]: r["cents"]
        for r in spark.sql(
            "select event_type, max(sum_cents) as cents from t_halfup "
            "group by event_type"
        ).collect()
    }
    assert got == expected
    # and the convention itself: 12.5 -> 13, 37.5 -> 38 (half UP)
    assert expected["a"] == 13 + 38


def test_transform_with_state_plan_builds_without_runtime(spark, events_dir):
    """Plan construction for the TWS operator must not need protobuf or
    RocksDB — those are start()-time dependencies. Guards the API wiring
    (schema string, output mode, time mode) on any container."""
    from mapreduce_task_spark.streaming import stateful_key_stats

    batch = spark.read.parquet(events_dir)
    stream = stream_from_directory(spark, events_dir, batch.schema)
    out = stateful_key_stats(stream)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "event_type",
        "n",
        "sum_cents",
        "max_value",
    ]


def test_stream_stream_full_outer_join_emits_both_unmatched(spark, tmp_path):
    """Full-outer stream-stream join: unmatched rows from BOTH sides
    emit with nulls once the watermark passes their horizons (same
    sentinel mechanics as the left-outer test — sentinels advance the
    watermark but stay in state and never emit)."""
    import datetime as dt
    import time as _time

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, uid, ts, etype):
        return {"event_id": eid, "user_id": uid, "ts": ts, "event_type": etype}

    main_rows = [
        ev(1, 1, t0, "click"),                                # converts
        ev(2, 1, t0 + dt.timedelta(minutes=10), "purchase"),  # the conversion
        ev(3, 2, t0, "click"),                                # never converts
        ev(4, 3, t0 + dt.timedelta(minutes=5), "purchase"),   # orphan purchase
    ]
    sentinel = [
        ev(99, 99, t0 + dt.timedelta(days=10), "click"),
        ev(98, 98, t0 + dt.timedelta(days=10, hours=5), "purchase"),
    ]
    d = str(tmp_path / "fo_src")
    schema = "event_id bigint, user_id bigint, ts timestamp, event_type string"
    spark.createDataFrame(main_rows, schema).coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.1)
    spark.createDataFrame(sentinel, schema).coalesce(1).write.mode("append").parquet(d)

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("click_id")
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("r_ts"), F.col("event_id").alias("purchase_id")
        )
        return clicks, purchases

    src = spark.read.parquet(d)
    cs, ps = sides(stream_from_directory(spark, d, src.schema, maxFilesPerTrigger=1))
    joined = stream_stream_interval_join(cs, ps, how="full_outer", watermark="1 hour")
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ss_fouter")
        .outputMode("append")
        .start()
    )
    try:
        expected = {(1, 2), (3, None), (None, 4)}
        got = set()
        deadline = _time.time() + 90
        while got != expected and _time.time() < deadline:
            _time.sleep(0.5)
            got = {
                (r["click_id"], r["purchase_id"])
                for r in spark.sql(
                    "select click_id, purchase_id from t_ss_fouter"
                ).collect()
            }
    finally:
        q.stop()
    assert got == expected


def test_streaming_funnel_converges_to_batch_funnel(spark, tmp_path):
    """Streaming funnel cursor across micro-batches: feed the events in
    two time-ordered file batches (per-key in-order delivery — the
    operator's documented contract); the final per-step reach counts
    equal the batch funnel_counts output."""
    import time as _time

    from mapreduce_task_spark.operators.relational import funnel_counts
    from mapreduce_task_spark.streaming import streaming_funnel

    steps = ["view", "click", "purchase"]
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    expected = {
        r["step_idx"]: r["n_keys"] for r in funnel_counts(ev, steps).collect()
    }
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    d = str(tmp_path / "funnel_stream")
    ev.filter(F.col("ts") <= mid).coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.1)  # file order = batch order
    ev.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(d)

    stream = stream_from_directory(
        spark, d, ev.schema, maxFilesPerTrigger=1
    )
    q = (
        streaming_funnel(stream, steps)
        .writeStream.format("memory")
        .queryName("t_sfunnel")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last update per key = final cursor; recompute step counts
    final = spark.sql(
        "select user_id, max(reached) as reached from t_sfunnel group by user_id"
    ).collect()
    got = {
        i: sum(1 for r in final if r["reached"] >= i)
        for i in range(1, len(steps) + 1)
    }
    assert got == expected and got[1] > 0


def test_streaming_sketch_store_rollup_matches_batch(spark, events_dir, tmp_path):
    """foreachBatch sketch store: per-micro-batch HLL/KLL sketch
    partitions roll up (merge, never rescan) to estimates that agree
    with exact batch aggregates — distinct counts within the HLL 5%
    band, medians inside the exact p40-p60 band, row counts exact."""
    from mapreduce_task_spark.sources.tables import load_table
    from mapreduce_task_spark.streaming.sketch_store import (
        read_rollup,
        streaming_sketch_store,
    )
    from mapreduce_task_spark.streaming.windows import stream_from_directory

    ev = spark.read.parquet(events_dir)
    store, ckpt = str(tmp_path / "sk_store"), str(tmp_path / "sk_ckpt")
    q = streaming_sketch_store(
        stream_from_directory(
            spark, events_dir, ev.schema, maxFilesPerTrigger=1
        ),
        store,
        ckpt,
        group_col="event_type",
        key_col="user_id",
        val_col="value",
    )
    q.awaitTermination(120)

    got = {r["event_type"]: r for r in read_rollup(spark, store, "event_type").collect()}
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("nd"),
            F.count(F.lit(1)).alias("n"),
            F.percentile("value", 0.4).alias("p40"),
            F.percentile("value", 0.6).alias("p60"),
        )
        .collect()
    }
    assert set(got) == set(exact) | {"TOTAL"}
    for et, e in exact.items():
        g = got[et]
        assert g["n_rows"] == e["n"]
        assert abs(g["approx_distinct"] - e["nd"]) <= max(2, 0.05 * e["nd"])
        assert e["p40"] <= g["approx_quantile"] <= e["p60"]
    tot_nd = ev.select("user_id").distinct().count()
    assert abs(got["TOTAL"]["approx_distinct"] - tot_nd) <= max(2, 0.05 * tot_nd)
    assert got["TOTAL"]["n_rows"] == ev.count()
    # the store held one partition per micro-batch (4 source files)
    import os

    parts = [d for d in os.listdir(store) if d.startswith("__batch=")]
    assert len(parts) == 4


def test_sketch_store_batch_replay_is_idempotent(spark, tmp_path):
    """Replaying a micro-batch (crash before checkpoint advance)
    rewrites exactly its own partition with identical content: row
    counts and HLL estimates (order-independent register-max) are
    unchanged."""
    from mapreduce_task_spark.streaming.sketch_store import (
        read_rollup,
        write_batch_sketches,
    )

    schema = "g string, k bigint, v double"
    b0 = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 5.0)], schema
    )
    b1 = spark.createDataFrame([("a", 3, 3.0), ("b", 9, 6.0)], schema)
    store = str(tmp_path / "replay_store")
    write_batch_sketches(b0, 0, store, "g", "k", "v")
    write_batch_sketches(b1, 1, store, "g", "k", "v")
    before = {
        r["g"]: (r["n_rows"], r["approx_distinct"])
        for r in read_rollup(spark, store, "g").collect()
    }
    assert before["a"] == (3, 3.0) and before["b"] == (2, 2.0)
    write_batch_sketches(b1, 1, store, "g", "k", "v")  # replay
    after = {
        r["g"]: (r["n_rows"], r["approx_distinct"])
        for r in read_rollup(spark, store, "g").collect()
    }
    assert after == before


def test_sketch_store_compaction_preserves_answers(spark, tmp_path):
    """Compacting minute partitions into one is a pure sketch merge:
    every rollup answer (distinct, quantile band, exact counts) is
    identical before and after, and the superseded partition
    directories are gone."""
    import os

    from mapreduce_task_spark.streaming.sketch_store import (
        compact_batches,
        read_rollup,
        write_batch_sketches,
    )

    schema = "g string, k bigint, v double"
    for b in range(4):
        rows = [("a", b * 10 + i, float(b * 10 + i)) for i in range(5)] + [
            ("b", b, float(b))
        ]
        write_batch_sketches(
            spark.createDataFrame(rows, schema), b, str(tmp_path / "c_store"), "g", "k", "v"
        )
    store = str(tmp_path / "c_store")
    before = {
        r["g"]: (r["n_rows"], r["approx_distinct"])
        for r in read_rollup(spark, store, "g").collect()
    }
    assert before["a"] == (20, 20.0) and before["b"] == (4, 4.0)

    dropped = compact_batches(spark, store, up_to_batch=2)
    assert dropped == 3  # batches 0,1,2 folded into __batch=-3; 3 untouched
    parts = {d for d in os.listdir(store) if d.startswith("__batch=")}
    assert parts == {"__batch=-3", "__batch=3"}
    after = {
        r["g"]: (r["n_rows"], r["approx_distinct"])
        for r in read_rollup(spark, store, "g").collect()
    }
    assert after == before
    # compacting an already-compacted range is a no-op
    assert compact_batches(spark, store, up_to_batch=2) == 0


def test_sketch_store_replay_after_compaction_is_exactly_once(spark, tmp_path):
    """The compaction-vs-replay race: a micro-batch is written, NOT
    yet checkpoint-committed, maintenance compacts through it, then
    the stream restarts and replays it. The replay re-creates its own
    positive partition (it can never touch the negative compacted
    partition), and the read-side coverage watermark ignores the
    duplicate — answers are identical to never having crashed, with
    neither history loss nor double counting."""
    from mapreduce_task_spark.streaming.sketch_store import (
        compact_batches,
        read_rollup,
        write_batch_sketches,
    )

    schema = "g string, k bigint, v double"
    batches = [
        [("a", 1, 1.0), ("a", 2, 2.0), ("b", 10, 5.0)],
        [("a", 3, 3.0), ("b", 11, 6.0)],
        [("a", 4, 4.0), ("b", 12, 7.0)],
    ]
    store = str(tmp_path / "race_store")
    for i, rows in enumerate(batches):
        write_batch_sketches(spark.createDataFrame(rows, schema), i, store, "g", "k", "v")
    want = {
        r["g"]: (r["n_rows"], r["approx_distinct"])
        for r in read_rollup(spark, store, "g").collect()
    }
    assert want["a"] == (4, 4.0) and want["b"] == (3, 3.0)

    compact_batches(spark, store, up_to_batch=2)  # batch 2 not yet committed
    # restart: the checkpoint replays batch 2
    write_batch_sketches(spark.createDataFrame(batches[2], schema), 2, store, "g", "k", "v")
    got = {
        r["g"]: (r["n_rows"], r["approx_distinct"])
        for r in read_rollup(spark, store, "g").collect()
    }
    assert got == want
    # the next compaction sweeps the duplicate directory away without
    # re-counting it (its content is already inside __batch=-3)
    assert compact_batches(spark, store, up_to_batch=2) == 1
    assert got == {
        r["g"]: (r["n_rows"], r["approx_distinct"])
        for r in read_rollup(spark, store, "g").collect()
    }


def test_sketch_store_compaction_crash_mid_cleanup_reads_clean(spark, tmp_path):
    """Maintenance crash window: the merged negative partition was
    written but the superseded directories were not all deleted (here:
    none were). Reads pick the deepest negative plus only the
    positives above its watermark, so the leftover shallower negative
    and covered positives contribute nothing; a retry merely reclaims
    space."""
    import os

    from mapreduce_task_spark.streaming.sketch_store import (
        BATCH_COL,
        batch_group_sketches,
        compact_batches,
        read_rollup,
        write_batch_sketches,
    )

    schema = "g string, k bigint, v double"
    batches = [
        [("a", 1, 1.0), ("b", 10, 5.0)],
        [("a", 2, 2.0), ("b", 11, 6.0)],
        [("a", 3, 3.0), ("b", 12, 7.0)],
    ]
    store = str(tmp_path / "crash_store")
    for i, rows in enumerate(batches):
        write_batch_sketches(spark.createDataFrame(rows, schema), i, store, "g", "k", "v")
    want = {
        r["g"]: (r["n_rows"], r["approx_distinct"])
        for r in read_rollup(spark, store, "g").collect()
    }

    # simulate: compact(up_to=1) fully done, then compact(up_to=2)
    # crashed right after writing __batch=-3 — by hand-writing the
    # deeper merged partition while leaving every old directory alive
    compact_batches(spark, store, up_to_batch=1)
    write_batch_sketches(spark.createDataFrame(batches[0], schema), 0, store, "g", "k", "v")
    write_batch_sketches(spark.createDataFrame(batches[1], schema), 1, store, "g", "k", "v")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    all_rows = spark.createDataFrame(
        [r for rows in batches for r in rows], schema
    )
    (
        batch_group_sketches(all_rows, "g", "k", "v")
        .withColumn(BATCH_COL, F.lit(-3))
        .write.mode("overwrite")
        .partitionBy(BATCH_COL)
        .parquet(store)
    )
    parts = {d for d in os.listdir(store) if d.startswith("__batch=")}
    assert parts == {"__batch=-3", "__batch=-2", "__batch=0", "__batch=1", "__batch=2"}

    got = {
        r["g"]: (r["n_rows"], r["approx_distinct"])
        for r in read_rollup(spark, store, "g").collect()
    }
    assert got == want
    # retry finishes the cleanup: -2, 0, 1, 2 all superseded by -3
    assert compact_batches(spark, store, up_to_batch=2) == 4
    parts = {d for d in os.listdir(store) if d.startswith("__batch=")}
    assert parts == {"__batch=-3"}
    assert got == {
        r["g"]: (r["n_rows"], r["approx_distinct"])
        for r in read_rollup(spark, store, "g").collect()
    }


def test_sketch_store_rejects_reserved_ids(spark, tmp_path):
    """Negative ids are the compaction space: the write side refuses
    them, and compacting a negative watermark is a caller error."""
    import pytest

    from mapreduce_task_spark.streaming.sketch_store import (
        compact_batches,
        write_batch_sketches,
    )

    df = spark.createDataFrame([("a", 1, 1.0)], "g string, k bigint, v double")
    store = str(tmp_path / "guard_store")
    with pytest.raises(ValueError, match="batch_id"):
        write_batch_sketches(df, -1, store, "g", "k", "v")
    write_batch_sketches(df, 0, store, "g", "k", "v")
    with pytest.raises(ValueError, match="up_to_batch"):
        compact_batches(spark, store, up_to_batch=-1)


def test_sketch_store_windowed_groups(spark, events_dir, tmp_path):
    """Multi-column sketch-store groups: per (event-time hour, type)
    sketches — the dashboard shape — still roll up correctly, and the
    TOTAL row merges across every window and type."""
    from mapreduce_task_spark.streaming.sketch_store import (
        read_rollup,
        write_batch_sketches,
    )

    ev = spark.read.parquet(events_dir).select(
        F.date_trunc("hour", F.col("ts")).cast("string").alias("hour"),
        "event_type",
        "user_id",
        "value",
    )
    store = str(tmp_path / "w_store")
    write_batch_sketches(ev, 0, store, ["hour", "event_type"], "user_id", "value")

    got = read_rollup(spark, store, ["hour", "event_type"]).collect()
    exact = {
        (r["hour"], r["event_type"]): r["n"]
        for r in ev.groupBy("hour", "event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    per = {(r["hour"], r["event_type"]): r for r in got if r["hour"] != "TOTAL"}
    assert set(per) == set(exact)
    for k, r in per.items():
        assert r["n_rows"] == exact[k]
    tot = [r for r in got if r["hour"] == "TOTAL"]
    assert len(tot) == 1 and tot[0]["event_type"] == "TOTAL"
    assert tot[0]["n_rows"] == ev.count()
    nd = ev.select("user_id").distinct().count()
    assert abs(tot[0]["approx_distinct"] - nd) <= max(2, 0.05 * nd)


def test_streaming_dedup_ingest_end_to_end(spark, tmp_path):
    """The continuous-crawl loop: a document stream (one file per
    micro-batch) flows through the dedup-ingest sink; the accumulated
    corpus equals batch-mode exact dedup over the concatenated input —
    first-seen (min doc_id) representative per text, NULL-text rows
    (extraction failures, not content) all kept."""
    from mapreduce_task_spark.streaming.dedup_ingest import (
        read_corpus,
        streaming_dedup_ingest,
    )
    from mapreduce_task_spark.streaming.windows import stream_from_directory

    schema = "doc_id bigint, text string"
    files = [
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, None)],
        [(5, "beta"), (6, "gamma"), (7, None)],
        [(8, "gamma"), (9, "delta"), (10, "alpha")],
    ]
    src = tmp_path / "docs_src"
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    corpus = str(tmp_path / "corpus")
    digests = str(tmp_path / "digests")
    q = streaming_dedup_ingest(
        stream_from_directory(
            spark, f"{src}/f*", spark.createDataFrame([], schema).schema,
            maxFilesPerTrigger=1,
        ),
        corpus,
        digests,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )
    # first-seen representative per distinct text + every NULL-text row
    assert got == [(1, "alpha"), (2, "beta"), (4, None), (6, "gamma"),
                   (7, None), (9, "delta")]


def test_dedup_ingest_replay_recomputes_identical_partitions(spark, tmp_path):
    """The replay hazard the 'strictly before' digest read exists to
    prevent: batch 1's digests are already on disk when batch 1
    replays. If the anti-join saw them, every replayed row would look
    like history and the corpus partition would be overwritten EMPTY.
    Instead the replay recomputes the identical partition."""
    from mapreduce_task_spark.streaming.dedup_ingest import (
        ingest_batch,
        read_corpus,
    )

    schema = "doc_id bigint, text string"
    b0 = spark.createDataFrame([(1, "alpha"), (2, "beta")], schema)
    b1 = spark.createDataFrame([(3, "alpha"), (4, "gamma"), (5, None)], schema)
    corpus, digests = str(tmp_path / "corpus"), str(tmp_path / "digests")
    ingest_batch(b0, 0, corpus, digests)
    ingest_batch(b1, 1, corpus, digests)
    want = sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )
    assert want == [(1, "alpha"), (2, "beta"), (4, "gamma"), (5, None)]

    ingest_batch(b1, 1, corpus, digests)  # crash-before-checkpoint replay
    got = sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )
    assert got == want


def test_dedup_ingest_digest_compaction_preserves_dedup(spark, tmp_path):
    """compact_digests folds committed digest partitions into a
    negative-id set partition: later batches still dedup against the
    full history, a replay of a still-positive batch stays identical,
    and the digest log's partition count drops."""
    import os

    from mapreduce_task_spark.streaming.dedup_ingest import (
        compact_digests,
        ingest_batch,
        read_corpus,
    )

    schema = "doc_id bigint, text string"
    batches = [
        [(1, "alpha"), (2, "beta")],
        [(3, "gamma")],
        [(4, "delta")],
    ]
    corpus, digests = str(tmp_path / "corpus"), str(tmp_path / "digests")
    for i, rows in enumerate(batches):
        ingest_batch(spark.createDataFrame(rows, schema), i, corpus, digests)

    # batches 0..1 are checkpoint-committed; fold their digests
    assert compact_digests(spark, digests, up_to_batch=1) == 2
    parts = {d for d in os.listdir(digests) if d.startswith("__batch=")}
    assert parts == {"__batch=-2", "__batch=2"}

    # a new batch still dedups against compacted history AND batch 2
    b3 = spark.createDataFrame([(5, "alpha"), (6, "delta"), (7, "epsilon")], schema)
    ingest_batch(b3, 3, corpus, digests)
    got = sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )
    assert got == [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "delta"),
                   (7, "epsilon")]

    # batch 2 (> compaction watermark) replays: identical result
    ingest_batch(spark.createDataFrame(batches[2], schema), 2, corpus, digests)
    assert got == sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )


def _neardup_texts():
    """Engineered corpora for the near-dup ingest tests: A/B/C/D are
    mutually disjoint 30-word sequences (Jaccard 0); *_near swaps one
    word (word-3-gram Jaccard ~0.8 — far above the 0.5 threshold even
    through the 16-hash agreement estimator). Purely alphabetic words:
    the tokenizer strips [^a-z], so digit suffixes would collapse
    every word to one token."""
    al = "abcdefghijklmnopqrstuvwxyz"
    mk = lambda p: " ".join(f"{p}{al[i // 26]}{al[i % 26]}" for i in range(30))
    a, b, c, d = mk("a"), mk("b"), mk("c"), mk("d")
    near = lambda t: t.rsplit(" ", 1)[0] + " zz"
    return a, b, c, d, near


def test_streaming_neardup_ingest_end_to_end(spark, tmp_path):
    """Near-dup continuous crawl: exact AND near duplicates are dropped
    within and across micro-batches; NULL-text rows (no shingles, no
    signature) always survive; the signature log holds exactly the
    kept signable docs. Streaming result also equals the sequential
    batch-mode operator (batch-equivalence)."""
    from mapreduce_task_spark.operators.dedup import incremental_minhash_dedup
    from mapreduce_task_spark.streaming.dedup_ingest import (
        read_corpus,
        read_signatures,
        streaming_neardup_ingest,
    )
    from mapreduce_task_spark.streaming.windows import stream_from_directory

    a, b, c, d, near = _neardup_texts()
    schema = "doc_id bigint, text string"
    files = [
        [(1, a), (2, b), (3, near(a)), (4, None)],       # 3: within-batch near
        [(5, a), (6, c), (7, near(b))],                  # 5 exact, 7 near, cross
        [(8, d), (9, near(a)), (10, None)],              # 9 near vs batch-0's a
    ]
    src = tmp_path / "docs_src"
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    corpus, sigs = str(tmp_path / "corpus"), str(tmp_path / "sigs")
    q = streaming_neardup_ingest(
        stream_from_directory(
            spark, f"{src}/f*", spark.createDataFrame([], schema).schema,
            maxFilesPerTrigger=1,
        ),
        corpus,
        sigs,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )
    assert got == [(1, a), (2, b), (4, None), (6, c), (8, d), (10, None)]
    # signature log: exactly the kept docs that HAVE shingles
    assert sorted(
        r["doc_id"] for r in read_signatures(spark, sigs).collect()
    ) == [1, 2, 6, 8]

    # batch-equivalence: the sequential batch-mode operator agrees
    kept, hist = None, None
    for rows in files:
        fresh, hist = incremental_minhash_dedup(
            spark.createDataFrame(rows, schema), hist
        )
        fresh = fresh.localCheckpoint()
        hist = hist.localCheckpoint()
        kept = fresh if kept is None else kept.unionByName(fresh)
    assert got == sorted((r["doc_id"], r["text"]) for r in kept.collect())


def test_neardup_ingest_replay_recomputes_identical_partitions(spark, tmp_path):
    """Same replay hazard as the exact loop: batch 1's signatures are
    already on disk when batch 1 replays; seeing them would score every
    row at agreement 1.0 against itself and land an EMPTY partition.
    The strictly-before read makes the replay recompute identically."""
    from mapreduce_task_spark.streaming.dedup_ingest import (
        ingest_batch_neardup,
        read_corpus,
        read_signatures,
    )

    a, b, c, d, near = _neardup_texts()
    schema = "doc_id bigint, text string"
    b0 = spark.createDataFrame([(1, a), (2, b)], schema)
    b1 = spark.createDataFrame([(3, near(a)), (4, c), (5, None)], schema)
    corpus, sigs = str(tmp_path / "corpus"), str(tmp_path / "sigs")
    ingest_batch_neardup(b0, 0, corpus, sigs)
    ingest_batch_neardup(b1, 1, corpus, sigs)
    want = sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )
    assert want == [(1, a), (2, b), (4, c), (5, None)]
    want_sigs = sorted(
        map(tuple, read_signatures(spark, sigs).collect())
    )

    ingest_batch_neardup(b1, 1, corpus, sigs)  # crash-before-checkpoint replay
    assert want == sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )
    assert want_sigs == sorted(map(tuple, read_signatures(spark, sigs).collect()))


def test_neardup_ingest_sig_compaction_preserves_dedup(spark, tmp_path):
    """compact_signatures folds committed signature partitions into the
    negative-id partition: later batches still near-dup against full
    history, a replay of a still-positive batch stays identical, and
    the log's partition count drops."""
    import os

    from mapreduce_task_spark.streaming.dedup_ingest import (
        compact_signatures,
        ingest_batch_neardup,
        read_corpus,
    )

    a, b, c, d, near = _neardup_texts()
    schema = "doc_id bigint, text string"
    batches = [[(1, a), (2, b)], [(3, c)], [(4, d)]]
    corpus, sigs = str(tmp_path / "corpus"), str(tmp_path / "sigs")
    for i, rows in enumerate(batches):
        ingest_batch_neardup(spark.createDataFrame(rows, schema), i, corpus, sigs)

    assert compact_signatures(spark, sigs, up_to_batch=1) == 2
    parts = {p for p in os.listdir(sigs) if p.startswith("__batch=")}
    assert parts == {"__batch=-2", "__batch=2"}

    # a new batch still near-dups against compacted history AND batch 2
    b3 = spark.createDataFrame(
        [(5, near(a)), (6, d),
         (7, " ".join(f"e{c}{c}" for c in "abcdefghijklmnopqrstuvwxyzabcd"))],
        schema
    )
    ingest_batch_neardup(b3, 3, corpus, sigs)
    got = sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )
    assert [t[0] for t in got] == [1, 2, 3, 4, 7]

    # batch 2 (> compaction watermark) replays: identical result
    ingest_batch_neardup(spark.createDataFrame(batches[2], schema), 2, corpus, sigs)
    assert got == sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )


def test_streaming_ivf_append_matches_frozen_rebuild(spark, sf_small, tmp_path):
    """Streaming IVF freshness: embeddings appended per micro-batch
    under the FROZEN quantizer must make search_with_delta reproduce a
    full same-quantizer rebuild over base ∪ appended — bit-for-bit
    (same scoring and tie-breaks)."""
    from mapreduce_task_spark.operators.similarity import (
        assign_clusters,
        ivf_build_index,
        ivf_search_index,
        with_quantized,
    )
    from mapreduce_task_spark.sources.tables import load_table
    from mapreduce_task_spark.streaming.ivf_ingest import (
        search_with_delta,
        streaming_ivf_append,
    )
    from mapreduce_task_spark.streaming.windows import stream_from_directory

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    stream_rows = emb.filter(F.col("vec_id") >= 300)

    idx = str(tmp_path / "ivf")
    ivf_build_index(base, idx, n_clusters=8, dim=64, rounds=2)

    src = tmp_path / "emb_src"
    stream_rows.filter(F.col("vec_id") < 400).coalesce(1).write.parquet(
        str(src / "f0")
    )
    stream_rows.filter(F.col("vec_id") >= 400).coalesce(1).write.parquet(
        str(src / "f1")
    )
    q = streaming_ivf_append(
        stream_from_directory(
            spark, f"{src}/f*", stream_rows.schema, maxFilesPerTrigger=1
        ),
        idx,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    got = search_with_delta(spark, idx, queries, k=5, nprobe=2)

    # same-quantizer rebuild: full corpus assigned to the FROZEN
    # centroids, searched through the plain persisted-index path
    idx2 = str(tmp_path / "ivf_rebuilt")
    cents = spark.read.parquet(f"{idx}/centroids")
    cents.write.parquet(f"{idx2}/centroids")
    assign_clusters(
        with_quantized(emb, "embedding").select("vec_id", "qv", "nq"), cents
    ).write.partitionBy("cluster").parquet(f"{idx2}/lists")
    want = ivf_search_index(spark, idx2, queries, k=5, nprobe=2)

    key = lambda r: (r["query_id"], r["rank"])
    got_m = {key(r): (r["cand_id"], r["cos"]) for r in got.collect()}
    want_m = {key(r): (r["cand_id"], r["cos"]) for r in want.collect()}
    assert got_m == want_m and len(got_m) > 0


def test_ivf_append_replay_and_maintenance(spark, sf_small, tmp_path):
    """Replay idempotence + the two maintenance ops: a crash-replayed
    append overwrites its own partition tree with identical rows;
    compact_delta folds batches without changing search results;
    merge_delta_into_base folds the delta into the base lists, after
    which the same query runs against base alone — identical top-k
    throughout."""
    import os

    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.sources.tables import load_table
    from mapreduce_task_spark.streaming.ivf_ingest import (
        append_batch,
        compact_delta,
        merge_delta_into_base,
        search_with_delta,
    )

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    b0 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    b1 = emb.filter(F.col("vec_id") >= 400)
    idx = str(tmp_path / "ivf")
    ivf_build_index(base, idx, n_clusters=8, dim=64, rounds=2)

    append_batch(b0, 0, idx)
    append_batch(b1, 1, idx)
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    def topk():
        return sorted(
            (r["query_id"], r["rank"], r["cand_id"], r["cos"])
            for r in search_with_delta(spark, idx, queries, k=5, nprobe=2).collect()
        )

    want = topk()
    append_batch(b1, 1, idx)  # crash-before-checkpoint replay
    assert topk() == want

    assert compact_delta(spark, idx, up_to_batch=1) == 2
    parts = {p for p in os.listdir(f"{idx}/delta") if p.startswith("__batch=")}
    assert parts == {"__batch=-2"}
    assert topk() == want

    merged = merge_delta_into_base(spark, idx)
    assert merged == b0.count() + b1.count()
    assert not os.path.exists(f"{idx}/delta")
    assert topk() == want
    assert merge_delta_into_base(spark, idx) == 0  # no-op without a delta


def test_search_with_delta_prunes_both_sides(spark, sf_small, tmp_path):
    """The 100 TB freshness claim plan-asserted: search_with_delta's
    executed plan must show DYNAMIC partition pruning on cluster for
    BOTH the base lists scan and the delta scan (each side joins the
    broadcast probe set itself — a union of scans before the join
    would prune neither), and the delta scan must also carry the
    static batchlog watermark filter on __batch."""
    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.streaming.ivf_ingest import (
        append_batch,
        search_with_delta,
    )

    emb = load_table(spark, sf_small, "embeddings")
    idx = str(tmp_path / "ivf")
    ivf_build_index(emb.filter(F.col("vec_id") < 300), idx, n_clusters=8, dim=64)
    append_batch(emb.filter(F.col("vec_id") >= 300), 0, idx)

    res = search_with_delta(
        spark, idx, emb.filter(F.col("vec_id") % 100 == 0), k=5, nprobe=2
    )
    res.collect()
    pf_lines = [
        ln
        for ln in res._jdf.queryExecution().executedPlan().toString().splitlines()
        # match loosely: SparkStringUtils truncates long filter lists
        # ("dynamicpruningexpression(clus...")
        if "PartitionFilters" in ln and "dynamicpruning" in ln
    ]
    delta_scans = [ln for ln in pf_lines if "__batch" in ln]
    base_scans = [ln for ln in pf_lines if "__batch" not in ln]
    assert delta_scans, "delta scan lost cluster DPP or the __batch watermark"
    assert base_scans, "base lists scan lost cluster DPP"


def test_neardup_sig_write_reads_no_history(spark, tmp_path):
    """The scan-once/severed-lineage claim behaviorally asserted: after
    the corpus write materializes the operator's pinned intermediates,
    the signature write must touch ONLY checkpointed state — proven by
    deleting the signature log from disk between the two writes. This
    pins both (a) the historical band/agreement joins running once per
    batch, not once per output, and (b) the signature write not reading
    the very path it dynamically overwrites."""
    import shutil

    from mapreduce_task_spark.operators.dedup import incremental_minhash_dedup
    from mapreduce_task_spark.operators.pinning import lazy_checkpoint
    from mapreduce_task_spark.streaming.batchlog import write_batch_partition
    from mapreduce_task_spark.streaming.dedup_ingest import (
        ingest_batch_neardup,
        read_signatures,
    )

    a, b, c, d, near = _neardup_texts()
    schema = "doc_id bigint, text string"
    corpus, sigs = str(tmp_path / "corpus"), str(tmp_path / "sigs")
    ingest_batch_neardup(spark.createDataFrame([(1, a), (2, b)], schema), 0, corpus, sigs)

    # batch 1, the sink body unrolled with a log deletion in the middle
    b1 = spark.createDataFrame([(3, near(a)), (4, c)], schema)
    known = read_signatures(spark, sigs, before_batch=1)
    fresh, delta = incremental_minhash_dedup(
        b1, known, sigs="delta", pin=lazy_checkpoint
    )
    write_batch_partition(fresh, 1, corpus)
    shutil.rmtree(sigs)  # history gone from disk; only checkpoints remain
    write_batch_partition(delta, 1, sigs)

    got = sorted(r["doc_id"] for r in read_signatures(spark, sigs).collect())
    assert got == [4]  # batch 1's one survivor (3 is a near-dup of 1)


def test_corpus_compaction_preserves_content_through_replay(spark, tmp_path):
    """compact_corpus folds batch partitions into the negative-id
    partition (the small-file valve); read_corpus's live view must be
    unchanged by compaction, by a replay of a COVERED batch (which
    re-creates its positive partition — the replay-after-compaction
    race), and by a subsequent second compaction that reclaims it."""
    import os

    from mapreduce_task_spark.streaming.dedup_ingest import (
        compact_corpus,
        ingest_batch,
        read_corpus,
    )

    schema = "doc_id bigint, text string"
    batches = [
        [(1, "alpha"), (2, "beta")],
        [(3, "gamma"), (4, "alpha")],   # 4 is a cross-batch dup
        [(5, "delta")],
    ]
    corpus, digests = str(tmp_path / "corpus"), str(tmp_path / "digests")
    for i, rows in enumerate(batches):
        ingest_batch(spark.createDataFrame(rows, schema), i, corpus, digests)
    want = sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )
    assert want == [(1, "alpha"), (2, "beta"), (3, "gamma"), (5, "delta")]

    assert compact_corpus(spark, corpus, up_to_batch=1) == 2
    parts = {p for p in os.listdir(corpus) if p.startswith("__batch=")}
    assert parts == {"__batch=-2", "__batch=2"}
    assert want == sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )

    # replay of covered batch 1: recreates __batch=1; live view ignores it
    ingest_batch(spark.createDataFrame(batches[1], schema), 1, corpus, digests)
    assert os.path.isdir(f"{corpus}/__batch=1")
    assert want == sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )

    # a second compaction at the same watermark reclaims the dead dir
    assert compact_corpus(spark, corpus, up_to_batch=1) == 1
    assert want == sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus).collect()
    )


def test_dedup_ingest_bootstrap_seeds(spark, tmp_path):
    """Starting streaming ingest against a PRE-EXISTING corpus: the
    bootstrap datasets (digests / minhash signatures of the historical
    corpus, built once, outside the batchlog id space) must screen
    batch 0 onward — exact dups and near-dups of historical docs are
    dropped, new content lands."""
    from mapreduce_task_spark.streaming.dedup_ingest import (
        bootstrap_digests,
        bootstrap_signatures,
        ingest_batch,
        ingest_batch_neardup,
        read_corpus,
    )

    a, b, c, d, near = _neardup_texts()
    schema = "doc_id bigint, text string"
    historical = spark.createDataFrame([(1, a), (2, b)], schema)

    # exact loop
    seed_d = str(tmp_path / "seed_digests")
    bootstrap_digests(historical, seed_d)
    corpus = str(tmp_path / "corpus")
    b0 = spark.createDataFrame([(10, a), (11, c)], schema)   # 10 = exact dup
    b1 = spark.createDataFrame([(12, b), (13, d)], schema)   # 12 = exact dup
    ingest_batch(b0, 0, corpus, str(tmp_path / "dg"), seed_path=seed_d)
    ingest_batch(b1, 1, corpus, str(tmp_path / "dg"), seed_path=seed_d)
    got = sorted(r["doc_id"] for r in read_corpus(spark, corpus).collect())
    assert got == [11, 13]

    # near-dup loop (subsumes exact; also drops near variants)
    seed_s = str(tmp_path / "seed_sigs")
    bootstrap_signatures(historical, seed_s)
    corpus2 = str(tmp_path / "corpus2")
    n0 = spark.createDataFrame([(20, near(a)), (21, c)], schema)  # 20 = near dup
    n1 = spark.createDataFrame([(22, b), (23, near(c))], schema)  # both dups
    ingest_batch_neardup(n0, 0, corpus2, str(tmp_path / "sg"), seed_path=seed_s)
    ingest_batch_neardup(n1, 1, corpus2, str(tmp_path / "sg"), seed_path=seed_s)
    got2 = sorted(r["doc_id"] for r in read_corpus(spark, corpus2).collect())
    assert got2 == [21]


def test_streaming_quality_monitor_trend_and_total(spark, tmp_path):
    """The corpus-health monitor: per-batch mergeable metric rows land
    via the batchlog; the trend view reproduces per-batch batch-mode
    aggregates, the total view merges counters/sketches to whole-input
    values without rescans, and compaction (pure merge) changes
    neither the total nor later trend reads."""
    from mapreduce_task_spark.streaming.quality_monitor import (
        batch_quality_row,
        compact_quality,
        read_quality_total,
        read_quality_trend,
        streaming_quality_monitor,
    )
    from mapreduce_task_spark.streaming.windows import stream_from_directory

    schema = "doc_id bigint, text string"
    files = [
        [(1, "alpha beta"), (2, "alpha beta"), (3, None)],      # dup + null
        [(4, "gamma"), (5, "delta epsilon zeta")],
        [(6, "alpha beta"), (None, "eta")],                      # cross-batch dup
    ]
    src = tmp_path / "docs_src"
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    path = str(tmp_path / "quality")
    q = streaming_quality_monitor(
        stream_from_directory(
            spark, f"{src}/f*", spark.createDataFrame([], schema).schema,
            maxFilesPerTrigger=1,
        ),
        path,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    counters = ["n_rows", "n_null_text", "n_null_id", "n_tokens", "n_chars"]
    trend = {r["__batch"]: r for r in read_quality_trend(spark, path).collect()}
    assert set(trend) == {0, 1, 2}
    for i, rows in enumerate(files):
        want = batch_quality_row(spark.createDataFrame(rows, schema)).collect()[0]
        assert {c: trend[i][c] for c in counters} == {c: want[c] for c in counters}
    assert trend[0]["null_text_rate"] == pytest.approx(1 / 3)
    assert trend[0]["approx_dup_rate"] == pytest.approx(0.5, abs=0.1)

    def total():
        return read_quality_total(spark, path).collect()[0]

    t = total()
    allrows = [r for rows in files for r in rows]
    assert t["n_rows"] == len(allrows)
    assert t["n_null_text"] == sum(1 for _, x in allrows if x is None)
    assert t["n_null_id"] == 1
    assert t["n_tokens"] == sum(len(x.split()) for _, x in allrows if x)
    # 5 distinct non-null texts of 7 non-null rows
    assert t["approx_distinct_texts"] == pytest.approx(5, abs=1)
    assert t["approx_dup_rate"] == pytest.approx(2 / 7, abs=0.05)

    assert compact_quality(spark, path, up_to_batch=1) == 2
    t2 = total()
    assert {c: t2[c] for c in counters} == {c: t[c] for c in counters}
    assert t2["approx_distinct_texts"] == t["approx_distinct_texts"]


def test_crawl_pipeline_two_sinks_compose(spark, tmp_path):
    """The continuous-crawl composition: ONE document stream feeds the
    near-dup ingest sink AND the quality monitor (each with its own
    checkpoint — independent progress, independent replay). The corpus
    accumulates dedup survivors while the monitor's totals describe
    the RAW stream — including the rows dedup dropped."""
    from mapreduce_task_spark.streaming.dedup_ingest import (
        read_corpus,
        streaming_neardup_ingest,
    )
    from mapreduce_task_spark.streaming.quality_monitor import (
        read_quality_total,
        streaming_quality_monitor,
    )
    from mapreduce_task_spark.streaming.windows import stream_from_directory

    a, b, c, d, near = _neardup_texts()
    schema = "doc_id bigint, text string"
    files = [
        [(1, a), (2, b), (3, None)],
        [(4, near(a)), (5, c)],
    ]
    src = tmp_path / "docs_src"
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )

    def source():
        return stream_from_directory(
            spark, f"{src}/f*", spark.createDataFrame([], schema).schema,
            maxFilesPerTrigger=1,
        )

    corpus, sigs = str(tmp_path / "corpus"), str(tmp_path / "sigs")
    q1 = streaming_neardup_ingest(source(), corpus, sigs, str(tmp_path / "ck1"))
    q2 = streaming_quality_monitor(
        source(), str(tmp_path / "quality"), str(tmp_path / "ck2")
    )
    q1.awaitTermination(120)
    q2.awaitTermination(120)

    kept = sorted(r["doc_id"] for r in read_corpus(spark, corpus).collect())
    assert kept == [1, 2, 3, 5]  # 4 is a near-dup of 1; NULL text kept

    t = read_quality_total(spark, str(tmp_path / "quality")).collect()[0]
    assert t["n_rows"] == 5          # raw stream, pre-dedup
    assert t["n_null_text"] == 1
    assert t["approx_distinct_texts"] == pytest.approx(4, abs=1)


def test_ingest_totality_all_null_text_batches(spark, tmp_path):
    """Totality on degenerate crawls: a batch whose survivors are all
    NULL-text writes an EMPTY digest/signature delta — the log
    directory then exists with no partitions, which naive readers fail
    schema inference on. log_exists must treat it as 'no history yet'
    so the next batch ingests normally; the NULL-text rows themselves
    are all kept (extraction failures are not content)."""
    from mapreduce_task_spark.streaming.dedup_ingest import (
        ingest_batch,
        ingest_batch_neardup,
        read_corpus,
    )

    schema = "doc_id bigint, text string"
    nulls = [(1, None), (2, None)]
    real = [(3, "alpha beta gamma"), (4, None)]

    corpus, digests = str(tmp_path / "c1"), str(tmp_path / "d1")
    ingest_batch(spark.createDataFrame(nulls, schema), 0, corpus, digests)
    ingest_batch(spark.createDataFrame(real, schema), 1, corpus, digests)
    assert sorted(r["doc_id"] for r in read_corpus(spark, corpus).collect()) == [
        1, 2, 3, 4,
    ]

    corpus2, sigs = str(tmp_path / "c2"), str(tmp_path / "s1")
    ingest_batch_neardup(spark.createDataFrame(nulls, schema), 0, corpus2, sigs)
    ingest_batch_neardup(spark.createDataFrame(real, schema), 1, corpus2, sigs)
    assert sorted(r["doc_id"] for r in read_corpus(spark, corpus2).collect()) == [
        1, 2, 3, 4,
    ]


def test_bm25_index_unseen_terms_and_quality_monitor_null_batch(
    spark, sf_small, tmp_path
):
    """Totality legs: a BM25 index search whose terms never occur in
    the corpus returns an empty frame (not an error), and an
    all-NULL-text batch through the quality monitor reports 0 distinct
    texts / 0 dup rate instead of NULL."""
    from mapreduce_task_spark.operators.ranking import (
        bm25_build_index,
        bm25_search_index,
    )
    from mapreduce_task_spark.sources.tables import load_table
    from mapreduce_task_spark.streaming.quality_monitor import (
        batch_quality_row,
        read_quality_total,
        read_quality_trend,
    )
    from mapreduce_task_spark.streaming.batchlog import write_batch_partition

    docs = load_table(spark, sf_small, "documents")
    path = str(tmp_path / "bm25")
    bm25_build_index(docs, spark, path)
    assert bm25_search_index(spark, path, ["zzzznope", "qqqqnope"], k=5).count() == 0

    qp = str(tmp_path / "quality")
    null_batch = spark.createDataFrame([(1, None), (2, None)], "doc_id bigint, text string")
    write_batch_partition(batch_quality_row(null_batch), 0, qp)
    t = read_quality_trend(spark, qp).collect()[0]
    assert t["n_rows"] == 2 and t["n_null_text"] == 2
    assert t["approx_distinct_texts"] == 0
    assert t["approx_dup_rate"] == 0.0
    # merges with a later normal batch
    ok_batch = spark.createDataFrame([(3, "alpha")], "doc_id bigint, text string")
    write_batch_partition(batch_quality_row(ok_batch), 1, qp)
    tot = read_quality_total(spark, qp).collect()[0]
    assert tot["n_rows"] == 3 and tot["approx_distinct_texts"] == 1


def test_ivf_delta_skew_report(spark, sf_small, tmp_path):
    """The drift signal: per-cluster base/delta sizes with frac_delta
    and imbalance; totals must tie out exactly to what was built and
    appended, and the report works before any append (all-zero
    deltas)."""
    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.sources.tables import load_table
    from mapreduce_task_spark.streaming.ivf_ingest import (
        append_batch,
        delta_skew_report,
    )

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    idx = str(tmp_path / "ivf")
    ivf_build_index(base, idx, n_clusters=8, dim=64, rounds=1)

    pre = delta_skew_report(spark, idx).collect()
    assert sum(r["n_base"] for r in pre) == base.count()
    assert all(r["n_delta"] == 0 and r["frac_delta"] == 0.0 for r in pre)

    append_batch(emb.filter(F.col("vec_id") >= 300), 0, idx)
    rep = delta_skew_report(spark, idx).collect()
    assert sum(r["n_base"] for r in rep) == base.count()
    assert sum(r["n_delta"] for r in rep) == emb.count() - base.count()
    mean_total = sum(r["n_total"] for r in rep) / len(rep)
    for r in rep:
        assert r["imbalance"] == pytest.approx(r["n_total"] / mean_total)
        assert 0.0 <= r["frac_delta"] <= 1.0


def test_streaming_bm25_append_matches_inline_full(spark, sf_small, tmp_path):
    """Streaming lexical-index freshness: documents appended per
    micro-batch must make search_with_delta reproduce bm25_topk over
    base ∪ appended BIT-FOR-BIT — the global scalars re-derive from
    exact integer counters, so growth cannot drift the scores."""
    from mapreduce_task_spark.operators.ranking import bm25_build_index, bm25_topk
    from mapreduce_task_spark.sources.tables import load_table
    from mapreduce_task_spark.streaming.bm25_ingest import (
        search_with_delta,
        streaming_bm25_append,
    )
    from mapreduce_task_spark.streaming.windows import stream_from_directory

    docs = load_table(spark, sf_small, "documents")
    base = docs.filter(F.col("doc_id") < 250)
    rest = docs.filter(F.col("doc_id") >= 250)
    idx = str(tmp_path / "bm25")
    bm25_build_index(base, spark, idx)

    src = tmp_path / "docs_src"
    rest.filter(F.col("doc_id") < 380).coalesce(1).write.parquet(str(src / "f0"))
    rest.filter(F.col("doc_id") >= 380).coalesce(1).write.parquet(str(src / "f1"))
    q = streaming_bm25_append(
        stream_from_directory(
            spark, f"{src}/f*", rest.schema, maxFilesPerTrigger=1
        ),
        idx,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    for terms in (["spark", "join", "query"], ["data", "the"]):
        got = [
            tuple(r)
            for r in search_with_delta(spark, idx, terms, k=25).collect()
        ]
        want = [tuple(r) for r in bm25_topk(docs, spark, terms, k=25).collect()]
        assert got == want and len(got) > 0


def test_bm25_append_replay_compaction_and_merge(spark, sf_small, tmp_path):
    """Replay idempotence + maintenance for the lexical delta: a
    crash-replayed append overwrites its own partitions identically;
    compacting all three delta logs changes nothing; merging the delta
    into the base leaves a plain index search reproducing the same
    top-k, with the delta gone and a second merge a no-op."""
    import os

    from mapreduce_task_spark.operators.ranking import (
        bm25_build_index,
        bm25_search_index,
    )
    from mapreduce_task_spark.sources.tables import load_table
    from mapreduce_task_spark.streaming.bm25_ingest import (
        append_text_batch,
        compact_df_delta,
        compact_postings_delta,
        compact_stats_delta,
        merge_delta_into_base,
        search_with_delta,
    )

    docs = load_table(spark, sf_small, "documents")
    base = docs.filter(F.col("doc_id") < 250)
    b0 = docs.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 380))
    b1 = docs.filter(F.col("doc_id") >= 380)
    idx = str(tmp_path / "bm25")
    bm25_build_index(base, spark, idx)
    append_text_batch(b0, 0, idx)
    append_text_batch(b1, 1, idx)

    terms = ["spark", "join", "query"]

    def topk():
        return [
            tuple(r) for r in search_with_delta(spark, idx, terms, k=25).collect()
        ]

    want = topk()
    append_text_batch(b1, 1, idx)  # crash-before-checkpoint replay
    assert topk() == want

    assert compact_postings_delta(spark, idx, up_to_batch=1) == 2
    assert compact_df_delta(spark, idx, up_to_batch=1) == 2
    assert compact_stats_delta(spark, idx, up_to_batch=1) == 2
    assert topk() == want

    n = merge_delta_into_base(spark, idx)
    assert n > 0
    assert not os.path.exists(f"{idx}/delta_postings")
    plain = [
        tuple(r) for r in bm25_search_index(spark, idx, terms, k=25).collect()
    ]
    assert plain == want
    assert merge_delta_into_base(spark, idx) == 0


def _crawl_corpus(spark, sf_small):
    """documents ∪ embeddings as one crawl feed: (doc_id, text,
    embedding), doc 255's embedding NULLed (an unembedded arrival)."""
    from mapreduce_task_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    embs = load_table(spark, sf_small, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return docs.join(embs, "doc_id", "left").select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") == 255, F.lit(None).cast("array<float>"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )


def test_composed_crawl_single_checkpoint_end_to_end(spark, sf_small, tmp_path):
    """The full crawl loop under ONE checkpoint: a document+embedding
    stream is dedup-screened against a bootstrapped base corpus, and
    its SURVIVORS land in the corpus AND become immediately searchable
    — BM25 delta search reproduces an inline bm25_topk over base ∪
    survivors bit-for-bit, the IVF delta holds exactly the embedded
    survivors, and the monitor describes the raw stream including the
    dropped duplicate."""
    from mapreduce_task_spark.operators.pq import ivfpq_build_index
    from mapreduce_task_spark.operators.ranking import bm25_build_index, bm25_topk
    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.streaming.crawl import streaming_crawl_ingest
    from mapreduce_task_spark.streaming import bm25_ingest, ivf_ingest, ivfpq_ingest
    from mapreduce_task_spark.streaming.dedup_ingest import (
        bootstrap_signatures,
        read_corpus,
    )
    from mapreduce_task_spark.streaming.quality_monitor import read_quality_total
    from mapreduce_task_spark.streaming.windows import stream_from_directory

    full = _crawl_corpus(spark, sf_small)
    base = full.filter(F.col("doc_id") < 250)
    rest = full.filter(F.col("doc_id") >= 250)

    bm25_idx = str(tmp_path / "bm25")
    ivf_idx = str(tmp_path / "ivf")
    ivfpq_idx = str(tmp_path / "ivfpq")
    ivfsq_idx = str(tmp_path / "ivfsq")
    seed = str(tmp_path / "seed_sigs")
    bm25_build_index(base, spark, bm25_idx)
    ivf_build_index(
        base.where(F.col("embedding").isNotNull()),
        ivf_idx,
        id_col="doc_id",
        vec_col="embedding",
    )
    ivfpq_build_index(
        base.where(F.col("embedding").isNotNull()),
        ivfpq_idx,
        id_col="doc_id",
        vec_col="embedding",
        n_clusters=8,
        m=8,
        ksub=16,
        dim=64,
    )
    from mapreduce_task_spark.operators.sq import ivfsq_build_index

    ivfsq_build_index(
        base.where(F.col("embedding").isNotNull()),
        ivfsq_idx,
        id_col="doc_id",
        vec_col="embedding",
        n_clusters=8,
        dim=64,
    )
    bootstrap_signatures(base, seed)

    # two crawl files; f1 smuggles in an exact duplicate of doc 260
    dup_text = rest.filter(F.col("doc_id") == 260).collect()[0]["text"]
    src = tmp_path / "docs_src"
    rest.filter(F.col("doc_id") < 380).coalesce(1).write.parquet(str(src / "f0"))
    rest.filter(F.col("doc_id") >= 380).unionByName(
        spark.createDataFrame(
            [(9001, dup_text, None)],
            "doc_id bigint, text string, embedding array<float>",
        )
    ).coalesce(1).write.parquet(str(src / "f1"))

    corpus, sigs = str(tmp_path / "corpus"), str(tmp_path / "sigs")
    q = streaming_crawl_ingest(
        stream_from_directory(
            spark, f"{src}/f*", rest.schema, maxFilesPerTrigger=1
        ),
        corpus,
        sigs,
        str(tmp_path / "ckpt"),
        bm25_path=bm25_idx,
        ivf_path=ivf_idx,
        ivfpq_path=ivfpq_idx,
        ivfsq_path=ivfsq_idx,
        quality_path=str(tmp_path / "quality"),
        seed_path=seed,
    )
    q.awaitTermination(180)

    # the documents table carries PLANTED near-dups (the dedup queries'
    # test bed), so the screen drops more than just our injected 9001 —
    # expectations derive from the landed corpus, and the parity
    # asserts below check the indexes against exactly those rows
    landed = read_corpus(spark, corpus)
    kept = sorted(r["doc_id"] for r in landed.collect())
    assert 9001 not in kept          # the injected exact dup of 260
    assert 260 in kept and 255 in kept  # the original + the unembedded doc
    assert 0 < len(kept) <= 250 and all(250 <= i < 500 for i in kept)

    # lexical freshness: delta search == inline bm25 over base ∪ landed
    searchable = base.unionByName(landed)
    for terms in (["spark", "join", "query"], ["data", "the"]):
        got = [
            tuple(r)
            for r in bm25_ingest.search_with_delta(
                spark, bm25_idx, terms, k=25
            ).collect()
        ]
        want = [
            tuple(r) for r in bm25_topk(searchable, spark, terms, k=25).collect()
        ]
        assert got == want and len(got) > 0

    # ANN freshness: the delta holds exactly the embedded survivors,
    # and a query at a streamed doc's embedding finds that doc first
    n_embedded = landed.where(F.col("embedding").isNotNull()).count()
    assert spark.read.parquet(f"{ivf_idx}/delta").count() == n_embedded
    probe_id = max(i for i in kept if i != 255)
    probe = (
        full.filter(F.col("doc_id") == probe_id)
        .select(F.lit(10_000).alias("doc_id"), "embedding")
    )
    top = (
        ivf_ingest.search_with_delta(
            spark, ivf_idx, probe, id_col="doc_id", k=1, nprobe=1
        )
        .collect()
    )
    assert [r["cand_id"] for r in top] == [probe_id]

    # compressed-index freshness: the IVF-PQ delta holds exactly the
    # embedded survivors, and a refined search at a streamed doc's own
    # embedding must put that doc at rank 1 (exact L2 distance 0)
    assert spark.read.parquet(f"{ivfpq_idx}/delta").count() == n_embedded
    pq_top = ivfpq_ingest.search_with_delta(
        spark, ivfpq_idx, probe, id_col="doc_id", k=1, nprobe=2, refine=5
    ).collect()
    assert [r["cand_id"] for r in pq_top] == [probe_id]
    assert pq_top[0]["exact_d"] == 0

    # IVF-SQ freshness (r12): delta holds the embedded survivors, a
    # refined search at a streamed doc's own embedding puts it at
    # rank 1 with exact distance 0
    from mapreduce_task_spark.streaming import ivfsq_ingest

    assert spark.read.parquet(f"{ivfsq_idx}/delta").count() == n_embedded
    sq_top = ivfsq_ingest.search_with_delta(
        spark, ivfsq_idx, probe, id_col="doc_id", k=1, nprobe=2, refine=5
    ).collect()
    assert [r["cand_id"] for r in sq_top] == [probe_id]
    assert sq_top[0]["exact_d"] == 0

    t = read_quality_total(spark, str(tmp_path / "quality")).collect()[0]
    assert t["n_rows"] == 251  # raw stream, pre-dedup, incl. the dup

    # r12: drift + occupancy surfaced through the composed loop. The
    # appends above landed one drift row per crawl batch under the SAME
    # single checkpoint; crawl_health reads occupancy + the drift
    # signal per index (drift columns NULL until a baseline exists).
    from mapreduce_task_spark.streaming.crawl import crawl_health

    h0 = {
        r["index_path"]: r
        for r in crawl_health(
            spark, ivf_path=ivf_idx, ivfpq_path=ivfpq_idx,
            ivfsq_path=ivfsq_idx,
        ).collect()
    }
    assert set(h0) == {ivf_idx, ivfpq_idx, ivfsq_idx}
    assert h0[ivf_idx]["kind"] == "ivf" and h0[ivfpq_idx]["kind"] == "ivfpq"
    assert h0[ivfsq_idx]["kind"] == "ivfsq"
    assert h0[ivf_idx]["assign_ratio"] is None  # no baseline recorded yet
    assert h0[ivf_idx]["skew_ratio"] >= 1.0
    # saturation needs no baseline: populated already, and in-range
    assert h0[ivfsq_idx]["frac_clamped"] is not None
    assert h0[ivfsq_idx]["frac_clamped"] < 0.05
    assert h0[ivf_idx]["frac_clamped"] is None  # not an SQ index

    ivf_ingest.drift_baseline(spark, ivf_idx)
    ivfpq_ingest.drift_baseline(spark, ivfpq_idx, id_col="doc_id", m=8, dim=64)
    ivfsq_ingest.drift_baseline(spark, ivfsq_idx)
    # one drift row per crawl batch (the two streamed files)
    for mod, idx_p in ((ivf_ingest, ivf_idx), (ivfsq_ingest, ivfsq_idx)):
        trend = mod.read_drift_trend(spark, idx_p).collect()
        assert sorted(r["__batch"] for r in trend) == [0, 1], idx_p
        assert sum(r["n"] for r in trend) == n_embedded, idx_p

    h = {
        r["index_path"]: r
        for r in crawl_health(
            spark, ivf_path=ivf_idx, ivfpq_path=ivfpq_idx,
            ivfsq_path=ivfsq_idx,
        ).collect()
    }
    assert h[ivf_idx]["drift_n"] == n_embedded
    assert h[ivf_idx]["assign_ratio"] > 0
    assert h[ivf_idx]["quant_ratio"] is None  # flat index: no codes
    assert h[ivfpq_idx]["quant_ratio"] > 0
    assert h[ivfpq_idx]["retrain"] is not None
    assert h[ivfsq_idx]["assign_ratio"] > 0
    assert h[ivfsq_idx]["refit"] is not None


def test_composed_crawl_batch_replay_idempotent(spark, sf_small, tmp_path):
    """Crash-before-checkpoint replay of a COMPOSED batch: re-running
    crawl_batch with the same batch id overwrites its own partitions
    in every log (corpus, signatures, BM25 delta ×3, IVF delta,
    monitor) byte-identically — the single-checkpoint fan-out's
    exactly-once argument."""
    from mapreduce_task_spark.operators.ranking import bm25_build_index
    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.streaming import bm25_ingest
    from mapreduce_task_spark.streaming.crawl import crawl_batch
    from mapreduce_task_spark.streaming.dedup_ingest import read_corpus

    full = _crawl_corpus(spark, sf_small)
    base = full.filter(F.col("doc_id") < 250)
    b0 = full.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 380))
    b1 = full.filter(F.col("doc_id") >= 380)

    bm25_idx, ivf_idx = str(tmp_path / "bm25"), str(tmp_path / "ivf")
    bm25_build_index(base, spark, bm25_idx)
    ivf_build_index(
        base.where(F.col("embedding").isNotNull()),
        ivf_idx,
        id_col="doc_id",
        vec_col="embedding",
    )
    corpus, sigs = str(tmp_path / "corpus"), str(tmp_path / "sigs")
    qual = str(tmp_path / "quality")

    def run(df, bid):
        crawl_batch(
            df, bid, corpus, sigs,
            bm25_path=bm25_idx, ivf_path=ivf_idx, quality_path=qual,
        )

    run(b0, 0)
    run(b1, 1)

    def state():
        return (
            sorted(r["doc_id"] for r in read_corpus(spark, corpus).collect()),
            sorted(
                tuple(r)
                for r in spark.read.parquet(f"{bm25_idx}/delta_postings")
                .drop("__batch")
                .collect()
            ),
            spark.read.parquet(f"{ivf_idx}/delta").count(),
            [
                tuple(r)
                for r in bm25_ingest.search_with_delta(
                    spark, bm25_idx, ["spark", "query"], k=10
                ).collect()
            ],
        )

    want = state()
    run(b1, 1)  # replay of the last batch
    assert state() == want


def test_crawl_ivfpq_leg_reads_shape_from_index_meta(spark, sf_small, tmp_path):
    """The composed sink's IVF-PQ leg takes m/dim/per_list from the
    index meta: on a per_list=True index, crawl_batch with no shape
    arguments lands exactly the delta (and drift) rows
    ivfpq_ingest.append_batch writes when told per_list=True."""
    from mapreduce_task_spark.operators.pq import ivfpq_build_index
    from mapreduce_task_spark.streaming.crawl import crawl_batch
    from mapreduce_task_spark.streaming.dedup_ingest import read_corpus
    from mapreduce_task_spark.streaming.ivfpq_ingest import append_batch

    full = _crawl_corpus(spark, sf_small)
    base = full.filter(F.col("doc_id") < 250).where(F.col("embedding").isNotNull())
    batch = full.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 380))
    idx = str(tmp_path / "ivfpq_pl")
    ivfpq_build_index(
        base, idx, id_col="doc_id", n_clusters=4, m=8, ksub=16, dim=64,
        coarse_rounds=1, pq_rounds=2, per_list=True,
    )
    corpus = str(tmp_path / "corpus")
    crawl_batch(batch, 0, corpus, str(tmp_path / "sigs"), ivfpq_path=idx)

    survivors = batch.join(read_corpus(spark, corpus).select("doc_id"), "doc_id")
    append_batch(
        survivors.where(F.col("embedding").isNotNull()), 1, idx,
        id_col="doc_id", m=8, dim=64, per_list=True,
    )

    def rows(log, bid):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(f"{idx}/{log}")
            .filter(F.col("__batch") == bid)
            .drop("__batch")
            .collect()
        )

    assert rows("delta", 0) and rows("delta", 0) == rows("delta", 1)
    assert rows("drift", 0) == rows("drift", 1)


def test_compact_crawl_preserves_every_surface(spark, sf_small, tmp_path):
    """One maintenance call folds all six crawl logs; corpus, lexical
    search, ANN search, and monitor totals are bit-identical before
    and after, and each batchlog's live view is the single compacted
    partition."""
    import os

    from mapreduce_task_spark.operators.ranking import bm25_build_index
    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.streaming import bm25_ingest, ivf_ingest
    from mapreduce_task_spark.streaming.crawl import compact_crawl, crawl_batch
    from mapreduce_task_spark.streaming.dedup_ingest import read_corpus
    from mapreduce_task_spark.streaming.quality_monitor import read_quality_total

    full = _crawl_corpus(spark, sf_small)
    base = full.filter(F.col("doc_id") < 250)
    bm25_idx, ivf_idx = str(tmp_path / "bm25"), str(tmp_path / "ivf")
    bm25_build_index(base, spark, bm25_idx)
    ivf_build_index(
        base.where(F.col("embedding").isNotNull()),
        ivf_idx,
        id_col="doc_id",
        vec_col="embedding",
    )
    corpus, sigs = str(tmp_path / "corpus"), str(tmp_path / "sigs")
    qual = str(tmp_path / "quality")
    for bid, lo, hi in ((0, 250, 380), (1, 380, 500)):
        crawl_batch(
            full.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            bid, corpus, sigs,
            bm25_path=bm25_idx, ivf_path=ivf_idx, quality_path=qual,
        )

    probe = full.filter(F.col("doc_id") == 490).select(
        F.lit(10_000).alias("doc_id"), "embedding"
    )

    def state():
        return (
            sorted(r["doc_id"] for r in read_corpus(spark, corpus).collect()),
            [
                tuple(r)
                for r in bm25_ingest.search_with_delta(
                    spark, bm25_idx, ["spark", "query"], k=10
                ).collect()
            ],
            [
                tuple(r)
                for r in ivf_ingest.search_with_delta(
                    spark, ivf_idx, probe, id_col="doc_id", k=5
                ).collect()
            ],
            tuple(read_quality_total(spark, qual).collect()[0]),
        )

    want = state()
    dropped = compact_crawl(
        spark, corpus, sigs, committed_batch=1,
        bm25_path=bm25_idx, ivf_path=ivf_idx, quality_path=qual,
    )
    # every present log folded its two batch partitions
    assert all(n == 2 for n in dropped.values()), dropped
    assert state() == want
    # live view is the single compacted partition per log
    for p in (corpus, sigs, qual, f"{bm25_idx}/delta_postings",
              f"{ivf_idx}/delta"):
        parts = [d for d in os.listdir(p) if d.startswith("__batch=")]
        assert parts == ["__batch=-2"], (p, parts)
    # idempotent re-run: nothing left to fold
    again = compact_crawl(
        spark, corpus, sigs, committed_batch=1,
        bm25_path=bm25_idx, ivf_path=ivf_idx, quality_path=qual,
    )
    assert all(n == 0 for n in again.values()), again
    assert state() == want


def test_composed_crawl_chaos_invariance(spark, sf_small, tmp_path):
    """F1 map-side stragglers injected into the crawl stream slow the
    micro-batches but must not change ANY landed state: corpus rows,
    lexical and ANN delta-search answers, and monitor totals from the
    chaotic run are bit-identical to the calm run's, and the injected
    hits surface in the streaming progress metrics (F5). This is the
    reference's fault-injection contract (latency-only, results
    untouched) carried through the composed exactly-once fan-out."""
    from mapreduce_task_spark.chaos import ChaosConfig, inject_map_chaos
    from mapreduce_task_spark.operators.ranking import bm25_build_index
    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.streaming import bm25_ingest, ivf_ingest
    from mapreduce_task_spark.streaming.crawl import streaming_crawl_ingest
    from mapreduce_task_spark.streaming.dedup_ingest import (
        bootstrap_signatures,
        read_corpus,
    )
    from mapreduce_task_spark.streaming.quality_monitor import read_quality_total
    from mapreduce_task_spark.streaming.windows import stream_from_directory

    full = _crawl_corpus(spark, sf_small)
    base = full.filter(F.col("doc_id") < 250)
    feed = full.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 370))
    src = tmp_path / "src"
    feed.filter(F.col("doc_id") < 310).coalesce(1).write.parquet(str(src / "f0"))
    feed.filter(F.col("doc_id") >= 310).coalesce(1).write.parquet(str(src / "f1"))

    cfg = ChaosConfig.from_conf(
        {
            "insertindex.slow.map.partitions": "0,1,2,3,4,5,6,7",
            "insertindex.slow.map.sleep.ms": "1",
            "insertindex.slow.map.eachN": "10",
        }
    )

    def run(tag, chaotic):
        d = tmp_path / tag
        bm25_idx, ivf_idx = str(d / "bm25"), str(d / "ivf")
        bm25_build_index(base, spark, bm25_idx)
        ivf_build_index(
            base.where(F.col("embedding").isNotNull()),
            ivf_idx,
            id_col="doc_id",
            vec_col="embedding",
        )
        seed = str(d / "seed")
        bootstrap_signatures(base, seed)
        stream = stream_from_directory(
            spark, f"{src}/f*", feed.schema, maxFilesPerTrigger=1
        )
        if chaotic:
            stream = inject_map_chaos(stream, cfg, observation="crawl_chaos")
        q = streaming_crawl_ingest(
            stream,
            str(d / "corpus"),
            str(d / "sigs"),
            str(d / "ckpt"),
            bm25_path=bm25_idx,
            ivf_path=ivf_idx,
            quality_path=str(d / "qual"),
            seed_path=seed,
        )
        q.awaitTermination(180)
        landed = read_corpus(spark, str(d / "corpus"))
        kept = sorted(r["doc_id"] for r in landed.collect())
        # probe at a landed embedded doc's embedding: derived from each
        # run's OWN corpus, so a state divergence fails the compare
        # below rather than hiding behind a fixed probe id
        probe_id = max(i for i in kept if i != 255)
        probe = full.filter(F.col("doc_id") == probe_id).select(
            F.lit(10_000).alias("doc_id"), "embedding"
        )
        state = (
            sorted((r["doc_id"], r["text"]) for r in landed.collect()),
            [
                tuple(r)
                for r in bm25_ingest.search_with_delta(
                    spark, bm25_idx, ["spark", "data", "query"], k=25
                ).collect()
            ],
            [
                tuple(r)
                for r in ivf_ingest.search_with_delta(
                    spark, ivf_idx, probe, id_col="doc_id", k=5
                ).collect()
            ],
            tuple(read_quality_total(spark, str(d / "qual")).collect()[0]),
        )
        return state, q

    calm, _ = run("calm", chaotic=False)
    chaotic_state, q = run("chaos", chaotic=True)
    assert chaotic_state == calm
    assert len(calm[0]) > 0 and len(calm[1]) > 0 and len(calm[2]) > 0
    hits = sum(
        p["observedMetrics"]["crawl_chaos"]["SLOW_INJECT_MAP_HITS"] or 0
        for p in q.recentProgress
        if "crawl_chaos" in p.get("observedMetrics", {})
    )
    assert hits > 0


def test_crawl_batch_quality_model_screen(spark, sf_small, tmp_path):
    """The learned-filter stage inside the crawl loop: garbage documents
    (scored under the threshold by a weak-label-trained classifier)
    never reach the corpus, the signature log, or either search index;
    good documents land; a NULL-text arrival bypasses the unscoreable
    filter and survives (the ingest totality contract); and the
    monitor still describes the RAW batch — the drop rate is the
    signal."""
    from mapreduce_task_spark.operators.quality_model import train_quality_model
    from mapreduce_task_spark.operators.ranking import bm25_build_index
    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.streaming.crawl import crawl_batch
    from mapreduce_task_spark.streaming.dedup_ingest import read_corpus
    from mapreduce_task_spark.streaming.quality_monitor import read_quality_total

    full = _crawl_corpus(spark, sf_small)
    base = full.filter(F.col("doc_id") < 250)

    def garbage(ids_from, n):
        return spark.range(ids_from, ids_from + n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(40)),
                    lambda i: F.concat(
                        F.lit("zq"),
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("id").cast("string"),
                                    F.lit(":"),
                                    i.cast("string"),
                                )
                            ),
                            1,
                            6,
                        ),
                    ),
                ),
            ).alias("text"),
            F.lit(None).cast("array<float>").alias("embedding"),
        )

    model = train_quality_model(
        base.select("doc_id", "text")
        .withColumn("label", F.lit(1.0))
        .unionByName(
            garbage(100_000, 200).select("doc_id", "text").withColumn(
                "label", F.lit(0.0)
            )
        ),
        dims_log2=15,
    )

    good = full.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 270))
    junk = garbage(9_100, 5)
    null_doc = spark.createDataFrame(
        [(9_200, None, None)], "doc_id bigint, text string, embedding array<float>"
    )
    feed = good.unionByName(junk).unionByName(null_doc)

    bm25_idx, ivf_idx = str(tmp_path / "bm25"), str(tmp_path / "ivf")
    bm25_build_index(base, spark, bm25_idx)
    ivf_build_index(
        base.where(F.col("embedding").isNotNull()),
        ivf_idx,
        id_col="doc_id",
        vec_col="embedding",
    )
    corpus, sigs = str(tmp_path / "corpus"), str(tmp_path / "sigs")
    qual = str(tmp_path / "quality")
    crawl_batch(
        feed, 0, corpus, sigs,
        bm25_path=bm25_idx, ivf_path=ivf_idx, quality_path=qual,
        quality_model=model,
    )

    kept = {r["doc_id"] for r in read_corpus(spark, corpus).collect()}
    assert not any(9_100 <= i < 9_105 for i in kept), kept  # junk screened
    assert 9_200 in kept                       # NULL text bypasses the filter
    assert len(kept & set(range(250, 270))) > 10  # good docs land
    # neither index saw a junk doc
    assert (
        spark.read.parquet(f"{bm25_idx}/delta_postings")
        .where((F.col("doc_id") >= 9_100) & (F.col("doc_id") < 9_105))
        .count()
        == 0
    )
    assert (
        spark.read.parquet(f"{ivf_idx}/delta")
        .where((F.col("doc_id") >= 9_100) & (F.col("doc_id") < 9_105))
        .count()
        == 0
    )
    # the monitor row is PRE-filter: all 26 raw arrivals counted
    assert read_quality_total(spark, qual).collect()[0]["n_rows"] == 26


def test_crawl_quality_screened_batch_replay_idempotent(spark, sf_small, tmp_path):
    """The quality-screened batch body stays deterministic in (batch,
    earlier state): scoring with a FIXED fitted model is a per-row
    projection, so a crash-before-checkpoint replay recomputes every
    log partition identically — the screen does not break the
    composed sink's exactly-once argument."""
    from mapreduce_task_spark.operators.quality_model import train_quality_model
    from mapreduce_task_spark.operators.ranking import bm25_build_index
    from mapreduce_task_spark.streaming import bm25_ingest
    from mapreduce_task_spark.streaming.crawl import crawl_batch
    from mapreduce_task_spark.streaming.dedup_ingest import read_corpus

    full = _crawl_corpus(spark, sf_small)
    base = full.filter(F.col("doc_id") < 250)
    batch = full.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 350))

    model = train_quality_model(
        base.select("doc_id", "text").withColumn("label", F.lit(1.0)).unionByName(
            base.select(
                (F.col("doc_id") + 100_000).alias("doc_id"),
                F.reverse(F.col("text")).alias("text"),
            ).withColumn("label", F.lit(0.0))
        ),
        dims_log2=15,
        max_iter=10,
    )

    bm25_idx = str(tmp_path / "bm25")
    bm25_build_index(base, spark, bm25_idx)
    corpus, sigs, qual = (
        str(tmp_path / "corpus"),
        str(tmp_path / "sigs"),
        str(tmp_path / "quality"),
    )

    def run():
        crawl_batch(
            batch, 0, corpus, sigs,
            bm25_path=bm25_idx, quality_path=qual,
            quality_model=model, quality_threshold=0.5,
        )

    def state():
        return (
            sorted(tuple(r) for r in read_corpus(spark, corpus).collect()),
            sorted(
                tuple(r)
                for r in spark.read.parquet(f"{sigs}").drop("__batch").collect()
            ),
            [
                tuple(r)
                for r in bm25_ingest.search_with_delta(
                    spark, bm25_idx, ["spark", "query"], k=10
                ).collect()
            ],
        )

    run()
    want = state()
    assert len(want[0]) > 0
    run()  # crash-before-checkpoint replay of the same batch id
    assert state() == want


def test_streaming_ivfpq_append_matches_merged_index(spark, sf_small, tmp_path):
    """Streaming IVF-PQ freshness (r10): batches encoded under the
    FROZEN coarse quantizer + residual codebook and appended to the
    delta log must make search_with_delta reproduce ivfpq_search_index
    run after merge_delta_into_base — bit-for-bit, for both the
    pure-ADC and the refine=N search paths. Also pins replay
    idempotence (a crash-replayed append changes nothing) and
    compaction invariance."""
    import os

    from mapreduce_task_spark.operators.pq import (
        ivfpq_build_index,
        ivfpq_search_index,
    )
    from mapreduce_task_spark.streaming.ivfpq_ingest import (
        append_batch,
        compact_delta,
        merge_delta_into_base,
        search_with_delta,
    )

    M, DIM, K = 8, 64, 5
    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    b0 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    b1 = emb.filter(F.col("vec_id") >= 400)
    idx = str(tmp_path / "ivfpq")
    ivfpq_build_index(
        base, idx, n_clusters=8, m=M, ksub=16, dim=DIM,
        coarse_rounds=1, pq_rounds=2,
    )
    append_batch(b0, 0, idx, m=M, dim=DIM)
    append_batch(b1, 1, idx, m=M, dim=DIM)
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    def adc_topk():
        return sorted(
            (r["query_id"], r["rank"], r["cand_id"], r["approx_d"])
            for r in search_with_delta(
                spark, idx, queries, k=K, nprobe=2, m=M, dim=DIM
            ).collect()
        )

    def refined_topk(fn, **kw):
        return sorted(
            (r["query_id"], r["rank"], r["cand_id"], r["exact_d"])
            for r in fn(
                spark, idx, queries, k=K, nprobe=2, m=M, dim=DIM,
                refine=5, **kw
            ).collect()
        )

    got_adc = adc_topk()
    got_ref = refined_topk(search_with_delta)
    assert len(got_adc) == len(got_ref) > 0

    # crash-before-checkpoint replay: identical rows land in the same
    # partition tree
    append_batch(b1, 1, idx, m=M, dim=DIM)
    assert adc_topk() == got_adc and refined_topk(search_with_delta) == got_ref

    # compaction folds batches without changing either search
    assert compact_delta(spark, idx, up_to_batch=1) == 2
    parts = {p for p in os.listdir(f"{idx}/delta") if p.startswith("__batch=")}
    assert parts == {"__batch=-2"}
    assert adc_topk() == got_adc and refined_topk(search_with_delta) == got_ref

    # segment merge: delta folds into codes AND vectors; the plain
    # persisted-index search now reproduces the delta search bit-for-bit
    merged = merge_delta_into_base(spark, idx)
    assert merged == b0.count() + b1.count()
    assert not os.path.exists(f"{idx}/delta")
    want_adc = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["approx_d"])
        for r in ivfpq_search_index(
            spark, idx, queries, k=K, nprobe=2, m=M, dim=DIM
        ).collect()
    )
    want_ref = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["exact_d"])
        for r in ivfpq_search_index(
            spark, idx, queries, k=K, nprobe=2, m=M, dim=DIM, refine=5
        ).collect()
    )
    assert want_adc == got_adc
    assert want_ref == got_ref
    # search_with_delta without a delta degrades to the plain path
    assert adc_topk() == got_adc
    assert merge_delta_into_base(spark, idx) == 0  # no-op without a delta


def test_streaming_ivfpq_append_sink_and_pruning(spark, sf_small, tmp_path):
    """The foreachBatch sink wires the encode-append body; the delta
    search plan keeps DYNAMIC cluster pruning on base codes AND delta
    scans (each side joins the broadcast ADC tables itself), with the
    batchlog watermark on the delta side."""
    from mapreduce_task_spark.operators.pq import ivfpq_build_index
    from mapreduce_task_spark.streaming.ivfpq_ingest import (
        search_with_delta,
        streaming_ivfpq_append,
    )
    from mapreduce_task_spark.streaming.windows import stream_from_directory

    M, DIM = 8, 64
    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    stream_rows = emb.filter(F.col("vec_id") >= 300)
    idx = str(tmp_path / "ivfpq")
    ivfpq_build_index(
        base, idx, n_clusters=8, m=M, ksub=16, dim=DIM,
        coarse_rounds=1, pq_rounds=2,
    )
    src = tmp_path / "emb_src"
    stream_rows.coalesce(1).write.parquet(str(src / "f0"))
    q = streaming_ivfpq_append(
        stream_from_directory(
            spark, f"{src}/f*", stream_rows.schema, maxFilesPerTrigger=1
        ),
        idx,
        str(tmp_path / "ckpt"),
        m=M,
        dim=DIM,
    )
    q.awaitTermination(120)

    res = search_with_delta(
        spark, idx, emb.filter(F.col("vec_id") % 100 == 0),
        k=5, nprobe=2, m=M, dim=DIM,
    )
    assert res.count() > 0
    pf_lines = [
        ln
        for ln in res._jdf.queryExecution().executedPlan().toString().splitlines()
        if "PartitionFilters" in ln and "dynamicpruning" in ln
    ]
    delta_scans = [ln for ln in pf_lines if "__batch" in ln]
    base_scans = [ln for ln in pf_lines if "__batch" not in ln]
    assert delta_scans, "delta scan lost cluster DPP or the __batch watermark"
    assert base_scans, "base codes scan lost cluster DPP"


def test_ivfpq_merge_marker_recovery_preserves_new_appends(
    spark, sf_small, tmp_path
):
    """The crash window the naive merge protocol lost data in: a merge
    that committed its marker (side dirs complete) but crashed before
    finishing, followed by the operator mistake of restarting appends
    BEFORE re-running the merge. Recovery must finish the swaps from
    the marker, delete exactly the merged batch partitions, keep the
    post-crash batch, and leave search results equal to
    base ∪ crashed-merge rows ∪ new batch."""
    import os

    from mapreduce_task_spark.operators.pq import (
        ivfpq_build_index,
        ivfpq_search_index,
    )
    from mapreduce_task_spark.streaming.batchlog import (
        BATCH_COL,
        batch_ids,
        log_live,
    )
    from mapreduce_task_spark.streaming.ivfpq_ingest import (
        append_batch,
        merge_delta_into_base,
        search_with_delta,
    )

    M, DIM, K = 8, 64, 5
    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    b0 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    b1 = emb.filter(F.col("vec_id") >= 400)
    idx = str(tmp_path / "ivfpq")
    ivfpq_build_index(
        base, idx, n_clusters=8, m=M, ksub=16, dim=DIM,
        coarse_rounds=1, pq_rounds=2,
    )
    append_batch(b0, 0, idx, m=M, dim=DIM)

    # simulate merge #1 crashing right after its marker commit: side
    # dirs written, marker recorded, but no swap / no partition delete
    live = log_live(spark, f"{idx}/delta")
    ids = batch_ids(spark.read.parquet(f"{idx}/delta"))
    for name in ("codes", "vectors"):
        b = spark.read.parquet(f"{idx}/{name}")
        b.unionByName(live.drop(BATCH_COL).select(*b.columns)).write.mode(
            "overwrite"
        ).partitionBy("cluster").parquet(f"{idx}/{name}_merged")
    spark.createDataFrame([(int(i),) for i in ids], "id long").coalesce(
        1
    ).write.mode("overwrite").json(f"{idx}/delta_merge_marker")

    # operator restarts the append stream before re-running the merge
    append_batch(b1, 1, idx, m=M, dim=DIM)

    # recovery: resume branch — finish swaps, drop ONLY batch 0, keep 1
    assert merge_delta_into_base(spark, idx) == 0
    assert not os.path.exists(f"{idx}/codes_merged")
    assert not os.path.exists(f"{idx}/vectors_merged")
    assert not os.path.exists(f"{idx}/delta_merge_marker")
    parts = {
        p for p in os.listdir(f"{idx}/delta") if p.startswith("__batch=")
    }
    assert parts == {"__batch=1"}, parts

    queries = emb.filter(F.col("vec_id") % 50 == 0)

    def snap(df):
        return sorted(
            (r["query_id"], r["rank"], r["cand_id"], r["exact_d"])
            for r in df.collect()
        )

    got = snap(
        search_with_delta(
            spark, idx, queries, k=K, nprobe=2, m=M, dim=DIM, refine=5
        )
    )
    # merge #2 folds the surviving batch; the plain search must then
    # reproduce the delta search over base ∪ b0 ∪ b1 exactly
    assert merge_delta_into_base(spark, idx) == b1.count()
    assert not os.path.exists(f"{idx}/delta")
    want = snap(
        ivfpq_search_index(
            spark, idx, queries, k=K, nprobe=2, m=M, dim=DIM, refine=5
        )
    )
    assert got == want and len(got) > 0


def test_merge_torn_marker_discarded_and_remerged(spark, sf_small, tmp_path):
    """A marker directory whose write was torn (no readable rows — the
    crash happened mid-commit) must NOT be trusted: recovery discards
    it and re-runs the merge from the intact base + delta, ending in
    the same state as an uninterrupted merge."""
    import os

    from mapreduce_task_spark.operators.similarity import (
        ivf_build_index,
        ivf_search_index,
    )
    from mapreduce_task_spark.streaming.ivf_ingest import (
        append_batch,
        merge_delta_into_base,
        search_with_delta,
    )

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    rest = emb.filter(F.col("vec_id") >= 300)
    idx = str(tmp_path / "ivf")
    ivf_build_index(base, idx, n_clusters=8, dim=64, rounds=2)
    append_batch(rest, 0, idx)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    want = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["cos"])
        for r in search_with_delta(spark, idx, queries, k=5, nprobe=2).collect()
    )

    # torn marker: the directory exists but holds no readable dataset
    os.makedirs(f"{idx}/delta_merge_marker", exist_ok=True)
    with open(f"{idx}/delta_merge_marker/_partial", "w") as f:
        f.write("")

    assert merge_delta_into_base(spark, idx) == rest.count()
    assert not os.path.exists(f"{idx}/delta")
    assert not os.path.exists(f"{idx}/delta_merge_marker")
    got = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["cos"])
        for r in ivf_search_index(spark, idx, queries, k=5, nprobe=2).collect()
    )
    assert got == want and len(got) > 0


def test_compaction_refuses_while_merge_marker_pending(spark, sf_small, tmp_path):
    """compact_delta must refuse while a committed-but-unfinished merge
    marker exists: compaction would rehome the marker-listed partitions
    into a fresh negative id the merge recovery cannot see, and the
    next merge would double-fold those rows into the base. After
    recovery, compaction is allowed again."""
    import pytest as _pytest

    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.streaming.batchlog import batch_ids
    from mapreduce_task_spark.streaming.ivf_ingest import (
        append_batch,
        compact_delta,
        merge_delta_into_base,
    )

    emb = load_table(spark, sf_small, "embeddings")
    idx = str(tmp_path / "ivf")
    ivf_build_index(emb.filter(F.col("vec_id") < 300), idx, n_clusters=8, dim=64)
    append_batch(emb.filter(F.col("vec_id") >= 300), 0, idx)

    # a committed marker (as merge_log_into_base writes it, mid-crash)
    ids = batch_ids(spark.read.parquet(f"{idx}/delta"))
    spark.createDataFrame([(int(i),) for i in ids], "id long").coalesce(
        1
    ).write.mode("overwrite").json(f"{idx}/delta_merge_marker")

    with _pytest.raises(RuntimeError, match="merge pending"):
        compact_delta(spark, idx, up_to_batch=0)

    # recovery first, then the log is gone and compaction is a no-op
    # question that never arises; with a fresh append it works again
    assert merge_delta_into_base(spark, idx) == 0  # resume path
    append_batch(emb.filter(F.col("vec_id") >= 450), 1, idx)
    assert compact_delta(spark, idx, up_to_batch=1) == 1


def test_streaming_ivfpq_delta_search_filter_ids(spark, sf_small, tmp_path):
    """Filtered search over base + delta: the allow-list pre-filters
    candidates on BOTH sides, and the filtered delta search equals the
    filtered plain search after the segment merge — the
    ivfpq_search_index(filter_ids=) contract extends to streamed rows."""
    from mapreduce_task_spark.operators.pq import (
        ivfpq_build_index,
        ivfpq_search_index,
    )
    from mapreduce_task_spark.streaming.ivfpq_ingest import (
        append_batch,
        merge_delta_into_base,
        search_with_delta,
    )

    M, DIM, K = 8, 64, 5
    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    delta_rows = emb.filter(F.col("vec_id") >= 400)
    allow = emb.select("vec_id").filter(F.col("vec_id") % 2 == 0)
    idx = str(tmp_path / "ivfpq_filter")
    ivfpq_build_index(
        base, idx, n_clusters=8, m=M, ksub=16, dim=DIM,
        coarse_rounds=1, pq_rounds=2,
    )
    append_batch(delta_rows, 0, idx, m=M, dim=DIM)
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    def rows(fn, **kw):
        return sorted(
            (r["query_id"], r["rank"], r["cand_id"], r["exact_d"])
            for r in fn(
                spark, idx, queries, k=K, nprobe=2, m=M, dim=DIM,
                refine=5, filter_ids=allow, **kw
            ).collect()
        )

    got = rows(search_with_delta)
    assert got and all(cand % 2 == 0 for _, _, cand, _ in got)
    # delta-side candidates can win: some result id sits in the delta
    assert any(cand >= 400 for _, _, cand, _ in got)
    merge_delta_into_base(spark, idx)
    assert rows(ivfpq_search_index) == got


def test_streaming_ivf_delta_search_filter_ids(spark, sf_small, tmp_path):
    """Filtered IVF search over base + delta mirrors the IVF-PQ
    contract: the allow-list pre-filters candidates on both sides, and
    the filtered delta search equals the filtered plain search after
    merge_delta_into_base."""
    from mapreduce_task_spark.operators.similarity import (
        ivf_build_index,
        ivf_search_index,
    )
    from mapreduce_task_spark.streaming.ivf_ingest import (
        append_batch,
        merge_delta_into_base,
        search_with_delta,
    )

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    delta_rows = emb.filter(F.col("vec_id") >= 400)
    allow = emb.select("vec_id").filter(F.col("vec_id") % 2 == 0)
    idx = str(tmp_path / "ivf_filter")
    ivf_build_index(base, idx, n_clusters=8, dim=64, rounds=1)
    append_batch(delta_rows, 0, idx)
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    def rows(fn):
        return sorted(
            (r["query_id"], r["rank"], r["cand_id"], r["cos"])
            for r in fn(
                spark, idx, queries, k=5, nprobe=2, filter_ids=allow
            ).collect()
        )

    got = rows(search_with_delta)
    assert got and all(cand % 2 == 0 for _, _, cand, _ in got)
    assert any(cand >= 400 for _, _, cand, _ in got)
    merge_delta_into_base(spark, idx)
    assert rows(ivf_search_index) == got


def test_streaming_bm25_delta_search_filter_ids(spark, sf_small, tmp_path):
    """Filtered BM25 over base + delta: the allow-list pre-filters
    merged postings while the corpus statistics stay corpus-wide, so
    the filtered delta search equals post-filtering the exhaustive
    delta ranking — spanning base and streamed-in docs."""
    from mapreduce_task_spark.operators.ranking import bm25_build_index
    from mapreduce_task_spark.streaming.bm25_ingest import (
        append_text_batch,
        search_with_delta,
    )

    docs = load_table(spark, sf_small, "documents")
    n = docs.count()
    base = docs.filter(F.col("doc_id") < 250)
    rest = docs.filter(F.col("doc_id") >= 250)
    allow = docs.select("doc_id").filter(F.col("doc_id") % 2 == 0)
    idx = str(tmp_path / "bm25_filter_delta")
    bm25_build_index(base, spark, idx)
    append_text_batch(rest, 0, idx)

    terms = ["spark", "join", "query"]
    got = [
        (r["doc_id"], r["n_terms_hit"], r["score_micro"])
        for r in search_with_delta(
            spark, idx, terms, k=10, filter_ids=allow
        ).collect()
    ]
    full = search_with_delta(spark, idx, terms, k=n).collect()
    want = [
        (r["doc_id"], r["n_terms_hit"], r["score_micro"])
        for r in full
        if r["doc_id"] % 2 == 0
    ][:10]
    assert got == want and len(got) == 10
    assert all(d % 2 == 0 for d, _, _ in got)
    assert any(d >= 250 for d, _, _ in got) or any(
        r["doc_id"] >= 250 for r in full
    )


def test_merge_then_stream_replay_does_not_duplicate(spark, sf_small, tmp_path):
    """The replay-after-merge crash window: a stream that wrote its
    batch partition but crashed BEFORE the checkpoint commit, followed
    by a segment merge and the stream restart, replays the folded
    batch. The merged watermark must make the replayed
    write_batch_partition a no-op — otherwise the recreated partition
    duplicates every folded row in the delta search and the NEXT merge
    bakes the duplicates into the base."""
    import os

    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.streaming.batchlog import merged_watermark
    from mapreduce_task_spark.streaming.ivf_ingest import (
        append_batch,
        merge_delta_into_base,
        search_with_delta,
    )

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    b0 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    b1 = emb.filter(F.col("vec_id") >= 400)
    idx = str(tmp_path / "ivf_replay")
    ivf_build_index(base, idx, n_clusters=8, dim=64, rounds=1)
    append_batch(b0, 0, idx)
    assert merged_watermark(spark, f"{idx}/delta") == -1
    assert merge_delta_into_base(spark, idx) == b0.count()
    assert merged_watermark(spark, f"{idx}/delta") == 0

    queries = emb.filter(F.col("vec_id") % 50 == 0)

    def snap():
        return sorted(
            (r["query_id"], r["rank"], r["cand_id"], r["cos"])
            for r in search_with_delta(
                spark, idx, queries, k=5, nprobe=2
            ).collect()
        )

    want = snap()
    # checkpoint-uncommitted batch 0 replays after the merge: must be
    # a no-op (its rows already live in the base lists)
    append_batch(b0, 0, idx)
    assert not os.path.exists(f"{idx}/delta/__batch=0")
    assert snap() == want
    # genuinely new batches (ids above the watermark) still land
    append_batch(b1, 1, idx)
    assert os.path.exists(f"{idx}/delta/__batch=1")
    got = snap()
    assert any(cand >= 400 for _, _, cand, _ in got)
    # ...and the second merge folds ONLY the new batch
    assert merge_delta_into_base(spark, idx) == b1.count()
    assert merged_watermark(spark, f"{idx}/delta") == 1
    assert snap() == got


def test_bm25_merge_then_stream_replay_does_not_duplicate(
    spark, sf_small, tmp_path
):
    """The replay-after-merge window for the THREE-log BM25 index: a
    checkpoint-uncommitted batch replayed after merge_delta_into_base
    must be skipped on ALL three delta logs (recreating any of them
    would double-count postings, df, or the exact corpus counters)."""
    import os

    from mapreduce_task_spark.operators.ranking import bm25_build_index
    from mapreduce_task_spark.streaming.batchlog import merged_watermark
    from mapreduce_task_spark.streaming.bm25_ingest import (
        append_text_batch,
        merge_delta_into_base,
        search_with_delta,
    )

    docs = load_table(spark, sf_small, "documents")
    base = docs.filter(F.col("doc_id") < 250)
    b0 = docs.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 380))
    b1 = docs.filter(F.col("doc_id") >= 380)
    idx = str(tmp_path / "bm25_replay")
    bm25_build_index(base, spark, idx)
    append_text_batch(b0, 0, idx)
    assert merge_delta_into_base(spark, idx) > 0
    for d in ("delta_postings", "delta_df", "delta_stats"):
        assert merged_watermark(spark, f"{idx}/{d}") == 0

    terms = ["spark", "join", "query"]

    def snap():
        return sorted(
            (r["doc_id"], r["n_terms_hit"], r["score_micro"])
            for r in search_with_delta(spark, idx, terms, k=25).collect()
        )

    want = snap()
    # replayed batch 0: all three partition writes must be no-ops
    append_text_batch(b0, 0, idx)
    for d in ("delta_postings", "delta_df", "delta_stats"):
        assert not os.path.exists(f"{idx}/{d}/__batch=0")
    assert snap() == want
    # a genuinely new batch still lands and scores
    append_text_batch(b1, 1, idx)
    got = snap()
    assert got != want or b1.count() == 0
    assert merge_delta_into_base(spark, idx) > 0
    assert snap() == got


def test_bm25_merge_recovery_preserves_post_crash_appends(
    spark, sf_small, tmp_path
):
    """The bm25 analogue of the IVF marker-recovery guarantee: a merge
    that committed its marker but crashed before teardown, followed by
    an append, must finish recovery WITHOUT deleting the post-crash
    batch — the old whole-dir teardown lost those rows entirely (in
    neither base nor delta). Compaction refuses while the marker is
    pending."""
    import os

    import pytest as _pytest

    from mapreduce_task_spark.operators.ranking import bm25_build_index
    from mapreduce_task_spark.streaming.bm25_ingest import (
        append_text_batch,
        compact_postings_delta,
        merge_delta_into_base,
        search_with_delta,
    )

    docs = load_table(spark, sf_small, "documents")
    base = docs.filter(F.col("doc_id") < 250)
    b0 = docs.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 380))
    b1 = docs.filter(F.col("doc_id") >= 380)
    idx = str(tmp_path / "bm25_crash")
    bm25_build_index(base, spark, idx)
    append_text_batch(b0, 0, idx)

    # simulate the crash window: side-writes + committed marker, no
    # teardown — by running the merge and rolling its teardown back is
    # impossible, so build the state by hand the way the protocol does
    from mapreduce_task_spark.streaming.bm25_ingest import _DF, _POSTINGS, _STATS
    from mapreduce_task_spark.streaming.batchlog import (
        BATCH_COL,
        log_live,
        write_small_file,
    )

    dposts = log_live(spark, f"{idx}/{_POSTINGS}")
    spark.read.parquet(f"{idx}/postings").unionByName(
        dposts.drop(BATCH_COL)
    ).write.parquet(f"{idx}/postings_merged")
    ddf = log_live(spark, f"{idx}/{_DF}")
    tdf = spark.read.parquet(f"{idx}/term_df").unionByName(
        ddf.select("term", F.col("df_delta").cast("double").alias("df")).drop(
            BATCH_COL
        ),
        allowMissingColumns=False,
    )
    tdf.groupBy("term").agg(F.sum("df").alias("df")).write.parquet(
        f"{idx}/term_df_merged"
    )
    ds = log_live(spark, f"{idx}/{_STATS}")
    counters = spark.read.parquet(f"{idx}/stats").select(
        F.col("n_docs_exact").alias("n"), F.col("sum_dl").alias("s")
    ).unionByName(
        ds.select(F.col("n_docs").alias("n"), F.col("sum_dl").alias("s"))
    )
    counters.agg(
        F.sum("n").cast("double").alias("n_docs"),
        (F.sum("s").cast("double") / F.sum("n").cast("double")).alias("avgdl"),
        F.sum("n").alias("n_docs_exact"),
        F.sum("s").alias("sum_dl"),
    ).write.parquet(f"{idx}/stats_merged")
    # the marker the CURRENT protocol writes: per-log folded maxima
    # (r11: the legacy single-int form degrades differently — see
    # test_bm25_legacy_int_marker_protects_lagging_logs)
    import json as _json

    write_small_file(
        spark,
        f"{idx}/_MERGE_COMMITTED",
        _json.dumps({_POSTINGS: 0, _DF: 0, _STATS: 0}),
    )

    # compaction refuses while the marker is pending
    with _pytest.raises(RuntimeError, match="merge pending"):
        compact_postings_delta(spark, idx, up_to_batch=0)

    # operator appends a new batch before re-running the merge
    append_text_batch(b1, 1, idx)

    # recovery: finish the teardown, keep batch 1
    assert merge_delta_into_base(spark, idx) == 0
    assert not os.path.exists(f"{idx}/_MERGE_COMMITTED")
    assert not os.path.exists(f"{idx}/{_POSTINGS}/__batch=0")
    assert os.path.exists(f"{idx}/{_POSTINGS}/__batch=1")

    # base ∪ b0 merged; b1 still served from the delta — the second
    # merge folds it and nothing is lost or doubled
    terms = ["spark", "join", "query"]

    def snap():
        return sorted(
            (r["doc_id"], r["n_terms_hit"], r["score_micro"])
            for r in search_with_delta(spark, idx, terms, k=25).collect()
        )

    got = snap()
    assert merge_delta_into_base(spark, idx) > 0
    assert snap() == got


def test_bm25_merge_watermarks_each_log_independently(spark, sf_small, tmp_path):
    """The mid-append crash window: append_text_batch lands postings
    before df before stats, so a crash can leave batch N folded in ONE
    log and absent from the others. The merge must watermark each log
    with its OWN folded max — a cross-log max would mark the lagging
    logs past batch N, and the replay's df/stat counters would be
    skipped as 'already folded' and lost forever (idf/avgdl silently
    wrong from then on)."""
    import os

    from mapreduce_task_spark.operators.ranking import (
        bm25_build_index,
        bm25_topk,
        doc_tokens,
    )
    from mapreduce_task_spark.streaming.batchlog import (
        merged_watermark,
        write_batch_partition,
    )
    from mapreduce_task_spark.streaming.bm25_ingest import (
        _DF,
        _POSTINGS,
        _STATS,
        append_text_batch,
        merge_delta_into_base,
        search_with_delta,
    )

    docs = load_table(spark, sf_small, "documents")
    base = docs.filter(F.col("doc_id") < 250)
    b0 = docs.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 380))
    b1 = docs.filter(F.col("doc_id") >= 380)
    idx = str(tmp_path / "bm25_lag")
    bm25_build_index(base, spark, idx)
    append_text_batch(b0, 0, idx)
    # crashed batch 1: ONLY the postings write landed (the exact rows
    # append_text_batch would have written), df/stats never did
    toks = doc_tokens(b1, "text").select("doc_id", "toks", "dl")
    posts = (
        toks.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    write_batch_partition(
        posts.repartition("term").sortWithinPartitions("term", "doc_id"),
        1,
        f"{idx}/{_POSTINGS}",
    )

    assert merge_delta_into_base(spark, idx) > 0
    # per-log watermarks: postings folded through batch 1, df/stats
    # only through batch 0
    assert merged_watermark(spark, f"{idx}/{_POSTINGS}") == 1
    assert merged_watermark(spark, f"{idx}/{_DF}") == 0
    assert merged_watermark(spark, f"{idx}/{_STATS}") == 0

    # the restarted stream replays batch 1 in full: the postings write
    # must be skipped (already folded), the df/stat writes must LAND
    append_text_batch(b1, 1, idx)
    assert not os.path.exists(f"{idx}/{_POSTINGS}/__batch=1")
    assert os.path.exists(f"{idx}/{_DF}/__batch=1")
    assert os.path.exists(f"{idx}/{_STATS}/__batch=1")

    # nothing lost, nothing doubled: the delta search over the healed
    # index reproduces a from-scratch BM25 over the full corpus
    terms = ["spark", "join", "query"]
    got = sorted(
        (r["doc_id"], r["n_terms_hit"], r["score_micro"])
        for r in search_with_delta(spark, idx, terms, k=25).collect()
    )
    want = sorted(
        (r["doc_id"], r["n_terms_hit"], r["score_micro"])
        for r in bm25_topk(docs, spark, terms, k=25).collect()
    )
    assert got == want and len(got) > 0


def test_ivfpq_drift_monitor_detects_synthetic_drift(spark, sf_small, tmp_path):
    """r11: the frozen-quantizer drift monitor. An in-distribution
    batch and a synthetically drifted batch (constant embedding shift)
    are appended; the drifted batch's mergeable drift row must show
    clearly higher assignment-distance and PQ-reconstruction-error
    ratios vs the recorded build baseline, drift_signal must fire at a
    threshold between the two, and — the other half of the contract —
    search RESULTS stay exactly correct while the metric moves
    (exhaustive-probe + corpus-covering refine over base ∪ delta still
    equals the exact int64 L2 brute force)."""
    from pyspark.sql import Window

    from mapreduce_task_spark.operators.pq import ivfpq_build_index
    from mapreduce_task_spark.operators.similarity import int_dot, with_quantized
    from mapreduce_task_spark.streaming.ivfpq_ingest import (
        append_batch,
        compact_drift,
        drift_baseline,
        drift_signal,
        read_drift_trend,
        search_with_delta,
    )

    M, DIM, K = 8, 64, 5
    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 300)
    b_in = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    b_drift = emb.filter(F.col("vec_id") >= 400).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.8)).alias("embedding"),
    )
    idx = str(tmp_path / "ivfpq_drift")
    ivfpq_build_index(
        base, idx, n_clusters=8, m=M, ksub=16, dim=DIM,
        coarse_rounds=1, pq_rounds=2,
    )
    drift_baseline(spark, idx, m=M, dim=DIM)
    append_batch(b_in, 0, idx, m=M, dim=DIM)
    append_batch(b_drift, 1, idx, m=M, dim=DIM)

    trend = {r["__batch"]: r for r in read_drift_trend(spark, idx).collect()}
    assert set(trend) == {0, 1}
    assert trend[0]["n"] == b_in.count() and trend[1]["n"] == b_drift.count()
    # in-distribution batch: same corpus distribution, ratios near 1
    assert 0.5 < trend[0]["assign_ratio"] < 1.5, trend[0]
    assert 0.5 < trend[0]["quant_ratio"] < 1.5, trend[0]
    # drifted batch: both signals move, and move well past the
    # in-distribution batch
    assert trend[1]["assign_ratio"] > 2 * trend[0]["assign_ratio"], trend
    assert trend[1]["quant_ratio"] > 2 * trend[0]["quant_ratio"], trend

    # the retrain trigger fires at a threshold between the two regimes
    sig = drift_signal(spark, idx, retrain_ratio=2.0).collect()[0]
    assert sig["n"] == b_in.count() + b_drift.count()
    assert bool(sig["retrain"]) is True
    calm = drift_signal(spark, idx, retrain_ratio=1e9).collect()[0]
    assert bool(calm["retrain"]) is False

    # replay idempotence: a crash-replayed append rewrites identical
    # drift numbers
    append_batch(b_drift, 1, idx, m=M, dim=DIM)
    replayed = {r["__batch"]: r for r in read_drift_trend(spark, idx).collect()}
    assert replayed[1] == trend[1]

    # results stay EXACT while the metric moves: exhaustive probe +
    # corpus-covering refine over base ∪ delta == exact L2 brute force
    full = base.unionByName(b_in).unionByName(b_drift)
    n = full.count()
    queries = full.filter(F.col("vec_id") % 100 == 0)
    qd = with_quantized(full)
    q = qd.join(queries.select("vec_id"), "vec_id").select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qv_q"),
        F.col("nq").alias("nq_q"),
    )
    c = qd.select(
        F.col("vec_id").alias("cand_id"),
        F.col("qv").alias("qv_c"),
        F.col("nq").alias("nq_c"),
    )
    d = F.col("nq_q") + F.col("nq_c") - 2 * int_dot(F.col("qv_q"), F.col("qv_c"))
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("cand_id"))
    want = sorted(
        (r["query_id"], r["cand_id"], r["d"], r["rank"])
        for r in (
            F.broadcast(q)
            .join(c, F.col("cand_id") != F.col("query_id"))
            .select("query_id", "cand_id", d.alias("d"))
            .select("*", F.row_number().over(w).alias("rank"))
            .filter(F.col("rank") <= K)
        ).collect()
    )
    got = sorted(
        (r["query_id"], r["cand_id"], r["exact_d"], r["rank"])
        for r in search_with_delta(
            spark, idx, queries, k=K, nprobe=8, m=M, dim=DIM,
            refine=-(-n // K),
        ).collect()
    )
    assert got == want and len(got) > 0

    # drift rows compact by pure merge: the overall signal is unchanged
    assert compact_drift(spark, idx, up_to_batch=1) == 2
    after = drift_signal(spark, idx, retrain_ratio=2.0).collect()[0]
    assert after == sig

    # retrain contract: reset_drift drops the log + baseline so a
    # rebuilt index starts its monitor clean (stale rows measured
    # under the old quantizer would poison every new ratio)
    import os

    from mapreduce_task_spark.streaming.ivfpq_ingest import reset_drift

    reset_drift(spark, idx)
    assert not os.path.exists(f"{idx}/drift")
    assert not os.path.exists(f"{idx}/drift_base")
    assert read_drift_trend(spark, idx) is None


def test_bm25_legacy_int_marker_protects_lagging_logs(spark, sf_small, tmp_path):
    """r11 ADVICE fix: a legacy single-int _MERGE_COMMITTED marker must
    apply its recorded max to the POSTINGS log only. Expanding it to
    all three logs would watermark df/stats past a batch they never
    folded (the mid-append crash leaves them lagging), and the
    restarted stream's replayed df/stat counters would be skipped as
    'already folded' — lost forever. With the fix, df/stats fall back
    to full-ownership teardown (no watermark), so the replay LANDS and
    the healed index reproduces a from-scratch BM25."""
    import os

    from mapreduce_task_spark.operators.ranking import (
        bm25_build_index,
        bm25_topk,
        doc_tokens,
    )
    from mapreduce_task_spark.streaming.batchlog import (
        BATCH_COL,
        log_live,
        merged_watermark,
        write_batch_partition,
        write_small_file,
    )
    from mapreduce_task_spark.streaming.bm25_ingest import (
        _DF,
        _POSTINGS,
        _STATS,
        append_text_batch,
        merge_delta_into_base,
        search_with_delta,
    )

    docs = load_table(spark, sf_small, "documents")
    base = docs.filter(F.col("doc_id") < 250)
    b0 = docs.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 380))
    b1 = docs.filter(F.col("doc_id") >= 380)
    idx = str(tmp_path / "bm25_legacy_int")
    bm25_build_index(base, spark, idx)
    append_text_batch(b0, 0, idx)
    # crashed batch 1 append: ONLY the postings write landed
    toks = doc_tokens(b1, "text").select("doc_id", "toks", "dl")
    posts = (
        toks.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    write_batch_partition(
        posts.repartition("term").sortWithinPartitions("term", "doc_id"),
        1,
        f"{idx}/{_POSTINGS}",
    )

    # hand-build the crashed merge's state: side dirs complete (they
    # folded postings through batch 1, df/stats through batch 0), then
    # a LEGACY single-int marker (first-hardening-pass format) — its
    # one number is the postings log's folded max
    dposts = log_live(spark, f"{idx}/{_POSTINGS}")
    spark.read.parquet(f"{idx}/postings").unionByName(
        dposts.drop(BATCH_COL)
    ).write.parquet(f"{idx}/postings_merged")
    ddf = log_live(spark, f"{idx}/{_DF}")
    tdf = spark.read.parquet(f"{idx}/term_df").unionByName(
        ddf.select("term", F.col("df_delta").cast("double").alias("df")).drop(
            BATCH_COL
        )
    )
    tdf.groupBy("term").agg(F.sum("df").alias("df")).write.parquet(
        f"{idx}/term_df_merged"
    )
    ds = log_live(spark, f"{idx}/{_STATS}")
    counters = spark.read.parquet(f"{idx}/stats").select(
        F.col("n_docs_exact").alias("n"), F.col("sum_dl").alias("s")
    ).unionByName(
        ds.select(F.col("n_docs").alias("n"), F.col("sum_dl").alias("s"))
    )
    counters.agg(
        F.sum("n").cast("double").alias("n_docs"),
        (F.sum("s").cast("double") / F.sum("n").cast("double")).alias("avgdl"),
        F.sum("n").alias("n_docs_exact"),
        F.sum("s").alias("sum_dl"),
    ).write.parquet(f"{idx}/stats_merged")
    write_small_file(spark, f"{idx}/_MERGE_COMMITTED", "1")

    # recovery from the legacy marker
    assert merge_delta_into_base(spark, idx) == 0
    assert not os.path.exists(f"{idx}/_MERGE_COMMITTED")
    # postings watermarked at the recorded max; df/stats NOT
    # watermarked (full-ownership fallback — the cross-log hazard fix)
    assert merged_watermark(spark, f"{idx}/{_POSTINGS}") == 1
    assert merged_watermark(spark, f"{idx}/{_DF}") == -1
    assert merged_watermark(spark, f"{idx}/{_STATS}") == -1

    # the restarted stream replays batch 1 in full: postings skipped
    # (folded), df/stats LAND — they were never folded
    append_text_batch(b1, 1, idx)
    assert not os.path.exists(f"{idx}/{_POSTINGS}/__batch=1")
    assert os.path.exists(f"{idx}/{_DF}/__batch=1")
    assert os.path.exists(f"{idx}/{_STATS}/__batch=1")

    terms = ["spark", "join", "query"]
    got = sorted(
        (r["doc_id"], r["n_terms_hit"], r["score_micro"])
        for r in search_with_delta(spark, idx, terms, k=25).collect()
    )
    want = sorted(
        (r["doc_id"], r["n_terms_hit"], r["score_micro"])
        for r in bm25_topk(docs, spark, terms, k=25).collect()
    )
    assert got == want and len(got) > 0


def test_marker_dir_without_success_but_readable_is_committed(
    spark, sf_small, tmp_path
):
    """r11 ADVICE fix: a legacy DIRECTORY marker written under a
    committer with marksuccessfuljobs=false has no _SUCCESS yet is a
    COMMITTED merge. Deleting it as torn after recovery already
    swapped one of two targets would let a fresh re-merge fold the
    still-present delta into the already-merged target and duplicate
    its rows. The fix reads the ids: readable non-empty content means
    committed — recovery must RESUME (finish the second swap, drop
    exactly the owned partitions), not re-merge."""
    import os

    from mapreduce_task_spark.operators.pq import (
        ivfpq_build_index,
        ivfpq_search_index,
    )
    from mapreduce_task_spark.streaming.batchlog import BATCH_COL, batch_ids, log_live
    from mapreduce_task_spark.streaming.ivfpq_ingest import (
        append_batch,
        merge_delta_into_base,
    )

    M, DIM, K = 8, 64, 5
    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    b0 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    idx = str(tmp_path / "ivfpq_nosuccess")
    ivfpq_build_index(
        base, idx, n_clusters=8, m=M, ksub=16, dim=DIM,
        coarse_rounds=1, pq_rounds=2,
    )
    append_batch(b0, 0, idx, m=M, dim=DIM)

    # committed merge: both side dirs written, marker dir committed —
    # but the committer was configured not to write _SUCCESS
    live = log_live(spark, f"{idx}/delta")
    ids = batch_ids(spark.read.parquet(f"{idx}/delta"))
    for name in ("codes", "vectors"):
        b = spark.read.parquet(f"{idx}/{name}")
        b.unionByName(live.drop(BATCH_COL).select(*b.columns)).write.mode(
            "overwrite"
        ).partitionBy("cluster").parquet(f"{idx}/{name}_merged")
    spark.createDataFrame([(int(i),) for i in ids], "id long").coalesce(
        1
    ).write.mode("overwrite").json(f"{idx}/delta_merge_marker")
    os.remove(f"{idx}/delta_merge_marker/_SUCCESS")

    # recovery crashed again mid-finish: the codes swap completed, the
    # vectors swap did not
    import shutil as _sh

    _sh.rmtree(f"{idx}/codes")
    os.rename(f"{idx}/codes_merged", f"{idx}/codes")

    # the _SUCCESS-less marker must be trusted (readable ids), so this
    # run RESUMES: finishes vectors, drops batch 0, removes the marker
    assert merge_delta_into_base(spark, idx) == 0
    assert not os.path.exists(f"{idx}/delta_merge_marker")
    assert not os.path.exists(f"{idx}/vectors_merged")
    assert not os.path.exists(f"{idx}/delta")

    # no duplicates anywhere: every id appears exactly once per dataset
    n_expected = base.count() + b0.count()
    for name in ("codes", "vectors"):
        d = spark.read.parquet(f"{idx}/{name}")
        assert d.count() == n_expected == d.select("vec_id").distinct().count()

    # and the healed index searches like a cleanly merged one
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    res = ivfpq_search_index(
        spark, idx, queries, k=K, nprobe=2, m=M, dim=DIM, refine=3
    )
    per_q = {}
    for r in res.collect():
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert per_q and all(sorted(v) == list(range(1, K + 1)) for v in per_q.values())


def test_watermark_cache_invalidation_and_replay_warning(
    spark, sf_small, tmp_path
):
    """r11 ADVICE fixes on the merged-watermark guard: (1) the
    per-process cache must be invalidatable so a stream restarting in
    a long-lived driver after an EXTERNAL-process merge re-reads the
    watermark instead of trusting a stale pre-merge value (re-writing
    already-folded batches = double-counted rows); (2) a skipped
    replay write warns — a fresh checkpoint lineage reusing folded
    batch ids would otherwise silently drop data."""
    import os
    import warnings as _warnings

    from mapreduce_task_spark.streaming.batchlog import (
        invalidate_watermark_cache,
        merged_watermark,
        write_batch_partition,
        write_small_file,
        _watermark_path,
    )

    log = str(tmp_path / "wmlog")
    df = spark.range(5).select(F.col("id").alias("k"))
    write_batch_partition(df, 0, log)  # caches watermark -1
    assert merged_watermark(spark, log) == -1

    # external process merges and writes the watermark file directly
    # (this process's cache still says -1)
    write_small_file(spark, _watermark_path(log), "0")
    os.rename(f"{log}/__batch=0", str(tmp_path / "folded_elsewhere"))

    # the stale cache would re-create the folded partition...
    # a restarting stream invalidates first (the streaming_* wrappers
    # do), so the replayed write is SKIPPED — with a warning
    invalidate_watermark_cache(log)
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        write_batch_partition(df, 0, log)
    assert any(
        issubclass(x.category, RuntimeWarning)
        and "merged watermark" in str(x.message)
        for x in w
    ), [str(x.message) for x in w]
    assert not os.path.exists(f"{log}/__batch=0")

    # a genuinely new batch still lands, silently
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        write_batch_partition(df, 1, log)
    assert not any("merged watermark" in str(x.message) for x in w)
    assert os.path.exists(f"{log}/__batch=1")


def test_ivf_drift_monitor_detects_synthetic_drift(spark, sf_small, tmp_path):
    """r11: plain-IVF sibling of the IVF-PQ drift monitor — a shifted
    batch must raise the assignment-distance ratio well past an
    in-distribution batch's, the retrain signal must fire between the
    two regimes, and search results stay exact (delta search equals
    rebuild, already pinned elsewhere — here we assert the replay
    idempotence of the drift rows and compaction invariance)."""
    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.streaming.ivf_ingest import (
        append_batch,
        compact_drift,
        drift_baseline,
        drift_signal,
        read_drift_trend,
    )

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 300)
    b_in = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    b_drift = emb.filter(F.col("vec_id") >= 400).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.8)).alias("embedding"),
    )
    idx = str(tmp_path / "ivf_drift")
    ivf_build_index(base, idx, n_clusters=8, dim=64, rounds=1)
    drift_baseline(spark, idx)
    append_batch(b_in, 0, idx)
    append_batch(b_drift, 1, idx)

    trend = {r["__batch"]: r for r in read_drift_trend(spark, idx).collect()}
    assert set(trend) == {0, 1}
    assert 0.5 < trend[0]["assign_ratio"] < 1.5, trend[0]
    assert trend[1]["assign_ratio"] > 2 * trend[0]["assign_ratio"], trend

    sig = drift_signal(spark, idx, retrain_ratio=2.0).collect()[0]
    assert sig["n"] == b_in.count() + b_drift.count()
    assert bool(sig["retrain"]) is True
    assert not drift_signal(spark, idx, retrain_ratio=1e9).collect()[0]["retrain"]

    append_batch(b_drift, 1, idx)  # crash replay
    replayed = {r["__batch"]: r for r in read_drift_trend(spark, idx).collect()}
    assert replayed[1] == trend[1]

    assert compact_drift(spark, idx, up_to_batch=1) == 2
    assert drift_signal(spark, idx, retrain_ratio=2.0).collect()[0] == sig


def test_streaming_ivfpq_cosine_delta_matches_merged_index(
    spark, sf_small, tmp_path
):
    """metric="cosine" end to end through the streaming path: batches
    appended to a cosine index (unit-grid encode under the frozen
    quantizer) must make search_with_delta(metric="cosine") reproduce
    ivfpq_search_index(metric="cosine") run after the segment merge —
    bit-for-bit, ADC and refined."""
    from mapreduce_task_spark.operators.pq import (
        ivfpq_build_index,
        ivfpq_search_index,
    )
    from mapreduce_task_spark.streaming.ivfpq_ingest import (
        append_batch,
        merge_delta_into_base,
        search_with_delta,
    )

    M, DIM, K = 8, 64, 5
    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    b0 = emb.filter(F.col("vec_id") >= 300)
    idx = str(tmp_path / "ivfpq_cos_stream")
    ivfpq_build_index(
        base, idx, n_clusters=8, m=M, ksub=16, dim=DIM,
        coarse_rounds=1, pq_rounds=2, metric="cosine",
    )
    append_batch(b0, 0, idx, m=M, dim=DIM, metric="cosine")
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    got = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["exact_d"])
        for r in search_with_delta(
            spark, idx, queries, k=K, nprobe=2, m=M, dim=DIM,
            refine=5, metric="cosine",
        ).collect()
    )
    assert merge_delta_into_base(spark, idx) == b0.count()
    want = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["exact_d"])
        for r in ivfpq_search_index(
            spark, idx, queries, k=K, nprobe=2, m=M, dim=DIM,
            refine=5, metric="cosine",
        ).collect()
    )
    assert got == want and len(got) > 0


def test_ivfpq_drift_monitor_per_list_codebooks(spark, sf_small, tmp_path):
    """The drift row's reconstruction-error lookup must honor per-list
    codebooks (each row scores against ITS cluster's own book — the
    arithmetic was verified bit-for-bit against a python replay when
    this test was written). A per-list BASELINE is over-fit by design
    (ksub centroids per small list nearly memorize the build corpus),
    so even an in-distribution batch reads a quant ratio well above 1
    — the documented calibration caveat; what the monitor must still
    deliver is a clear gap between in-distribution and drifted."""
    from mapreduce_task_spark.operators.pq import ivfpq_build_index
    from mapreduce_task_spark.streaming.ivfpq_ingest import (
        append_batch,
        drift_baseline,
        read_drift_trend,
    )

    M, DIM = 8, 64
    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 300)
    b_in = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    b_drift = emb.filter(F.col("vec_id") >= 400).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.8)).alias("embedding"),
    )
    idx = str(tmp_path / "ivfpq_drift_pl")
    ivfpq_build_index(
        base, idx, n_clusters=8, m=M, ksub=16, dim=DIM,
        coarse_rounds=1, pq_rounds=2, per_list=True,
    )
    drift_baseline(spark, idx, m=M, dim=DIM, per_list=True)
    append_batch(b_in, 0, idx, m=M, dim=DIM, per_list=True)
    append_batch(b_drift, 1, idx, m=M, dim=DIM, per_list=True)
    trend = {r["__batch"]: r for r in read_drift_trend(spark, idx).collect()}
    # assignment distance has no codebook to over-fit: near-1 as usual
    assert 0.5 < trend[0]["assign_ratio"] < 1.5, trend[0]
    # per-list reconstruction baseline is over-fit: in-distribution
    # reads ~2-3x (measured 2.68 on this fixture), drifted far above
    assert 1.0 < trend[0]["quant_ratio"] < 4.0, trend[0]
    assert trend[1]["quant_ratio"] > 2 * trend[0]["quant_ratio"], trend
    assert trend[1]["assign_ratio"] > 2 * trend[0]["assign_ratio"], trend


def test_streaming_sq_append_matches_merged_index(spark, sf_small, tmp_path):
    """Flat-SQ freshness (r12): embeddings appended per micro-batch
    under the FROZEN bounds must make sq search_with_delta reproduce
    the plain sq_search_index run AFTER merge_delta_into_base folds
    the delta in — bit-for-bit, plain AND refined; plus replay
    idempotence and compaction along the way."""
    import os

    from mapreduce_task_spark.operators.sq import sq_build_index, sq_search_index
    from mapreduce_task_spark.sources.tables import load_table
    from mapreduce_task_spark.streaming.sq_ingest import (
        append_batch,
        compact_delta,
        merge_delta_into_base,
        search_with_delta,
        streaming_sq_append,
    )
    from mapreduce_task_spark.streaming.windows import stream_from_directory

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    stream_rows = emb.filter(F.col("vec_id") >= 300)
    idx = str(tmp_path / "sq")
    sq_build_index(base, idx, dim=64)

    src = tmp_path / "emb_src"
    stream_rows.filter(F.col("vec_id") < 400).coalesce(1).write.parquet(
        str(src / "f0")
    )
    stream_rows.filter(F.col("vec_id") >= 400).coalesce(1).write.parquet(
        str(src / "f1")
    )
    q = streaming_sq_append(
        stream_from_directory(
            spark, f"{src}/f*", stream_rows.schema, maxFilesPerTrigger=1
        ),
        idx,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    queries = emb.filter(F.col("vec_id") % 50 == 0)

    def delta_topk(**kw):
        key = "exact_d" if kw.get("refine") else "approx_d"
        return sorted(
            (r["query_id"], r["rank"], r["cand_id"], r[key])
            for r in search_with_delta(
                spark, idx, queries, k=5, dim=64, **kw
            ).collect()
        )

    want_plain = delta_topk()
    want_ref = delta_topk(refine=3)
    assert len(want_plain) == queries.count() * 5

    # replay idempotence: re-landing batch 1 changes nothing
    b1 = stream_rows.filter(F.col("vec_id") >= 400)
    append_batch(b1, 1, idx)
    assert delta_topk() == want_plain

    assert compact_delta(spark, idx, up_to_batch=1) == 2
    parts = {p for p in os.listdir(f"{idx}/delta") if p.startswith("__batch=")}
    assert parts == {"__batch=-2"}
    assert delta_topk() == want_plain

    merged = merge_delta_into_base(spark, idx)
    assert merged == stream_rows.count()
    assert not os.path.exists(f"{idx}/delta")
    for kw, want in (({}, want_plain), ({"refine": 3}, want_ref)):
        key = "exact_d" if kw else "approx_d"
        got = sorted(
            (r["query_id"], r["rank"], r["cand_id"], r[key])
            for r in sq_search_index(
                spark, idx, queries, k=5, dim=64, **kw
            ).collect()
        )
        assert got == want, kw
    assert merge_delta_into_base(spark, idx) == 0


def test_sq_bounds_saturation_monitor(spark, sf_small, tmp_path):
    """The SQ analogue of quantizer drift: an out-of-range stream makes
    the clamp counter rise (frac_clamped > 0, refit signal trips) while
    an in-range batch stays at exactly 0 — and the saturation row is
    replay-idempotent. Results stay exact (clamping is a quality
    degradation, never wrong arithmetic): the delta search still equals
    the post-merge index search bit-for-bit."""
    from mapreduce_task_spark.operators.sq import sq_build_index, sq_search_index
    from mapreduce_task_spark.sources.tables import load_table
    from mapreduce_task_spark.streaming.sq_ingest import (
        append_batch,
        merge_delta_into_base,
        read_saturation_trend,
        reset_saturation,
        saturation_signal,
        search_with_delta,
    )

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    # batch 0 re-appends base rows under fresh ids: guaranteed inside
    # the fitted bounds, so its clamp count is EXACTLY zero
    b_in = base.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 50000).alias("vec_id"), "embedding"
    )
    b_out = emb.filter(F.col("vec_id") >= 400).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(3.0)).alias("embedding"),
    )
    idx = str(tmp_path / "sq_sat")
    sq_build_index(base, idx, dim=64)

    append_batch(b_in, 0, idx)
    append_batch(b_out, 1, idx)
    append_batch(b_out, 1, idx)  # replay: overwrites its own sat row
    trend = {r["__batch"]: r for r in read_saturation_trend(spark, idx).collect()}
    assert set(trend) == {0, 1}
    assert trend[0]["frac_clamped"] == 0.0, trend[0]
    assert trend[1]["frac_clamped"] > 0.3, trend[1]
    assert trend[1]["n"] == b_out.count()

    sig = saturation_signal(spark, idx, refit_frac=0.01).collect()[0]
    assert sig["refit"] is True and sig["n"] == b_in.count() + b_out.count()

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    want = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["approx_d"])
        for r in search_with_delta(spark, idx, queries, k=5, dim=64).collect()
    )
    merge_delta_into_base(spark, idx)
    got = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["approx_d"])
        for r in sq_search_index(spark, idx, queries, k=5, dim=64).collect()
    )
    assert got == want

    reset_saturation(spark, idx)
    assert read_saturation_trend(spark, idx) is None


def test_streaming_ivfsq_append_matches_merged_index(spark, sf_small, tmp_path):
    """IVF-SQ freshness (r12): batches appended under BOTH frozen
    quantizers (coarse centroids + SQ bounds) make search_with_delta
    reproduce the post-merge ivfsq_search_index bit-for-bit (plain and
    refined), with replay idempotence, compaction, and both monitors
    (assignment drift + bounds saturation) landing per batch."""
    import os

    from mapreduce_task_spark.operators.sq import (
        ivfsq_build_index,
        ivfsq_search_index,
    )
    from mapreduce_task_spark.sources.tables import load_table
    from mapreduce_task_spark.streaming.ivfsq_ingest import (
        append_batch,
        compact_delta,
        drift_baseline,
        merge_delta_into_base,
        read_drift_trend,
        read_saturation_trend,
        search_with_delta,
        streaming_ivfsq_append,
    )
    from mapreduce_task_spark.streaming.windows import stream_from_directory

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    stream_rows = emb.filter(F.col("vec_id") >= 300)
    idx = str(tmp_path / "ivfsq")
    ivfsq_build_index(base, idx, n_clusters=4, dim=64, rounds=2)
    drift_baseline(spark, idx)

    src = tmp_path / "emb_src"
    stream_rows.filter(F.col("vec_id") < 400).coalesce(1).write.parquet(
        str(src / "f0")
    )
    stream_rows.filter(F.col("vec_id") >= 400).coalesce(1).write.parquet(
        str(src / "f1")
    )
    q = streaming_ivfsq_append(
        stream_from_directory(
            spark, f"{src}/f*", stream_rows.schema, maxFilesPerTrigger=1
        ),
        idx,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    queries = emb.filter(F.col("vec_id") % 50 == 0)

    def delta_topk(**kw):
        key = "exact_d" if kw.get("refine") else "approx_d"
        return sorted(
            (r["query_id"], r["rank"], r["cand_id"], r[key])
            for r in search_with_delta(
                spark, idx, queries, k=5, dim=64, nprobe=2, **kw
            ).collect()
        )

    want_plain = delta_topk()
    want_ref = delta_topk(refine=3)
    assert len(want_plain) == queries.count() * 5

    # monitors: one drift row AND one saturation row per batch
    trend = {r["__batch"]: r for r in read_drift_trend(spark, idx).collect()}
    assert sorted(trend) == [0, 1]
    assert all(0.3 < trend[b]["assign_ratio"] < 3.0 for b in trend), trend
    sat = {r["__batch"]: r for r in read_saturation_trend(spark, idx).collect()}
    assert sorted(sat) == [0, 1]
    assert all(0 <= sat[b]["frac_clamped"] < 0.05 for b in sat), sat

    # replay idempotence
    b1 = stream_rows.filter(F.col("vec_id") >= 400)
    append_batch(b1, 1, idx)
    assert delta_topk() == want_plain

    assert compact_delta(spark, idx, up_to_batch=1) == 2
    parts = {p for p in os.listdir(f"{idx}/delta") if p.startswith("__batch=")}
    assert parts == {"__batch=-2"}
    assert delta_topk() == want_plain

    merged = merge_delta_into_base(spark, idx)
    assert merged == stream_rows.count()
    assert not os.path.exists(f"{idx}/delta")
    for kw, want in (({}, want_plain), ({"refine": 3}, want_ref)):
        key = "exact_d" if kw else "approx_d"
        got = sorted(
            (r["query_id"], r["rank"], r["cand_id"], r[key])
            for r in ivfsq_search_index(
                spark, idx, queries, k=5, dim=64, nprobe=2, **kw
            ).collect()
        )
        assert got == want, kw
    assert merge_delta_into_base(spark, idx) == 0


def test_ivfsq_delta_per_list_bounds_and_filter_ids(spark, sf_small, tmp_path):
    """The per-list-bounds append path: delta search equals the
    post-merge index search bit-for-bit (each streamed vector encodes
    against ITS list's bounds), and filter_ids restricts both sides."""
    from mapreduce_task_spark.operators.sq import (
        ivfsq_build_index,
        ivfsq_search_index,
    )
    from mapreduce_task_spark.sources.tables import load_table
    from mapreduce_task_spark.streaming.ivfsq_ingest import (
        append_batch,
        merge_delta_into_base,
        search_with_delta,
    )

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 350)
    rest = emb.filter(F.col("vec_id") >= 350)
    idx = str(tmp_path / "ivfsq_pl")
    ivfsq_build_index(base, idx, n_clusters=4, dim=64, per_list=True)
    append_batch(rest, 0, idx)

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    allow = emb.select("vec_id").filter(F.col("vec_id") % 2 == 0)
    fres = search_with_delta(
        spark, idx, queries, k=5, dim=64, nprobe=4, filter_ids=allow
    ).collect()
    assert fres and all(r["cand_id"] % 2 == 0 for r in fres)

    want = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["exact_d"])
        for r in search_with_delta(
            spark, idx, queries, k=5, dim=64, nprobe=2, refine=3
        ).collect()
    )
    merge_delta_into_base(spark, idx)
    got = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["exact_d"])
        for r in ivfsq_search_index(
            spark, idx, queries, k=5, dim=64, nprobe=2, refine=3
        ).collect()
    )
    assert got == want


def test_ivfsq_search_with_delta_prunes_both_sides(spark, sf_small, tmp_path):
    """The IVF-SQ freshness claim plan-asserted (the ivf_ingest test's
    shape): search_with_delta's executed plan must show DYNAMIC
    partition pruning on cluster for BOTH the base codes scan and the
    delta scan, and the delta scan must also carry the static batchlog
    watermark filter on __batch."""
    from mapreduce_task_spark.operators.sq import ivfsq_build_index
    from mapreduce_task_spark.sources.tables import load_table
    from mapreduce_task_spark.streaming.ivfsq_ingest import (
        append_batch,
        search_with_delta,
    )

    emb = load_table(spark, sf_small, "embeddings")
    idx = str(tmp_path / "ivfsq_dpp")
    ivfsq_build_index(emb.filter(F.col("vec_id") < 300), idx, n_clusters=8, dim=64)
    append_batch(emb.filter(F.col("vec_id") >= 300), 0, idx)

    res = search_with_delta(
        spark, idx, emb.filter(F.col("vec_id") % 100 == 0), k=5, nprobe=2
    )
    res.collect()
    pf_lines = [
        ln
        for ln in res._jdf.queryExecution().executedPlan().toString().splitlines()
        if "PartitionFilters" in ln and "dynamicpruning" in ln
    ]
    delta_scans = [ln for ln in pf_lines if "__batch" in ln]
    base_scans = [ln for ln in pf_lines if "__batch" not in ln]
    assert delta_scans, "delta scan lost cluster DPP or the __batch watermark"
    assert base_scans, "base codes scan lost cluster DPP"
