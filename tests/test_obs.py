from pyspark.sql import Observation, functions as F

from mapreduce_task_spark.obs.metrics import TaskMetricsCollector, counted
from mapreduce_task_spark.obs.tracing import clear_recorded_spans, get_recorded_spans, traced_action
from mapreduce_task_spark.plans.signature import plan_attributes, plan_signature
from mapreduce_task_spark.operators.wordcount import wordcount
from mapreduce_task_spark.sources.tables import load_table


def test_plan_signature_stable_and_shape_sensitive(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    wc1, wc2 = wordcount(docs), wordcount(docs)
    assert plan_signature(wc1) == plan_signature(wc2)
    other = docs.groupBy("lang").count()
    assert plan_signature(wc1) != plan_signature(other)
    attrs = plan_attributes(wc1, "wordcount")
    assert attrs["job.kind"] == "wordcount"
    assert len(attrs["job.signature.v1"]) == 64


def test_traced_action_records_span(spark, sf_small):
    clear_recorded_spans()
    docs = load_table(spark, sf_small, "documents")
    wc = wordcount(docs)
    with traced_action(wc, "wordcount") as s:
        n = wc.count()
    assert n > 0
    spans = get_recorded_spans()
    assert spans and spans[-1].name == "job.submit"
    assert spans[-1].status == "OK"
    assert spans[-1].attributes["job.kind"] == "wordcount"
    assert spans[-1].duration_ms > 0


def test_span_sink_keeps_only_the_newest_spans():
    from mapreduce_task_spark.obs import tracing

    clear_recorded_spans()
    n = tracing.MAX_RECORDED_SPANS + 5
    for i in range(n):
        with tracing.span("bounded", {"i": i}):
            pass
    spans = get_recorded_spans()
    assert len(spans) == tracing.MAX_RECORDED_SPANS
    assert spans[0].attributes["i"] == 5
    assert spans[-1].attributes["i"] == n - 1
    clear_recorded_spans()


def test_observe_counters(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    obs = Observation("c")
    df = counted(
        docs,
        obs,
        RAW_LINES=F.count(F.lit(1)),
        EMPTY_TEXT=F.sum((F.length("text") == 0).cast("long")),
    )
    total = df.count()
    assert obs.get["RAW_LINES"] == total
    assert obs.get["EMPTY_TEXT"] == 0


def test_task_metrics_collector(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    wc = wordcount(docs)
    with TaskMetricsCollector(spark) as coll:
        wc.write.format("noop").mode("overwrite").save()
    totals = coll.totals()
    # O4 parity: tasks observed, bytes read from parquet, shuffle occurred
    assert totals["n_tasks"] > 0
    assert totals["input_bytes"] > 0
    assert totals["shuffle_write_bytes"] > 0
    assert totals["shuffle_read_bytes"] > 0
