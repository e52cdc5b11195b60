"""Span bookkeeping and patching, without a Spark session."""

import threading
import time

import pytest

from tracing import Span, Tracer, install, self_times, union_length


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0


def _span(i, start, end, parent=None):
    s = Span(i, f"s{i}", "operators.graph", "call", start, parent, "q", "build")
    s.end = end
    return s


def test_self_time_subtracts_union_of_overlapping_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 5.0, 0), _span(2, 3.0, 7.0, 0), _span(3, 9.0, 12.0, 0)]
    own = self_times([parent] + kids)
    # children cover [1, 7] and [9, 10] inside the parent: 7 s, not 4+4+1
    assert own[0] == pytest.approx(3.0)
    assert own[1] == pytest.approx(4.0)


def test_threaded_children_attach_to_main_span_and_count_once():
    tracer = Tracer()
    child = tracer.wrap(lambda: time.sleep(0.2), "child", "operators.distinct")

    def parent():
        threads = [threading.Thread(target=child) for _ in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
        assert not any(t.is_alive() for t in threads)

    tracer.wrap(parent, "parent", "plans")()
    top = [s for s in tracer.spans if s.name == "parent"][0]
    kids = [s for s in tracer.spans if s.name == "child"]
    assert len(kids) == 3 and all(k.parent == top.id for k in kids)
    own = self_times(tracer.spans)
    duration = top.end - top.start
    # three overlapping 0.2 s children take ~0.2 s of the parent, not 0.6 s
    assert own[top.id] > duration - 0.35
    assert own[top.id] >= 0.0


def test_wrapper_records_errors_and_reraises():
    tracer = Tracer()

    def boom():
        raise KeyError("x")

    with pytest.raises(KeyError):
        tracer.wrap(boom, "boom", "semantic")()
    assert tracer.spans[0].error[0] == "KeyError"
    assert tracer.spans[0].end is not None


def test_install_reaches_rebindings_and_classic_dataframe():
    import __spark_entry__ as entry
    from ai_etl_pipeline_spark.operators import clean
    from ai_etl_pipeline_spark.plans import pipeline
    from ai_etl_pipeline_spark.semantic.providers import HeuristicProvider
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader

    original = clean.preprocess_data
    original_md5 = entry.md5_i64
    patch = install(Tracer())
    try:
        # `from ..operators.clean import preprocess_data` in plans.pipeline
        assert pipeline.preprocess_data is clean.preprocess_data
        assert pipeline.preprocess_data.__perfbench_original__ is original
        # `from ...portable import md5_i64` in __spark_entry__
        assert entry.md5_i64.__perfbench_original__ is original_md5
        for name in ("localCheckpoint", "checkpoint", "cache", "persist",
                     "count", "first", "collect", "toPandas"):
            assert hasattr(getattr(DataFrame, name), "__perfbench_original__"), name
        assert hasattr(DataFrameReader.parquet, "__perfbench_original__")
        assert hasattr(HeuristicProvider.translate_batch, "__perfbench_original__")
    finally:
        patch.undo()
    assert clean.preprocess_data is original
    assert pipeline.preprocess_data is original
    assert entry.md5_i64 is original_md5
    assert not hasattr(DataFrame.collect, "__perfbench_original__")


def test_benchmark_json_lists_every_layer_figure():
    import json
    import os

    from layers import PER_PASS, SETUP

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(SETUP + PER_PASS)


def test_parse_metric_units():
    from spark_stats import parse_metric

    assert parse_metric("1,000") == 1000.0
    assert parse_metric("13 ms") == 13.0
    assert parse_metric("total (min, med, max (stageId: taskId))\n9.2 s (2.2 s, 2.3 s)") == 9200.0
    assert parse_metric("8.0 KiB") == 8192.0
