"""Counters read with the UI disabled: plan-metric walk, job groups and
task quantiles on a tiny query, and the layer rules on hand-built plans."""

import os

import pandas as pd
import pytest

from perfbench.counters import (Node, QueryCapture, Recorder, refine_counters,
                                render_counters, rows_in)


@pytest.fixture(scope="module")
def spark():
    from geograypher_spark.session import get_spark

    os.environ.setdefault("PYTHONPATH", os.getcwd())
    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_tiny_query_counters(spark):
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.ui.enabled") == "false"
    rec = Recorder(spark, QueryCapture(spark))
    rec.start_iteration("t0")
    df = (spark.range(1000).repartition(3)
          .mapInPandas(lambda it: (p for p in it), "id long")
          .groupBy((F.col("id") % 7).alias("k")).count())
    with rec.group("tiny"):
        df.write.format("noop").mode("overwrite").save()
    rec.walk()
    nodes = list(rec.groups["tiny"].nodes())
    kinds = {n.name for n in nodes}
    assert {"Range", "Exchange", "MapInPandas", "HashAggregate"} <= kinds
    rng = next(n for n in nodes if n.name == "Range")
    assert rng.metrics["numOutputRows"] == 1000
    mip = next(n for n in nodes if n.name == "MapInPandas")
    assert mip.metrics["pythonNumRowsReceived"] == 1000
    assert rows_in(mip) == 1000
    final = [n for n in nodes if n.name == "HashAggregate"]
    assert sorted(n.metrics["numOutputRows"] for n in final)[-1] >= 7
    assert len(rec.jobs("tiny")) >= 1
    assert len(rec.stages("tiny")) >= 2
    assert rec.tasks("tiny") >= 3
    skew, median_ms = rec.task_skew(["tiny"])
    assert skew >= 1.0 and median_ms >= 0.0


def _leaf(rows):
    return Node("Exchange", {"shuffleRecordsWritten": rows})


def test_render_counts_a_reused_exchange_once():
    first = Node("MapInPandas", {"pythonNumRowsReceived": 40,
                                 "pythonInitTime": 5, "pythonTotalTime": 9},
                 [_leaf(100)])
    second = Node("MapInPandas", {"pythonNumRowsReceived": 40,
                                  "pythonInitTime": 6, "pythonTotalTime": 8},
                  [Node("ReusedExchange", {}, reused=True)])
    root = Node("SortMergeJoin", {}, [first, second])
    c = render_counters(root.walk())
    assert c["passes"] == 2
    assert c["candidates"] == 100 and c["visible_rows"] == 40
    assert c["init_ms"] == 11 and c["run_ms"] == 17


def test_refine_finds_kernel_and_predicate_filters():
    kernel = Node("Filter", {"numOutputRows": 3},
                  [Node("ArrowEvalPython", {"pythonNumRowsReceived": 10},
                        [_leaf(10)])], condition="pythonUDF0#1")
    pred = Node("Filter", {"numOutputRows": 2},
                [Node("BroadcastHashJoin", {"numOutputRows": 8})],
                condition="CASE WHEN (polygon_id#3L = 1) THEN ...")
    other = Node("Filter", {"numOutputRows": 1},
                 [Node("Scan", {"numOutputRows": 5})], condition="x > 1")
    c = refine_counters(Node("Union", {}, [kernel, pred, other]).walk())
    assert c == {"candidates": 18, "matches": 5, "python_nodes": 1}
