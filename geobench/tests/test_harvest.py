"""Harvester, trace and report helpers on synthetic inputs (no Spark)."""

import json
import os

import pytest

from geobench import harvest, trace
from geobench.run import tail


def _exec(nodes):
    return {"func": "collect", "ms": 1.0, "nodes": nodes}


def test_plan_layers_sums_known_nodes():
    nodes = [
        {"node": "HashAggregate", "metrics": {"numOutputRows": 1},
         "children": [1]},
        {"node": "ArrowEvalPython",
         "metrics": {"pythonDataSent": 1200, "pythonDataReceived": 30,
                     "pythonBootTime": 5, "pythonInitTime": 7,
                     "pythonTotalTime": 40, "pythonNumRowsReceived": 10},
         "children": [2]},
        {"node": "WholeStageCodegen (1)", "metrics": {"pipelineTime": 3},
         "children": [3]},
        {"node": "Scan parquet ", "metrics": {
            "numFiles": 4, "filesSize": 999, "scanTime": 11,
            "numOutputRows": 10}, "children": []},
    ]
    write = [{"node": "Execute InsertIntoHadoopFsRelationCommand",
              "metrics": {"numFiles": 3, "numOutputBytes": 512},
              "children": []}]
    d = harvest.plan_layers([_exec(nodes), _exec(write)])
    assert d["crossings"] == 1
    assert d["rows_sent"] == 10          # found through the codegen node
    assert d["bytes_sent"] == 1200 and d["python_total_ms"] == 40
    assert d["files_read"] == 4 and d["bytes_read"] == 999
    assert d["rows_scanned"] == 10 and d["scan_ms"] == 11
    assert d["files_written"] == 3 and d["bytes_written"] == 512


def test_rows_in_prefers_exchange_records():
    nodes = [
        {"node": "FlatMapCoGroupsInPandas", "metrics": {}, "children": [1, 3]},
        {"node": "Sort", "metrics": {"sortTime": 1}, "children": [2]},
        {"node": "Exchange", "metrics": {"recordsRead": 7}, "children": []},
        {"node": "Exchange", "metrics": {"recordsRead": 5}, "children": []},
    ]
    assert harvest.node_rows_in(nodes, 0) == 12


def test_proc_sampler_reads_own_process():
    s = harvest.ProcSampler(os.getpid())
    sum(i * i for i in range(200_000))
    assert s.cpu_s() > 0
    assert s.rss_hwm_mb() > 1
    assert harvest.loadavg() is not None


def test_tail_has_ten_samples_beyond():
    lat = [float(i) for i in range(1, 41)]
    v, pct = tail(lat)
    assert sum(x > v for x in lat) == 10 and pct == 75.0
    with pytest.raises(ValueError):
        tail(lat[:10])


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "name": "op.window", "start": 0.0,
         "end": 10.0, "attrs": {}},
        {"id": 1, "parent": 0, "name": "action.collect", "start": 1.0,
         "end": 6.0, "attrs": {}},
        {"id": 2, "parent": 1, "name": "spark.job.3", "start": 2.0,
         "end": 5.0, "attrs": {}},
        {"id": 3, "parent": 1, "name": "spark.job.4", "start": 4.0,
         "end": 5.5, "attrs": {}},
    ]
    st = trace.self_times(spans)
    assert st == {"action.collect": 1.5, "op.window": 5.0,
                  "spark.job": 4.5}


def test_tracer_nests_and_dump_schema(tmp_path):
    t = trace.Tracer()
    with t.span("workload.x"):
        with t.span("op.a", op="op-1-0"):
            with t.span("action.collect"):
                pass
    assert [s["parent"] for s in t.spans] == [None, 0, 1]
    p = tmp_path / "t.json"
    trace.dump(str(p), {"workload": "x", "seed": 1}, t.spans)
    doc = json.loads(p.read_text())
    assert set(doc) == {"workload", "seed", "spans", "self_time_s"}
    for s in doc["spans"]:
        assert set(s) == {"id", "parent", "name", "start", "end", "attrs"}
        assert s["end"] >= s["start"]
    assert set(doc["self_time_s"]) == {"workload.x", "op.a",
                                       "action.collect"}
