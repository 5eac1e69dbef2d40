"""Span arithmetic and event-log attribution of the benchmark's tracer,
and the query corpus generator's schema.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import corpus  # noqa: E402
import spans  # noqa: E402
from spans import Span  # noqa: E402


def test_covered_merges_and_clips():
    assert spans._covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans._covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert spans._covered([], 0, 1) == 0


def _log(tmp_path, events):
    d = tmp_path / "eventlog" / "eventlog_v2_local-1"
    d.mkdir(parents=True)
    with open(d / "events_1_local-1", "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")
    return str(tmp_path / "eventlog")


def _tags(*ids):
    return ",".join(f"spark-session-x-thread-y-pbspan{i}" for i in ids) + ",spark-session-x"


def test_layer_metrics_from_spans_and_event_log(tmp_path):
    # pipeline.run(0) > pipeline.ingest(1) > sources.sinks(2); curated(3)
    sp = [Span(0, "pipeline.run", None, "r", 100.0, 110.0),
          Span(1, "pipeline.ingest", 0, "r", 100.0, 104.0),
          Span(2, "sources.sinks", 1, "r", 101.0, 103.0, {"wrote": True}),
          Span(3, "pipeline.curated", 0, "r", 104.0, 109.0)]
    stage = lambda sid, start, end, cpu, shuffle: {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Number of Tasks": 2,
                       "Submission Time": start * 1000, "Completion Time": end * 1000,
                       "Accumulables": [
                           {"Name": "internal.metrics.executorCpuTime", "Value": cpu},
                           {"Name": "internal.metrics.shuffle.write.bytesWritten",
                            "Value": shuffle}]}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.job.tags": _tags(0, 1, 2)}},
        stage(0, 101.5, 102.5, 1_000_000_000, 1048576),
        # job 1 lists stage 0 again (skipped) and runs stage 1
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [0, 1],
         "Properties": {"spark.job.tags": _tags(0, 3)}},
        stage(1, 105.0, 106.0, 500_000_000, 0),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "jobTags": _tags(0, 3).split(",")},
    ]
    attrib = spans.attribute(sp, spans.read_event_log(_log(tmp_path, events)))
    assert attrib[1]["jobs"] == 1 and attrib[1]["stages"] == 1
    assert attrib[3]["stages"] == 1  # the skipped stage 0 ran before span 3 opened
    assert attrib[3]["sql"] == 1
    m = spans.layer_metrics(sp, attrib)
    assert m["pipeline.ingest.wall_s"] == 4.0
    assert m["pipeline.ingest.self_s"] == 2.0
    assert m["pipeline.ingest.driver_gap_s"] == 3.0
    assert m["pipeline.ingest.exec_cpu_s"] == 1.0
    assert m["pipeline.ingest.shuffle_write_mb"] == 1.0
    assert m["pipeline.curated.tasks"] == 2
    assert m["sources.sinks.writes"] == 1
    assert m["plans.jobs"] == 0
    assert set(m) | spans.RUN_METRICS == set(spans.PER_LAYER)
    # the operation's steps cover 100-104 and 104-109 of its 100-110
    assert spans.operation_coverage(sp) == (10.0, 9.0)
    # a step left unwrapped: its sink, now directly under the operation,
    # covers nothing
    unwrapped = [sp[0], Span(2, "sources.sinks", 0, "r", 101.0, 103.0), sp[3]]
    assert spans.operation_coverage(unwrapped) == (10.0, 5.0)


def test_corpus_schema(tmp_path):
    rows = corpus.write_corpus(str(tmp_path), seed=1, sf=0.001)
    assert rows["lineitem"] == 6000
    li = pq.read_schema(tmp_path / "lineitem.parquet")
    assert li.field("l_shipdate").type == pa.timestamp("us")
    assert li.field("l_quantity").type == pa.float64()
    emb = pq.read_table(tmp_path / "embeddings.parquet")
    assert emb.schema.field("embedding").type == pa.list_(pa.float32())
    assert len(emb.column("embedding")[0]) == corpus.EMBED_DIM
    nation = pq.read_table(tmp_path / "nation.parquet").to_pylist()
    assert nation[5] == {"n_nationkey": 5, "n_name": "NATION_5", "n_regionkey": 0}
    again = tmp_path / "again"
    corpus.write_corpus(str(again), seed=1, sf=0.001)
    assert pq.read_table(again / "orders.parquet").equals(pq.read_table(tmp_path / "orders.parquet"))
