"""Tests for the benchmark's span tracer, statistics and event-log parser.

Run from the repository root:  python3 -m pytest perfbench -q

``testdata/eventlog/`` is a trimmed Spark 4.1 event log of one
session with two tagged operations (see ``record`` below for how it was
made; regenerate with ``python3 perfbench/test_spans.py``).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import EventLog, Tracer, median, read_event_log, union_ms  # noqa: E402

FIXTURE = os.path.join(HERE, "testdata")


def test_median_and_union():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([]) == 0.0
    # overlapping and disjoint intervals, clipped to the window
    assert union_ms([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert union_ms([(0, 10), (5, 15), (20, 30)], 8, 25) == 12
    assert union_ms([(50, 40)], 0, 100) == 0


def test_tracer_nests_spans_under_one_trace_id():
    t = Tracer()
    with t.span("op", timed=True) as root:
        with t.span("child") as c:
            with t.span("grandchild"):
                pass
    with t.span("op", timed=False):
        pass
    assert c.parent == root.span_id and c.trace_id == root.trace_id
    assert [s.name for s in t.children(root)] == ["child", "grandchild"]
    assert [s.name for s in t.children(root, "grandchild")] == ["grandchild"]
    assert t.roots("op", timed=True) == [root]
    assert len(t.roots("op")) == 2
    assert root.dur_ms >= c.dur_ms >= 0


def _load():
    log = EventLog(read_event_log(os.path.join(FIXTURE, "eventlog")))
    with open(os.path.join(FIXTURE, "spans.json")) as fh:
        spans = json.load(fh)
    return log, spans


def test_event_log_attributes_spark_work_to_tagged_operations():
    log, spans = _load()
    write, count = (log.op_view(s["trace_id"]) for s in spans)
    # the write op: one root SQL execution that wrote the 1000 rows
    assert len(write.root_executions) == 1
    assert write.metric("number of output rows", "Execute InsertIntoHadoopFsRelationCommand") == 1000
    assert write.metric("written output") > 0
    # the read op: a grouped count over the written files, with an exchange
    assert len(count.root_executions) >= 1
    assert count.metric("number of output rows", "Scan parquet") == 1000
    assert count.task_sum("records_read") == 1000
    assert count.task_sum("shuffle_write_bytes") > 0
    assert count.jobs and count.stages and count.tasks
    assert not (write.eids & count.eids) and not (write.jobs & count.jobs)
    assert write.failed_tasks() == count.failed_tasks() == 0
    assert log.storage_memory > 0


def test_sql_executions_lie_inside_their_operation_span():
    log, spans = _load()
    for s in spans:
        view = log.op_view(s["trace_id"])
        covered = union_ms(view.sql_intervals(), s["start_ms"], s["end_ms"])
        assert 0 < covered <= s["end_ms"] - s["start_ms"]


def record(out_dir: str = FIXTURE) -> None:
    """Record the fixture: a local[2] session with event logging, two tagged
    operations, then keep only the events the parser reads."""
    import shutil
    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp()
    log_dir = os.path.join(tmp, "eventlog")
    os.makedirs(log_dir)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    tracer = Tracer(spark.sparkContext)
    path = os.path.join(tmp, "t.parquet")
    with tracer.span("write"):
        spark.range(1000).withColumn("k", F.col("id") % 7).write.parquet(path)
    with tracer.span("count"):
        spark.read.parquet(path).groupBy("k").count().collect()
    spark.stop()
    keep = (
        "SQLExecutionStart", "SQLExecutionEnd", "SQLAdaptiveExecutionUpdate",
        "SQLAdaptiveSQLMetricUpdates", "DriverAccumUpdates", "SparkListenerJobStart",
        "SparkListenerTaskEnd", "SparkListenerBlockManagerAdded",
    )
    events = []
    for e in read_event_log(log_dir):
        if e["Event"].endswith(keep):
            for k in ("physicalPlanDescription", "details", "modifiedConfigs"):
                e.pop(k, None)
            events.append(e)
    os.makedirs(os.path.join(out_dir, "eventlog"), exist_ok=True)
    with open(os.path.join(out_dir, "eventlog", "events_1_fixture"), "w") as fh:
        fh.writelines(json.dumps(e, separators=(",", ":")) + "\n" for e in events)
    with open(os.path.join(out_dir, "spans.json"), "w") as fh:
        json.dump(
            [{"trace_id": s.trace_id, "name": s.name, "start_ms": s.start_ms, "end_ms": s.end_ms}
             for s in tracer.roots()],
            fh,
            indent=1,
        )
    shutil.rmtree(tmp)


if __name__ == "__main__":
    record()
