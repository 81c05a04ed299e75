"""Driver-side small frames stay in the JVM: dq.io.local_frame builds a
LocalRelation (no PythonRDD, no Python worker), and schema-on-read history
reads start no Spark job."""

import ast
import pathlib

import pytest
from pyspark.sql.types import StructType, _parse_datatype_json_string

from dq import dupcheck, io as dqio, volumetry
from dq.pipeline import LINEAGE_SCHEMA_DDL
from dq.schema import DQ_DUPLICADOS, DQ_FAILURES, DQ_VOLUMETRIA

DQ_DIR = pathlib.Path(dqio.__file__).parent


def _analyzed(df):
    """(logical node class, schema) of the analyzed plan, read from the JVM."""
    qe = df._jdf.queryExecution()
    schema = _parse_datatype_json_string(qe.analyzed().schema().json())
    return qe.analyzed().getClass().getSimpleName(), schema


@pytest.mark.parametrize(
    "build, declared",
    [
        (lambda s: volumetry.failure_row(s, "db", "t", "20240101", "dt_foto", "1"), DQ_FAILURES),
        (volumetry.empty_history, DQ_VOLUMETRIA),
        (dupcheck.empty_history, DQ_DUPLICADOS),
    ],
    ids=["failure_row", "volumetry_empty_history", "dupcheck_empty_history"],
)
def test_control_frames_are_local_relations(spark, build, declared):
    node, schema = _analyzed(build(spark))
    assert node == "LocalRelation"
    assert schema == declared


def test_read_path_absent_is_local_relation(spark, tmp_path):
    df = dqio.read_path(spark, str(tmp_path / "absent"), default_schema=DQ_VOLUMETRIA)
    assert _analyzed(df) == ("LocalRelation", DQ_VOLUMETRIA)
    assert df.count() == 0


def test_local_frame_ddl_null_and_binary(spark):
    ddl = "id bigint, s string, payload binary"
    rows = [(1, None, bytearray(b"\x00\xff")), (2, "x", b"ab")]
    df = dqio.local_frame(spark, rows, ddl)
    assert _analyzed(df) == ("LocalRelation", StructType.fromDDL(ddl))
    got = sorted((r.id, r.s, bytes(r.payload)) for r in df.collect())
    assert got == [(1, None, b"\x00\xff"), (2, "x", b"ab")]
    # the empty lineage frame of a first run with no input
    assert _analyzed(dqio.local_frame(spark, [], LINEAGE_SCHEMA_DDL)) == (
        "LocalRelation",
        StructType.fromDDL(LINEAGE_SCHEMA_DDL),
    )


def test_local_frame_rejects_null_in_non_nullable_field(spark):
    with pytest.raises(ValueError):
        dqio.local_frame(spark, [(None, "t", "20240101", "c", "1", 0)], DQ_FAILURES)


def _jobs_in_group(spark, group):
    # the status store is fed by the listener bus: drain it before reading
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_read_path_existing_history_starts_no_job(spark, tmp_path):
    p = str(tmp_path / "hist")
    dqio.local_frame(spark, [("db", "t", "20240101", "20240102", 5, "2")], DQ_VOLUMETRIA).write.parquet(p)
    sc = spark.sparkContext
    group = f"read-path-probe-{tmp_path.name}"
    sc.setJobGroup(group, "read_path job probe")
    try:
        before = _jobs_in_group(spark, group)
        hist = dqio.read_path(spark, p, default_schema=DQ_VOLUMETRIA)
        after_schema_read = _jobs_in_group(spark, group)
        dqio.read_path(spark, p)  # no schema: the footer-inference job
        after_inferred_read = _jobs_in_group(spark, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after_schema_read == before
    # the probe can see a job: inference does start one
    assert after_inferred_read > after_schema_read
    assert [tuple(r) for r in hist.collect()] == [("db", "t", "20240101", "20240102", 5, "2")]


def _create_dataframe_calls(tree: ast.AST):
    """(line, innermost enclosing function or None) of every
    ``.createDataFrame`` reference in a module."""

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if isinstance(child, ast.Attribute) and child.attr == "createDataFrame":
                yield child.lineno, fn
            yield from walk(child, inner)

    return list(walk(tree, None))


def test_no_list_create_dataframe_outside_local_frame():
    """Every engine frame built from driver-side rows goes through
    io.local_frame; the one other createDataFrame call (synth) passes a
    pandas frame."""
    allowed = {("io.py", "local_frame"), ("synth.py", "generate_pages")}
    offenders = [
        f"{path.name}:{line} in {fn}"
        for path in sorted(DQ_DIR.rglob("*.py"))
        for line, fn in _create_dataframe_calls(ast.parse(path.read_text()))
        if (path.name, fn) not in allowed
    ]
    assert offenders == []
