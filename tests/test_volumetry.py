"""Volumetria family: gate, measure, SCD merge, idempotence."""

from pyspark.sql import functions as F

from dq import volumetry

PEXPR = "date_format(ts, 'yyyyMMdd')"


def _events(spark):
    rows = [(i, f"2024-01-{1 + i % 3:02d} 10:00:00") for i in range(30)]
    return spark.createDataFrame(rows, "id long, s string").select(
        "id", F.to_timestamp("s").alias("ts")
    )


def test_measure_row_counts_partition(spark):
    hist = volumetry.empty_history(spark)
    new_hist, _ = volumetry.collect_volumetria(
        spark, _events(spark), hist, "db", "ev", "20240102", PEXPR
    )
    row = new_hist.collect()[0]
    assert row.qtde_registros == 10
    assert (row.banco, row.tabela, row.dt_foto, row.fonte) == ("db", "ev", "20240102", "2")


def test_gate_failure_row(spark):
    hist = volumetry.empty_history(spark)
    new_hist, fail = volumetry.collect_volumetria(
        spark, _events(spark), hist, "db", "ev", "20991231", PEXPR
    )
    assert new_hist is None
    r = fail.collect()[0]
    assert (r.dt_foto, r.status) == ("20991231", 0)


def test_gate_success_merges(spark):
    hist = volumetry.empty_history(spark)
    new_hist, fail = volumetry.collect_volumetria(
        spark, _events(spark), hist, "db", "ev", "20240101", PEXPR
    )
    assert fail is None
    assert new_hist.count() == 1


def test_merge_upsert_replaces_and_idempotent(spark):
    hist = volumetry.empty_history(spark)
    h1, _ = volumetry.collect_volumetria(spark, _events(spark), hist, "db", "ev", "20240101", PEXPR)
    # re-measure same key with different source data -> replaces, not appends
    fewer = _events(spark).where(F.col("id") < 15)
    h2, _ = volumetry.collect_volumetria(spark, fewer, h1, "db", "ev", "20240101", PEXPR)
    assert h2.count() == 1
    assert h2.collect()[0].qtde_registros == 5
    # idempotence: merging the same row twice == once
    h3, _ = volumetry.collect_volumetria(spark, fewer, h2, "db", "ev", "20240101", PEXPR)
    assert h3.collect() == h2.collect()


def test_merge_null_safe_keys(spark):
    """NULL in a key column must not nuke the row (concat-key bug fixed)."""
    ddl = "banco string, tabela string, dt_foto string, dt_processamento string, qtde_registros long, fonte string"
    hist = spark.createDataFrame([("db", None, "20240101", "20260101", 7, "1")], ddl)
    fresh = spark.createDataFrame([("db", None, "20240101", "20260101", 9, "2")], ddl)
    out = volumetry.merge_history(hist, fresh).collect()
    assert len(out) == 1 and out[0].qtde_registros == 9


# ---- robust anomaly flags ---------------------------------------------------


def _hist(spark, pairs):
    return spark.createDataFrame(pairs, "day string, n_rows long")


def test_count_anomalies_flags_planted_outlier(spark):
    pairs = [(f"2024010{i}", 100 + i % 3) for i in range(1, 9)] + [("20240109", 5)]
    out = {r.day: r for r in volumetry.count_anomalies(_hist(spark, pairs)).collect()}
    assert out["20240109"].is_anomaly
    assert not any(r.is_anomaly for d, r in out.items() if d != "20240109")
    # outputs are two-valued, never NULL
    assert all(r.is_anomaly in (True, False) for r in out.values())


def test_count_anomalies_lower_median_even_history(spark):
    # 4 rows -> rank (4+1) DIV 2 = 2 under (value, day) order: LOWER median
    pairs = [("d1", 1), ("d2", 2), ("d3", 3), ("d4", 4)]
    out = volumetry.count_anomalies(_hist(spark, pairs)).collect()
    assert all(r.med == 2 for r in out)
    # devs |1-2|,0,1,2 sorted [0,1,1,2] -> rank 2 -> mad = 1
    assert all(r.mad == 1 for r in out)
    # k=3.5: flag when dev*100 > 350*1 -> only dev >= 4 would flag; none here
    assert not any(r.is_anomaly for r in out)


def test_count_anomalies_zero_mad_flags_any_deviation(spark):
    pairs = [("d1", 5), ("d2", 5), ("d3", 5), ("d4", 5), ("d5", 7)]
    out = {r.day: r for r in volumetry.count_anomalies(_hist(spark, pairs)).collect()}
    assert all(r.mad == 0 for r in out.values())
    assert out["d5"].is_anomaly and out["d5"].dev == 2
    assert not any(r.is_anomaly for d, r in out.items() if d != "d5")


def test_count_anomalies_median_tiebreak_deterministic(spark):
    # equal counts break ties on the label: result must be stable across runs
    pairs = [("b", 10), ("a", 10), ("c", 3)]
    a = volumetry.count_anomalies(_hist(spark, pairs)).collect()
    b = volumetry.count_anomalies(_hist(spark, pairs)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(r.med == 10 for r in a)


# ---- one count job per check: same rows as the two-job formulation ----------


def _two_job_history(spark, df, hist, dt_foto):
    """The former path: a limit-1 gate job, then a count aggregate labeled
    in Spark and merged into history (the oracle for the one-count path)."""
    scoped = df.where(F.expr(PEXPR) == F.lit(dt_foto))
    assert scoped.limit(1).count() > 0
    fresh = scoped.agg(F.count(F.lit(1)).cast("bigint").alias("qtde_registros")).select(
        F.lit("db").alias("banco"),
        F.lit("ev").alias("tabela"),
        F.lit(dt_foto).alias("dt_foto"),
        F.date_format(F.current_date(), "yyyyMMdd").alias("dt_processamento"),
        "qtde_registros",
        F.lit("2").alias("fonte"),
    )
    return volumetry.merge_history(hist, fresh)


def test_collect_volumetria_matches_two_job_rows(spark):
    from dq.schema import DQ_VOLUMETRIA

    ddl = "banco string, tabela string, dt_foto string, dt_processamento string, qtde_registros long, fonte string"
    today = spark.range(1).select(F.date_format(F.current_date(), "yyyyMMdd")).first()[0]
    hist = spark.createDataFrame(
        [
            ("db", "ev", "20240102", today, 99, "1"),  # same key: replaced
            ("db", "ev", "20240102", "20240201", 98, "1"),  # earlier run: kept
            ("db", "other", "20240101", today, 4, "1"),
        ],
        ddl,
    )
    new_hist, fail = volumetry.collect_volumetria(spark, _events(spark), hist, "db", "ev", "20240102", PEXPR)
    want = _two_job_history(spark, _events(spark), hist, "20240102")
    assert fail is None
    assert new_hist.dtypes == want.dtypes == [(f.name, f.dataType.simpleString()) for f in DQ_VOLUMETRIA]
    assert sorted(new_hist.collect()) == sorted(want.collect())
    assert sorted((r.tabela, r.qtde_registros) for r in new_hist.collect()) == [
        ("ev", 10),
        ("ev", 98),
        ("other", 4),
    ]


def test_collect_volumetria_missing_partition_rows(spark):
    from dq.schema import DQ_FAILURES

    hist = volumetry.empty_history(spark)
    new_hist, fail = volumetry.collect_volumetria(
        spark, _events(spark), hist, "db", "ev", "20991231", PEXPR, campo="ts", formato="2"
    )
    assert new_hist is None
    assert fail.schema == DQ_FAILURES
    assert [tuple(r) for r in fail.collect()] == [("db", "ev", "20991231", "ts", "2", 0)]
