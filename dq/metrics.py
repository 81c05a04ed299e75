"""Grouped profiling aggregations — the reference's qualitativo family.

VivoPlay/VivoMoney/VivoEyes (qualitativo/VivoPlay.scala:81-195 etc.) are all
the same shape: bucketize a value column with a CASE chain, then group and
compute [conditional] distinct counts, [conditional] sums, decimal ratios.
Here that shape is ONE spec-driven builder over native expressions: the
bucket column is computed first (so grouping is on a plain column, not a
repeated CASE — A10), and every aggregate is a single-pass hash aggregate
with map-side partials. DISTINCT aggs at 10^12 scale should flip to
approx_count_distinct (provided as an option).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dq.io import local_frame


def band_col(value: Column, edges: list[float], labels: list[str] | None = None) -> Column:
    """CASE-chain bucketizer (≙ the 12-band histogram VivoPlay.scala:173-186).

    ``edges`` are ascending upper bounds; label i covers
    (edges[i-1], edges[i]]; an ``over_<last>`` band catches the tail.
    """
    labels = labels or [f"<= {e:g}" for e in edges] + [f"> {edges[-1]:g}"]
    # NULL value -> NULL band: without the guard every when() is NULL (not
    # true) and the CASE falls through to the overflow label, silently
    # counting missing values in the top band
    expr = F.when(value.isNull(), F.lit(None).cast("string")).when(
        value <= F.lit(edges[0]), F.lit(labels[0])
    )
    for i in range(1, len(edges)):
        expr = expr.when(value <= F.lit(edges[i]), F.lit(labels[i]))
    return expr.otherwise(F.lit(labels[len(edges)]))


def value_band_histogram(
    df: DataFrame, value_col: str, edges: list[float], group_cols: list[str] | None = None
) -> DataFrame:
    """Histogram over value bands (A11): bucket first, then hash-agg count."""
    banded = df.withColumn("valor_faixa", band_col(F.col(value_col), edges))
    keys = (group_cols or []) + ["valor_faixa"]
    return banded.groupBy(*keys).agg(F.count(F.lit(1)).cast("bigint").alias("valor_faixa_qtde"))


def conditional_distinct_counts(
    df: DataFrame,
    group_cols: list[str],
    entity_col: str,
    conditions: dict[str, Column],
    approx: bool = False,
) -> DataFrame:
    """Per-cohort distinct entities (A5 ≙ VivoPlay.scala:93-161):
    count(distinct case when <cond> then <entity> end) per condition."""
    entity = F.col(entity_col)
    aggs = []
    for name, cond in conditions.items():
        guarded = F.when(cond, entity)
        agg = (
            F.approx_count_distinct(guarded) if approx else F.count_distinct(guarded)
        ).cast("bigint").alias(name)
        aggs.append(agg)
    return df.groupBy(*group_cols).agg(*aggs)


def profile(
    df: DataFrame,
    group_cols: list[str],
    sums: dict[str, Column] | None = None,
    ratios: dict[str, tuple[Column, Column]] | None = None,
    decimal: str = "decimal(20,2)",
) -> DataFrame:
    """General qualitativo aggregate: decimal sums + derived ratios (A7/A8,
    ≙ VivoEyes.scala:95-97, VivoPlay.scala:88-89)."""
    aggs: list[Column] = []
    for name, col in (sums or {}).items():
        aggs.append(F.sum(col).cast(decimal).alias(name))
    for name, (num, den) in (ratios or {}).items():
        aggs.append((num / den).cast(decimal).alias(name))
    return df.groupBy(*group_cols).agg(*aggs)


# ---- Benford first-digit audit (Nigrini's fraud/DQ screen) ------------------

# log10(1 + 1/d) in micro-units for d = 1..9; these roundings sum to
# EXACTLY 1_000_000, so expected counts partition N with no remainder drift
BENFORD_MICRO = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]


def benford_digits(values: DataFrame, cents_col: str = "cents") -> DataFrame:
    """(digit, obs_cnt, exp_micro, dev_micro): first-significant-digit
    distribution of a positive integer amount column against Benford's law
    — the classic audit for fabricated/defaulted numeric columns (a DQ
    suite's fraud screen; Nigrini 1996). dev_micro = obs*1e6 - exp_micro*N
    stays exact int64 to 9e12 rows; no float chi-square enters the oracle
    surface (sum-order-dependent doubles are not cross-engine stable) —
    callers threshold on the per-digit integer deviations.

    First digit via the decimal rendering's first character — engine-
    portable, no log10. One hash-agg over <= 9 groups + a 9-row spine and
    a 1-row total crossJoin: zero wide state.
    """
    spark = values.sparkSession
    pos = values.where(F.col(cents_col) > 0)
    digit = F.substring(F.col(cents_col).cast("string"), 1, 1).cast("int")
    obs = (
        pos.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("_obs"))
    )
    spine = local_frame(
        spark, [(d + 1, m) for d, m in enumerate(BENFORD_MICRO)], "digit int, exp_micro long"
    )
    total = pos.agg(F.count(F.lit(1)).alias("_n"))
    return (
        spine.join(obs, "digit", "left")
        .crossJoin(total)
        .select(
            "digit",
            F.coalesce("_obs", F.lit(0)).cast("bigint").alias("obs_cnt"),
            F.col("exp_micro").cast("bigint").alias("exp_micro"),
            (F.coalesce("_obs", F.lit(0)) * F.lit(1_000_000) - F.col("exp_micro") * F.col("_n"))
            .cast("bigint")
            .alias("dev_micro"),
        )
    )
