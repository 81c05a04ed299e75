"""Declarative data-quality constraint suite (deequ-style, one-pass).

The reference hard-codes each check family as its own job (volumetria row
counts, duplicidade dup counts, qualitativo profiles — SURVEY.md §2); this
module adds the engine feature those families are instances of: a DECLARED
list of constraints over a table, compiled into the minimum number of scan
passes and emitted as one verdict report — the Deequ/Great-Expectations
shape (Schelter et al., "Automating Large-Scale Data Quality Verification",
VLDB 2018), re-expressed as native Catalyst aggregations.

Constraint kinds (violation semantics are two-valued by construction —
NULL never leaks into a verdict, the `x NOT IN (...)` NULL trap is
compiled away):

- ``not_null(col)``            — violation: col IS NULL
- ``unique(col)``              — violations: n_rows(col non-null) - n_distinct
- ``in_set(col, values)``      — violation: col IS NULL OR col not in values
- ``in_range(col, lo, hi)``    — violation: col IS NULL OR outside [lo, hi]
- ``matches(col, regex)``      — violation: col IS NULL OR no regex match
  (pattern must stay inside the shared Java ∩ RE2 ∩ DuckDB dialect subset)
- ``min_rows(n)``              — violation: table has fewer than n rows
- ``fk(col, dim, dim_col)``    — violation: non-null col absent from dim

Compilation: every row-predicate constraint becomes a conditional-sum cell
of ONE map-side-combinable hash aggregate (the filter_overlap_matrix
trick), `unique` adds count(col)/count(distinct col) cells to the SAME agg,
and each `fk` adds one broadcast left-anti count against its (small) dim —
so a suite of any width costs one corpus scan plus one tiny scan per
referenced dim. The wide 1-row agg result is unpivoted with stack() into
the (constraint, n_rows, n_violations, passed) report — scalar cells only,
so the report is O(constraints) rows at any corpus size.

Scale shape (100 TB notes): the single agg pass is whole-stage-codegen'd
conditional sums (no shuffle beyond the scalar partials); `unique` uses
exact count(distinct) which Spark plans as expand+two-phase agg — for
10^12-row keys flip ``approx`` to use approx_count_distinct (documented
estimator trade, same report schema); fk dims are broadcast by contract
(reference dims are small); a corpus-sized fk target should instead flip
to a shuffle left-anti on a bucketed dim.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dq.io import local_frame


@dataclass(frozen=True)
class Check:
    name: str
    kind: str  # not_null | unique | in_set | in_range | matches | min_rows | fk
    col: str | None = None
    values: tuple = ()        # in_set
    lo: float | None = None   # in_range
    hi: float | None = None   # in_range
    pattern: str | None = None  # matches
    n: int | None = None      # min_rows
    dim: str | None = None      # fk: dim table name (resolved by caller)
    dim_col: str | None = None  # fk: dim key column


def _violation_pred(c: Check) -> Column:
    """Row-level violation predicate (two-valued: NULL input = violation
    for value constraints — a missing value cannot satisfy a shape claim)."""
    col = F.col(c.col)
    if c.kind == "not_null":
        return col.isNull()
    if c.kind == "in_set":
        return col.isNull() | ~col.isin(list(c.values))
    if c.kind == "in_range":
        return col.isNull() | (col < F.lit(c.lo)) | (col > F.lit(c.hi))
    if c.kind == "matches":
        return col.isNull() | ~col.rlike(c.pattern)
    raise ValueError(f"not a row-predicate constraint: {c.kind}")


def run_checks(
    df: DataFrame, checks: list[Check], dims: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Compile + run the suite; returns (constraint, n_rows, n_violations,
    passed) — one row per check, deterministic order-free content."""
    dims = dims or {}
    aggs: list[Column] = [F.count(F.lit(1)).cast("bigint").alias("_nr")]
    cells: list[tuple[str, str]] = []  # (check name, violation-cell sql ref)
    for i, c in enumerate(checks):
        if c.kind in ("not_null", "in_set", "in_range", "matches"):
            aggs.append(
                F.sum(F.when(_violation_pred(c), 1).otherwise(0)).cast("bigint").alias(f"_v{i}")
            )
            cells.append((c.name, f"_v{i}"))
        elif c.kind == "unique":
            aggs.append(F.count(F.col(c.col)).cast("bigint").alias(f"_n{i}"))
            aggs.append(F.countDistinct(F.col(c.col)).cast("bigint").alias(f"_d{i}"))
            cells.append((c.name, f"_n{i} - _d{i}"))
        elif c.kind == "min_rows":
            cells.append((c.name, f"CASE WHEN _nr < {c.n} THEN 1 ELSE 0 END"))
        elif c.kind == "fk":
            pass  # separate tiny job below
        else:
            raise ValueError(f"unknown constraint kind: {c.kind}")
    if cells:
        wide = df.agg(*aggs)
        stack = ", ".join(f"'{name}', CAST({cell} AS BIGINT)" for name, cell in cells)
        report = wide.select(
            F.col("_nr").alias("n_rows"),
            F.expr(f"stack({len(cells)}, {stack}) AS (constraint, n_violations)"),
        ).select("constraint", "n_rows", "n_violations")
    else:  # fk-only suite: stack(0, ...) does not parse — start empty
        report = local_frame(
            df.sparkSession, [], "constraint string, n_rows bigint, n_violations bigint"
        )

    for c in checks:
        if c.kind != "fk":
            continue
        dim = dims[c.dim]
        orphans = (
            df.where(F.col(c.col).isNotNull())
            .join(
                F.broadcast(dim.select(F.col(c.dim_col).alias(c.col)).distinct()),
                c.col,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
        )
        nr = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        row = nr.crossJoin(orphans).select(
            F.lit(c.name).alias("constraint"), "n_rows", "n_violations"
        )
        report = report.unionByName(row)

    return report.select(
        "constraint", "n_rows", "n_violations", (F.col("n_violations") == 0).alias("passed")
    )


# ---- the gate suite over the orders table (query + oracle share this) -------

ORDERS_CHECKS: list[Check] = [
    Check("orderkey_not_null", "not_null", col="o_orderkey"),
    Check("orderkey_unique", "unique", col="o_orderkey"),
    Check("status_in_set", "in_set", col="o_orderstatus", values=("F", "O", "P")),
    Check("totalprice_range", "in_range", col="o_totalprice", lo=0.0, hi=1_000_000.0),
    Check("priority_matches", "matches", col="o_orderpriority", pattern="^[1-5]-[A-Z ]+$"),
    Check("at_least_100_rows", "min_rows", n=100),
    Check("custkey_fk_customer", "fk", col="o_custkey", dim="customer", dim_col="c_custkey"),
]


K_ANON_K = 5                 # minimum group size (oracle generated from this)
K_ANON_LEN_BAND = 200        # n_chars band width for the quasi-identifier


def k_anonymity_violations(
    df: DataFrame, qi_cols: list[str], k: int = K_ANON_K
) -> DataFrame:
    """Groups of quasi-identifier combinations with fewer than ``k`` rows —
    the k-anonymity audit (Sweeney 2002) that complements the PII scrub:
    scrubbing removes direct identifiers, but a (source, lang, length)
    combination occurring once still singles a document out for linkage.
    One hash-agg + HAVING; output is the violating groups and their sizes
    (re-identification risk surface), smallest first being the analyst's
    priority is NOT baked in — no sort, the gate compares as a set.

    NULL quasi-identifier values form their own groups (NULL is itself a
    linkable value); group keys pass through COALESCE-free so both engines
    group NULLs identically (both treat NULL as one group key).
    """
    return (
        df.groupBy(*[F.col(c) for c in qi_cols])
        .agg(F.count(F.lit(1)).alias("group_n"))
        .where(F.col("group_n") < k)
        .select(*qi_cols, F.col("group_n").cast("bigint").alias("group_n"))
    )
