"""Category blocklist filtering (UT1 / C4 "bad words" document tier).

The word-level sibling of the C4 line rules (dq.lines C4_BANNED_RE drops
boilerplate LINES): classify each document against a category blocklist —
the UT1-blocklist / LDNOOBW discipline every production web-text pipeline
runs (C4 drops any page with a listed word; RefinedWeb and FineWeb keep a
soft-ratio variant so a medical page mentioning one term survives). Both
policies live here:

- HARD categories: one hit anywhere drops the document (the C4 rule).
- SOFT categories: drop only when hits exceed ``SOFT_MAX_BP`` basis
  points of the token count (the RefinedWeb-style density rule) — exact
  integers, ``soft_bp = soft_hits * BP DIV n_tokens``.

The term table is a deterministic in-repo constant (``BLOCKLIST``): no
external list ships with the engine, and the gate corpus gets hits
PLANTED by doc_id residue (the scrub_pii discipline — dq/queries.py:528)
so every verdict branch is exercised without real offensive content.

Tokenization is ``TOKEN_RE`` ([a-z0-9]+ runs of lower(text)) via
regexp_extract_all — the Java ∩ Python-re ∩ RE2 ∩ DuckDB dialect subset,
and the same extraction the DuckDB twin runs, so term matching is
bit-identical cross-engine.

Scale shape (100 TB notes): tokens explode INSIDE the scan stage
(explode_outer — plain explode triggers InferFiltersFromGenerate and
inlines the token tree into a pushed Filter, CLAUDE.md), the term table
broadcasts (a few hundred rows at production UT1 scale, still KBs), and
the only exchange is the (doc_id, partial-count) hash-agg — map-side
combinable, ~24 B/doc; document text never shuffles. The category-count
variant shares the same exploded frame shape with a (doc_id, category)
key. Zero-token and NULL-text documents keep their row (explode_outer's
NULL token, counted via count(term IS NOT NULL)) and are kept by policy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dq.io import local_frame

# ---- shared constants (dq.oracles generates SQL from these) ----------------

# (category, is_hard, terms) — lowercase single tokens under TOKEN_RE
BLOCKLIST = [
    ("adult", True, ["pornhub", "xvideos", "escortservice"]),
    ("gambling", False, ["casino", "jackpot", "roulette", "sportsbook"]),
    ("pharma", False, ["viagra", "cialis", "oxycodone"]),
    ("piracy", False, ["warez", "keygen", "crackz"]),
]

TOKEN_RE = "[a-z0-9]+"
BP = 10_000
SOFT_MAX_BP = 150  # drop when soft hits exceed 1.5% of tokens

# deterministic gate plants: (mod, rem, suffix) — appended when
# doc_id % mod == rem; residues chosen pairwise-coprime-ish so docs can
# carry several categories at once
PLANTS = [
    (29, 3, " casino jackpot casino roulette casino jackpot"),  # dense soft
    (31, 5, " viagra"),                                         # single soft hit
    (37, 2, " pornhub"),                                        # hard drop
    (41, 7, " warez keygen"),                                   # light soft
]


def blocklist_frame(spark: SparkSession) -> DataFrame:
    rows = [
        (term, cat, hard)
        for cat, hard, terms in BLOCKLIST
        for term in terms
    ]
    return local_frame(spark, rows, "term string, category string, is_hard boolean")


def planted_text(did: Column, text: Column) -> Column:
    """text with the PLANTS suffixes appended by doc_id residue. NULL text
    stays NULL (F.concat and DuckDB || agree)."""
    parts = [text]
    for mod, rem, suffix in PLANTS:
        parts.append(
            F.when(did % mod == rem, F.lit(suffix)).otherwise(F.lit(""))
        )
    return F.concat(*parts)


def _tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, term) exploded token frame; zero-token docs keep one NULL
    term row (explode_outer) so the doc-grain agg never loses them."""
    toks = F.regexp_extract_all(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))), F.lit(TOKEN_RE), F.lit(0)
    )
    return docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks")).select(
        "doc_id", F.explode_outer("_toks").alias("term")
    )


def doc_category_hits(
    docs: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, category, n_hits) — one row per document × matched
    category (docs with no hits produce no rows). The per-category report
    a dataset card publishes next to the filter rates."""
    tok = _tokens(docs, text_col, id_col)
    return (
        tok.join(F.broadcast(blocklist), "term")
        .groupBy("doc_id", "category")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )


def doc_blocklist_verdicts(
    docs: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    soft_max_bp: int = SOFT_MAX_BP,
) -> DataFrame:
    """(doc_id, n_tokens, hard_hits, soft_hits, soft_bp, keep) per document.

    keep = hard_hits == 0 AND soft_bp <= soft_max_bp — two-valued by
    construction (all inputs are otherwise(0) sums). One explode, one
    broadcast LEFT join, ONE (doc_id) hash-agg: n_tokens rides the same
    agg as the hit counts, so the token array is evaluated exactly once.
    """
    tok = _tokens(docs, text_col, id_col)
    j = tok.join(F.broadcast(blocklist), "term", "left")
    per = j.groupBy("doc_id").agg(
        F.count("term").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("is_hard") == True, 1).otherwise(0))  # noqa: E712
        .cast("bigint")
        .alias("hard_hits"),
        F.sum(F.when(F.col("is_hard") == False, 1).otherwise(0))  # noqa: E712
        .cast("bigint")
        .alias("soft_hits"),
    )
    soft_bp = F.expr(f"CAST(soft_hits * {BP} AS BIGINT) DIV greatest(n_tokens, 1)")
    return per.select(
        "doc_id",
        "n_tokens",
        "hard_hits",
        "soft_hits",
        soft_bp.alias("soft_bp"),
        (
            (F.col("hard_hits") == 0)
            & (soft_bp <= F.lit(soft_max_bp))
        ).alias("keep"),
    )


# ---- pure-python twin (the pytest oracle) -----------------------------------


def verdicts_py(
    rows: list[tuple[int, str | None]], soft_max_bp: int = SOFT_MAX_BP
) -> list[tuple[int, int, int, int, int, bool]]:
    """rows = (doc_id, text already planted); returns the verdict table."""
    import re

    term_map = {
        t: hard for _, hard, terms in BLOCKLIST for t in terms
    }
    out = []
    for did, text in rows:
        toks = re.findall(TOKEN_RE, (text or "").lower())
        hard = sum(1 for t in toks if term_map.get(t) is True)
        soft = sum(1 for t in toks if term_map.get(t) is False)
        n = len(toks)
        soft_bp = soft * BP // max(n, 1)
        out.append(
            (did, n, hard, soft, soft_bp, hard == 0 and soft_bp <= soft_max_bp)
        )
    return out
