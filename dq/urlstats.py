"""URL/domain analytics: hot-domain detection and URL-rule filtering.

Training-data-pipeline additions beyond the reference's table-level DQ scope
(same family as dq.skew's hot-key gates; the north-star pipeline calls out
"salted keys for hot domains" — these operators are the *detection* side that
feeds dq.skew's mitigation side). Published semantics they follow:

- Hot-domain detection (CCNet / RefinedWeb crawl analytics): a domain holding
  >= HOT_SHARE_PCT % of the corpus is a skew key — exactly the shape that
  melts a url/domain-partitioned shuffle and the input to salting decisions.
- URL rules (C4 §2.2 / RefinedWeb §3.1 URL filtering): drop documents from
  blocklisted domains, with flagged path tokens (ads/tracker/signup), or
  carrying tracking query strings.

The driver-gate tables carry no url column, so the test corpus is
CONSTRUCTED deterministically from ``documents`` (url_docs below) with a
planted ~40% hot domain, rotating cold domains, and planted blocked/banned/
query URLs — all driven by the shared constants; dq.oracles generates the
DuckDB twins from the SAME constants so the engines cannot drift.

Scale shapes (100 TB notes):
- domain_stats shuffles only (domain, partial counts) — the domain
  cardinality of a web crawl is ~10^7-10^8, far under the row count, and
  count partials combine map-side. The total-row count used for the share
  test is a 1-row broadcast cross join, not a second scan wide path.
- url_blocklist_filter is pure whole-stage-codegen column work over the url
  string: zero exchanges (plan-asserted).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dq.io import local_frame

# ---- shared constants (dq.oracles generates SQL from these) ----------------

HOT_DOMAIN = "news.hot-example.com"
COLD_DOMAINS = [
    "blog.alpha.example",
    "docs.beta.example",
    "shop.gamma.example",
    "forum.delta.example",
    "wiki.epsilon.example",
]
HOT_MOD = 10
HOT_REM = 4          # doc_id % HOT_MOD < HOT_REM -> hot domain (~40% of docs)

BLOCKED_DOMAINS = ["shop.gamma.example"]
BANNED_PATH_TOKENS = ["ads", "tracker", "signup"]
BANNED_MOD = 5       # every BANNED_MOD-th doc gets a banned path segment
QUERY_MOD = 4        # every QUERY_MOD-th doc's url carries TRACKING_QUERY
TRACKING_QUERY = "?utm_source=feed"

# a domain with >= this % of docs is a hot (skew) key. 25 splits the
# planted corpus (hot 40%, wiki.epsilon 20%, other colds 10%) so the gate
# exercises BOTH flag branches — at 10 every domain sat at/above the
# boundary and is_hot was constant TRUE, a vacuous check
HOT_SHARE_PCT = 25

# Java ∩ Python-re ∩ RE2 ∩ DuckDB dialect subset (no lookaround)
DOMAIN_RE = r"https?://([^/?#]+)"
QUERY_FLAG_RE = r"\?"


def url_expr(did: Column) -> Column:
    """The synthetic url for a given doc-id COLUMN (dq.oracles._url_expr is
    the SQL twin, parameterized the same way)."""
    cold = F.array(*[F.lit(d) for d in COLD_DOMAINS])
    domain = F.when(did % HOT_MOD < HOT_REM, F.lit(HOT_DOMAIN)).otherwise(
        F.element_at(cold, (did % len(COLD_DOMAINS) + 1).cast("int"))
    )
    banned = F.array(*[F.lit(t) for t in BANNED_PATH_TOKENS])
    seg = F.when(
        did % BANNED_MOD == 0,
        F.concat(F.element_at(banned, (did % len(BANNED_PATH_TOKENS) + 1).cast("int")),
                 F.lit("/")),
    ).otherwise(F.lit(""))
    query = F.when(did % QUERY_MOD == 0, F.lit(TRACKING_QUERY)).otherwise(F.lit(""))
    return F.concat(F.lit("https://"), domain, F.lit("/"), seg,
                    F.lit("item-"), did.cast("string"), query)


def url_docs(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, url, lang) test corpus with planted skew + rule hits.

    domain: HOT_DOMAIN for doc_id % HOT_MOD < HOT_REM, else rotates through
    COLD_DOMAINS; every BANNED_MOD-th doc gains a banned path token
    (rotating); every QUERY_MOD-th doc gains a tracking query string.
    """
    did = F.col(id_col)
    return docs.select(
        F.col(id_col).alias("doc_id"), url_expr(did).alias("url"), "lang"
    )


def domain_col(url: Column | None = None) -> Column:
    return F.regexp_extract(url if url is not None else F.col("url"), DOMAIN_RE, 1)


def domain_stats(base: DataFrame, hot_share_pct: int = HOT_SHARE_PCT) -> DataFrame:
    """Per-domain corpus share + hot-key flag.

    (domain, n_docs, n_langs, share_bp, is_hot): share_bp is exact-integer
    basis points floor(10000 * n_docs / total); is_hot compares integers
    (n_docs * 100 >= pct * total) — no float crosses the engine boundary
    except the final derived columns, which divide exact integers.
    """
    per = base.groupBy(domain_col().alias("domain")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
    )
    total = base.agg(F.count(F.lit(1)).cast("bigint").alias("_total"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "domain",
            "n_docs",
            "n_langs",
            F.floor(F.col("n_docs") * 10000 / F.col("_total")).cast("bigint").alias("share_bp"),
            (F.col("n_docs") * 100 >= F.lit(hot_share_pct) * F.col("_total")).alias("is_hot"),
        )
    )


def url_blocklist_filter(base: DataFrame) -> DataFrame:
    """C4/RefinedWeb URL rules: per-doc rule flags + keep decision.

    blocked  domain in BLOCKED_DOMAINS
    banned   a BANNED_PATH_TOKENS segment in the path
    tracked  url carries a query string
    keep = none fire. Pure codegen — no shuffle (plan-asserted).
    """
    dom = domain_col()
    path = F.regexp_replace(F.col("url"), DOMAIN_RE, "")
    blocked = dom.isin(BLOCKED_DOMAINS)
    banned_re = "/(" + "|".join(BANNED_PATH_TOKENS) + ")/"
    banned = path.rlike(banned_re)
    tracked = F.col("url").rlike(QUERY_FLAG_RE)
    return base.select(
        "doc_id",
        "url",
        dom.alias("domain"),
        blocked.alias("is_blocked_domain"),
        banned.alias("has_banned_path"),
        tracked.alias("has_query"),
        (~blocked & ~banned & ~tracked).alias("keep"),
    )


# ---- robots.txt longest-match interpreter (RFC 9309) -----------------------

# Planted per-domain robots.txt rule set (allow = 1 / disallow = 0): the
# shapes a crawler actually meets — a whole-site disallow with a carve-out,
# a nested longer-prefix carve-out, and an equal-length allow/disallow tie
# (the spec's least-restrictive tie-break). dq.oracles generates the VALUES
# twin from this list. Prefixes are chosen against the synthetic url_expr
# path shapes (/item-N and /{ads,tracker,signup}/item-N).
ROBOTS_TXT_RULES: list[tuple[str, str, int]] = [
    (HOT_DOMAIN, "/ads", 0),              # disallow the ads tree ...
    (HOT_DOMAIN, "/ads/item-1", 1),       # ... but allow one deep carve-out
    ("blog.alpha.example", "/", 0),       # whole-site disallow ...
    ("blog.alpha.example", "/signup", 1), # ... with a prefix carve-out
    ("docs.beta.example", "/item-7", 0),
    ("wiki.epsilon.example", "/item-2", 0),  # equal-length tie:
    ("wiki.epsilon.example", "/item-2", 1),  # allow wins (least-restrictive)
]
URL_PATH_RE = r"https?://[^/?#]+(/[^?#]*)"


def robots_rules_filter(base: DataFrame) -> DataFrame:
    """(doc_id, domain, path, matched_len, allowed) — RFC 9309 robots.txt
    longest-match evaluation: among the url's domain's rules whose
    path-prefix matches, the LONGEST wins; on an equal-length tie the
    allow rule wins (least-restrictive, per spec); no matching rule means
    allowed. The whole decision is one integer argmax — score =
    prefix_len * 2 + allow, unmatched rows default to score 1 (len 0,
    allow) — so max(score) is map-side combinable: no window, no
    tie-break ambiguity across engines.

    Scale shape: the rule table is broadcast (robots rules are KBs per
    domain); per-url join fan-out is bounded by rules-per-domain; the one
    exchange is the (doc_id, domain, path) hash-agg (~40 B/row — url
    strings only, never text)."""
    spark = base.sparkSession
    rules = local_frame(spark, ROBOTS_TXT_RULES, "r_domain string, prefix string, allow int")
    u = base.select(
        "doc_id",
        domain_col().alias("domain"),
        F.regexp_extract(F.col("url"), URL_PATH_RE, 1).alias("path"),
    )
    j = u.join(
        F.broadcast(rules),
        (F.col("domain") == F.col("r_domain"))
        & F.col("path").startswith(F.col("prefix")),
        "left",
    )
    score = (
        F.when(
            F.col("prefix").isNotNull(),
            F.length("prefix") * 2 + F.col("allow"),
        )
        .otherwise(F.lit(1))
        .cast("bigint")
    )
    g = j.groupBy("doc_id", "domain", "path").agg(F.max(score).alias("_s"))
    return g.select(
        "doc_id",
        "domain",
        "path",
        F.expr("_s DIV 2").cast("bigint").alias("matched_len"),
        (F.col("_s") % 2 == 1).alias("allowed"),
    )


# ---- URL canonicalization (crawl-frontier / pre-dedup normalization) -------
# Ordered (name, pattern, replacement) — constant replacements ONLY (group-
# reference syntax differs between Java ($1) and RE2/DuckDB (\\1), so rules
# that would need backrefs are handled structurally below). Dialect subset:
# Java ∩ Python-re ∩ RE2; DuckDB side adds the 'g' flag.
URL_CANON_RULES: list[tuple[str, str, str]] = [
    ("fragment", r"#.*$", ""),
    ("tracking_mid", r"&(?:utm_[a-z]+|fbclid|gclid)=[^&#]*", ""),
    ("tracking_first_more", r"\?(?:utm_[a-z]+|fbclid|gclid)=[^&#]*&", "?"),
    ("tracking_only", r"\?(?:utm_[a-z]+|fbclid|gclid)=[^&#]*$", ""),
    ("trailing_slash", r"/+$", ""),  # /+ so the chain is idempotent on '//'
]
# scheme+host head, matched case-insensitively and lowercased structurally
URL_HEAD_RE = r"(?i)^(https?://[^/?#]+)"

_CANON_COMPILED = [(_re.compile(p), r) for _, p, r in URL_CANON_RULES]
_HEAD_COMPILED = _re.compile(URL_HEAD_RE)


def canonical_url(u: str) -> str:
    """Pure-Python twin of :func:`canonical_url_col` (property-test oracle:
    idempotent, fragment/tracking-free)."""
    for pat, rep in _CANON_COMPILED:
        u = pat.sub(rep, u)
    m = _HEAD_COMPILED.match(u)
    return u if m is None else m.group(1).lower() + u[m.end(1):]


def canonical_url_col(url: Column) -> Column:
    """Canonical form: fragment/tracking-param/trailing-slash stripped via
    the shared rule chain, then scheme+host lowercased (path/query case is
    significant and kept). Pure codegen — no UDF, no shuffle."""
    c = url
    for _, pat, rep in URL_CANON_RULES:
        c = F.regexp_replace(c, pat, rep)
    head = F.lower(F.regexp_extract(c, URL_HEAD_RE, 1))
    rest = F.regexp_replace(c, URL_HEAD_RE, "")
    return F.when(head == "", c).otherwise(F.concat(head, rest))


def url_canonicalize(base: DataFrame) -> DataFrame:
    """(doc_id, url, url_canon, changed, n_same_canon): canonical url per
    doc plus how many docs share it after normalization (>1 = the dedup win
    canonicalization exists for).

    Scale shape: the canonical form is a codegen projection; the only
    exchange is the count window keyed on url_canon — the row is
    (doc_id, url, canon) ≈ 150 B, no text. At 10^12 docs swap the window
    for a groupBy on xxhash64(url_canon) + join if url skew appears
    (grouping by fingerprint ≡ grouping by canon)."""
    from pyspark.sql import Window

    c = base.select(
        "doc_id", "url", canonical_url_col(F.col("url")).alias("url_canon")
    ).withColumn("changed", F.col("url_canon") != F.col("url"))
    return c.withColumn(
        "n_same_canon",
        F.count(F.lit(1)).over(Window.partitionBy("url_canon")).cast("bigint"),
    )


# ---- crawl budget apportionment (Hamilton largest remainder) ----------------

CRAWL_BUDGET = 1_000_000  # fetches to split across domains per crawl cycle


def crawl_budget_quota(base: DataFrame, budget: int = CRAWL_BUDGET) -> DataFrame:
    """Integer-exact crawl-budget apportionment: split ``budget`` fetch
    slots across domains proportionally to page count, by Hamilton's
    largest-remainder method (the apportionment rule that is exact,
    anonymous, and never violates quota) — the scheduler layer a polite
    recrawler runs on top of the dq.crawldiff churn signals.

        base_d = budget * n_d DIV N;  rem_d = budget * n_d MOD N
        leftover R = budget - sum(base_d)  (< #domains)
        the R largest rem_d (ties: domain ASC) each get +1

    sum(quota) == budget exactly, every domain within floor/ceil of its
    real share. int64 envelope: budget * n_d needs n_d < 9.2e18/budget
    (1e6 budget -> 9e12 pages/domain) — documented headroom.

    Scale shape: the input reduces to the per-domain rollup first
    (map-side-combinable count), so every later frame is domains-sized —
    the control-plane frame of a crawl (10^7-10^8 rows). The extra-slot
    pick is the histogram threshold trick (dq.dsir discipline): the
    running-total window runs over the DISTINCT-remainder histogram, and
    only the single boundary-remainder group needs an ordered row_number —
    in a Zipfian crawl that group is a handful of domains (degenerate
    equal-weight corpora collapse it to one partition; documented, the
    token-packing caveat shape).

    Returns (domain, n_pages, base_quota, rem, extra, quota).
    """
    from pyspark.sql import Window

    per = base.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pages")
    )
    tot = per.agg(F.sum("n_pages").cast("bigint").alias("_total"))
    q = per.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_pages",
        F.expr(f"CAST(n_pages * {budget} AS BIGINT) DIV _total").alias("base_quota"),
        F.expr(f"CAST(n_pages * {budget} AS BIGINT) % _total").alias("rem"),
    )
    leftover = q.agg(
        (F.lit(budget) - F.sum("base_quota")).cast("bigint").alias("_r")
    )

    # histogram threshold pick: how many domains sit ABOVE each remainder
    hist = q.groupBy("rem").agg(F.count(F.lit(1)).cast("bigint").alias("_cnt"))
    w = Window.orderBy(F.col("rem").desc())
    cum = hist.select(
        "rem",
        "_cnt",
        (F.sum("_cnt").over(w) - F.col("_cnt")).cast("bigint").alias("_above"),
    )
    bounds = cum.crossJoin(F.broadcast(leftover)).where(
        (F.col("_above") < F.col("_r")) & (F.col("_above") + F.col("_cnt") >= F.col("_r"))
    ).select(
        F.col("rem").alias("_t"),
        (F.col("_r") - F.col("_above")).cast("bigint").alias("_need"),
    )
    # bounds is 0 rows when R == 0 (exact division): left join + coalesce
    qb = q.crossJoin(
        F.broadcast(
            bounds.agg(
                # R == 0 (exact division) -> bounds is empty: a sentinel
                # ABOVE any remainder makes both extra branches false
                F.coalesce(F.max("_t"), F.lit(1 << 62)).cast("bigint").alias("_t"),
                F.coalesce(F.max("_need"), F.lit(0)).cast("bigint").alias("_need"),
            )
        )
    )
    # rank within each remainder-collision group (distributed key; only the
    # boundary group's rank is consumed — see docstring caveat)
    wb = Window.partitionBy("rem").orderBy("domain")
    return (
        qb.withColumn("_rk", F.row_number().over(wb))
        .select(
            "domain",
            "n_pages",
            "base_quota",
            "rem",
            F.when(
                (F.col("rem") > F.col("_t"))
                | ((F.col("rem") == F.col("_t")) & (F.col("_rk") <= F.col("_need"))),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("extra"),
        )
        .withColumn("quota", (F.col("base_quota") + F.col("extra")).cast("bigint"))
    )
