"""Seeded inputs for the perfbench workloads, with their expected outputs.

The same ``seed`` always gives the same frames. Expected values (docs and
exact dups per day, rows and full-row duplicates per check partition) are
computed from the frames with pandas; per-text keep verdicts come from
dq's pandas twins (the UDF bodies and the heuristic oracle), never from
the Spark engine under test.

Properties that vary per day (drawn from the seed): exact-dup rate, share
of non-English docs, hot-domain share, degenerate-doc share and re-crawl
(full-row duplicate) rate. Document length varies per document (1-5
paragraphs of 12-40 words) from one fixed distribution, and totals per run
are fixed, so the work per run, and with it throughput, does not depend on
the seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Word pools are owned by the benchmark (not imported from dq) so the inputs
# stay identical across engine revisions.
WORDS = {
    "en": (
        "the of and to in that it was for on are with as be at this have from "
        "they or one had by word but what some we can out other were all there "
        "when up use your how said an each which do their time if will way "
        "about many then them write would like so these long make thing see "
        "two has look more day could go come did number sound no most people "
        "water river city market paper system report table value history"
    ).split(),
    "de": (
        "der die und in den von zu das mit sich des auf für ist im dem nicht "
        "ein eine als auch es an werden aus er hat dass sie nach wird bei einer "
        "um am sind noch wie einem über einen so zum war haben nur oder aber"
    ).split(),
    "fr": (
        "le de un être et à il avoir ne je son que se qui ce dans en du elle "
        "au pour pas vous par sur faire plus dire me on mon lui nous comme mais "
        "pouvoir avec tout aller voir bien où sans tu ou leur homme si deux"
    ).split(),
    "es": (
        "el la de que y a en un ser se no haber por con su para como estar "
        "tener le lo todo pero más hacer o poder decir este ir otro ese si me "
        "ya ver porque dar cuando él muy sin vez mucho saber qué sobre mi"
    ).split(),
    "pt": (
        "o a de que e do da em um para é com não uma os no se na por mais as "
        "dos como mas foi ao ele das tem à seu sua ou ser quando muito há nos "
        "já está eu também só pelo pela até isso ela entre era depois sem"
    ).split(),
}
FOREIGN = ["de", "fr", "es", "pt"]
HOT_DOMAIN = "portal.bench.example"
COLD_DOMAINS = [f"site{i:03d}.bench.example" for i in range(200)]
PII = [
    "write to user{i}@mail.example for details",
    "call +1 (555) 010-{i:04d} today",
    "server 10.0.{j}.{k} is down",
]

TECH_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer a the index shuffle cache plan stage task node disk"
).split()
REPORT_LANGS = ["en", "de", "fr", "es", "zh"]
EMB_LABELS = 10


def _words(rng: np.random.RandomState, pool: list[str], n: int) -> str:
    return " ".join(pool[i] for i in rng.randint(0, len(pool), size=n))


def _doc_text(rng, lang: str, n_par: int, i: int) -> str:
    pars = [
        _words(rng, WORDS[lang], int(rng.randint(12, 41))).capitalize() + "."
        for _ in range(n_par)
    ]
    if rng.rand() < 0.12:
        pars.append(PII[i % len(PII)].format(i=i % 9000, j=i % 250, k=(i * 7) % 250))
    return "\n".join(pars)


def _degenerate_text(rng, lang: str) -> str:
    kind = int(rng.randint(0, 4))
    if kind == 0:
        return _words(rng, WORDS[lang], int(rng.randint(1, 9)))
    if kind == 1:
        return _words(rng, WORDS[lang], 30) + " " + "#$%*@! " * 40
    if kind == 2:
        line = _words(rng, WORDS[lang], 8).capitalize() + "."
        return "\n".join([line] * 25)
    return "\n".join("- " + _words(rng, WORDS[lang], 5) + "..." for _ in range(20))


def day_label(day: dt.date) -> str:
    return day.strftime("%Y%m%d")


def pages_day(seed: int, day: dt.date, n_docs: int) -> pd.DataFrame:
    """One crawl day of pages (url, warc_ts, html, text, lang). The day's
    own generator is seeded by (seed, day), so a day has the same content
    whichever workload lands it."""
    from dq.synth import render_html

    rng = np.random.RandomState([seed, day.toordinal()])
    dup_rate = rng.uniform(0.02, 0.15)
    foreign = rng.uniform(0.10, 0.35)
    hot = rng.uniform(0.05, 0.50)
    degenerate = rng.uniform(0.05, 0.15)
    recrawl = rng.uniform(0.005, 0.02)
    base = dt.datetime(day.year, day.month, day.day)
    tag = f"p{day_label(day)}"

    n_fresh = n_docs - int(n_docs * dup_rate) - int(n_docs * recrawl)
    rows = []
    for i in range(n_fresh):
        lang = FOREIGN[int(rng.randint(0, 4))] if rng.rand() < foreign else "en"
        if rng.rand() < degenerate:
            text = _degenerate_text(rng, lang)
        else:
            text = _doc_text(rng, lang, int(rng.randint(1, 6)), i)
        domain = HOT_DOMAIN if rng.rand() < hot else COLD_DOMAINS[int(rng.randint(0, 200))]
        ts = base + dt.timedelta(seconds=int(rng.randint(0, 86400)))
        rows.append((f"https://{domain}/{tag}/{i}", ts, text, lang))
    # exact dups: same text under a new url (the dedup stage drops them)
    for k, src in enumerate(rng.randint(0, n_fresh, size=int(n_docs * dup_rate))):
        _, ts, text, lang = rows[int(src)]
        rows.append((f"https://{HOT_DOMAIN}/{tag}/mirror/{k}", ts, text, lang))
    # re-crawls: byte-identical rows (full-row dups for duplicidade)
    for src in rng.randint(0, n_fresh, size=n_docs - len(rows)):
        rows.append(rows[int(src)])
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "text", "lang"])
    pdf["html"] = [render_html(t, u) for t, u in zip(pdf["text"], pdf["url"])]
    return pdf[["url", "warc_ts", "html", "text", "lang"]]


def write_pages_day(pdf: pd.DataFrame, root: str, label: str) -> None:
    """Write one day as ``root/dt_foto=<label>/part-0.parquet`` (the
    Hive-style layout dq.io.partition_labels discovers from metadata)."""
    d = os.path.join(root, f"dt_foto={label}")
    os.makedirs(d, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False).cast(
        pa.schema(
            [
                ("url", pa.string()),
                ("warc_ts", pa.timestamp("us", tz="UTC")),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
            ]
        )
    )
    pq.write_table(table, os.path.join(d, "part-0.parquet"))


def full_row_dups(pdf: pd.DataFrame) -> int:
    """count(rows) - count(distinct rows): the duplicidade ``diferenca``."""
    return int(len(pdf) - len(pdf.drop_duplicates()))


def expected_exact_dups(day_frames: dict[str, pd.DataFrame]) -> dict[str, int]:
    """Non-survivor copies per day when the dedup scope is all given days:
    per text the survivor is the minimal url (ties keep every row of that
    url), so a row is a non-survivor iff its url is not its text's minimum."""
    allrows = pd.concat(
        [f[["url", "text"]].assign(day=d) for d, f in day_frames.items()], ignore_index=True
    )
    min_url = allrows.groupby("text")["url"].transform("min")
    loser = allrows["url"] != min_url
    return {d: int(loser[allrows["day"] == d].sum()) for d in day_frames}


def expected_kept(
    day_frames: dict[str, pd.DataFrame], verdict: dict[str, bool], days: list[str] | None = None
) -> dict[str, int]:
    """Kept rows per day (default: every day; ``verdict`` must cover the
    texts of ``days``): the text passes every per-doc gate and the row's
    url is its text's survivor over all given days."""
    allrows = pd.concat(
        [f[["url", "text"]].assign(day=d) for d, f in day_frames.items()], ignore_index=True
    )
    survivor = allrows["url"] == allrows.groupby("text")["url"].transform("min")
    days = list(day_frames) if days is None else days
    out = {}
    for d in days:
        rows = allrows["day"] == d
        keep = survivor[rows] & allrows.loc[rows, "text"].map(verdict).astype(bool)
        out[d] = int(keep.sum())
    return out


def text_verdicts(texts: pd.Series) -> dict[str, bool]:
    """Per-text keep verdict from dq's pandas twins (the UDF bodies and the
    heuristic oracle) under the default PipelineConfig."""
    from dq import heuristics
    from dq.langid import detect_lang_batch
    from dq.perplexity import perplexity_batch
    from dq.pipeline import PipelineConfig

    cfg = PipelineConfig()
    uniq = pd.Series(pd.unique(texts))
    h = heuristics.heuristic_metrics_pdf(uniq, cfg.thresholds)["keep_heuristic"]
    lang = detect_lang_batch(uniq)["lang_pred"] == cfg.target_lang
    ppl = perplexity_batch(uniq) <= cfg.max_perplexity
    keep = (h & lang & ppl).to_numpy()
    return dict(zip(uniq, keep.tolist()))


# ------------------------------------------------------------ fact table --

FACT_MONTHS = 12


def fact_table(seed: int, rows_per_month: int) -> tuple[pd.DataFrame, str]:
    """lineitem-shaped fact rows over FACT_MONTHS ship months, with planted
    full-row duplicates; one of the twelve months (drawn from the seed) has
    no rows, for the nightly checks' failure-row branch. Returns (frame,
    missing month)."""
    rng = np.random.RandomState([seed, 7])
    months = [f"2023{m:02d}" for m in range(1, FACT_MONTHS + 1)]
    missing = months[int(rng.randint(0, FACT_MONTHS))]
    frames = []
    key = 0
    for m in months:
        if m == missing:
            continue
        n_dup = int(rows_per_month * rng.uniform(0.001, 0.01))
        n = rows_per_month - n_dup
        day = rng.randint(1, 29, size=n)
        f = pd.DataFrame(
            {
                "l_orderkey": np.arange(key, key + n, dtype="int64") // 4,
                "l_partkey": rng.randint(1, 20000, size=n).astype("int64"),
                "l_suppkey": rng.randint(1, 1000, size=n).astype("int64"),
                "l_linenumber": (np.arange(n) % 4 + 1).astype("int32"),
                "l_quantity": rng.randint(1, 51, size=n).astype("float64"),
                "l_extendedprice": np.round(rng.uniform(900, 100000, size=n), 2),
                "l_discount": rng.randint(0, 11, size=n) / 100.0,
                "l_tax": rng.randint(0, 9, size=n) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.randint(0, 3, size=n)],
                "l_linestatus": np.array(["F", "O"])[rng.randint(0, 2, size=n)],
                "l_shipdate": pd.to_datetime(
                    [f"{m[:4]}-{m[4:]}-{d:02d}" for d in day]
                ),
            }
        )
        key += n
        f = pd.concat([f, f.iloc[rng.randint(0, n, size=n_dup)]], ignore_index=True)
        f["ship_month"] = m
        frames.append(f)
    return pd.concat(frames, ignore_index=True), missing


def write_partitioned(pdf: pd.DataFrame, root: str, col: str) -> None:
    for value, part in pdf.groupby(col, sort=True):
        d = os.path.join(root, f"{col}={value}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(part.drop(columns=[col]), preserve_index=False),
            os.path.join(d, "part-0.parquet"),
            coerce_timestamps="us",  # Spark cannot read nanosecond timestamps
        )


# ------------------------------------------------------- report tables --


def report_tables(seed: int, n_docs: int, n_vecs: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``documents`` and ``embeddings`` in the shape the registry queries
    read (dq.queries._t): bag-of-words docs of 10-100 words over a small
    vocabulary (the sf0.1 corpus's length range), and unit vectors
    scattered around EMB_LABELS cluster centres."""
    from dq.queries import EMB_DIM

    rng = np.random.RandomState([seed, 11])
    n_words = rng.randint(10, 101, size=n_docs)
    texts = [_words(rng, TECH_WORDS, int(k)) for k in n_words]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": np.array(REPORT_LANGS)[
                rng.choice(5, size=n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
            ],
            "source": [f"src{i % 20}" for i in range(n_docs)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    centres = rng.normal(size=(EMB_LABELS, EMB_DIM))
    label = rng.randint(0, EMB_LABELS, size=n_vecs)
    vec = centres[label] + rng.normal(scale=0.9, size=(n_vecs, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": list(vec),
            "label": label.astype("int32"),
        }
    )
    return docs, emb


def write_report_tables(docs: pd.DataFrame, emb: pd.DataFrame, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), os.path.join(sf_dir, "documents.parquet"))
    emb_table = pa.table(
        {
            "vec_id": pa.array(emb["vec_id"]),
            "embedding": pa.array([v.tolist() for v in emb["embedding"]], type=pa.list_(pa.float32())),
            "label": pa.array(emb["label"], type=pa.int32()),
        }
    )
    pq.write_table(emb_table, os.path.join(sf_dir, "embeddings.parquet"))
