"""perfbench — end-to-end and per-layer benchmark of the dq engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each workload is a closed loop with one
client; the only parallelism is Spark's local[nproc] task threads. Inputs
are generated from ``--seed`` (perfbench/gen.py) and every operation's
output is checked against values computed independently of the engine.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics read from the
Spark event log and the benchmark's own spans (perfbench/spans.py). A line
starting with ``# stamp`` before it records the host and input sizes. The
exit code is 1 when any output check failed.

All scratch state lives under ``.perfbench_work/`` in the current
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import EventLog, Tracer, median, read_event_log, union_ms  # noqa: E402

WORK = os.path.abspath(".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_rate": "frac",
    "op_p50_s": "s",
    "op_cpu_s": "s",
    "docs_per_s": "1/s",
}

REPORT_QUERIES = [
    "minhash_dups",
    "allpairs_sim_pairs",
    "pq_ann_topk",
    "semdedup_flags",
    "dsir_selection",
    "near_dup_clusters_star",
]

PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "session.worker_boot_ms": "ms",
    "io.scan_ms": "ms",
    "io.records_read_per_doc": "ratio",
    "io.output_bytes": "B",
    "io.task_commit_ms": "ms",
    "io.overwrite_table_ms": "ms",
    "io.partition_exists_ms": "ms",
    "native.stages_s": "s",
    "udf.nlp_s": "s",
    "udf.run_ms": "ms",
    "udf.init_ms": "ms",
    "udf.boot_ms": "ms",
    "udf.bytes_sent": "B",
    "udf.bytes_received": "B",
    "udf.rows_per_doc": "ratio",
    "dedup.units_s": "s",
    "dedup.shuffle_write_bytes": "B",
    "pipeline.sql_executions_per_run": "count",
    "pipeline.jobs_per_run": "count",
    "pipeline.driver_gap_s": "s",
    "pipeline.persist_bytes": "B",
    "pipeline.storage_memory_bytes": "B",
    "checks.sql_executions_per_op": "count",
    "checks.driver_gap_s": "s",
    "dupcheck.shuffle_write_bytes": "B",
    "nightly.filter_p50_s": "s",
    "nightly.volumetria_p50_s": "s",
    "nightly.duplicidade_p50_s": "s",
    **{f"reports.{q}_s": "s" for q in REPORT_QUERIES},
    "exchange.shuffle_write_bytes": "B",
    "exchange.fetch_wait_ms": "ms",
    "exchange.spill_bytes": "B",
    "spark.executor_cpu_s": "s",
    "spark.gc_ms": "ms",
    "spark.core_busy_frac": "frac",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "trace.op_p50_s": "s",
    "trace.eventlog_bytes": "B",
}


# ------------------------------------------------------------------ host --


def host_cpus() -> int:
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return int(os.environ["SPARK_GRAFT_CPUS"])
    return len(os.sched_getaffinity(0))


def host_ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 0.0


def configure_env(cpus: int) -> None:
    """Fit dq.session.get_spark to this host through its environment, and
    keep every file the JVM and Python workers write inside WORK."""
    ram = host_ram_gb()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # get_spark defaults to 32 shuffle partitions; two per core fits the host
    os.environ["DQ_SHUFFLE_PARTITIONS"] = str(2 * cpus)
    # get_spark defaults to a 16g heap; stay well under the host's RAM
    os.environ["DQ_DRIVER_MEMORY"] = f"{max(1, min(2, int(ram // 4)))}g"
    os.environ["DQ_WAREHOUSE_DIR"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp"
    # Python workers import dq from the checkout, whatever their cwd
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [root, os.environ.get("PYTHONPATH", "")] if p
    )
    for d in ("warehouse", "local", "tmp", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)


def proc_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def peak_rss_kb(pid: int) -> int:
    """Sum of peak resident set sizes (VmHWM) of a process tree: the driver
    JVM and its Python workers."""
    total = 0
    for p in proc_tree(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                total += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total


def cpu_s(pid: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this Python process and the process tree under ``pid``."""
    ticks = 0
    for p in proc_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


# ----------------------------------------------------------------- bench --


class Bench:
    """Session, timers, failure accounting and the measurement loop shared
    by the workloads."""

    def __init__(self, args):
        self.args = args
        self.traced = bool(args.trace)
        self.cpus = host_cpus()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup: dict[str, float] = {}
        self.spark = None
        self.peak_rss_kb = 0
        self.jvm_pid = os.getpid()
        self.tracer = Tracer()
        self.stamp: dict = {"seed": args.seed, "nproc": self.cpus, "ram_gb": round(host_ram_gb(), 1)}

    # -- session ------------------------------------------------------------

    def start_spark(self) -> None:
        from dq.session import get_spark

        extra = {}
        if self.traced:
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        t = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=extra)
        self.setup["session_s"] = time.perf_counter() - t
        sc = self.spark.sparkContext
        self.jvm_pid = sc._gateway.proc.pid
        if self.traced:
            self.tracer = Tracer(sc)
        import pyarrow
        import pyspark

        self.stamp.update(
            spark=pyspark.__version__,
            pyarrow=pyarrow.__version__,
            master=sc.master,
            driver_memory=os.environ["DQ_DRIVER_MEMORY"],
            shuffle_partitions=os.environ["DQ_SHUFFLE_PARTITIONS"],
        )

    def warm_workers(self) -> None:
        """Spawn the Python worker pool (one per core) and import the UDF
        modules in it: the first UDF job pays this, not the measurement."""
        from pyspark.sql import functions as F

        from dq.pipeline import nlp_udf

        t = time.perf_counter()
        (
            self.spark.range(0, self.cpus * 64, numPartitions=self.cpus)
            .select(nlp_udf(F.lit("the warm up text of the pool")).alias("x"))
            .write.format("noop").mode("overwrite").save()
        )
        self.setup["worker_warm_s"] = time.perf_counter() - t

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc if gateway is not None else None
        if proc is not None:
            self.peak_rss_kb = peak_rss_kb(proc.pid)
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait()
            self.spark = None

    # -- operations ---------------------------------------------------------

    def attempt(self, name: str, fn, check=None, **attrs) -> float:
        """Run one operation in a root span, then check its output (untimed).
        Returns its wall seconds; exceptions and wrong outputs count as
        failed operations."""
        self.attempted += 1
        problems: list[str] = []
        out = None
        span = None
        cpu0 = cpu_s(self.jvm_pid)
        try:
            with self.tracer.span(name, **attrs) as span:
                out = fn()
        except Exception as e:  # noqa: BLE001
            problems.append(f"raised {type(e).__name__}: {str(e).splitlines()[0][:300]}")
        if span is not None:
            span.attrs["cpu_s"] = cpu_s(self.jvm_pid) - cpu0
        if not problems and check is not None:
            try:
                problems.extend(check(out))
            except Exception as e:  # noqa: BLE001
                problems.append(f"check raised {type(e).__name__}: {e}")
        if problems:
            self.failed += 1
            self.failures.append(f"{name}{attrs}: {'; '.join(problems[:3])}")
        return span.dur_ms / 1000.0 if span is not None else 0.0

    def measure_loop(self, op, seconds: float) -> tuple[list[float], list[float]]:
        """Run timed operations until ``seconds`` have passed (at least
        one). ``op()`` returns its wall seconds; the CPU seconds of the
        attempts it made are summed from their spans."""
        times, cpus = [], []
        t0 = time.perf_counter()
        while not times or time.perf_counter() - t0 < seconds:
            first = len(self.tracer.spans)
            times.append(op())
            cpus.append(sum(s.attrs.get("cpu_s", 0.0) for s in self.tracer.spans[first:] if s.parent is None))
        self.stamp["op_s"] = [round(t, 3) for t in times]
        self.stamp["op_cpu_s"] = [round(c, 3) for c in cpus]
        return times, cpus

    def timed_roots(self, name: str | None = None):
        return self.tracer.roots(name, timed=True)

    def clear_cache(self) -> None:
        # persisted fragments substitute into later plans (CacheManager)
        self.spark.catalog.clearCache()


def expect_eq(problems: list[str], what: str, got, want) -> None:
    if got != want:
        problems.append(f"{what}: got {got}, expected {want}")


# ------------------------------------------------------------- workloads --


def isolated_layer_calls(b: Bench, src: str) -> dict:
    """Each per-document layer alone over the pages source, into noop:
    native heuristics+scrub, the fused langid+perplexity UDF, and the
    narrow dedup pass."""
    from pyspark.sql import functions as F

    from dq import heuristics
    from dq.dedup import non_survivor_units
    from dq.pipeline import nlp_udf
    from dq.scrub import scrub_col

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def pages():
        return b.spark.read.parquet(src)

    calls = {
        "native.stages_s": lambda: noop(
            heuristics.with_heuristic_metrics(pages())
            .withColumn("keep_heuristic", heuristics.keep_expr())
            .withColumn("text_scrubbed", scrub_col(F.col("text")))
        ),
        "udf.nlp_s": lambda: noop(pages().select(nlp_udf(F.col("text")).alias("nlp"))),
        "dedup.units_s": lambda: noop(non_survivor_units(pages(), "text", "url")),
    }
    out = {}
    for name, fn in calls.items():
        for _ in range(2):  # the first call warms its plan's code paths
            b.clear_cache()
            with b.tracer.span(f"isolated:{name}", timed=False) as s:
                fn()
        out[name] = s.dur_ms / 1000.0
    return out


class NightlyCron:
    """Nightly cron over a pages source with processed history.

    Set-up lands a BACKLOG_DOCS-page history in 4-7 ``dt_foto`` days (the
    count is drawn from the seed), marks those days done in the filter's
    manifest, and lands a lineitem-shaped fact table with one of its twelve
    months missing. Each night lands day d (untimed), runs the filter with
    resume (one pending day, but a dedup scope and narrow-pass scan over
    every landed day), then volumetria and duplicidade, each with its
    staged history swap, on the new pages day, one present fact month and
    the missing month (failure row).

    The first night is timed in the fresh session: in production every
    night is its own spark-submit, so cold code paths and per-job fixed
    cost are what a night pays."""

    BACKLOG_DOCS = 2000
    NIGHT_DOCS = 500
    FACT_ROWS_PER_MONTH = 7000
    PAGES_EXPR = "cast(dt_foto as string)"
    FACT_EXPR = "cast(ship_month as string)"

    def __init__(self, b: Bench):
        import datetime as dt

        import numpy as np

        import gen
        from dq.io import CheckpointManifest

        self.b = b
        root = os.path.join(WORK, "nightly")
        self.src = os.path.join(root, "pages")
        self.fact = os.path.join(root, "fact")
        self.out = os.path.join(root, "filter_out")
        self.hist = {k: os.path.join(root, f"{k}_history") for k in ("vol", "dup")}
        self.fail = {k: os.path.join(root, f"{k}_failures") for k in ("vol", "dup")}
        self.start = dt.date(2024, 5, 1)
        self.night = 0
        self.landed: dict = {}
        history_days = int(np.random.RandomState([b.args.seed, 1]).randint(4, 8))

        t = time.perf_counter()
        fact, self.missing_month = gen.fact_table(b.args.seed, self.FACT_ROWS_PER_MONTH)
        gen.write_partitioned(fact, self.fact, "ship_month")
        self.fact_rows = fact.groupby("ship_month").size().to_dict()
        self.fact_dups = {
            m: gen.full_row_dups(part.drop(columns=["ship_month"]))
            for m, part in fact.groupby("ship_month")
        }
        self.months = sorted(self.fact_rows)
        manifest = CheckpointManifest(os.path.join(self.out, "manifest.json"))
        for _ in range(history_days):
            manifest.mark_done("pages", self._land(self.BACKLOG_DOCS // history_days))
        b.setup["inputs_s"] = time.perf_counter() - t
        b.stamp.update(
            history_docs=sum(len(f) for f in self.landed.values()),
            history_days=history_days,
            night_docs=self.NIGHT_DOCS,
            fact_rows=int(len(fact)),
            fact_missing_month=self.missing_month,
        )

    def _land(self, n_docs: int) -> str:
        import datetime as dt

        import gen

        day = self.start + dt.timedelta(days=len(self.landed))
        label = gen.day_label(day)
        frame = gen.pages_day(self.b.args.seed, day, n_docs)
        gen.write_pages_day(frame, self.src, label)
        self.landed[label] = frame
        return label

    def expect(self) -> None:
        pass  # computed per night, as each day lands

    def run_once(self) -> float:
        import gen
        from dq import dupcheck, io, pipeline, volumetry
        from dq.schema import DQ_DUPLICADOS, DQ_VOLUMETRIA

        b = self.b
        day = self._land(self.NIGHT_DOCS)  # untimed: the night's crawl arrives
        frames = dict(self.landed)
        want_kept = gen.expected_kept(frames, gen.text_verdicts(frames[day]["text"]), [day])[day]
        want_dups = gen.expected_exact_dups(frames)[day]
        month = self.months[self.night % len(self.months)]
        self.night += 1
        # the missing month is a known hole that every night probes again
        # (failure row + append_table, as the reference's remediation does)
        targets = [
            ("pages", self.src, self.PAGES_EXPR, day),
            ("fact", self.fact, self.FACT_EXPR, month),
            ("fact", self.fact, self.FACT_EXPR, self.missing_month),
        ]
        b.clear_cache()

        def nightly_filter():
            pages = b.spark.read.parquet(self.src)
            return pipeline.run(b.spark, pages, self.out, resume=True, source=self.src).collect()

        def check_filter(rows):
            problems: list[str] = []
            got = {r["dt_foto"]: r for r in rows}
            r = got.get(day)
            if r is None:
                return [f"no lineage row for {day}"]
            n = len(frames[day])
            expect_eq(problems, f"{day} n_input", r["n_input"], n)
            expect_eq(problems, f"{day} n_kept", r["n_kept"], want_kept)
            expect_eq(problems, f"{day} n_dropped", r["n_dropped"], n - want_kept)
            expect_eq(problems, f"{day} n_exact_dups", r["n_exact_dups"], want_dups)
            on_disk = parquet_rows(os.path.join(self.out, "kept", f"dt_foto={day}"))
            expect_eq(problems, f"{day} kept rows on disk", on_disk, want_kept)
            return problems

        def volumetria():
            for tabela, path, expr, part in targets:
                monitored = b.spark.read.parquet(path)
                history = io.read_path(b.spark, self.hist["vol"], DQ_VOLUMETRIA)
                new_hist, failure = volumetry.collect_volumetria(
                    b.spark, monitored, history, "bench", tabela, part, expr
                )
                if new_hist is not None:
                    with b.tracer.span("io.overwrite_table"):
                        io.overwrite_table(new_hist, self.hist["vol"])
                else:
                    io.append_table(failure, self.fail["vol"])

        def duplicidade():
            for tabela, path, expr, part in targets:
                monitored = b.spark.read.parquet(path)
                with b.tracer.span("io.partition_exists"):
                    exists = io.partition_exists(monitored, expr, part)
                if not exists:
                    io.append_table(
                        volumetry.failure_row(b.spark, "bench", tabela, part, "dt_foto", "1"),
                        self.fail["dup"],
                    )
                    continue
                aux = dupcheck.dup_metric_row(monitored, "bench", tabela, part, expr)
                history = io.read_path(b.spark, self.hist["dup"], DQ_DUPLICADOS)
                with b.tracer.span("io.overwrite_table"):
                    io.overwrite_table(dupcheck.consolidate(history, aux), self.hist["dup"])

        def want(tabela: str, part: str, kind: str):
            if tabela == "pages":
                f = frames[part]
                return len(f) if kind == "vol" else gen.full_row_dups(f)
            if part == self.missing_month:
                return None
            return self.fact_rows[part] if kind == "vol" else self.fact_dups[part]

        def check_history(kind: str, col: str):
            def check(_):
                problems: list[str] = []
                hist = parquet_frame(self.hist[kind])
                fails = parquet_frame(self.fail[kind])
                for tabela, _, _, part in targets:
                    expected = want(tabela, part, kind)
                    got = sorted(set(hist.loc[(hist.tabela == tabela) & (hist.dt_foto == part), col]))
                    if expected is None:
                        if fails.empty or not ((fails.tabela == tabela) & (fails.dt_foto == part)).any():
                            problems.append(f"{kind} {tabela}/{part}: no failure row")
                        if got:
                            problems.append(f"{kind} {tabela}/{part}: history row for a missing partition")
                        continue
                    expect_eq(problems, f"{kind} {tabela}/{part} {col}", got, [expected])
                return problems

            return check

        night = self.night
        parts = [
            b.attempt("nightly_filter", nightly_filter, check_filter, timed=True, night=night),
            b.attempt("volumetria", volumetria, check_history("vol", "qtde_registros"), timed=True, night=night),
            b.attempt("duplicidade", duplicidade, check_history("dup", "diferenca"), timed=True, night=night),
        ]
        b.stamp.setdefault("night_parts_s", []).append([round(p, 3) for p in parts])
        return sum(parts)

    def measure(self) -> dict:
        times, cpus = self.b.measure_loop(self.run_once, self.b.args.seconds)
        return {"op_times": times, "op_cpu": cpus, "docs_per_op": self.NIGHT_DOCS}

    def isolated_layers(self) -> dict:
        return isolated_layer_calls(self.b, self.src)


def parquet_rows(path: str) -> int:
    """Rows in a parquet file or directory, read with pyarrow (not Spark)."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows() if os.path.exists(path) else 0


def parquet_frame(path: str):
    import pandas as pd
    import pyarrow.dataset as ds

    if not os.path.exists(path):
        return pd.DataFrame()
    return ds.dataset(path, format="parquet").to_table().to_pandas()


class DedupReports:
    """The fixed six-query registry report set over generated documents and
    embeddings tables, one pass per operation, clearCache() between
    queries; each query's collected output is checked."""

    # half the sf0.1 row counts (5000 documents, 2000 embeddings): at the
    # full size a run takes ~97 s, and 24 of them beside the nightly runs
    # would not fit the benchmark's time budget (perfbench/README.md)
    DOCS = 2500
    VECS = 1000

    def __init__(self, b: Bench):
        import gen

        self.b = b
        self.sf = os.path.join(WORK, "reports", "sf")
        t = time.perf_counter()
        self.docs, self.emb = gen.report_tables(b.args.seed, self.DOCS, self.VECS)
        gen.write_report_tables(self.docs, self.emb, self.sf)
        b.setup["inputs_s"] = time.perf_counter() - t
        b.stamp.update(report_docs=self.DOCS, report_vecs=self.VECS)

    def expect(self) -> None:
        import duckdb

        from dq.oracles import ORACLES
        from dq.queries import PLANT_EXACT_MOD, PLANT_EXACT_OFFSET

        con = duckdb.connect()
        con.execute(f"SET threads TO {self.b.cpus}")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        self.digest = {
            q: frame_digest(con.execute(ORACLES[q]).df()) for q in REPORT_QUERIES if q in ORACLES
        }
        con.close()
        # rows-only queries: exact planted copies have Jaccard 1, so every
        # one of them must come out of the MinHash tier
        ids = self.docs["doc_id"]
        self.planted = {(int(i), int(i) + PLANT_EXACT_OFFSET) for i in ids[ids % PLANT_EXACT_MOD == 0]}

    def run_once(self) -> float:
        from dq.queries import QUERIES

        b = self.b
        total = 0.0
        for q in REPORT_QUERIES:
            b.clear_cache()

            def check(pdf, q=q):
                if q in self.digest:
                    got = frame_digest(pdf)
                    return [] if got == self.digest[q] else [f"digest {got[:12]} != oracle {self.digest[q][:12]}"]
                pairs = set(zip(pdf["id_a"].astype(int), pdf["id_b"].astype(int)))
                missing = self.planted - pairs
                return [f"{len(missing)} planted exact pairs missing"] if missing else []

            took = b.attempt(
                "report", lambda q=q: QUERIES[q](b.spark, self.sf).toPandas(), check, timed=True, query=q
            )
            b.stamp.setdefault("query_s", {}).setdefault(q, []).append(round(took, 3))
            total += took
        return total

    def measure(self) -> dict:
        times, cpus = self.b.measure_loop(self.run_once, self.b.args.seconds)
        return {"op_times": times, "op_cpu": cpus, "docs_per_op": self.DOCS + self.VECS}

    def isolated_layers(self) -> dict:
        return {}


def frame_digest(pdf) -> str:
    """The oracle gate's order-insensitive value hash (tools/compare_oracle.py)."""
    from tools.compare_oracle import frame_hash, normalize

    return frame_hash(normalize(pdf))


WORKLOADS = {
    "nightly_cron": NightlyCron,
    "dedup_reports": DedupReports,
}


# --------------------------------------------------------------- metrics --


def end_to_end(b: Bench, m: dict) -> dict:
    times = m["op_times"]
    setup_s = sum(b.setup.values())
    return {
        "setup_s": setup_s,
        "peak_rss_mb": b.peak_rss_kb / 1024.0,
        "ok_rate": (b.attempted - b.failed) / max(b.attempted, 1),
        "op_p50_s": median(times),
        "op_cpu_s": median(m["op_cpu"]),
        "docs_per_s": m["docs_per_op"] * len(times) / sum(times),
    }


def per_layer(b: Bench, m: dict, isolated: dict, log: EventLog, log_bytes: int) -> dict:
    out = {k: 0.0 for k in PER_LAYER}
    times = m["op_times"]
    out.update(
        {
            "session.start_s": b.setup.get("session_s", 0.0),
            "session.worker_warm_s": b.setup.get("worker_warm_s", 0.0),
            "trace.op_p50_s": median(times),
            "trace.eventlog_bytes": float(log_bytes),
            "pipeline.storage_memory_bytes": float(log.storage_memory),
            **isolated,
        }
    )
    roots = b.timed_roots()
    if not roots:
        return out
    views = {s.span_id: log.op_view(s.trace_id) for s in roots}
    n_ops = len(times)

    def total(fn, spans=roots) -> float:
        return sum(fn(views[s.span_id]) for s in spans)

    def child_ms(name: str) -> float:
        spans = [c for s in roots for c in b.tracer.children(s, name)]
        return median([c.dur_ms for c in spans])

    def gap_s(spans) -> float:
        return median(
            [
                (s.dur_ms - union_ms(views[s.span_id].sql_intervals(), s.start_ms, s.end_ms)) / 1000.0
                for s in spans
            ]
        )

    docs = m["docs_per_op"] * n_ops
    out.update(
        {
            "session.worker_boot_ms": total(lambda v: v.metric("time to start Python workers")) / n_ops,
            "io.scan_ms": total(lambda v: v.metric("scan time")) / n_ops,
            "io.output_bytes": total(lambda v: v.metric("written output")) / n_ops,
            "io.task_commit_ms": total(lambda v: v.metric("task commit time")) / n_ops,
            "io.overwrite_table_ms": child_ms("io.overwrite_table"),
            "io.partition_exists_ms": child_ms("io.partition_exists"),
            "exchange.shuffle_write_bytes": total(lambda v: v.task_sum("shuffle_write_bytes")) / n_ops,
            "exchange.fetch_wait_ms": total(lambda v: v.task_sum("fetch_wait_ms")) / n_ops,
            "exchange.spill_bytes": total(lambda v: v.task_sum("spill_bytes")) / n_ops,
            "spark.executor_cpu_s": total(lambda v: v.task_sum("cpu_ns")) / 1e9 / n_ops,
            "spark.gc_ms": total(lambda v: v.task_sum("gc_ms")) / n_ops,
            "spark.core_busy_frac": total(lambda v: v.task_sum("run_ms"))
            / max(sum(s.dur_ms for s in roots) * b.cpus, 1.0),
            "spark.tasks": total(lambda v: len(v.tasks)) / n_ops,
            "spark.failed_tasks": float(total(lambda v: v.failed_tasks())),
        }
    )
    filt = b.timed_roots("nightly_filter")
    if filt:
        out.update(
            {
                "io.records_read_per_doc": docs / max(total(lambda v: v.task_sum("records_read"), filt), 1.0),
                "udf.run_ms": total(lambda v: v.metric("time to run Python workers"), filt) / len(filt),
                "udf.init_ms": total(lambda v: v.metric("time to initialize Python workers"), filt) / len(filt),
                "udf.boot_ms": total(lambda v: v.metric("time to start Python workers"), filt) / len(filt),
                "udf.bytes_sent": total(lambda v: v.metric("data sent to Python workers"), filt) / len(filt),
                "udf.bytes_received": total(lambda v: v.metric("data returned from Python workers"), filt) / len(filt),
                "udf.rows_per_doc": total(lambda v: v.metric("number of output rows", "ArrowEvalPython"), filt) / max(docs, 1),
                "dedup.shuffle_write_bytes": total(
                    lambda v: v.metric("shuffle bytes written", "Exchange", "hashpartitioning(_fp"), filt
                ) / len(filt),
                "pipeline.sql_executions_per_run": total(lambda v: len(v.root_executions), filt) / len(filt),
                "pipeline.jobs_per_run": total(lambda v: len(v.jobs), filt) / len(filt),
                "pipeline.driver_gap_s": gap_s(filt),
                "pipeline.persist_bytes": float(max(log.rdd_bytes.values(), default=0)),
            }
        )
    checks = b.timed_roots("volumetria") + b.timed_roots("duplicidade")
    if checks:
        out.update(
            {
                "checks.sql_executions_per_op": total(lambda v: len(v.root_executions), checks) / len(checks),
                "checks.driver_gap_s": gap_s(checks),
                "dupcheck.shuffle_write_bytes": total(
                    lambda v: v.task_sum("shuffle_write_bytes"), b.timed_roots("duplicidade")
                ) / max(len(b.timed_roots("duplicidade")), 1),
            }
        )
        for name in ("nightly_filter", "volumetria", "duplicidade"):
            durs = [s.dur_ms / 1000.0 for s in b.timed_roots(name)]
            short = name.replace("nightly_", "")
            out[f"nightly.{short}_p50_s"] = median(durs)
    for q in REPORT_QUERIES:
        durs = [s.dur_ms / 1000.0 for s in b.tracer.roots("report", timed=True, query=q)]
        if durs:
            out[f"reports.{q}_s"] = median(durs)
    return out


# ------------------------------------------------------------------ main --


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, os.getcwd())
    try:
        import dq.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root (cannot import dq: {e})", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    b = Bench(args)
    configure_env(b.cpus)
    try:
        workload = WORKLOADS[args.workload](b)
        b.start_spark()
        if args.workload != "dedup_reports":  # the reports run no Python UDF
            b.warm_workers()
        t = time.perf_counter()
        workload.expect()
        b.stamp["expect_s"] = round(time.perf_counter() - t, 3)
        measured = workload.measure()
        if args.trace:
            isolated = workload.isolated_layers()
        b.stop()
        if args.trace:
            t = time.perf_counter()
            log_dir = os.path.join(WORK, "eventlog")
            log_bytes = sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(log_dir) for f in fs
            )
            log = EventLog(read_event_log(log_dir))
            metrics = per_layer(b, measured, isolated, log, log_bytes)
            b.stamp["trace_parse_s"] = round(time.perf_counter() - t, 3)
            units = PER_LAYER
        else:
            metrics = end_to_end(b, measured)
            units = END_TO_END
    finally:
        b.stop()
        shutil.rmtree(WORK, ignore_errors=True)
    b.stamp.update({f"setup.{k}": round(v, 3) for k, v in b.setup.items()})
    print("# stamp " + json.dumps(b.stamp, sort_keys=True))
    for f in b.failures:
        print(f"# failed {f}")
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0 if b.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
