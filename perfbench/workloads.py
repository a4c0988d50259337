"""The benchmark's workloads.

Each workload sets up its inputs from the seed, then offers operations
to a closed loop with one client (``run.py``). ``op(i)`` runs operation
``i`` and returns a check, which the loop calls after the timer stops;
the check returns a list of problems, empty when the result is right.
``layers(...)`` turns the trace of a traced run into per-layer metrics.
"""

from __future__ import annotations

import contextlib
import logging
import random
import re
import statistics
import tempfile
import time
from pathlib import Path

import pandas as pd
import yaml

from reference import ReferenceHandler, TABLES, compare, digest, make_documents, read_table
from spans import EventLog, Tracer, tree_bytes

# Synthetic source at its 16-asset cap over the last five years of the
# default ingest window (2000-01-01..2025-01-01). An ingest's time is
# mostly per-job overhead, so the full window costs every run another
# 5-10 s for little more signal.
N_ASSETS = 16
START, END = "2020-01-01", "2025-01-01"
# The synthetic WRDS source seeds numpy with ``seed * 1000 + salt`` (salt
# up to 1500), which must stay below 2**32, so any --seed is folded into
# this range before it reaches the source and the FRED fetcher.
SOURCE_SEEDS = 1_000_000

INGEST_STEPS = [
    "Connect to source",
    "Build SP500 universe",
    "Build assets master",
    "Build trading calendar and membership",
    "Build IBES-CRSP mapping (CUSIP)",
    "Download daily prices/returns",
    "Download fundamentals",
    "Download analyst consensus",
    "Download analyst rating history",
    "Download style factors and risk-free",
    "Download macro series",
    "Download benchmark",
    "Download monthly prices/returns",
    "Download dividends",
    "Raw snapshots",
    "Write processed datasets",
    "Write metadata and manifests",
]


def step_slug(name: str) -> str:
    if name.endswith("raw snapshots"):
        name = "Raw snapshots"
    return re.sub(r"[^a-z0-9]+", "_", name.lower()).strip("_")


GETTERS = [
    "get_prices",
    "get_returns",
    "get_universe",
    "get_fundamentals",
    "get_analyst_consensus",
    "get_analyst_ratings_history",
    "get_macro",
    "get_style_factor_returns",
    "get_benchmark_returns",
    "get_prices_with_returns",
]
SORT_KEYS = {
    "get_prices": ["date", "asset_id"],
    "get_returns": ["date", "asset_id"],
    "get_universe": ["date", "asset_id"],
    "get_fundamentals": ["report_date", "asset_id"],
    "get_analyst_consensus": ["date", "asset_id"],
    "get_analyst_ratings_history": ["date", "asset_id"],
    "get_macro": ["date", "series_name"],
    "get_style_factor_returns": ["date", "factor_name"],
    "get_benchmark_returns": ["date"],
    # the lazy join has no pandas twin in the handler and no order
    "get_prices_with_returns": [],
}
PRICE_FIELDS = ["open", "high", "low", "close", "adj_close", "volume", "ret", "shrout", "cfacpr"]
CONSENSUS_FIELDS = ["mean_rating", "median_rating", "num_analysts", "buy_percent", "sell_percent"]


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def p95(xs) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(0.95 * len(xs)))] if xs else 0.0


class StepLog(logging.Handler):
    """Collects the ingest step log the program emits: a step starts at
    its ``[i/17] name ...`` record and ends at its ``done: name`` record."""

    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.records: list[tuple[str, str, float]] = []

    def emit(self, record: logging.LogRecord) -> None:
        msg = record.getMessage().strip()
        if msg.startswith("[") and msg.endswith("..."):
            self.records.append(("start", msg.split("] ", 1)[1][:-4], record.created))
        elif msg.startswith("done: "):
            self.records.append(("done", msg[6:].rsplit(" (", 1)[0], record.created))

    def steps(self, lo: float, hi: float) -> list[tuple[str, float, float]]:
        opened: dict[str, float] = {}
        out = []
        for kind, name, t in self.records:
            if not lo <= t <= hi:
                continue
            if kind == "start":
                opened[name] = t
            elif name in opened:
                out.append((name, opened.pop(name), t))
        return out


class Context:
    def __init__(self, spark, seed: int, run_dir: Path, repo: Path, tracer: Tracer | None):
        self.spark = spark
        self.seed = seed
        self.source_seed = seed % SOURCE_SEEDS
        self.run_dir = run_dir
        self.repo = repo
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.phases: list[tuple[str, float]] = []

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one part of set-up, for the run's summary."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases.append((name, round(time.perf_counter() - t0, 3)))


class Workload:
    name = ""
    # operations to run even when the measured window is already over
    min_ops = 1
    # JIT options for the driver JVM. Workloads whose time is per-job
    # overhead stop at C1: C2 compiled for over a minute, used a third
    # more CPU and made a run too long for the routine benchmark's hour
    # (perfbench/README.md). A workload whose time is computation keeps C2.
    jit = "-XX:TieredStopAtLevel=1"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.spark = ctx.spark

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Untimed work before operation ``i`` (state its check needs)."""

    def op(self, i: int):
        raise NotImplementedError

    def finish(self) -> list[str]:
        return []

    def data_root(self) -> Path:
        raise NotImplementedError

    def layers(self, ev: EventLog, ops: list[tuple[float, float]]) -> dict[str, float]:
        return {}

    # -- shared pieces ----------------------------------------------------

    def _source(self):
        from quantlab_data_pipeline_spark.sources.fred import synthetic_fred_fetcher
        from quantlab_data_pipeline_spark.sources.wrds import SyntheticWrdsSource

        source = SyntheticWrdsSource(self.spark, n_assets=N_ASSETS, seed=self.ctx.source_seed)
        fetcher = synthetic_fred_fetcher(seed=self.ctx.source_seed)
        if self.ctx.tracer is not None:
            source = timed_source(source, self.ctx.tracer)
            fetcher = self.ctx.tracer.wrap(fetcher, "sources.fred.fetch")
        return source, fetcher

    def _ingest(self, root: Path, **layout) -> Path:
        from quantlab_data_pipeline_spark.ingestion import pipeline

        source, fetcher = self._source()
        return pipeline.ingest(
            root, START, END, source=source, fred_fetcher=fetcher, spark=self.spark, **layout
        )


def timed_source(inner, tracer: Tracer):
    """A ``WrdsSource`` proxy that records one ``sources.wrds`` span per call."""
    from quantlab_data_pipeline_spark.sources.wrds import WrdsSource

    def method(name):
        def call(self, *args, **kwargs):
            with tracer.span("sources.wrds"):
                return getattr(inner, name)(*args, **kwargs)

        return call

    names = set(WrdsSource.__abstractmethods__) | {"source_tag"}
    cls = type("TimedWrdsSource", (WrdsSource,), {n: method(n) for n in names})
    return cls()


def _source_layers(tracer: Tracer, ops) -> dict[str, float]:
    calls = [
        s
        for lo, hi in ops
        for name in ("sources.wrds", "sources.fred.fetch")
        for s in tracer.within(name, lo, hi)
    ]
    n = max(1, len(ops))
    return {"sources.calls": len(calls) / n, "sources.busy_s": sum(s.seconds for s in calls) / n}


# ------------------------------------------------------------- ingest_full


def expected_price_rows(start: str, end: str) -> int:
    """Daily price rows the synthetic source yields: every asset trades
    every business day except the last, which delists two-thirds in."""
    days = len(pd.bdate_range(start=start, end=end))
    return (N_ASSETS - 1) * days + (days * 2) // 3 + 1


class IngestFull(Workload):
    """Back-to-back full ``ingest()`` runs into one root, each
    overwriting the last."""

    name = "ingest_full"

    def setup(self) -> None:
        self.steplog = StepLog()
        logging.getLogger("quantlab_data_pipeline_spark.ingestion.pipeline").addHandler(self.steplog)
        self.digests = None
        with self.ctx.phase("warm-up ingest"):
            self.root = self._ingest(self.ctx.run_dir / "ingest")
        self.digests = self._check_digests([])

    def data_root(self) -> Path:
        return self.root

    def _check_digests(self, problems: list[str]) -> dict[str, str]:
        got = {}
        for t in TABLES:
            df = read_table(self.root, t)
            got[t] = (len(df), digest(df))
        rows = got["prices_daily"][0]
        if rows != expected_price_rows(START, END):
            problems.append(f"prices_daily has {rows} rows, expected {expected_price_rows(START, END)}")
        if self.digests is not None:
            problems += [f"{t} changed between runs: {got[t]} != {self.digests[t]}" for t in TABLES if got[t] != self.digests[t]]
        return got

    def op(self, i: int):
        self._ingest(self.root)

        def check():
            problems: list[str] = []
            self._check_digests(problems)
            return problems

        return check

    def finish(self) -> list[str]:
        from quantlab_data_pipeline_spark.validation import validate_outputs

        return [f"{f['table']}.{f['check']}: {f['detail']}" for f in validate_outputs(self.root, self.spark, START, END)]

    def layers(self, ev: EventLog, ops) -> dict[str, float]:
        tr = self.ctx.tracer
        out = _source_layers(tr, ops)
        per_step: dict[str, list[float]] = {step_slug(s): [] for s in INGEST_STEPS}
        for lo, hi in ops:
            for name, a, b in self.steplog.steps(lo, hi):
                per_step[step_slug(name)].append(b - a)
        for slug, xs in per_step.items():
            out[f"ingestion.step.{slug}_s"] = median(xs)
        works = [ev.work(lo, hi) for lo, hi in ops]
        n = max(1, len(works))
        files, size = tree_bytes(self.root / "data_processed")
        mfiles, msize = tree_bytes(self.root / "data_meta")
        out.update(
            {
                "ingestion.ingest_s": median([hi - lo for lo, hi in ops]),
                "ingestion.jobs": sum(w.jobs for w in works) / n,
                "ingestion.tasks": sum(w.tasks for w in works) / n,
                "ingestion.executor_cpu_s": sum(w.executor_cpu_s for w in works) / n,
                "ingestion.shuffle_write_mb": sum(w.shuffle_write_mb for w in works) / n,
                "ingestion.driver_collect_jobs": sum(w.collect_jobs for w in works) / n,
                "ingestion.output_files": files + mfiles,
                "ingestion.output_mb": (size + msize) / 2**20,
            }
        )
        return out


# ----------------------------------------------------------- handler_reads


# business days in a quarter and in a year
QUARTER, YEAR = 63, 252
# blocks of reads run as warm-up in set-up, and the fewest a run measures
WARMUP_BLOCKS, READ_BLOCKS = 1, 3


def make_read_block(rng: random.Random, tickers: list[str]) -> list[tuple[str, tuple, dict]]:
    """One block of reads: every getter, once per kind of read it serves,
    in a seeded order. The kinds are point reads (1-3 tickers, at most a
    quarter), range scans (all tickers, several years), ``fields=``
    projections, dimension reads and the fact-to-fact join; the seed picks
    the tickers, dates and fields."""
    days = pd.bdate_range(START, END)

    def window(lo: int, hi: int) -> tuple[str, str]:
        n = rng.randint(lo, hi)
        a = rng.randrange(len(days) - n + 1)
        return str(days[a].date()), str(days[a + n - 1].date())

    def point() -> tuple:
        return (rng.sample(tickers, rng.randint(1, 3)), *window(1, QUARTER))

    def scan() -> tuple:
        return (None, *window(2 * YEAR, len(days)))

    block = [
        ("get_prices", point(), {}),
        ("get_returns", point(), {}),
        ("get_prices_with_returns", point(), {}),
        ("get_prices", scan(), {}),
        ("get_returns", scan(), {}),
        ("get_prices_with_returns", scan(), {}),
        ("get_fundamentals", scan(), {}),
        ("get_analyst_ratings_history", scan(), {}),
        ("get_prices", scan(), {"fields": rng.sample(PRICE_FIELDS, rng.randint(1, 3))}),
        ("get_analyst_consensus", scan(), {"fields": rng.sample(CONSENSUS_FIELDS, rng.randint(1, 3))}),
        ("get_macro", window(2 * YEAR, len(days)), {}),
        ("get_style_factor_returns", window(2 * YEAR, len(days)), {}),
        ("get_benchmark_returns", ("^GSPC", *window(2 * YEAR, len(days))), {}),
        ("get_universe", (str(days[rng.randrange(len(days))].date()),), {}),
    ]
    rng.shuffle(block)
    return block


def run_getter(handler, getter: str, args: tuple, kwargs: dict) -> pd.DataFrame:
    if getter == "get_prices_with_returns":
        return handler.get_prices_with_returns_df(*args, **kwargs).toPandas()
    return getattr(handler, getter)(*args, **kwargs)


class _Reads(Workload):
    """Shared by the two read workloads: a handler, its pandas twin and
    per-getter bookkeeping for the traced run."""

    def _handler(self, root: Path):
        from quantlab_data_pipeline_spark.storage.parquet import LocalParquetDataHandler

        return LocalParquetDataHandler(root, spark=self.spark)

    def _reference(self, root: Path) -> ReferenceHandler:
        field_map = yaml.safe_load((self.ctx.repo / "config" / "wrds_field_map.yml").read_text()) or {}
        return ReferenceHandler(root, {k: v or {} for k, v in field_map.items()})

    def _read(self, getter: str, args: tuple, kwargs: dict):
        """One timed handler call; returns its check."""
        a = time.time()
        got = run_getter(self.handler, getter, args, kwargs)
        self.read_spans.append((getter, a, time.time()))
        self.rows_returned.append(len(got))

        def check() -> list[str]:
            want = getattr(self.ref, getter)(*args, **kwargs)
            return [f"{getter}{args}: {p}" for p in compare(got, want, SORT_KEYS[getter])]

        return check

    def _storage_layers(self, ev: EventLog, per_read_spans: list[tuple[str, float, float]]) -> dict[str, float]:
        """Per-getter latencies and per-read Spark work. ``per_read_spans``
        holds (getter, start, end) of every timed handler call."""
        tr = self.ctx.tracer
        out: dict[str, float] = {}
        by_getter: dict[str, list[float]] = {}
        for g, a, b in per_read_spans:
            by_getter.setdefault(g, []).append((b - a) * 1000)
        for g in GETTERS:
            out[f"storage.{g}.p50_ms"] = median(by_getter.get(g, []))
        lat = [(b - a) * 1000 for _, a, b in per_read_spans]
        plan, execute = [], []
        for g, a, b in per_read_spans:
            lazy = tr.within(f"storage.{g}_df", a, b)
            if lazy:
                p = sum(s.seconds for s in lazy) * 1000
                plan.append(p)
                execute.append((b - a) * 1000 - p)
        works = [ev.work(a, b) for _, a, b in per_read_spans]
        joins = [ev.work(a, b) for g, a, b in per_read_spans if g == "get_prices_with_returns"]
        n = max(1, len(works))
        rows = max(1, sum(self.rows_returned))
        out.update(
            {
                "storage.read_p50_ms": median(lat),
                "storage.read_p95_ms": p95(lat),
                "storage.reads_per_s": len(lat) / max(1e-9, sum(lat) / 1000),
                "storage.plan_ms": median(plan),
                "storage.execute_ms": median(execute),
                "storage.jobs_per_read": sum(w.jobs for w in works) / n,
                "storage.files_read_per_read": sum(w.files_read for w in works) / n,
                "storage.input_mb_per_read": sum(w.input_mb for w in works) / n,
                "storage.rows_read_per_row_returned": sum(w.input_rows for w in works) / rows,
                "storage.join_exchanges": sum(w.exchanges for w in joins) / max(1, len(joins)),
            }
        )
        return out

    def _patch_handler(self) -> None:
        """Span every public getter of the handler class (traced runs)."""
        from quantlab_data_pipeline_spark.storage.parquet import LocalParquetDataHandler as H

        tr = self.ctx.tracer
        if tr is None:
            return
        for g in GETTERS:
            for attr in (g, f"{g}_df"):
                if hasattr(H, attr):
                    tr.patch(H, attr, tr.wrap(getattr(H, attr), f"storage.{attr}"))


class HandlerReads(_Reads):
    """Blocks of reads that call every ``LocalParquetDataHandler`` getter
    against a flat-layout root ingested during setup. One operation is
    one block (``make_read_block``)."""

    name = "handler_reads"
    min_ops = READ_BLOCKS

    def setup(self) -> None:
        with self.ctx.phase("ingest"):
            self.root = self._ingest(self.ctx.run_dir / "reads")
        self._patch_handler()
        self.handler = self._handler(self.root)
        self.ref = self._reference(self.root)
        self.tickers = sorted(self.ref.ids)
        self.read_spans: list[tuple[str, float, float]] = []
        self.rows_returned: list[int] = []
        for i in range(WARMUP_BLOCKS):
            with self.ctx.phase(f"warm-up reads {i}"):
                self.prepare(i)
                problems = self.op(i)()
            if problems:
                raise RuntimeError(f"warm-up read wrong: {problems}")
        self.read_spans.clear()
        self.rows_returned.clear()

    def data_root(self) -> Path:
        return self.root

    def prepare(self, i: int) -> None:
        self.block = make_read_block(self.ctx.rng, self.tickers)

    def op(self, i: int):
        checks = [self._read(getter, args, kwargs) for getter, args, kwargs in self.block]
        return lambda: [p for c in checks for p in c()]

    def layers(self, ev: EventLog, ops) -> dict[str, float]:
        return self._storage_layers(ev, self.read_spans)


# ---------------------------------------------------------- update_and_read


class UpdateAndRead(_Reads):
    """``update_facts`` over a seeded one-month trailing window of a
    year-partitioned, bucketed root, then reads over that month and a
    multi-year fact-to-fact join. The update is a correction of data
    already present, so the rows outside the window must not change."""

    name = "update_and_read"
    min_ops = 3

    def setup(self) -> None:
        with self.ctx.phase("ingest"):
            self.root = self._ingest(self.ctx.run_dir / "update", partition_by_year=True, bucket_facts=True)
        self._patch_handler()
        self.handler = self._handler(self.root)
        self.ref = self._reference(self.root)
        self.tickers = sorted(self.ref.ids)
        months = pd.date_range("2023-01-01", "2024-12-01", freq="MS")
        self.windows = []
        for _ in range(200):
            m = months[self.ctx.rng.randrange(len(months))]
            self.windows.append((str(m.date()), str((m + pd.offsets.MonthEnd(0)).date())))
        self.rows_returned: list[int] = []
        self.read_spans: list[tuple[str, float, float]] = []
        self.update_spans: list[tuple[float, float]] = []
        self.update_files: list[tuple[int, float, float]] = []
        with self.ctx.phase("warm-up update"):
            self.prepare(len(self.windows) - 1)  # its wrong results are the defect's, too
            self.op(len(self.windows) - 1)()
        self.rows_returned.clear()
        self.read_spans.clear()
        self.update_spans.clear()
        self.update_files.clear()

    def data_root(self) -> Path:
        return self.root

    def _facts_snapshot(self) -> dict[str, tuple[int, int, int]]:
        snap = {}
        for t in ("prices_daily", "returns_daily"):
            base = self.root / "data_processed" / f"{t}.parquet"
            for p in base.rglob("*.parquet"):
                st = p.stat()
                snap[str(p.relative_to(self.root))] = (st.st_ino, st.st_mtime_ns, st.st_size)
        return snap

    def prepare(self, i: int) -> None:
        start, end = self.windows[i % len(self.windows)]
        before = read_table(self.root, "prices_daily")
        outside = (before["date"] < pd.Timestamp(start)) | (before["date"] > pd.Timestamp(end))
        self.before = (digest(before[outside]), int(outside.sum()), self._facts_snapshot())

    def op(self, i: int):
        from quantlab_data_pipeline_spark.ingestion import pipeline

        start, end = self.windows[i % len(self.windows)]
        source, _ = self._source()
        a = time.time()
        pipeline.update_facts(self.root, start, end, source=source, spark=self.spark)
        self.update_spans.append((a, time.time()))
        checks = [
            self._read("get_prices", (self.ctx.rng.sample(self.tickers, 2), start, end), {}),
            self._read("get_returns", (None, start, end), {}),
            self._read("get_prices", (None, start, end), {"fields": ["close", "volume"]}),
            self._read("get_prices_with_returns", (None, start, end), {}),
            self._read("get_prices_with_returns", (None, START, end), {}),
        ]
        outside_digest, outside_rows, snap = self.before

        def check() -> list[str]:
            after_snap = self._facts_snapshot()
            changed = [p for p, st in after_snap.items() if snap.get(p) != st]
            parts = {str(Path(p).parent) for p in after_snap}
            touched = {str(Path(p).parent) for p in changed} | {
                str(Path(p).parent) for p in snap if p not in after_snap
            }
            size = sum(after_snap[p][2] for p in changed)
            self.update_files.append((len(changed), size / 2**20, 1 - len(touched & parts) / max(1, len(parts))))
            self.ref.reload("prices_daily", "returns_daily")
            problems = []
            after = read_table(self.root, "prices_daily")
            kept = after[(after["date"] < pd.Timestamp(start)) | (after["date"] > pd.Timestamp(end))]
            if digest(kept) != outside_digest:
                problems.append(
                    f"update_facts[{start}..{end}] changed rows outside its window: "
                    f"{outside_rows} -> {len(kept)} rows"
                )
            for c in checks:
                problems += c()
            return problems

        return check

    def layers(self, ev: EventLog, ops) -> dict[str, float]:
        out = self._storage_layers(ev, self.read_spans)
        works = [ev.work(a, b) for a, b in self.update_spans]
        n = max(1, len(works))
        out.update(
            {
                "update.update_s": median([b - a for a, b in self.update_spans]),
                "update.jobs": sum(w.jobs for w in works) / n,
                "update.rewritten_files": median([f for f, _, _ in self.update_files]),
                "update.rewritten_mb": median([m for _, m, _ in self.update_files]),
                "update.untouched_partitions_ratio": median([r for _, _, r in self.update_files]),
            }
        )
        return out


# ----------------------------------------------------------- curation_loop

N_DOCS = 500


class CurationLoop(Workload):
    """The ``curation_pipeline_loop_docs`` registry row over a seeded
    500-document corpus (the size of the registry's sf0.01 table)."""

    name = "curation_loop"
    jit = ""

    def setup(self) -> None:
        from quantlab_data_pipeline_spark import queries_ext

        self.sf = self.ctx.run_dir / "corpus"
        self.sf.mkdir(parents=True)
        make_documents(N_DOCS, self.ctx.seed).to_parquet(self.sf / "documents.parquet", index=False)
        tr = self.ctx.tracer
        if tr is not None:
            from quantlab_data_pipeline_spark.llm import dsir
            from quantlab_data_pipeline_spark.streaming import pipeline

            tr.patch(dsir, "build_dsir_counts", tr.wrap(dsir.build_dsir_counts, "llm.build_dsir_counts"))
            tr.patch(pipeline, "media_intake_sink", tr.wrap_factory(pipeline.media_intake_sink, "streaming.media_intake_sink"))
            tr.patch(pipeline, "dsir_intake_sink", tr.wrap_factory(pipeline.dsir_intake_sink, "streaming.dsir_intake_sink"))
            tr.patch(
                pipeline,
                "curation_intake_sink",
                tr.wrap_factory(pipeline.curation_intake_sink, "streaming.curation_intake_sink"),
            )
        self.loop = queries_ext.curation_pipeline_loop_docs
        self.baseline = None
        with self.ctx.phase("warm-up loop"):
            problems = self.op(-1)()
        if problems:
            raise RuntimeError(f"warm-up curation loop wrong: {problems}")

    def data_root(self) -> Path:
        # the registry row keeps its stores under the temp directory
        return Path(tempfile.gettempdir())

    def op(self, i: int):
        verdicts = self.loop(self.spark, str(self.sf)).toPandas()

        def check() -> list[str]:
            problems = []
            d = (len(verdicts), digest(verdicts))
            if self.baseline is None:
                self.baseline = d
            elif d != self.baseline:
                problems.append(f"verdict log {d} differs from the first loop's {self.baseline}")
            if verdicts.empty:
                problems.append("empty verdict log")
            if verdicts["doc_id"].duplicated().any():
                problems.append("a document has two verdicts")
            if (verdicts["doc_id"] % 10 == 0).any():
                problems.append("a blocklisted document was scored")
            if (verdicts["batch_id"] != verdicts["doc_id"] % 3).any():
                problems.append("a document was scored in the wrong batch")
            for b, g in verdicts.groupby("batch_id"):
                n = len(g)
                if sorted(g["rank"]) != list(range(1, n + 1)):
                    problems.append(f"batch {b}: ranks are not 1..{n}")
                    continue
                order = g.sort_values(["sel_key", "doc_id"], ascending=[False, True])["rank"].tolist()
                if order != list(range(1, n + 1)):
                    problems.append(f"batch {b}: rank disagrees with (sel_key desc, doc_id)")
                cut = -(-n // 4)  # ceil(0.25 * n)
                if (g["selected"] != (g["rank"] <= cut)).any():
                    problems.append(f"batch {b}: selection is not the top {cut} of {n}")
            return problems

        return check

    def layers(self, ev: EventLog, ops) -> dict[str, float]:
        tr = self.ctx.tracer
        sink, media, dsir_, build = [], [], [], []
        for lo, hi in ops:
            sink += tr.within("streaming.curation_intake_sink", lo, hi)
            media += tr.within("streaming.media_intake_sink", lo, hi)
            dsir_ += tr.within("streaming.dsir_intake_sink", lo, hi)
            build += tr.within("llm.build_dsir_counts", lo, hi)
        works = [ev.work(lo, hi) for lo, hi in ops]
        n = max(1, len(works))
        batch_jobs = [ev.work(s.start, s.end).jobs for s in sink]
        loop_s = [hi - lo for lo, hi in ops]
        return {
            "streaming.curation_intake_sink_s": median([s.seconds for s in sink]),
            "streaming.media_intake_sink_s": median([s.seconds for s in media]),
            "streaming.dsir_intake_sink_s": median([s.seconds for s in dsir_]),
            "streaming.jobs_per_batch": median(batch_jobs),
            "llm.build_dsir_counts_s": median([s.seconds for s in build]),
            "curation.loop_s": median(loop_s),
            "curation.jobs": sum(w.jobs for w in works) / n,
            "curation.tasks": sum(w.tasks for w in works) / n,
            "curation.shuffle_read_mb": sum(w.shuffle_read_mb for w in works) / n,
            "curation.executor_cpu_s": sum(w.executor_cpu_s for w in works) / n,
            "curation.upstream_s": (sum(loop_s) - sum(s.seconds for s in sink)) / n,
        }


WORKLOADS = {w.name: w for w in (IngestFull, HandlerReads, UpdateAndRead, CurationLoop)}
