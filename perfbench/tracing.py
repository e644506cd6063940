"""Traced mode: spans around calls into the program's layers.

The wrappers are installed on the program's modules and classes from
here, only while the traced set-ups and the traced loop run, and are
removed after them; nothing under ``scrapetition_spark/`` changes. Spans stay in memory and are written
out as JSON when the run ends. Each span records its name, start,
end, parent span, the workload and the step (crawl epoch or query
key) it ran in. Spans opened on a worker thread (the crawl's sink
pool) take the current step's span as parent.

``per_layer_metrics`` turns the spans into the per-layer metrics that
BENCHMARK.json lists; every workload reports every name, 0 where a
layer is not on its path.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from stats import median

QUERY_KEYS = (
    "a7_top_visited",
    "d1_exact_dedup",
    "s1_cosine_topk",
    "t5_repetition_scores",
    "c12_thread_propagation",
    "a16_pagerank",
)
OPERATOR_MODULES = (
    "analytics", "corpus", "dedup", "graph", "similarity", "text", "threads",
)
CATALOG_TABLES = (
    "urls", "urls_seen", "url_edges", "comments", "bloom_sidecar",
    "crawl_metrics", "crawl_metrics_buckets",
)
CATALOG_WRITES = (
    "merge_insert", "overwrite", "overwrite_partitions", "append",
    "append_skip_empty", "append_bucketed", "append_partitions",
)
CRAWL_STAGES = ("due", "fetch", "parse", "discovered", "sinks", "metrics")
# (name, unit, better). CPU seconds of the run's process tree (Python
# driver, JVM, Python workers): on a shared VM they move far less with
# the other tenants' load than wall time does
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("step_cpu_s", "s", "lower"),
    ("cpu_s_per_item", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)
# their wall-clock twins, printed and reported per layer, not judged
WALL = (
    ("wall.setup_s", "s", "lower"),
    ("wall.step_s_p50", "s", "lower"),
    ("wall.items_per_s", "1/s", "higher"),
)

# (name, unit, better)
PER_LAYER: tuple[tuple[str, str, str], ...] = (
    ("session.start_s", "s", "lower"),
    ("fixtures.generate_s", "s", "lower"),
    ("crawl.seed_s", "s", "lower"),
    ("crawl.spark_jobs_per_epoch", "count", "lower"),
    ("crawl.spark_tasks_per_epoch", "count", "lower"),
    ("crawl.between_epoch_s", "s", "lower"),
    *((f"crawl.stage.{s}_s", "s", "lower") for s in CRAWL_STAGES),
    ("crawl.urls_per_s", "1/s", "higher"),
    ("frontier.assign_fetch_seq_s", "s", "lower"),
    ("frontier.budget_fill", "ratio", "higher"),
    ("seen.bloom_build_s", "s", "lower"),
    ("seen.bloom_bytes", "bytes", "lower"),
    ("parse.discovered_per_page", "ratio", "higher"),
    *((f"catalog.write_s.{t}", "s", "lower") for t in CATALOG_TABLES),
    ("catalog.write_calls", "count", "lower"),
    ("catalog.snapshots", "count", "lower"),
    ("catalog.files_written", "count", "lower"),
    ("catalog.expire_s", "s", "lower"),
    ("catalog.bytes_per_url", "bytes", "lower"),
    *((f"q.{k}_s", "s", "lower") for k in QUERY_KEYS),
    *((f"q.{k}_jobs", "count", "lower") for k in QUERY_KEYS),
    *((f"operators.{m}_s", "s", "lower") for m in OPERATOR_MODULES),
    *WALL,
    # traced minus untraced; peak RSS is a whole-process high-water
    # mark, which one run cannot split between its two loops
    *((f"trace.overhead.{n}", u, b) for n, u, b in END_TO_END + WALL
      if n != "peak_rss_mb"),
)


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self.step = None  # current epoch number, query key or setup label
        self._step_span: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._step_span
        start = time.perf_counter()
        stack.append(sid)
        try:
            yield attrs
        finally:
            stack.pop()
            rec = {
                "id": sid, "name": name, "start": start,
                "end": time.perf_counter(), "parent": parent,
                "workload": self.workload, "step": self.step, **attrs,
            }
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def step_span(self, name: str, step, **attrs):
        """A closed-loop step (epoch, query); spans on other threads
        while it is open become its children."""
        self.step = step
        with self.span(name, **attrs) as a:
            outer, self._step_span = self._step_span, self._stack()[-1]
            try:
                yield a
            finally:
                self._step_span = outer

    def wrap(self, owner, attr: str, name: str, table_arg: bool = False) -> None:
        orig = inspect.getattr_static(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **k):
            attrs = {"table": a[1]} if table_arg and len(a) > 1 else {}
            with self.span(name, **attrs) as rec:
                out = orig(*a, **k)
                if attr == "_write_files":
                    rec["files"] = sum(
                        len([f for f in os.listdir(p) if f.endswith(".parquet")])
                        for p in out if os.path.isdir(p)
                    )
                return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def install_crawl(self) -> None:
        import scrapetition_spark.crawl as crawl
        from scrapetition_spark.plans.seen import BloomFilter
        from scrapetition_spark.sources.catalog import Catalog

        self.wrap(crawl.CrawlEngine, "seed", "crawl.seed")
        # the name the epoch imported into its own module
        self.wrap(crawl, "assign_fetch_seq", "frontier.assign_fetch_seq")
        self.wrap(BloomFilter, "build_from", "seen.build_from")
        for attr in CATALOG_WRITES + ("expire_snapshots", "_commit"):
            self.wrap(Catalog, attr, f"catalog.{attr}", table_arg=True)
        self.wrap(Catalog, "_write_files", "catalog._write_files", table_arg=True)

    def install_operators(self) -> None:
        import importlib

        for m in OPERATOR_MODULES:
            mod = importlib.import_module(f"scrapetition_spark.operators.{m}")
            for attr, fn in list(vars(mod).items()):
                if (not attr.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__):
                    self.wrap(mod, attr, f"operators.{m}.{attr}")

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobCounter:
    """Spark job and task counts between two marks, from the status
    tracker (job ids are dense and increasing)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def mark(self) -> int:
        return max(self.tracker.getJobIdsForGroup(None), default=-1)

    def since(self, mark: int) -> tuple[int, int]:
        last = self.mark()
        stages: set[int] = set()
        for j in range(mark + 1, last + 1):
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        return last - mark, tasks


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _outermost(spans: list[dict], prefix: str) -> list[dict]:
    """Spans named ``prefix*`` with no ancestor of the same prefix."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if not s["name"].startswith(prefix):
            continue
        p = by_id.get(s["parent"])
        while p is not None and not p["name"].startswith(prefix):
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


def crawl_layer_metrics(spans: list[dict], epochs: list[dict], facts: dict) -> dict:
    """``epochs``: per timed epoch, its wall, EpochStats and job/task
    counts; ``facts``: the run's wall, the URLs its epochs fetched,
    budget use, bloom and catalog bytes and all URLs fetched, gathered
    after the loop."""
    n = max(1, len(epochs))
    in_loop = [s for s in spans if isinstance(s["step"], int)]

    def busy(pred) -> float:
        return sum(_dur(s) for s in in_loop if pred(s)) / n

    writes = [s for s in _outermost(in_loop, "catalog.")
              if s["name"].split(".", 1)[1] in CATALOG_WRITES]
    sidecar = {s["id"] for s in writes if s.get("table") == "bloom_sidecar"}
    out = {
        "crawl.spark_jobs_per_epoch": sum(e["jobs"] for e in epochs) / n,
        "crawl.spark_tasks_per_epoch": sum(e["tasks"] for e in epochs) / n,
        "crawl.between_epoch_s": (facts["run_s"] - sum(e["wall"] for e in epochs)) / n,
        "crawl.urls_per_s": facts["urls"] / facts["run_s"],
        "frontier.assign_fetch_seq_s": busy(
            lambda s: s["name"] == "frontier.assign_fetch_seq"),
        "frontier.budget_fill": facts["budget_fill"],
        "seen.bloom_build_s": busy(
            lambda s: s["name"] == "seen.build_from"
            or s["id"] in sidecar),
        "seen.bloom_bytes": facts["bloom_bytes"],
        "parse.discovered_per_page": (
            sum(e["stats"].urls_discovered for e in epochs)
            / max(1, sum(e["stats"].urls_due for e in epochs))),
        "catalog.write_calls": len(writes) / n,
        "catalog.snapshots": sum(
            1 for s in in_loop if s["name"] == "catalog._commit") / n,
        "catalog.files_written": sum(
            s.get("files", 0) for s in in_loop
            if s["name"] == "catalog._write_files") / n,
        "catalog.expire_s": busy(lambda s: s["name"] == "catalog.expire_snapshots"),
        "catalog.bytes_per_url": facts["catalog_bytes"] / facts["fetched_urls"],
    }
    for stage in CRAWL_STAGES:
        out[f"crawl.stage.{stage}_s"] = sum(
            (e["stats"].stage_seconds or {}).get(stage, 0.0) for e in epochs) / n
    for t in CATALOG_TABLES:
        out[f"catalog.write_s.{t}"] = sum(
            _dur(s) for s in writes if s.get("table") == t) / n
    setup = [s for s in spans if isinstance(s["step"], tuple)]
    for metric, name in (("fixtures.generate_s", "fixtures.generate"),
                         ("crawl.seed_s", "crawl.seed")):
        out[metric] = median([_dur(s) for s in setup if s["name"] == name])
    return out


def query_layer_metrics(spans: list[dict], runs: list[dict]) -> dict:
    """``runs``: one entry per timed query execution with its key,
    wall seconds and job count. A query's time rolls up to the module
    of the last top-level operator call it made — the input adapters
    in ``operators.corpus`` count only for a query that calls nothing
    else."""
    out = {}
    module_of: dict[str, str] = {}
    for key in QUERY_KEYS:
        mine = [r for r in runs if r["key"] == key]
        out[f"q.{key}_s"] = median([r["wall"] for r in mine]) if mine else 0.0
        out[f"q.{key}_jobs"] = median([r["jobs"] for r in mine]) if mine else 0.0
        calls = sorted(
            (s for s in _outermost([s for s in spans if s["step"] == key],
                                   "operators.")),
            key=lambda s: s["start"])
        mods = [s["name"].split(".")[1] for s in calls]
        named = [m for m in mods if m != "corpus"] or mods
        if named:
            module_of[key] = named[-1]
    for m in OPERATOR_MODULES:
        out[f"operators.{m}_s"] = sum(
            out[f"q.{k}_s"] for k, mod in module_of.items() if mod == m)
    return out


def per_layer_metrics(measured: dict) -> dict:
    """Every PER_LAYER name, from what a workload measured."""
    return {name: float(measured.get(name, 0.0)) for name, _, _ in PER_LAYER}
