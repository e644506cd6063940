"""The benchmark's workloads. Each is a closed loop driven from one
thread: the next crawl epoch or query starts when the previous one
has finished.

A workload function gets the live session and returns a ``Result``:
the end-to-end metrics, the per-layer measurements (traced mode) and
the problems its output checks found.

Traced mode then runs the loop twice more, traced and untraced again,
and takes the tracing overhead against the untraced loops on either
side of the traced one.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from checks import check_bfs, check_query, check_seen_invariants, fetched_by_epoch
from procstat import cpu_seconds
from stats import median, tail_percentile
from tracing import (
    QUERY_KEYS,
    JobCounter,
    Tracer,
    crawl_layer_metrics,
    query_layer_metrics,
)

SETUP_REPS = 3  # set-ups per run; setup_s takes their median

# crawl_polite: the reference's default crawl shape — follow links,
# stay on the start domain — with the scale-path storage forced on.
# Half the documents sit on the start domain. The crawl is seeded with
# twice the politeness budget of them, so every epoch fetches a full
# budget of pages and discovers hundreds of new in-domain links; the
# frontier never drains within a run.
POLITE_WEB = {"n_docs": 2000, "n_hosts": 8, "fanout": 6, "n_comments": 3}
POLITE_DOMAIN = "h0.test"
POLITE_BUDGET = 128
POLITE_SEEDS = 2 * POLITE_BUDGET

# corpus_queries reads tables of the reference "sf0.01" row counts
QUERY_SCALE = 1.0


@dataclass
class Result:
    metrics: dict  # end-to-end metric -> value, and CPU diagnostics
    layers: dict = field(default_factory=dict)  # per-layer, traced mode
    attempted: int = 0
    problems: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)  # printed, not judged
    tracer: Tracer | None = None


class _Clock:
    """Wall and CPU seconds (of this process and every process it
    started) since construction."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.cpu0 = cpu_seconds(os.getpid())

    def read(self) -> dict:
        return {"wall": time.perf_counter() - self.t0,
                "cpu": cpu_seconds(os.getpid()) - self.cpu0}


class _Step:
    """Wall and CPU seconds of one loop step, plus Spark job and task
    counts when a job counter is given."""

    def __init__(self, jobs: JobCounter | None):
        self.jobs = jobs

    def __enter__(self):
        self.mark = self.jobs.mark() if self.jobs else 0
        self.clock = _Clock()
        return self

    def __exit__(self, *exc):
        self.reading = self.clock.read()
        self.n_jobs, self.n_tasks = self.jobs.since(self.mark) if self.jobs else (0, 0)
        return False

    def record(self, **extra) -> dict:
        return {**self.reading, "jobs": self.n_jobs, "tasks": self.n_tasks, **extra}


def _summary(steps: list[dict], loop: dict, setup: dict, items: int) -> dict:
    """End-to-end metrics in CPU seconds, and their wall-clock twins."""
    return {
        "setup_s": setup["cpu"],
        "step_cpu_s": median([s["cpu"] for s in steps]),
        "cpu_s_per_item": loop["cpu"] / items,
        "wall.setup_s": setup["wall"],
        "wall.step_s_p50": median([s["wall"] for s in steps]),
        "wall.items_per_s": items / loop["wall"],
    }


def _median_reading(readings: list[dict]) -> dict:
    return {k: median([r[k] for r in readings]) for k in ("wall", "cpu")}


def _plus(a: dict, b: dict) -> dict:
    return {k: a[k] + b[k] for k in a}


def _overhead(traced: dict, before: dict, after: dict) -> dict:
    """Traced minus the mean of the untraced loops before and after
    it: a loop runs warmer than the one before it, and the mean of its
    neighbours cancels a steady trend."""
    return {f"trace.overhead.{k}": traced[k] - (before[k] + after[k]) / 2
            for k in traced}


def _dispatchers():
    from scrapetition_spark.config import Dispatcher

    return (
        Dispatcher(
            "bench", r"^https://h\d+\.test/.*", "comment",
            url_collectors=("js-comment-loader", "pager__page"),
        ),
    )


# --------------------------------------------------------------------- crawl


@dataclass
class _Crawl:
    docs: object  # the generated web
    catalog: object
    engine: object
    seeds: list

    def pages(self) -> dict:
        """url -> spans of every generated page, for the check."""
        return {r["doc_id"]: [tuple(s) for s in r["spans"]]
                for r in self.docs.select("doc_id", "spans").collect()}


def _polite_setup(spark, seed: int, root: str, tracer: Tracer | None) -> _Crawl:
    from pyspark.sql import functions as F

    from scrapetition_spark.config import CrawlConfig
    from scrapetition_spark.crawl import CrawlEngine
    from scrapetition_spark.sources import fixtures
    from scrapetition_spark.sources.catalog import Catalog

    with tracer.span("fixtures.generate") if tracer else nullcontext():
        docs = fixtures.synthetic_web(spark, seed=seed, **POLITE_WEB).localCheckpoint()
    cfg = CrawlConfig(
        start_domain=POLITE_DOMAIN,
        follow_links=True,
        politeness_sec=0,
        per_host_budget=POLITE_BUDGET,
        max_urls_per_epoch=None,
        dispatchers=_dispatchers(),
        seen_bucket_min_bytes=0,
        expire_keep_snapshots=2,
    )
    cat = Catalog(spark, root)
    eng = CrawlEngine(spark, cat, cfg, docs, bloom_mode="partitioned")
    in_domain = F.col("doc_id").startswith(f"https://{POLITE_DOMAIN}/")
    seeds = [r["doc_id"] for r in docs.filter(in_domain).select("doc_id")
             .orderBy("doc_id").limit(POLITE_SEEDS).collect()]
    eng.seed(seeds)
    return _Crawl(docs, cat, eng, seeds)


def _crawl_loop(spark, crawl: _Crawl, seconds: float, tracer: Tracer | None):
    """Start or resume ``CrawlEngine.run`` and let it run until
    ``seconds`` have passed (at least one epoch): the epoch due after
    the deadline is answered as an empty due set, which ends the run
    the way a drained frontier does. Returns the epochs and the clock
    reading of the run."""
    from scrapetition_spark.crawl import EpochStats

    eng = crawl.engine
    jobs = JobCounter(spark.sparkContext) if tracer else None
    epochs: list[dict] = []
    clock = _Clock()

    def run_epoch(epoch: int):
        if epochs and clock.read()["wall"] >= seconds:
            return EpochStats(epoch, 0, 0, 0, {})
        span = tracer.step_span("crawl.run_epoch", epoch) if tracer else nullcontext()
        with _Step(jobs) as step, span:
            st = type(eng).run_epoch(eng, epoch)
        epochs.append(step.record(stats=st))
        return st

    eng.run_epoch = run_epoch
    try:
        eng.run()
        loop = clock.read()
    finally:
        del eng.run_epoch
    return epochs, loop


def _check_polite(crawl: _Crawl, n_epochs: int) -> tuple[list[str], list[tuple]]:
    """The fetched URLs and the frontier the crawl leaves behind, epoch
    by epoch, against the budgeted BFS."""
    from pyspark.sql import functions as F

    from scrapetition_spark.schemas import URLS, URLS_SEEN

    seen = [
        tuple(r) for r in crawl.catalog.read("urls_seen", URLS_SEEN)
        .select("url", "host", "epoch", "status").collect()
    ]
    scheduled = {
        r["url"] for r in crawl.catalog.read("urls", URLS)
        .filter(F.col("in_frontier") == 1).select("url").collect()
    }
    pages = crawl.pages()
    fetched = fetched_by_epoch(seen, n_epochs)
    problems = check_seen_invariants(seen, set(pages), POLITE_BUDGET)
    problems += check_bfs(
        pages, crawl.seeds, POLITE_DOMAIN, _dispatchers(), POLITE_BUDGET,
        fetched, scheduled - {r[0] for r in seen},
    )
    return problems, seen


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def crawl_polite(spark, seed: int, seconds: float, work: str, trace: bool) -> Result:
    tracer = Tracer("crawl_polite") if trace else None
    # traced mode adds traced set-ups after the plain ones
    n_plain = SETUP_REPS
    n_traced = SETUP_REPS - 1 if trace else 0
    crawls, setups = [], []
    for r in range(n_plain + n_traced):
        traced = r >= n_plain
        if traced and r == n_plain:
            tracer.install_crawl()
        if tracer:
            tracer.step = ("setup", r)
        clock = _Clock()
        crawls.append(_polite_setup(spark, seed, os.path.join(work, f"catalog-{r}"),
                                    tracer if traced else None))
        setups.append(clock.read())
    if tracer:
        tracer.restore()
    crawl = crawls[0]

    epochs, loop = _crawl_loop(spark, crawl, seconds, None)
    urls = sum(e["stats"].urls_due for e in epochs)
    res = Result(metrics=_summary(epochs, loop, _median_reading(setups[:n_plain]), urls))
    res.info.update({
        "timed_epochs": len(epochs),
        "timed_urls": urls,
        "epoch_s_p50": res.metrics["wall.step_s_p50"],
        "crawl_urls_per_s": res.metrics["wall.items_per_s"],
        "epoch_s_tail": tail_percentile([e["wall"] for e in epochs]),
        "catalog_bytes_per_url": _dir_bytes(crawl.catalog.root) / urls,
    })
    loops = []  # (epochs, clock reading) of the untraced, traced, untraced loop
    if tracer:
        # the same crawl resumes for three more loops
        loops.append(_crawl_loop(spark, crawl, seconds, None))
        tracer.install_crawl()
        try:
            loops.append(_crawl_loop(spark, crawl, seconds, tracer))
        finally:
            tracer.restore()
        loops.append(_crawl_loop(spark, crawl, seconds, None))
    n_epochs = len(epochs) + sum(len(e) for e, _ in loops)
    res.attempted = n_epochs
    res.problems, seen = _check_polite(crawl, n_epochs)
    res.info["fetched_urls"] = len(seen)
    if not tracer:
        return res

    t_epochs, t_loop = loops[1]
    traced_epochs = {e["stats"].epoch for e in t_epochs}
    per_host: dict = {}
    for _url, host, epoch, _status in seen:
        if epoch in traced_epochs:
            per_host[(epoch, host)] = per_host.get((epoch, host), 0) + 1
    t_urls = sum(e["stats"].urls_due for e in t_epochs)
    res.layers = crawl_layer_metrics(tracer.spans, t_epochs, {
        "run_s": t_loop["wall"],
        "urls": t_urls,
        "budget_fill": sum(per_host.values()) / len(per_host) / POLITE_BUDGET,
        "bloom_bytes": crawl.catalog.table_bytes("bloom_sidecar"),
        "catalog_bytes": _dir_bytes(crawl.catalog.root),
        "fetched_urls": len(seen),
    })
    # set-up overhead from the warm set-ups on both sides: the first
    # set-up pays the session's first jobs
    plain_setup = _median_reading(setups[1:n_plain])
    res.layers.update(_overhead(
        _summary(t_epochs, t_loop, _median_reading(setups[n_plain:]), t_urls),
        *(_summary(e, lp, plain_setup, sum(x["stats"].urls_due for x in e))
          for e, lp in (loops[0], loops[2]))))
    res.tracer = tracer
    return res


# ------------------------------------------------------------------- queries


def _query_loop(spark, queries, tables: str, seconds: float, tracer: Tracer | None):
    """Timed passes over the suite until ``seconds`` have passed (at
    least one). Each query is fully materialised into the no-op sink:
    every output column is computed, nothing is kept. Returns the
    passes, the single query runs and the clock reading of the loop."""
    jobs = JobCounter(spark.sparkContext) if tracer else None
    passes, runs = [], []
    clock = _Clock()
    while not passes or clock.read()["wall"] < seconds:
        one = _Clock()
        for key in QUERY_KEYS:
            span = tracer.step_span("query", key) if tracer else nullcontext()
            with _Step(jobs) as step, span:
                queries[key](spark, tables).write.format("noop").mode("overwrite").save()
            runs.append(step.record(key=key))
        passes.append(one.read())
    return passes, runs, clock.read()


def corpus_queries(spark, seed: int, seconds: float, work: str, trace: bool) -> Result:
    import duckdb

    import __spark_entry__ as entry
    from tables import generate
    from tools.check_oracle import value_hash

    tables = os.path.join(work, "tables")
    gens = []
    for _ in range(SETUP_REPS):
        shutil.rmtree(tables, ignore_errors=True)
        clock = _Clock()
        rows = generate(tables, seed, QUERY_SCALE)
        gens.append(clock.read())

    queries = entry.queries()
    clock = _Clock()
    # the warm pass, part of set-up; its outputs feed the check
    outputs = {key: queries[key](spark, tables).toPandas() for key in QUERY_KEYS}
    warm = clock.read()
    setup = _plus(_median_reading(gens), warm)

    passes, runs, loop = _query_loop(spark, queries, tables, seconds, None)
    res = Result(metrics=_summary(passes, loop, setup, len(runs)))
    res.attempted = len(runs) + len(QUERY_KEYS)
    res.info.update({
        "prep_s": _median_reading(gens)["wall"],
        "warm_pass_s": warm["wall"],
        "rows": rows,
        "passes": len(passes),
        "query_suite_s": res.metrics["wall.step_s_p50"],
        "query_s_tail": tail_percentile([r["wall"] for r in runs]),
    })

    con = duckdb.connect()
    try:
        for name in rows:
            path = os.path.join(tables, f"{name}.parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        oracles = entry.oracle_sql()
        for key in QUERY_KEYS:
            for p in check_query(outputs[key], con.sql(oracles[key]).df(), value_hash):
                res.problems.append(f"{key}: {p}")
    finally:
        con.close()
    if not trace:
        return res

    tracer = Tracer("corpus_queries")
    tracer.install_operators()
    try:
        t_passes, t_runs, t_loop = _query_loop(
            spark, entry.queries(), tables, seconds, tracer)  # wrapped operators
    finally:
        tracer.restore()
    a_passes, a_runs, a_loop = _query_loop(spark, queries, tables, seconds, None)
    res.attempted += len(t_runs) + len(a_runs)
    res.layers = query_layer_metrics(tracer.spans, t_runs)
    # the warm pass, the only part of set-up that calls a traced
    # layer, runs once untraced: set-up overhead reads 0 here
    res.layers.update(_overhead(_summary(t_passes, t_loop, setup, len(t_runs)),
                                _summary(passes, loop, setup, len(runs)),
                                _summary(a_passes, a_loop, setup, len(a_runs))))
    res.tracer = tracer
    return res


WORKLOADS = {"crawl_polite": crawl_polite, "corpus_queries": corpus_queries}
