"""Fault injection for crawl epochs: make one write point of an epoch
raise, resume with a fresh engine, and compare the catalog with a
clean crawl's.

A write point is a table name — the failing call is that table's
first snapshot commit (``Catalog._commit``) in the epoch, so its data
files are written but never committed — or ``"record"``, the epoch's
commit record (``Catalog.record_heads``)."""

from __future__ import annotations

import tempfile
from collections import Counter

import pytest

from scrapetition_spark.crawl import CrawlEngine
from scrapetition_spark.schemas import CRAWL_METRICS, TABLE_SCHEMAS, URLS_SEEN
from scrapetition_spark.sources.catalog import Catalog

ITEM_TABLES = ("comments", "users", "votes", "articles")
# the epoch's pool writes, url_edges first: it is the one write an
# epoch skips (when it discovers nothing)
SINK_POINTS = (
    "url_edges", "comments", "users", "votes", "articles", "urls", "urls_seen",
)
# the writes after the pool: the metrics append, then the record
COMMIT_POINTS = ("crawl_metrics", "record")
_TIMESTAMPS = {"first_seen", "last_seen", "first_scraped", "last_scraped"}


class Fault(RuntimeError):
    pass


def crawl_state(cat: Catalog) -> tuple:
    """The trace ``(url, fetch_seq, epoch, status)``, urls, url_edges
    and every item table without their timestamp columns (as row
    multisets), and the epochs crawl_metrics holds."""
    trace = sorted(
        tuple(r) for r in cat.read("urls_seen", URLS_SEEN)
        .select("url", "fetch_seq", "epoch", "status").collect()
    )
    tables = {}
    for t in ("urls", "url_edges", *ITEM_TABLES):
        df = cat.read(t, TABLE_SCHEMAS[t])
        cols = [c for c in df.columns if c not in _TIMESTAMPS]
        tables[t] = Counter(tuple(r) for r in df.select(*cols).collect())
    epochs = sorted(
        r["epoch"] for r in cat.read("crawl_metrics", CRAWL_METRICS).collect()
    )
    return trace, tables, epochs


class FaultInjector:
    """Raises ``Fault`` at the armed write point, on its first call in
    the armed epoch or a later one, then disarms."""

    def __init__(self, monkeypatch):
        self.armed: tuple[str, int] | None = None
        self.epoch: int | None = None
        run_epoch, commit = CrawlEngine.run_epoch, Catalog._commit
        record = Catalog.record_heads

        def tracked_run_epoch(eng, epoch):
            self.epoch = epoch
            try:
                return run_epoch(eng, epoch)
            finally:
                self.epoch = None

        def failing_commit(cat, table, *a, **k):
            self._hit(table)
            return commit(cat, table, *a, **k)

        def failing_record(cat, tables):
            self._hit("record")
            return record(cat, tables)

        monkeypatch.setattr(CrawlEngine, "run_epoch", tracked_run_epoch)
        monkeypatch.setattr(Catalog, "_commit", failing_commit)
        monkeypatch.setattr(Catalog, "record_heads", failing_record)

    def _hit(self, point: str) -> None:
        if (self.armed is not None and self.epoch is not None
                and self.armed[0] == point and self.epoch >= self.armed[1]):
            self.armed = None
            raise Fault(f"{point} in epoch {self.epoch}")


def crawl_through_faults(spark, monkeypatch, make_engine, seed: str,
                         points, n_epochs: int, before_run=None) -> Catalog:
    """Seed a fresh catalog and crawl it to the end while its epochs
    fail at ``points`` in turn: fault ``i`` fires in epoch
    ``i * n_epochs // len(points)``, so the faults spread over a crawl
    of ``n_epochs`` epochs, and each run after a fault is a fresh
    engine. ``make_engine(cat)`` builds an engine;
    ``before_run(i, engine)`` is called before run ``i`` (run 0 is
    the first). Returns the catalog."""
    inj = FaultInjector(monkeypatch)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="epoch-faults-"))
    make_engine(cat).seed([seed])
    for i, point in enumerate(points):
        inj.armed = (point, i * n_epochs // len(points))
        eng = make_engine(cat)
        if before_run:
            before_run(i, eng)
        with pytest.raises(Fault, match=f"^{point} in epoch"):
            eng.run()
    eng = make_engine(cat)
    if before_run:
        before_run(len(points), eng)
    eng.run()
    return cat
