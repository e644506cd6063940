"""One catalog layout: every crawl-state table is bucketed from its
first write, an epoch reads only the buckets it touches, a bucketed
MERGE that adds nothing writes nothing, and a catalog written in an
older layout resumes to the clean crawl's state."""

from __future__ import annotations

import os
import tempfile
from dataclasses import replace

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from scrapetition_spark.config import CrawlConfig, Dispatcher
from scrapetition_spark.crawl import CrawlEngine
from scrapetition_spark.functions.urls import host_bucket, url_domain
from scrapetition_spark.schemas import (
    COMMENTS,
    CRAWL_METRICS,
    UNIQUE_KEYS,
    URL_EDGES,
    URLS,
    URLS_SEEN,
)
from scrapetition_spark.sources import fixtures
from scrapetition_spark.sources.catalog import Catalog

SEED = "https://www.zeit.de/politik/2020-01/art-a"
SYNTH_DISPATCHERS = (
    Dispatcher("bench", r"^https://h\d+\.test/.*", "comment",
               url_collectors=("js-comment-loader", "pager__page")),
)
CRAWL_STATE = ("urls", "urls_seen", "comments", "url_edges")


def _part(path: str) -> int:
    return int(path.split("__part=", 1)[1].split("/", 1)[0])


def _assert_bucketed(cat: Catalog, cfg: CrawlConfig, tables) -> None:
    commit = {"n_commit_buckets": cfg.n_commit_buckets,
              "n_host_buckets": cfg.n_host_buckets}
    for t in tables:
        has_plain, parts = cat.partition_state(t)
        assert cat.exists(t) and parts and not has_plain, t
        want = {"n_host_buckets": cfg.n_host_buckets} if t == "urls_seen" else commit
        assert cat.prunable_buckets(t, want), t


def _buckets(df, host_col, n: int) -> set[int]:
    return {r[0] for r in df.select(host_bucket(host_col, n)).distinct().collect()}


def test_epoch_reads_only_touched_buckets(spark, monkeypatch):
    """Multi-host crawl seeded on every host, following links on one.
    After seeding and after each epoch no crawl-state table holds plain
    files. Each epoch reads the item sinks and urls only through
    ``read_buckets``, and only from the dirs of the buckets it
    touches: the due pages' commit buckets (plus the literal fallback
    domains' for comments) and the due and discovered URLs' commit
    buckets for urls. The due set is planned from urls alone: the
    epoch never reads urls_seen."""
    _check_touched_reads(spark, monkeypatch, visit_again=False)


def test_visit_again_epoch_reads_only_touched_buckets(spark, monkeypatch):
    """The same crawl run under ``-a`` on a catalog that already holds
    two epochs of fetched history. Its run-local seen check reads
    urls_seen only through ``read_buckets``, over the host buckets of
    the frontier (``in_frontier == 1``, fetched rows included). No URL
    is fetched twice within the run, and the seeds, fetched before it,
    are fetched again."""
    _check_touched_reads(spark, monkeypatch, visit_again=True)


def _check_touched_reads(spark, monkeypatch, visit_again: bool) -> None:
    docs = fixtures.synthetic_web(spark, n_docs=300, n_hosts=8, fanout=4,
                                  seed=11).localCheckpoint()
    seeds = [r["seed"] for r in docs.groupBy(F.regexp_extract("doc_id", "//([^/]+)/", 1))
             .agg(F.min("doc_id").alias("seed")).collect()]
    cfg = CrawlConfig("h0.test", follow_links=True, politeness_sec=0,
                      per_host_budget=16, max_urls_per_epoch=None,
                      n_host_buckets=64, dispatchers=SYNTH_DISPATCHERS)
    ncb, nhb = cfg.n_commit_buckets, cfg.n_host_buckets

    cat = Catalog(spark, tempfile.mkdtemp(prefix="onelayout-"))
    CrawlEngine(spark, cat, cfg, docs).seed(seeds)
    _assert_bucketed(cat, cfg, ["urls"])
    frontier_rows = F.col("in_frontier") == 1
    if visit_again:
        CrawlEngine(spark, cat, cfg, docs).run(max_epochs=2)  # the history
        history = cat.read("urls_seen", URLS_SEEN).count()
        cfg = replace(cfg, visit_again=True)
    else:
        frontier_rows &= F.col("first_seen").isNull()
    fallback = {r[0] % ncb for r in spark.range(1).select(
        host_bucket(F.lit("UNKOWN"), nhb)).collect()}

    reads: list[tuple[str, list[int], list[str]]] = []
    whole: list[str] = []
    recording = [False]
    read_buckets, read = Catalog.read_buckets, Catalog.read
    run_epoch = CrawlEngine.run_epoch
    narrowed, epochs = set(), []

    def rec_read_buckets(self, table, schema, buckets):
        df = read_buckets(self, table, schema, buckets)
        if recording[0]:
            reads.append((table, list(buckets), df.inputFiles()))
        return df

    def rec_read(self, table, schema=None, snapshot=None):
        if recording[0]:
            whole.append(table)
        return read(self, table, schema, snapshot)

    def checked_run_epoch(eng, epoch):
        frontier = _buckets(cat.read("urls", URLS).filter(frontier_rows),
                            F.col("host"), nhb)
        reads.clear()
        whole.clear()
        recording[0] = True
        try:
            stats = run_epoch(eng, epoch)
        finally:
            recording[0] = False
        if stats.urls_due == 0:
            return stats
        epochs.append(epoch)
        _assert_bucketed(cat, cfg, CRAWL_STATE)

        due = cat.read("urls_seen", URLS_SEEN).filter(F.col("epoch") == epoch)
        due_cb = {b % ncb for b in _buckets(due, F.col("host"), nhb)}
        edges = cat.read("url_edges", URL_EDGES).join(
            due.select(F.col("url").alias("source")), ["source"], "left_semi")
        disc_cb = {b % ncb for b in _buckets(edges, url_domain(F.col("target")), nhb)}
        allowed = {
            "comments": due_cb | fallback,
            "url_edges": due_cb,
            "urls": due_cb | disc_cb,
        }
        if visit_again:
            allowed["urls_seen"] = frontier
        else:
            assert "urls_seen" not in {t for t, _, _ in reads}
        assert not set(whole) & {"comments", "url_edges", "urls_seen"}, whole
        by_table = {}
        for table, buckets, files in reads:
            if table not in allowed:
                continue
            assert set(buckets) <= allowed[table], (epoch, table, buckets)
            assert {_part(f) for f in files} <= set(buckets), (epoch, table, files)
            by_table[table] = files
            n_parts = len(cat.partition_state(table)[1])
            if 0 < len({_part(f) for f in files}) < n_parts:
                narrowed.add(table)
        if epoch > 0:
            assert set(by_table) == set(allowed), (epoch, set(by_table))
        return stats

    monkeypatch.setattr(Catalog, "read_buckets", rec_read_buckets)
    monkeypatch.setattr(Catalog, "read", rec_read)
    monkeypatch.setattr(CrawlEngine, "run_epoch", checked_run_epoch)
    CrawlEngine(spark, cat, cfg, docs).run(max_epochs=4)
    assert len(epochs) == 4, epochs
    assert narrowed >= {"comments", "url_edges"}, narrowed

    comments = cat.read("comments", COMMENTS)
    assert comments.count() == comments.select("id", "domain").distinct().count() > 0
    if visit_again:
        seen = cat.read("urls_seen", URLS_SEEN)
        run = [r["url"] for r in seen.filter(F.col("epoch") >= 2).collect()]
        assert len(run) == len(set(run)), "a URL fetched twice within the -a run"
        assert seen.count() == history + len(run)
        assert set(seeds) <= set(run)


def _schema() -> StructType:
    return StructType([
        StructField("k", StringType()),
        StructField("v", IntegerType()),
    ])


def test_bucketed_merge_without_new_rows_adds_no_dir(spark):
    """The bucketed twin of the all-duplicate MERGE: the snapshot
    advances, but no data dir is left behind — with the touched
    buckets passed in and with them collected from the batch."""
    cat = Catalog(spark, tempfile.mkdtemp(prefix="onelayout-merge-"))
    sch = _schema()
    bucket = F.pmod(F.xxhash64("k"), F.lit(4)).cast("int")
    spec = {"n": 4}
    data = os.path.join(cat.root, "t", "data")
    cat.merge_insert("t", spark.createDataFrame([("a", 1), ("b", 2)], sch),
                     ["k"], sch, bucket_expr=bucket, bucket_spec=spec)
    before = sorted(os.listdir(data))
    dup = spark.createDataFrame([("a", 9), ("b", 9)], sch)
    for touched in (list(range(4)), None):
        h0 = cat.head("t")
        cat.merge_insert("t", dup, ["k"], sch, bucket_expr=bucket,
                         bucket_spec=spec, touched=touched)
        assert cat.head("t") == h0 + 1
        assert sorted(os.listdir(data)) == before
    assert {(r["k"], r["v"]) for r in cat.read("t", sch).collect()} == {("a", 1), ("b", 2)}


def test_older_layout_resumes_to_clean_crawl(spark):
    """A catalog in the older layout — plain urls and urls_seen files,
    comments in key-hash buckets under a stored ``n_item_buckets``
    spec, plain url_edges — resumes to the clean crawl's urls_seen,
    urls, comments and url_edges, and leaves every crawl-state table
    in the live bucketed layout."""
    docs = fixtures.documents_df(spark, fixtures.fixture_site()).localCheckpoint()
    cfg = CrawlConfig("www.zeit.de", follow_links=True, politeness_sec=0,
                      per_host_budget=4)

    def crawl(cat, max_epochs=None):
        eng = CrawlEngine(spark, cat, cfg, docs)
        eng.seed([SEED])
        eng.run(max_epochs=max_epochs)

    def state(cat):
        ts = ("first_seen", "last_seen", "first_scraped", "last_scraped")

        def rows(table, schema):
            df = cat.read(table, schema)
            cols = [c for c in df.columns if c not in ts]
            return {tuple(r) for r in df.select(*cols).collect()}

        urls = {(r["url"], r["first_seen"] is None) for r in cat.read("urls", URLS).collect()}
        return (rows("urls_seen", URLS_SEEN), rows("urls", URLS), urls,
                rows("comments", COMMENTS), rows("url_edges", URL_EDGES))

    clean = Catalog(spark, tempfile.mkdtemp(prefix="onelayout-clean-"))
    crawl(clean)

    mid = Catalog(spark, tempfile.mkdtemp(prefix="onelayout-mid-"))
    crawl(mid, max_epochs=2)
    old = Catalog(spark, tempfile.mkdtemp(prefix="onelayout-old-"))
    old.merge_insert("urls", mid.read("urls", URLS), UNIQUE_KEYS["urls"], URLS)
    for table, schema in (("urls_seen", URLS_SEEN), ("url_edges", URL_EDGES),
                          ("crawl_metrics", CRAWL_METRICS)):
        old.append(table, mid.read(table, schema))
    keys = UNIQUE_KEYS["comments"]
    old.overwrite_partitions(
        "comments", mid.read("comments", COMMENTS),
        F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(8)).cast("int"),
        bucket_spec={"n_item_buckets": 8})
    assert all(old.partition_state(t)[0] for t in ("urls", "urls_seen", "url_edges"))

    CrawlEngine(spark, old, cfg, docs).run()
    assert state(old) == state(clean)
    _assert_bucketed(old, cfg, CRAWL_STATE)
