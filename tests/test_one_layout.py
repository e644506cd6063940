"""One catalog layout: every crawl-state table is bucketed from its
first write, an epoch reads only the buckets it touches, a bucketed
MERGE that adds nothing writes nothing, and a catalog written in an
older layout resumes to the clean crawl's state."""

from __future__ import annotations

import os
import tempfile
from dataclasses import replace

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from scrapetition_spark.config import CrawlConfig, Dispatcher
from scrapetition_spark.crawl import ENGINE_TABLES, CrawlEngine
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
from scrapetition_spark.sources.catalog import PART, Catalog

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


def test_visit_again_reads_no_urls_seen_and_fetches_once_per_run(spark, monkeypatch):
    """The same crawl run under ``-a`` on a catalog that already holds
    two epochs of fetched history. Its run-local seen check is a
    predicate on ``urls.last_epoch``: like the default twin, each
    epoch reads only its touched buckets and never reads urls_seen.
    No URL is fetched twice within the run, and the seeds, fetched
    before it, are fetched again."""
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
    if visit_again:
        CrawlEngine(spark, cat, cfg, docs).run(max_epochs=2)  # the history
        history = cat.read("urls_seen", URLS_SEEN).count()
        cfg = replace(cfg, visit_again=True)
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


@pytest.mark.parametrize("visit_again", [False, True], ids=["default", "visit_again"])
def test_urls_without_last_epoch_resume(spark, visit_again):
    """A mid-crawl catalog whose urls files hold the columns urls had
    before ``last_epoch`` (a never-written ``depth`` in its place)
    reads ``last_epoch`` as null under the declared schema. A default
    run resumes to the clean crawl's urls_seen and urls; an ``-a`` run
    takes every fetched URL as unfetched in this run, so it fetches
    the seed again and no URL twice."""
    docs = fixtures.documents_df(spark, fixtures.fixture_site()).localCheckpoint()
    cfg = CrawlConfig("www.zeit.de", follow_links=True, politeness_sec=0,
                      per_host_budget=4)
    skip = ("first_seen", "last_seen", "first_scraped", "last_scraped", "last_epoch")

    def crawl(cat, max_epochs=None, c=cfg):
        eng = CrawlEngine(spark, cat, c, docs)
        if not cat.exists("urls"):
            eng.seed([SEED])
        eng.run(max_epochs=max_epochs)

    def rows(cat, table, schema):
        df = cat.read(table, schema)
        cols = [c for c in df.columns if c not in skip]
        return {tuple(r) for r in df.select(*cols).collect()}

    cat = Catalog(spark, tempfile.mkdtemp(prefix="onelayout-depth-"))
    crawl(cat, max_epochs=2)
    n_history = cat.read("urls_seen", URLS_SEEN).count()
    n_epochs = cat.read("crawl_metrics", CRAWL_METRICS).count()
    older = [F.lit(None).cast("int").alias("depth") if f.name == "last_epoch"
             else F.col(f.name) for f in URLS.fields]
    cat.overwrite_partitions(
        "urls",
        cat.read("urls", URLS).select(
            *older, F.pmod("host_bucket", F.lit(cfg.n_commit_buckets)).alias(PART)),
        PART, None,
        {"n_commit_buckets": cfg.n_commit_buckets, "n_host_buckets": cfg.n_host_buckets},
    )
    cat.record_heads(ENGINE_TABLES)
    stored = spark.read.parquet(*cat.read("urls", URLS).inputFiles()).columns
    assert "depth" in stored and "last_epoch" not in stored, stored
    assert cat.read("urls", URLS).filter(F.col("last_epoch").isNotNull()).count() == 0

    if not visit_again:
        crawl(cat)
        clean = Catalog(spark, tempfile.mkdtemp(prefix="onelayout-depth-clean-"))
        crawl(clean)
        for table, schema in (("urls_seen", URLS_SEEN), ("urls", URLS)):
            assert rows(cat, table, schema) == rows(clean, table, schema), table
        # last_epoch of every URL fetched after the resume matches
        last = {r["url"]: r["last_epoch"] for r in clean.read("urls", URLS).collect()}
        resumed = cat.read("urls", URLS).filter(F.col("last_epoch").isNotNull()).collect()
        assert resumed and all(last[r["url"]] == r["last_epoch"] for r in resumed)
        return
    crawl(cat, c=replace(cfg, visit_again=True))
    seen = cat.read("urls_seen", URLS_SEEN)
    run = [r["url"] for r in seen.filter(F.col("epoch") >= n_epochs).collect()]
    assert len(run) == len(set(run)), "a URL fetched twice within the -a run"
    assert seen.count() == n_history + len(run) and SEED in run


def test_resumed_run_reads_no_urls_seen_before_its_first_epoch(spark, monkeypatch):
    """``run()`` takes the fetch counter from crawl_metrics (the sum of
    ``urls_fetched``, in the aggregate that finds the last epoch), not
    from a count of urls_seen: a resumed run reads no urls_seen before
    its first epoch, and its ``fetch_seq`` continues densely."""
    docs = fixtures.documents_df(spark, fixtures.fixture_site()).localCheckpoint()
    cfg = CrawlConfig("www.zeit.de", follow_links=True, politeness_sec=0,
                      per_host_budget=2)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="onelayout-resume-"))
    eng = CrawlEngine(spark, cat, cfg, docs)
    eng.seed([SEED])
    eng.run(max_epochs=2)
    n_before = cat.read("urls_seen", URLS_SEEN).count()

    before_epoch: list[str] = []
    epochs: list[int] = []
    read, read_buckets = Catalog.read, Catalog.read_buckets
    run_epoch = CrawlEngine.run_epoch

    def rec_read(self, table, schema=None, snapshot=None):
        if not epochs:
            before_epoch.append(table)
        return read(self, table, schema, snapshot)

    def rec_read_buckets(self, table, schema, buckets):
        if not epochs:
            before_epoch.append(table)
        return read_buckets(self, table, schema, buckets)

    def rec_run_epoch(eng, epoch):
        epochs.append(epoch)
        return run_epoch(eng, epoch)

    monkeypatch.setattr(Catalog, "read", rec_read)
    monkeypatch.setattr(Catalog, "read_buckets", rec_read_buckets)
    monkeypatch.setattr(CrawlEngine, "run_epoch", rec_run_epoch)
    CrawlEngine(spark, cat, cfg, docs).run(max_epochs=2)
    assert epochs[0] == 2 and "crawl_metrics" in before_epoch
    assert "urls_seen" not in before_epoch, before_epoch
    seqs = sorted(r["fetch_seq"] for r in read(cat, "urls_seen", URLS_SEEN).collect())
    assert len(seqs) > n_before and seqs == list(range(len(seqs)))
