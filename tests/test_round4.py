"""Round-4 coverage: size-gated broadcast hints (the no-hint path must
be bit-exact), hostile-input round-trip
(≙ the reference's SQL-injection suite,
/root/reference/test/Test/Network/Scrapetition/SqlInjection.hs:32-65),
catalog file hygiene (empty-MERGE skip, manifest byte summaries) and
snapshot expiry (≙ Iceberg expire_snapshots)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from reference_sim import simulate
from scrapetition_spark.config import CrawlConfig
from scrapetition_spark.crawl import CrawlEngine
from scrapetition_spark.schemas import COMMENTS, URLS, URLS_SEEN, USERS
from scrapetition_spark.sources.catalog import Catalog
from scrapetition_spark.sources.fixtures import (
    article_head_spans,
    comment_spans,
    documents_df,
    fixture_site,
)
from scrapetition_spark.spans import ROLE_JS_LOADER, media_span

SEED = "https://www.zeit.de/politik/2020-01/art-a"

# the reference's hostile URL corpus, verbatim (SqlInjection.hs:32-38)
HOSTILE_URLS = [
    "http://attact.org",
    "http://bttact.org'--comment",
    "http://cttact.org';delete from url where true--",
    "http://dttact.org';delete from url where true;--",
]
HOSTILE_NAME = "Robert'); DROP TABLE comments;--"


def _engine(spark, docs, cfg, **kw):
    cat = Catalog(spark, tempfile.mkdtemp(prefix="r4-"))
    return CrawlEngine(spark, cat, cfg, docs, **kw), cat


# --------------------------------------------------------------------------
# broadcast gating


def test_no_broadcast_hint_wide_crawl_bit_exact(spark):
    """broadcast_max_rows=0 disables every epoch-loop F.broadcast hint
    (the >threshold plan a 10^8-host frontier takes): final seen/url
    sets must be identical to the simulator — the hint is a physical
    choice, never a semantic one."""
    site = fixture_site()
    docs = documents_df(spark, site)
    sim = simulate(site, [SEED], CrawlConfig("www.zeit.de", follow_links=True,
                                             politeness_sec=0))
    cfg = CrawlConfig("www.zeit.de", follow_links=True, sequential=False,
                      politeness_sec=0, per_host_budget=4,
                      broadcast_max_rows=0)
    eng, cat = _engine(spark, docs, cfg)
    eng.seed([SEED])
    eng.run()
    got = {r["url"] for r in cat.read("urls_seen", URLS_SEEN).collect()}
    assert got == set(sim.trace)
    urls = {r["url"] for r in cat.read("urls", URLS).select("url").collect()}
    assert urls == set(sim.inserted_urls)


# --------------------------------------------------------------------------
# hostile-input round-trip (SqlInjection.hs parity)


def _hostile_site() -> dict[str, list[tuple]]:
    """One zeit.de article whose discovered URLs are the reference's
    hostile strings and whose comment author carries quote/DDL text."""
    url = "https://www.zeit.de/politik/2020-03/art-h"
    spans = article_head_spans(
        url, "Hostile", "desc", "Autor", "2020-01-09T14:15:58+01:00"
    )
    off = len(spans)
    cs = comment_spans(off, "cid-666", None, None, HOSTILE_NAME, "666001", 3, url)
    spans += cs
    off += len(cs)
    for h in HOSTILE_URLS:
        spans.append(media_span(ROLE_JS_LOADER, "", h, off))
        off += 1
    return {url: spans}


def test_hostile_values_survive_round_trip(spark):
    from scrapetition_spark.plans.frontier import select_urls_where

    site = _hostile_site()
    seed = next(iter(site))
    docs = documents_df(spark, site)
    cfg = CrawlConfig("www.zeit.de", follow_links=True, sequential=True,
                      politeness_sec=0)
    sim = simulate(site, [seed], cfg)
    eng, cat = _engine(spark, docs, cfg)
    eng.seed([seed])
    eng.run()
    # S6: hostile URLs stored byte-exact (cross-scheme, quotes, `--`)
    urls = cat.read("urls", URLS)
    stored = {r["url"] for r in urls.select("url").collect()}
    assert set(HOSTILE_URLS) <= stored
    assert stored == set(sim.inserted_urls)
    # item sinks: hostile author name byte-exact in comments AND users
    names = {r["name"] for r in cat.read("comments", COMMENTS).collect()}
    assert HOSTILE_NAME in names
    unames = {r["name"] for r in cat.read("users", USERS).collect()}
    assert HOSTILE_NAME in unames
    # S12 over hostile VALUES: the clause is operator input, the data
    # is untrusted — a scan must see the stored strings verbatim
    got = {
        r["url"]
        for r in select_urls_where(
            urls, "url LIKE '%delete from url%'"
        ).collect()
    }
    assert got == set(HOSTILE_URLS[2:])
    # and the full table still answers sane queries (nothing dropped)
    assert urls.count() == len(sim.inserted_urls)


def test_table_name_overrides(spark):
    """≙ --items-table/--users-table/--voting-table
    (app/Main.hs:117-131): the engine addresses logical names, the
    mapping decides the physical tables — including the reference's
    own default 'comment_voting'."""
    site = fixture_site()
    docs = documents_df(spark, site)
    cfg = CrawlConfig("www.zeit.de", follow_links=True, sequential=True,
                      politeness_sec=0,
                      table_names={"comments": "items",
                                   "votes": "comment_voting"})
    eng, cat = _engine(spark, docs, cfg)
    eng.seed([SEED])
    eng.run(max_epochs=4)
    assert cat.exists("items") and not cat.exists("comments")
    assert cat.read("items", COMMENTS).count() > 0
    # the engine's own view resolves logical names transparently
    assert eng.cat.read("comments", COMMENTS).count() > 0


# --------------------------------------------------------------------------
# catalog hygiene


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k string, v int")


def _schema():
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    return StructType([
        StructField("k", StringType()),
        StructField("v", IntegerType()),
    ])


def _ndirs(cat, table):
    data = os.path.join(cat.root, table, "data")
    return len(os.listdir(data)) if os.path.isdir(data) else 0


def test_merge_insert_all_duplicate_batch_commits_no_data(spark):
    """A MERGE whose keys all exist must not add a data dir — a long
    crawl would otherwise grow O(epochs) dirs."""
    cat = Catalog(spark, tempfile.mkdtemp(prefix="r4cat-"))
    sch = _schema()
    cat.merge_insert("t", _mk(spark, [("a", 1), ("b", 2)]), ["k"], sch)
    before = _ndirs(cat, "t")
    h0 = cat.head("t")
    cat.merge_insert("t", _mk(spark, [("a", 9), ("b", 9)]), ["k"], sch)
    assert cat.head("t") == h0 + 1  # snapshot still advances (epoch id)
    assert _ndirs(cat, "t") == before  # but NO new data dir
    got = {(r["k"], r["v"]) for r in cat.read("t", sch).collect()}
    assert got == {("a", 1), ("b", 2)}


def test_table_bytes_matches_filesystem(spark):
    """Manifest-recorded size summary == a direct walk of the member
    dirs (the summary replaces per-MERGE os.walks, ADVICE r03)."""
    from scrapetition_spark.sources.catalog import _dir_bytes

    cat = Catalog(spark, tempfile.mkdtemp(prefix="r4size-"))
    sch = _schema()
    cat.append("t", _mk(spark, [("a", 1)]))
    cat.append("t", _mk(spark, [("b", 2)]))
    cat.overwrite_partitions(
        "t2",
        _mk(spark, [("a", 1), ("b", 2)]),
        F.pmod(F.xxhash64("k"), F.lit(2)).cast("int"),
    )
    for t in ("t", "t2"):
        snap = cat._snapshot(t, cat.head(t))
        walked = sum(_dir_bytes(d) for d in cat._paths(snap))
        assert cat.table_bytes(t) == walked > 0


def test_expire_snapshots_bounds_disk_and_keeps_time_travel(spark):
    cat = Catalog(spark, tempfile.mkdtemp(prefix="r4gc-"))
    sch = _schema()
    for i in range(6):
        cat.overwrite("t", _mk(spark, [("k", i)]))
    head = cat.head("t")
    assert _ndirs(cat, "t") == 6
    cat.expire_snapshots("t", keep_last=2)
    # retained window: HEAD and HEAD-1 read fine
    assert cat.read("t", sch).collect()[0]["v"] == 5
    assert cat.read("t", sch, snapshot=head - 1).collect()[0]["v"] == 4
    # expired ids raise (same contract as Iceberg)
    with pytest.raises(FileNotFoundError):
        cat.read("t", sch, snapshot=head - 2)
    # orphan data dirs removed; manifests pruned
    assert _ndirs(cat, "t") == 2
    snaps = [f for f in os.listdir(os.path.join(cat.root, "t"))
             if f.startswith("snap-")]
    assert len(snaps) == 2
    # repeated expiry over a long overwrite chain stays bounded
    for i in range(20):
        cat.overwrite("t", _mk(spark, [("k", 100 + i)]))
        cat.expire_snapshots("t", keep_last=2)
    assert _ndirs(cat, "t") <= 2
    assert cat.read("t", sch).collect()[0]["v"] == 119


def test_expire_snapshots_partitioned_keeps_referenced_buckets(spark):
    """Scoped commits share write dirs across snapshots: expiry must
    drop only bucket dirs nothing retained references."""
    cat = Catalog(spark, tempfile.mkdtemp(prefix="r4gcp-"))
    sch = _schema()
    bucket = F.pmod(F.xxhash64("k"), F.lit(4)).cast("int")
    cat.overwrite_partitions("t", _mk(spark, [(f"k{i}", i) for i in range(8)]), bucket)
    # touch ONE bucket several times (scoped commits)
    for i in range(4):
        b = 0
        rows = [(f"k{j}", 100 + i) for j in range(8)]
        df = _mk(spark, rows).withColumn("__b", bucket).filter(F.col("__b") == b).drop("__b")
        cat.overwrite_partitions("t", df, bucket, touched=[b])
    before = {(r["k"], r["v"]) for r in cat.read("t", sch).collect()}
    cat.expire_snapshots("t", keep_last=1)
    after = {(r["k"], r["v"]) for r in cat.read("t", sch).collect()}
    assert before == after


def test_crawl_with_expiry_resumes_exactly(spark):
    """expire_keep_snapshots=1 active during the crawl: kill, resume
    with a fresh engine, final trace still bit-exact vs the
    simulator (resume needs only HEAD)."""
    site = fixture_site()
    docs = documents_df(spark, site)
    cfg = CrawlConfig("www.zeit.de", follow_links=True, sequential=True,
                      politeness_sec=0, expire_keep_snapshots=1)
    sim = simulate(site, [SEED], cfg)
    eng, cat = _engine(spark, docs, cfg)
    eng.seed([SEED])
    eng.run(max_epochs=3)
    eng2 = CrawlEngine(spark, cat, cfg, docs)
    eng2.run()
    trace = [
        r["url"]
        for r in cat.read("urls_seen", URLS_SEEN).orderBy("fetch_seq").collect()
    ]
    assert trace == sim.trace
    # manifests actually expired: at most keep_last+1 snap files per table
    for t in cat.tables():
        snaps = [f for f in os.listdir(os.path.join(cat.root, t))
                 if f.startswith("snap-")]
        assert len(snaps) <= 2


def test_expiry_with_colliding_table_names(spark):
    """--items-table users maps comments onto a PHYSICAL name that is
    another sink's LOGICAL key. Per-epoch expiry must address physical
    names on the inner catalog: routed back through the renaming view,
    'users' would be re-mapped to 'accounts' (expired twice) and the
    physical 'users' table never expired — O(epochs) manifest growth,
    the exact leak expire_keep_snapshots exists to stop."""
    site = fixture_site()
    docs = documents_df(spark, site)
    cfg = CrawlConfig("www.zeit.de", follow_links=True, sequential=True,
                      politeness_sec=0, expire_keep_snapshots=1,
                      table_names={"comments": "users", "users": "accounts"})
    eng, cat = _engine(spark, docs, cfg)
    eng.seed([SEED])
    eng.run(max_epochs=4)
    assert cat.exists("users") and cat.exists("accounts")
    for t in cat.tables():
        snaps = [f for f in os.listdir(os.path.join(cat.root, t))
                 if f.startswith("snap-")]
        assert len(snaps) <= 2, f"{t} not expired: {len(snaps)} manifests"
    # each physical table still holds its own sink's rows
    assert cat.read("users", COMMENTS).count() > 0
    assert cat.read("accounts", USERS).count() > 0


# --------------------------------------------------------------------------
# bucketed urls_seen (the per-epoch seen scan reads only the buckets
# the active frontier touches)


def test_crawl_bucketed_seen_bit_exact_and_resume(spark):
    """urls_seen is bucketed from the first epoch (and so the per-epoch
    seen read is pruned): the crawl trace must stay bit-exact vs the
    simulator, and a fresh engine resuming mid-crawl must fetch no
    duplicates."""
    site = fixture_site()
    docs = documents_df(spark, site)
    cfg = CrawlConfig("www.zeit.de", follow_links=True, sequential=True,
                      politeness_sec=0)
    sim = simulate(site, [SEED], cfg)

    eng, cat = _engine(spark, docs, cfg)
    eng.seed([SEED])
    eng.run(max_epochs=3)
    # mid-crawl: layout already bucketed, pruning engaged
    assert cat.prunable_buckets("urls_seen", {"n_host_buckets": cfg.n_host_buckets})
    eng2 = CrawlEngine(spark, cat, cfg, docs)
    eng2.run()
    trace = [r["url"] for r in cat.read("urls_seen", URLS_SEEN)
             .orderBy("fetch_seq").collect()]
    assert trace == sim.trace


def test_crawl_bucketed_seen_resume_changed_host_buckets(spark):
    """Resuming a bucketed-seen catalog with a DIFFERENT
    n_host_buckets must not prune against stale bucket ids (silent
    duplicate fetches): pruning disengages on the spec mismatch, the
    next append consolidates under the new spec, and the final seen
    set equals an uninterrupted run's."""
    site = fixture_site()
    docs = documents_df(spark, site)
    base = dict(follow_links=True, politeness_sec=0, per_host_budget=4)
    cfg1 = CrawlConfig("www.zeit.de", n_host_buckets=256, **base)
    cfg2 = CrawlConfig("www.zeit.de", n_host_buckets=64, **base)

    eng, cat = _engine(spark, docs, cfg1)
    eng.seed([SEED])
    eng.run(max_epochs=2)
    assert cat.prunable_buckets("urls_seen", {"n_host_buckets": 256})
    eng2 = CrawlEngine(spark, cat, cfg2, docs)
    eng2.run()
    assert cat.prunable_buckets("urls_seen", {"n_host_buckets": 64})

    ref_eng, ref_cat = _engine(spark, docs, cfg1)
    ref_eng.seed([SEED])
    ref_eng.run()
    got = [r["url"] for r in cat.read("urls_seen", URLS_SEEN).collect()]
    want = {r["url"] for r in ref_cat.read("urls_seen", URLS_SEEN).collect()}
    assert len(got) == len(set(got)), "duplicate fetches after resume"
    assert set(got) == want
