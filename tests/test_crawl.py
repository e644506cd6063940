"""Crawl-loop fidelity tests: the Spark engine vs the pure-Python
simulator of the reference's runScrapers semantics (App.hs:38-69).

Sequential mode (one URL per epoch) must reproduce the reference's
fetch *order* bit-for-bit; wide epochs must reproduce the same final
seen/url/item *sets* (SURVEY.md §7.3)."""

from __future__ import annotations

import os
import tempfile
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from epoch_faults import COMMIT_POINTS, SINK_POINTS, crawl_state, crawl_through_faults
from reference_sim import simulate
from scrapetition_spark.config import ALL_LINKS_DISPATCHERS, CrawlConfig
from scrapetition_spark.crawl import CrawlEngine
from scrapetition_spark.schemas import COMMENTS, URL_EDGES, URLS, URLS_SEEN
from scrapetition_spark.sources.catalog import Catalog
from scrapetition_spark.sources.fixtures import documents_df, fixture_site
from scrapetition_spark.plans.seen import BloomFilter

SEED = "https://www.zeit.de/politik/2020-01/art-a"
SEQ_FIFO = CrawlConfig("www.zeit.de", follow_links=True, sequential=True,
                       politeness_sec=0)


@pytest.fixture(scope="module")
def site():
    return fixture_site()


@pytest.fixture(scope="module")
def docs(spark, site):
    return documents_df(spark, site).localCheckpoint()


def _engine(spark, docs, cfg, **kw):
    cat = Catalog(spark, tempfile.mkdtemp(prefix="crawl-"))
    return CrawlEngine(spark, cat, cfg, docs, **kw), cat


@pytest.fixture(scope="module")
def fifo_catalog(spark, docs):
    """The clean sequential FIFO crawl of the fixture site."""
    eng, cat = _engine(spark, docs, SEQ_FIFO)
    eng.seed([SEED])
    eng.run()
    return cat


def _trace(cat):
    return [
        r["url"]
        for r in cat.read("urls_seen", URLS_SEEN).orderBy("fetch_seq").collect()
    ]


def _urlset(cat):
    return {r["url"] for r in cat.read("urls", URLS).select("url").collect()}


def _edgeset(cat):
    return {
        (r["source"], r["target"])
        for r in cat.read("url_edges", URL_EDGES).collect()
    }


def _commentids(cat):
    return {r["id"] for r in cat.read("comments", COMMENTS).collect()}


def test_sequential_fifo_exact_order(site, fifo_catalog):
    cat = fifo_catalog
    sim = simulate(site, [SEED], SEQ_FIFO)
    assert _trace(cat) == sim.trace
    assert _urlset(cat) == set(sim.inserted_urls)
    assert _edgeset(cat) == set(sim.edges)
    assert _commentids(cat) == {c["id"] for c in sim.comments}


def test_sequential_lifo_exact_order(spark, site, docs):
    cfg = CrawlConfig("www.zeit.de", follow_links=True, lifo=True,
                      sequential=True, politeness_sec=0)
    sim = simulate(site, [SEED], cfg)
    eng, cat = _engine(spark, docs, cfg)
    eng.seed([SEED])
    eng.run()
    assert _trace(cat) == sim.trace
    # LIFO differs from FIFO on this site — the test is not vacuous
    fifo = simulate(site, [SEED], CrawlConfig("www.zeit.de", follow_links=True))
    assert sim.trace != fifo.trace


def test_sequential_cross_domain_prefix(spark, site, docs):
    """-x gate (C7): profile.zeit.de pages become reachable. Prefix
    comparison bounds runtime."""
    cfg = CrawlConfig("www.zeit.de", follow_links=True, cross_domain=True,
                      sequential=True, politeness_sec=0)
    sim = simulate(site, [SEED], cfg)
    eng, cat = _engine(spark, docs, cfg)
    eng.seed([SEED])
    eng.run(max_epochs=7)
    assert _trace(cat) == sim.trace[:7]
    assert any("profile.zeit.de" in u for u in sim.trace)  # gate opened


def test_no_follow_still_inserts(spark, site, docs):
    """C6: without -f no URL enters the frontier, but discovered URLs
    and edges are still written (App.hs:89-90)."""
    cfg = CrawlConfig("www.zeit.de", follow_links=False, sequential=True,
                      politeness_sec=0)
    sim = simulate(site, [SEED], cfg)
    eng, cat = _engine(spark, docs, cfg)
    eng.seed([SEED])
    eng.run()
    assert _trace(cat) == sim.trace == [SEED]
    assert _urlset(cat) == set(sim.inserted_urls)
    assert len(_urlset(cat)) > 1  # discoveries recorded
    assert _edgeset(cat) == set(sim.edges)


def test_all_links_dispatcher_hygiene(spark, site, docs):
    """Generic all-links registry (Generic.hs:91-98): anchors are
    followed, #frag/mailto:/javascript: dropped (U7)."""
    cfg = CrawlConfig("www.zeit.de", follow_links=True, cross_domain=True,
                      sequential=True, politeness_sec=0,
                      dispatchers=ALL_LINKS_DISPATCHERS)
    sim = simulate(site, [SEED], cfg)
    eng, cat = _engine(spark, docs, cfg)
    eng.seed([SEED])
    eng.run()
    assert _trace(cat) == sim.trace
    assert not any(
        u.startswith(("#", "mailto:", "javascript:")) for u in _urlset(cat)
    )


def test_wide_epochs_same_final_state(spark, site, docs):
    """The scale path: many URLs per epoch. Fetch order differs from
    the sequential reference but the final seen/url/edge/comment sets
    are identical, and per-host politeness ordering holds."""
    cfg_seq = CrawlConfig("www.zeit.de", follow_links=True, politeness_sec=0)
    sim = simulate(site, [SEED], cfg_seq)
    cfg = CrawlConfig("www.zeit.de", follow_links=True, sequential=False,
                      politeness_sec=0, per_host_budget=4, max_urls_per_epoch=100)
    eng, cat = _engine(spark, docs, cfg)
    eng.seed([SEED])
    stats = eng.run()
    assert len(stats) < len(sim.trace)  # actually batched
    assert set(_trace(cat)) == set(sim.trace)
    assert _urlset(cat) == set(sim.inserted_urls)
    assert _edgeset(cat) == set(sim.edges)
    assert _commentids(cat) == {c["id"] for c in sim.comments}


def test_resume_idempotent(spark, site, docs):
    """Kill-and-restart (≙ -d resume, Main.hs:247-250): a new engine
    on the same catalog finishes the crawl to the identical state."""
    sim = simulate(site, [SEED], SEQ_FIFO)
    eng, cat = _engine(spark, docs, SEQ_FIFO)
    eng.seed([SEED])
    eng.run(max_epochs=3)
    # fresh engine = fresh driver process; state only from the catalog
    eng2 = CrawlEngine(spark, cat, SEQ_FIFO, docs)
    eng2.run()
    assert _trace(cat) == sim.trace
    assert _urlset(cat) == set(sim.inserted_urls)


def test_failure_at_every_write_resumes_to_clean_state(
    spark, site, docs, fifo_catalog, monkeypatch
):
    """Kill-and-restart inside epochs (≙ -d resume, Main.hs:247-250):
    the sequential crawl's epochs fail, in turn, at each of their
    writes — every item sink, url_edges, the urls commit, the
    urls_seen append, the metrics append and the epoch record — and a
    fresh engine resumes after each, with per-epoch snapshot expiry at
    its tightest. The catalog ends equal to the clean crawl's (trace,
    urls, edges, items, each epoch's metrics row once), the trace is
    bit-exact vs the simulator, urls_seen stays bucketed and expiry
    still bounds the manifests."""
    cfg = replace(SEQ_FIFO, expire_keep_snapshots=1)
    sim = simulate(site, [SEED], cfg)
    cat = crawl_through_faults(
        spark, monkeypatch, lambda c: CrawlEngine(spark, c, cfg, docs), SEED,
        SINK_POINTS + COMMIT_POINTS, len(sim.trace),
    )
    assert crawl_state(cat) == crawl_state(fifo_catalog)
    assert _trace(cat) == sim.trace
    assert _urlset(cat) == set(sim.inserted_urls)
    assert cat.prunable_buckets("urls_seen", {"n_host_buckets": cfg.n_host_buckets})
    for t in cat.tables():
        snaps = [f for f in os.listdir(os.path.join(cat.root, t))
                 if f.startswith("snap-")]
        assert len(snaps) <= 2, t


def test_bloom_exactness(spark):
    """Bloom positives are verified exactly; negatives never drop a
    URL (unseen() returns exactly frontier ∖ seen)."""
    from scrapetition_spark.plans.seen import unseen

    n = 5000
    cand = spark.range(n).select(F.concat(F.lit("u"), "id").alias("url"))
    seen = spark.range(0, n, 2).select(F.concat(F.lit("u"), "id").alias("url"))
    bloom = BloomFilter.empty(n, bits_per_key=8).build_from(seen)
    # the fold counts its keys, so unseen() really probes the filter
    assert bloom.n_keys == n // 2
    probed = bloom.probe_column(seen)
    assert probed.filter(~F.col("__maybe_seen")).count() == 0  # no false negatives
    got = {r["url"] for r in unseen(cand, seen, bloom).collect()}
    want = {f"u{i}" for i in range(1, n, 2)}
    assert got == want


def test_robots_gating(spark, site, docs):
    """North-rule robots deny-join: disallowed URLs are never fetched
    (never enter urls_seen) but discoveries are still recorded; the
    rest of the crawl proceeds unchanged."""
    cfg = CrawlConfig("www.zeit.de", follow_links=True, sequential=True,
                      politeness_sec=0, respect_robots=True)
    sim = simulate(site, [SEED], cfg)
    # deny everything under /kultur/ on www.zeit.de
    robots = spark.createDataFrame(
        [("www.zeit.de", "/kultur/", 0)],
        ["host", "path_prefix", "allow"],
    )
    eng, cat = _engine(spark, docs, cfg, robots=robots)
    eng.seed([SEED])
    eng.run()
    trace = _trace(cat)
    denied = [u for u in sim.trace
              if u.startswith("https://www.zeit.de/kultur/")]
    assert denied, "fixture must contain a deniable URL"
    assert not any(u in trace for u in denied)
    # every allowed URL from the reference trace was still fetched
    assert [u for u in sim.trace if u not in denied] == trace
    # the denied URL discovered from a fetched page is still inserted
    # (S6 semantics); its own children were never discovered because
    # the page was never fetched
    assert "https://www.zeit.de/kultur/2020-02/art-b" in _urlset(cat)


def test_robots_deny_scheme_independent(spark):
    """An http:// URL on a denied host must be filtered too — the r01
    matcher compared against an 'https://'-prefixed string, so any
    other scheme bypassed robots (VERDICT r01 §wrong 3). The matcher
    now compares (host, path-component prefix)."""
    from scrapetition_spark.plans.frontier import plan_due

    def u_row(url, host, pos):
        return (url, None, None, None, None, None, None, "t",
                host, 0, None, 1, 0, 0, 0, pos)

    urls = spark.createDataFrame(
        [
            u_row("http://bad.test/kultur/x", "bad.test", 0),
            u_row("https://bad.test/kultur/y", "bad.test", 1),
            u_row("https://bad.test/politik/z", "bad.test", 2),
            u_row("https://ok.test/kultur/w", "ok.test", 3),
        ],
        URLS,
    )
    robots = spark.createDataFrame(
        [("bad.test", "/kultur/", 0)], ["host", "path_prefix", "allow"]
    )
    cfg = CrawlConfig("", follow_links=True, cross_domain=True,
                      politeness_sec=0, respect_robots=True,
                      per_host_budget=10)
    seen = spark.createDataFrame([], URLS_SEEN)
    due = plan_due(urls, seen, cfg, 0, robots)
    got = {r["url"] for r in due.select("url").collect()}
    assert got == {"https://bad.test/politik/z", "https://ok.test/kultur/w"}


def test_salted_due_plan_equivalence(spark, site, docs):
    """Two-phase salted top-K (hot-host skew defusal) must produce the
    identical due set and per-host order as the direct window."""
    from scrapetition_spark.plans.frontier import assign_fetch_seq, plan_due

    cfg = CrawlConfig("www.zeit.de", follow_links=True, sequential=False,
                      politeness_sec=0, per_host_budget=2)
    eng, cat = _engine(spark, docs, cfg)
    eng.seed([SEED])
    eng.run(max_epochs=2)  # populate a non-trivial frontier

    urls = cat.read("urls", URLS)
    seen = cat.read("urls_seen", URLS_SEEN)

    def due_with(n_salts):
        c = replace(cfg, n_frontier_salts=n_salts)
        raw = plan_due(urls, seen, c, 0).select(
            "url", "host", "host_bucket",
            "discovery_epoch", "source_fetch_seq", "dispatcher_idx", "pos",
        ).localCheckpoint()
        out, _, _ = assign_fetch_seq(raw, c, 0)
        return sorted(
            (r["url"], r["fetch_seq"]) for r in out.collect()
        )

    assert due_with(1) == due_with(8)


def test_crawl_then_answer_and_cooccurrence(spark, site, docs):
    """Produce-then-analyze (VERDICT r02 next-4): crawl the fixture,
    propagate threads over the crawled ``comments`` table (threadview
    before answers/cooccurence — utils/answers.sql:6), then run the
    crawl-native A10/A11 operators and check every edge against an
    expectation computed in pure Python from the simulator's comment
    set — the whole reference workflow end-to-end."""
    from collections import Counter

    from scrapetition_spark.operators.analytics import (
        answer_graph_comments,
        cooccurrence_comments,
    )
    from scrapetition_spark.operators.threads import propagate_threads

    cfg = CrawlConfig("www.zeit.de", follow_links=True, politeness_sec=0,
                      per_host_budget=4)
    sim = simulate(site, [SEED], cfg)
    eng, cat = _engine(spark, docs, cfg)
    eng.seed([SEED])
    eng.run()

    comments = propagate_threads(
        cat.read("comments", COMMENTS), domain_col="domain"
    )
    # name := user so edges are keyed on the stable author id (the
    # fixture's display names are not what the sim extracts)
    named = comments.withColumn("name", F.col("user"))

    # independent expectation from the simulator's comments
    by_id = {c["id"]: c for c in sim.comments}

    def root(cid: str) -> str:
        seen_ids = set()
        while by_id[cid]["parent"] in by_id and cid not in seen_ids:
            seen_ids.add(cid)
            cid = by_id[cid]["parent"]
        return cid

    exp_answers: Counter = Counter()
    for c in sim.comments:
        p = by_id.get(c["parent"])
        if p is not None:
            exp_answers[(c["user"], p["user"])] += 1
    threads: dict[str, set] = {}
    for c in sim.comments:
        threads.setdefault(root(c["id"]), set()).add(c["user"])
    exp_cooc: Counter = Counter()
    for members in threads.values():
        for a in members:
            for b in members:
                # SQL's a.name != b.name is NULL-dropping: anonymous
                # authors never make a co-occurrence edge
                if a is not None and b is not None and a != b:
                    exp_cooc[(a, b)] += 1

    got_answers = {
        (r["source"], r["target"]): r["weight"]
        for r in answer_graph_comments(named).collect()
    }
    assert got_answers == dict(exp_answers)
    got_cooc = {
        (r["source"], r["target"]): r["weight"]
        for r in cooccurrence_comments(named).collect()
    }
    assert got_cooc == dict(exp_cooc)


def test_crawl_then_pagerank(spark, site, docs):
    """Produce-then-rank: crawl the fixture, then PageRank the
    actually-crawled url_edges table; expectation computed by an
    independent pure-Python power iteration over the simulator's
    edge set — the link-authority signal a frontier scheduler would
    feed back as priority, end-to-end on real crawl output."""
    from scrapetition_spark.operators.graph import pagerank

    cfg = CrawlConfig("www.zeit.de", follow_links=True, politeness_sec=0,
                      per_host_budget=4)
    sim = simulate(site, [SEED], cfg)
    eng, cat = _engine(spark, docs, cfg)
    eng.seed([SEED])
    eng.run()

    edges_df = cat.read("url_edges", URL_EDGES).select(
        F.col("source").alias("src"), F.col("target").alias("dst")
    )
    got = {r["node"]: r["nrank"] for r in pagerank(edges_df).collect()}

    # independent replica over the simulator's edges (leaky-mass,
    # 10 iterations, nodes = distinct endpoints like pagerank derives)
    sim_edges = sorted(set(sim.edges))
    nodes = sorted({u for e in sim_edges for u in e})
    n = len(nodes)
    outdeg = {}
    for s, _ in sim_edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {u: 1.0 / n for u in nodes}
    for _ in range(10):
        nxt = {u: 0.15 / n for u in nodes}
        for s, d in sim_edges:
            nxt[d] += 0.85 * rank[s] / outdeg[s]
        rank = nxt
    assert set(got) == set(nodes)
    for u in nodes:
        assert got[u] == pytest.approx(rank[u] * n, abs=2e-6), u
    # the seed article is linked by every comment page: it is THE
    # top-ranked node (raw nranks sit below 1.0 here — comment leaf
    # pages have no outlinks, so the leaky formulation sheds mass)
    assert max(got, key=got.get) == SEED
