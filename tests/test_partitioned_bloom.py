"""Partitioned bloom sidecar (plans/seen.py): exactness, bounded
per-bucket sizing at 10^7 keys, crawl-state equivalence with the
default exact anti-join path (VERDICT r01 next-6), and sidecar
recovery on resume."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from scrapetition_spark.plans.seen import (
    BLOOM_SIDECAR,
    PartitionedBloom,
    PartitionedBloomView,
    unseen,
)


def _urls(spark, start, n, n_buckets=32):
    return spark.range(start, start + n).select(
        F.concat(F.lit("https://h"), (F.col("id") % 97).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string")).alias("url")
    ).withColumn(
        "host_bucket",
        F.pmod(F.xxhash64(F.regexp_extract("url", r"https://([^/]+)/", 1)),
               F.lit(n_buckets)).cast("int"),
    )


def test_partitioned_unseen_exact(spark):
    """Bloom-prefiltered unseen == plain anti-join, bit for bit: false
    positives verify exactly, false negatives cannot exist."""
    seen = _urls(spark, 0, 3000).localCheckpoint()
    cand = _urls(spark, 1500, 3000).localCheckpoint()  # half overlap
    pb = PartitionedBloom(expected_keys=4096, bits_per_key=16, n_buckets=32)
    sidecar = pb.build(seen).localCheckpoint()
    got = {
        r["url"]
        for r in unseen(cand, seen, PartitionedBloomView(pb, sidecar)).collect()
    }
    want = {
        r["url"] for r in cand.join(seen.select("url"), ["url"], "left_anti").collect()
    }
    assert got == want
    assert len(got) == 1500


def test_partitioned_probe_prunes(spark):
    """Most truly-unseen candidates come back as definite negatives
    (the anti-join residue stays small — the point of the prefilter)."""
    seen = _urls(spark, 0, 5000).localCheckpoint()
    fresh = _urls(spark, 1_000_000, 2000).localCheckpoint()
    pb = PartitionedBloom(expected_keys=8192, bits_per_key=16, n_buckets=32)
    sidecar = pb.build(seen).localCheckpoint()
    probed = pb.probe(fresh, sidecar)
    n_maybe = probed.filter(F.col("__maybe_seen")).count()
    assert n_maybe < 2000 * 0.05, f"{n_maybe} false positives of 2000"


@pytest.mark.slow
def test_partitioned_sizing_at_1e7(spark):
    """10^7 synthetic keys: every bucket's bitset stays at the planned
    m_bits/8 bytes — per-task memory is bounded by bucket sizing, not
    by total key count (the driver-merged global bitset this replaces
    would be one ~20 MB+ blob here, ~20 GB at 10^10)."""
    n = 10_000_000
    pb = PartitionedBloom(expected_keys=n, bits_per_key=16, n_buckets=256)
    per_bucket_bytes = pb.m_bits // 8
    assert per_bucket_bytes <= (n * 16 // 256) // 8 * 4  # sane plan, no blowup
    keys = spark.range(n).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(256))
        .cast("int").alias("host_bucket"),
    )
    sidecar = pb.build(keys).collect()
    assert len(sidecar) == 256
    assert all(len(r["bits"]) == per_bucket_bytes for r in sidecar)
    assert sum(r["n_keys"] for r in sidecar) == n


def test_crawl_partitioned_bloom_same_state(spark):
    """A full fixture crawl under bloom_mode='partitioned' reproduces
    the default (exact anti-join) crawl's trace and url set exactly.
    Any other bloom_mode is rejected."""
    from scrapetition_spark.config import CrawlConfig
    from scrapetition_spark.crawl import CrawlEngine
    from scrapetition_spark.schemas import URLS, URLS_SEEN
    from scrapetition_spark.sources.catalog import Catalog
    from scrapetition_spark.sources.fixtures import documents_df, fixture_site

    docs = documents_df(spark, fixture_site()).localCheckpoint()
    seed = "https://www.zeit.de/politik/2020-01/art-a"
    cfg = CrawlConfig("www.zeit.de", follow_links=True, politeness_sec=0,
                      per_host_budget=4)

    with pytest.raises(ValueError):
        CrawlEngine(spark, Catalog(spark, tempfile.mkdtemp(prefix="bloom-bad-")),
                    cfg, docs, bloom_mode="global")

    def run(mode):
        cat = Catalog(spark, tempfile.mkdtemp(prefix=f"bloom-{mode}-"))
        eng = CrawlEngine(spark, cat, cfg, docs, bloom_mode=mode,
                          expected_urls=1 << 12)
        eng.seed([seed])
        eng.run()
        trace = [r["url"] for r in cat.read("urls_seen", URLS_SEEN)
                 .orderBy("fetch_seq").collect()]
        urlset = {r["url"] for r in cat.read("urls", URLS).select("url").collect()}
        return trace, urlset, cat

    t_d, u_d, cat_d = run(None)
    t_p, u_p, cat_p = run("partitioned")
    assert t_d == t_p
    assert u_d == u_p
    assert not cat_d.exists("bloom_sidecar")
    assert cat_p.exists("bloom_sidecar")
    assert cat_p.read("bloom_sidecar", BLOOM_SIDECAR).count() > 0


def test_crawl_partitioned_bloom_resume(spark):
    """Interrupt after 2 epochs, damage the sidecar, resume with a
    FRESH engine: final state equals an uninterrupted run. Each damage
    is one input of the engine's single sidecar-recovery check — a
    dropped sidecar and one rewritten into plain files are both
    rebuilt from urls_seen in the partitioned layout, so later epochs
    commit scoped."""
    from scrapetition_spark.config import CrawlConfig
    from scrapetition_spark.crawl import CrawlEngine
    from scrapetition_spark.schemas import URLS_SEEN
    from scrapetition_spark.sources.catalog import Catalog
    from scrapetition_spark.sources.fixtures import documents_df, fixture_site

    docs = documents_df(spark, fixture_site()).localCheckpoint()
    seed = "https://www.zeit.de/politik/2020-01/art-a"
    cfg = CrawlConfig("www.zeit.de", follow_links=True, politeness_sec=0,
                      per_host_budget=4)

    def engine(cat):
        return CrawlEngine(spark, cat, cfg, docs, bloom_mode="partitioned",
                           expected_urls=1 << 12)

    cat1 = Catalog(spark, tempfile.mkdtemp(prefix="bloomres1-"))
    eng = engine(cat1)
    eng.seed([seed])
    eng.run()
    want = {(r["url"], r["fetch_seq"]) for r in
            cat1.read("urls_seen", URLS_SEEN).collect()}

    def drop(cat):
        cat.drop("bloom_sidecar")

    def plain(cat):
        cat.overwrite("bloom_sidecar", cat.read("bloom_sidecar", BLOOM_SIDECAR))
        assert cat.partition_state("bloom_sidecar")[0]

    for damage in (drop, plain):
        cat2 = Catalog(spark, tempfile.mkdtemp(prefix=f"bloomres-{damage.__name__}-"))
        eng2 = engine(cat2)
        eng2.seed([seed])
        eng2.run(max_epochs=2)  # interrupted
        damage(cat2)
        engine(cat2).run()  # fresh engine, same catalog
        got = {(r["url"], r["fetch_seq"]) for r in
               cat2.read("urls_seen", URLS_SEEN).collect()}
        assert got == want, damage.__name__
        has_plain, parts = cat2.partition_state("bloom_sidecar")
        assert parts and not has_plain, damage.__name__


def test_crawl_partitioned_bloom_resume_changed_params(spark):
    """ADVICE r02: a resumed engine with DIFFERENT bloom sizing
    (expected_urls 1<<12 → 1<<16 moves (m_bits, k) from (1024, 16) to
    (4096, 11)) must not probe
    the stored sidecar with mismatched (m_bits, k, n_buckets) — it
    detects the mismatch via the persisted parameters, rebuilds the
    sidecar from urls_seen, and fetches no duplicates."""
    from scrapetition_spark.config import CrawlConfig
    from scrapetition_spark.crawl import CrawlEngine
    from scrapetition_spark.schemas import URLS_SEEN
    from scrapetition_spark.sources.catalog import Catalog
    from scrapetition_spark.sources.fixtures import documents_df, fixture_site

    docs = documents_df(spark, fixture_site()).localCheckpoint()
    seed = "https://www.zeit.de/politik/2020-01/art-a"
    cfg = CrawlConfig("www.zeit.de", follow_links=True, politeness_sec=0,
                      per_host_budget=4)

    cat = Catalog(spark, tempfile.mkdtemp(prefix="bloomparam-"))
    eng = CrawlEngine(spark, cat, cfg, docs, bloom_mode="partitioned",
                      expected_urls=1 << 12)
    eng.seed([seed])
    eng.run(max_epochs=2)  # interrupted mid-crawl, sidecar persisted
    seen_mid = cat.read("urls_seen", URLS_SEEN).count()
    assert seen_mid > 0

    # simulate the crash window the seen anti-join protects: urls_seen
    # rows exist but the urls-table first_seen update never landed —
    # these URLs are frontier candidates again and ONLY the seen
    # filter (bloom + exact anti-join) stops a duplicate fetch
    from scrapetition_spark.schemas import URLS

    urls_tbl = cat.read("urls", URLS)
    cat.overwrite(
        "urls",
        urls_tbl.withColumn("first_seen", F.lit(None).cast("timestamp"))
        .withColumn("in_frontier", F.lit(1)),
    )

    # resume with different sizing → different (m_bits, k): probing
    # the stored sidecar would yield false negatives ("definitely
    # new") for exactly those seen URLs; the engine must detect the
    # persisted-parameter mismatch and rebuild instead
    eng2 = CrawlEngine(spark, cat, cfg, docs, bloom_mode="partitioned",
                       expected_urls=1 << 16)
    assert (eng.pbloom.m_bits, eng.pbloom.k) == (1024, 16)
    assert (eng2.pbloom.m_bits, eng2.pbloom.k) == (4096, 11)
    assert not eng2.pbloom.matches(
        cat.read("bloom_sidecar", BLOOM_SIDECAR))
    eng2.run()
    rows = cat.read("urls_seen", URLS_SEEN).select("url").collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls)), "duplicate fetches after resume"
    # sidecar now persisted under the NEW parameters
    assert eng2.pbloom.matches(cat.read("bloom_sidecar", BLOOM_SIDECAR))
