"""Partitioned bloom (plans/seen.py): exactness and bounded
per-bucket sizing at 10^7 keys. The crawl plans its due sets from
``urls.first_seen`` in every mode: ``bloom_mode="partitioned"`` leaves
the default crawl's state and writes no sidecar. A wide crawl resumes
to the clean crawl's state after a failure at any write of an
epoch."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from epoch_faults import COMMIT_POINTS, SINK_POINTS, crawl_state, crawl_through_faults
from scrapetition_spark.config import CrawlConfig
from scrapetition_spark.crawl import CrawlEngine
from scrapetition_spark.plans.seen import (
    PartitionedBloom,
    PartitionedBloomView,
    unseen,
)
from scrapetition_spark.sources.catalog import Catalog
from scrapetition_spark.sources.fixtures import documents_df, fixture_site

SEED = "https://www.zeit.de/politik/2020-01/art-a"
WIDE = CrawlConfig("www.zeit.de", follow_links=True, politeness_sec=0,
                   per_host_budget=4)


@pytest.fixture(scope="module")
def docs(spark):
    return documents_df(spark, fixture_site()).localCheckpoint()


def _engine(spark, cat, docs, mode=None):
    return CrawlEngine(spark, cat, WIDE, docs, bloom_mode=mode)


def _crawl(spark, docs, mode=None):
    cat = Catalog(spark, tempfile.mkdtemp(prefix=f"bloom-{mode}-"))
    eng = _engine(spark, cat, docs, mode)
    eng.seed([SEED])
    eng.run()
    return cat


@pytest.fixture(scope="module")
def clean_catalog(spark, docs):
    """The clean wide crawl of the fixture site."""
    return _crawl(spark, docs)


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


def test_crawl_partitioned_bloom_same_state(spark, docs, clean_catalog):
    """``bloom_mode="partitioned"`` has no effect on the crawl: it
    writes no bloom sidecar and leaves the default crawl's state —
    trace, urls, edges, items and metrics epochs. Any other
    bloom_mode is rejected."""
    with pytest.raises(ValueError):
        _engine(spark, Catalog(spark, tempfile.mkdtemp(prefix="bloom-bad-")),
                docs, mode="global")
    cat = _crawl(spark, docs, mode="partitioned")
    assert crawl_state(cat) == crawl_state(clean_catalog)
    assert not cat.exists("bloom_sidecar")
    assert not clean_catalog.exists("bloom_sidecar")


def test_failure_at_every_write_resumes_to_clean_state(
    spark, docs, clean_catalog, monkeypatch
):
    """The wide crawl: its epochs fail, in turn, at each of their
    writes — every item sink, url_edges, the urls commit, the
    urls_seen append, the metrics append and the epoch record — and a
    fresh engine resumes after each. The first resume takes the CLI's
    ``-d`` path (``resume_not_seen`` before ``run``), which rolls the
    failed epoch 0 back before it reschedules anything. The catalog
    ends equal to the clean crawl's: trace, urls, edges, items and
    each epoch's metrics row once."""
    clean = crawl_state(clean_catalog)

    def before_run(i, eng):
        if i == 1:
            eng.resume_not_seen()
            assert not eng.cat.exists("urls_seen")  # back at the seed

    cat = crawl_through_faults(
        spark, monkeypatch, lambda c: _engine(spark, c, docs), SEED,
        SINK_POINTS + COMMIT_POINTS, len(clean[2]), before_run,
    )
    assert crawl_state(cat) == clean
