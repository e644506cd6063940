"""The crawl epoch runs as JVM work: no Python worker starts or runs
during a crawl, and the native partitioned bloom holds the same bytes
as a numpy fold of the double-hashing positions."""

from __future__ import annotations

import os
import tempfile
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from scrapetition_spark.config import CrawlConfig, Dispatcher
from scrapetition_spark.crawl import CrawlEngine
from scrapetition_spark.plans.seen import PartitionedBloom
from scrapetition_spark.sources import fixtures
from scrapetition_spark.sources.catalog import Catalog

SEED = "https://www.zeit.de/politik/2020-01/art-a"
SYNTH_DISPATCHERS = (
    Dispatcher("bench", r"^https://h\d+\.test/.*", "comment",
               url_collectors=("js-comment-loader", "pager__page")),
)


def _python_processes(jvm_pid: int) -> dict[int, int | None]:
    """pid → utime+stime ticks of every live descendant of the JVM
    whose command line names pyspark: the worker daemon (ticks None:
    it only forks and reaps workers) and the workers it forks."""
    parent, ticks, pyspark = {}, {}, set()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:  # exited while listing
            continue
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = int(fields[11]) + int(fields[12])
        if b"pyspark" in cmd and fields[0] not in ("Z", "X"):
            pyspark.add(int(d))

    def under_jvm(pid: int) -> bool:
        while pid in parent and pid > 1:
            pid = parent[pid]
            if pid == jvm_pid:
                return True
        return False

    return {
        p: ticks[p] if parent[p] in pyspark else None
        for p in pyspark if under_jvm(p)
    }


def _assert_no_python_work(spark, run) -> None:
    """No Python process starts under the JVM during ``run`` and no
    worker gains CPU time. Two kinds of noise from workers pooled by
    earlier tests are not work: the JVM closes a worker that sat idle
    for a minute, and the worker spends a tick or two exiting (it is
    gone shortly after ``run``; a worker that ran a task stays pooled),
    and an idle worker is now and then charged a single tick (seen once
    in three full-suite runs). Python work costs far more: with the
    pandas bloom kernels and the Python-RDD local frames this crawl
    used before, run after a pandas UDF test, every reused worker
    gained 47–104 ticks."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    # a worker that just served the fixtures' Python RDD may still be
    # winding down: take the baseline once the workers are idle
    before = _python_processes(jvm_pid)
    for _ in range(20):
        time.sleep(0.5)
        before, prev = _python_processes(jvm_pid), before
        if before == prev:
            break
    run()
    after = _python_processes(jvm_pid)
    assert set(after) <= set(before), f"new Python processes {set(after) - set(before)}"
    busy = {p: after[p] - before[p] for p in after if (after[p] or 0) > (before[p] or 0) + 1}
    if busy:
        time.sleep(2)
        alive = _python_processes(jvm_pid)
        busy = {p: t for p, t in busy.items() if p in alive}
    assert not busy, f"Python workers gained CPU ticks: {busy}"


def test_crawl_epochs_start_no_python_worker(spark):
    """Two epochs of a wide crawl and of a sequential crawl, seeding
    included: no Python worker process appears under the JVM and none
    gains CPU time."""
    site = fixtures.documents_df(spark, fixtures.fixture_site()).localCheckpoint()
    synth = fixtures.synthetic_web(spark, n_docs=300, n_hosts=4, fanout=4,
                                   seed=5).localCheckpoint()
    seeds = [r[0] for r in synth.select("doc_id").orderBy("doc_id").limit(40).collect()]

    def wide():
        cfg = CrawlConfig("h0.test", follow_links=True, politeness_sec=0,
                          per_host_budget=8, max_urls_per_epoch=None,
                          dispatchers=SYNTH_DISPATCHERS)
        cat = Catalog(spark, tempfile.mkdtemp(prefix="pyfree-wide-"))
        eng = CrawlEngine(spark, cat, cfg, synth)
        eng.seed(seeds)
        assert len(eng.run(max_epochs=2)) == 2

    def sequential():
        cfg = CrawlConfig("www.zeit.de", follow_links=True, sequential=True,
                          politeness_sec=0)
        cat = Catalog(spark, tempfile.mkdtemp(prefix="pyfree-seq-"))
        eng = CrawlEngine(spark, cat, cfg, site)
        eng.seed([SEED])
        assert len(eng.run(max_epochs=2)) == 2

    _assert_no_python_work(spark, wide)
    _assert_no_python_work(spark, sequential)


def _positions(h64: np.ndarray, m_bits: int, k: int):
    """Reference double hashing on the uint64 hash."""
    h = h64.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)).astype(np.int64)


def _numpy_sidecar(rows, m_bits: int, k: int) -> dict[int, tuple[bytes, int]]:
    """bucket → (bits, n_keys) folded in numpy from (bucket, xxhash64)."""
    by_bucket: dict[int, list[int]] = {}
    for b, h in rows:
        by_bucket.setdefault(b, []).append(h)
    out = {}
    for b, hs in by_bucket.items():
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        for pos in _positions(np.array(hs, dtype=np.int64), m_bits, k):
            np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        out[b] = (bits.tobytes(), len(hs))
    return out


@pytest.mark.parametrize("expected_keys,n_buckets", [(10_000, 16), (100_000, 4)])
def test_sidecar_bytes_equal_numpy_fold(spark, expected_keys, n_buckets):
    """10^4 keys over five buckets (one holding only two keys, so some
    of its 32,768-bit chunks are empty): the native build, and the
    OR-merge of two partial builds, store exactly the numpy fold's
    bytes and key counts, for m_bits below and above one chunk."""
    keys = spark.range(10_000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string")).alias("url"),
        F.when(F.col("id") < 2, F.lit(4)).otherwise(F.col("id") % 4)
        .cast("int").alias("host_bucket"),
        "id",
    ).localCheckpoint()
    pb = PartitionedBloom(expected_keys, bits_per_key=16, n_buckets=n_buckets)
    assert (pb.m_bits < 32768) == (expected_keys == 10_000)
    want = _numpy_sidecar(
        keys.select("host_bucket", F.xxhash64("url")).collect(), pb.m_bits, pb.k
    )

    def stored(df):
        return {r["bucket"]: (bytes(r["bits"]), r["n_keys"]) for r in df.collect()}

    assert stored(pb.build(keys)) == want
    merged = pb.or_merge(
        pb.build(keys.filter(F.col("id") % 3 == 0))
        .unionByName(pb.build(keys.filter(F.col("id") % 3 != 0)))
    )
    assert stored(merged) == want
    assert sum(n for _, n in want.values()) == 10_000
