"""Spark's generated-code cache holds the engine's working set.

Whole-stage codegen compiles each plan's Java source with Janino and
keeps the class in an LRU cache keyed by that source. At Spark's
default of 100 entries the cache is smaller than one pass over the
benchmark queries or one crawl epoch, so every pass recompiled every
class. ``session.get_spark`` sizes it; these tests read the JVM's
compile counter to check that repeated work reuses compiled code."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from scrapetition_spark.config import CrawlConfig, Dispatcher
from scrapetition_spark.crawl import CrawlEngine
from scrapetition_spark.sources import fixtures
from scrapetition_spark.sources.catalog import Catalog
from test_operators import SF

QUERY_KEYS = ("a7_top_visited d1_exact_dedup s1_cosine_topk t5_repetition_scores "
              "c12_thread_propagation a16_pagerank").split()


def _compiles(spark) -> int:
    """Classes compiled by this JVM so far (one per cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_query_pass_compiles_nothing(spark):
    import __spark_entry__ as E

    queries = E.queries()

    def one_pass() -> int:
        before = _compiles(spark)
        for key in QUERY_KEYS:
            queries[key](spark, SF).write.format("noop").mode("overwrite").save()
        return _compiles(spark) - before

    one_pass()
    assert one_pass() == 0


class _CountingEngine(CrawlEngine):
    """Records the classes compiled by each epoch."""

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self.epoch_compiles: list[int] = []

    def run_epoch(self, epoch: int):
        before = _compiles(self.spark)
        st = super().run_epoch(epoch)
        self.epoch_compiles.append(_compiles(self.spark) - before)
        return st


def test_warm_crawl_epoch_reuses_compiled_code(spark):
    docs = fixtures.synthetic_web(spark, n_docs=600, n_hosts=8, fanout=6,
                                  seed=7).localCheckpoint()
    cfg = CrawlConfig(
        start_domain="", follow_links=True, cross_domain=True, politeness_sec=0,
        per_host_budget=8, max_urls_per_epoch=None,
        dispatchers=(Dispatcher("bench", r"^https://h\d+\.test/.*", "comment",
                                url_collectors=("js-comment-loader", "pager__page")),),
    )
    cat = Catalog(spark, tempfile.mkdtemp(prefix="codegen-"))
    eng = _CountingEngine(spark, cat, cfg, docs)
    eng.seed_frame(docs.select(F.col("doc_id").alias("target"))
                   .filter(F.xxhash64("doc_id") % 2 == 0))
    stats = eng.run(max_epochs=3)
    assert len(stats) == 3 and all(st.urls_due > 0 for st in stats)
    # what still compiles, every epoch: classes whose source inlines a
    # per-epoch literal (the epoch number, fetch_seq_base, timestamps),
    # so the lower bound also shows the counter is live
    assert 0 < eng.epoch_compiles[-1] <= 30, eng.epoch_compiles
