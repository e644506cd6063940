"""Benchmark harness (driver contract).

Runs the headline query suite at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus a wide-epoch
crawl over a deterministic synthetic web (zipf hot hosts), and prints
ONE JSON line:

    {"metric": "urls_fetched_deduped_per_sec", "value": N,
     "unit": "sec", "queries": {...per-query seconds...}, "sf": ...}

The N→4N scaling-efficiency experiment is tools/scaling_bench.py
(two subprocesses at local[8] / local[32]); its results go to
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def run_crawl(
    spark, n_docs: int, n_hosts: int, epochs: int,
    catalog_root: str | None = None,
) -> tuple[int, float]:
    """Wide-epoch crawl on the synthetic web; returns (urls_fetched,
    seconds). Politeness budget per host stays enforced per epoch;
    wall-clock sleep disabled (the metric is engine throughput, the
    reference's 2 s delay is a policy constant, BASELINE.md). Epochs
    are sized large — the regime a 10^10-URL frontier is always in —
    so the fixed per-epoch driver cost (planning, snapshot commits)
    is amortized, exactly as on a real cluster."""
    from pyspark.sql import functions as F

    from scrapetition_spark.config import CrawlConfig, Dispatcher
    from scrapetition_spark.crawl import CrawlEngine
    from scrapetition_spark.sources.catalog import Catalog
    from scrapetition_spark.sources.fixtures import synthetic_web

    docs = synthetic_web(
        spark, n_docs=n_docs, n_hosts=n_hosts, fanout=6, n_comments=3
    ).localCheckpoint()
    cfg = CrawlConfig(
        start_domain="",
        follow_links=True,
        cross_domain=True,
        politeness_sec=0,
        per_host_budget=64,
        max_urls_per_epoch=None,
        dispatchers=(
            Dispatcher(
                "bench",
                r"^https://h\d+\.test/.*",
                "comment",
                url_collectors=("js-comment-loader", "pager__page"),
            ),
        ),
    )
    cat = Catalog(
        spark, tempfile.mkdtemp(prefix="bench-crawl-", dir=catalog_root)
    )
    eng = CrawlEngine(spark, cat, cfg, docs)
    # distributed seeding: half the corpus, hash-spread across hosts
    eng.seed_frame(
        docs.select(F.col("doc_id").alias("target")).filter(
            F.xxhash64("doc_id") % 2 == 0
        )
    )
    t0 = time.time()
    stats = eng.run(max_epochs=epochs)
    dt = time.time() - t0
    fetched = sum(s.urls_due for s in stats)
    stages: dict[str, float] = {}
    for s in stats:
        for k, v in (s.stage_seconds or {}).items():
            stages[k] = round(stages.get(k, 0.0) + v, 2)
    return fetched, dt, stages


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as E
    from scrapetition_spark.session import get_spark

    spark = get_spark(
        app_name="scrapetition-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, int(cpus) * 2),
    )

    headline = [
        "a5_counts_per_domain",
        "a7_top_visited",
        "a10_answer_graph",
        "a11_cooccurrence",
        "a14_concomitance",
        "c1_due_set",
        "c12_thread_propagation",
        "d1_exact_dedup",
        "d2_minhash_lsh",
        "d3_ngram_jaccard",
        "s1_cosine_topk",
        "t3_fingerprints",
        # round-4 additions: the heaviest new text op, the fully
        # composed cleaning pipeline, and the corpus-wide exact
        # substring dedup
        "t5_repetition_scores",
        "p2_full_pipeline",
        "d8_segment_dedup",
        "t10_epoch_shuffle",
        # session additions: the two iterative operators (10-round
        # PageRank over the 15k-edge link graph, 2-round Lloyd) and
        # the cell-local semantic dedup
        "a16_pagerank",
        "s4_kmeans",
        "d10_semantic_dedup",
    ]
    qs = E.queries()
    times: dict[str, float] = {}
    # warm-up: JVM/codegen/python-worker spin-up not counted per-query
    qs["a6_avg_items_per_order"](spark, sf_dir).count()
    for name in headline:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        n = df.count()
        times[name] = round(time.time() - t0, 3)

    # --catalog-tmpfs (or SPARK_GRAFT_CATALOG_TMPFS=1): put the crawl
    # catalog on /dev/shm — the deterministic-device mode (VERDICT r04
    # next#6: round-over-round sink-stage comparisons on this host are
    # confounded by a shared disk whose ambient load moves identical
    # runs 25-38 s; tmpfs isolates engine time from device time).
    # Default stays the disk path the driver measures.
    tmpfs = "--catalog-tmpfs" in sys.argv or os.environ.get(
        "SPARK_GRAFT_CATALOG_TMPFS"
    ) == "1"
    catalog_root = "/dev/shm" if tmpfs and os.path.isdir("/dev/shm") else None

    crawl_docs = int(os.environ.get("SPARK_GRAFT_CRAWL_DOCS", "200000"))
    fetched, crawl_sec, crawl_stages = run_crawl(
        spark, crawl_docs, n_hosts=2000, epochs=2, catalog_root=catalog_root
    )
    times["crawl_wide_epochs"] = round(crawl_sec, 3)
    urls_per_sec = round(fetched / crawl_sec, 1) if crawl_sec > 0 else 0.0

    print(
        json.dumps(
            {
                "metric": "urls_fetched_deduped_per_sec",
                "value": urls_per_sec,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "crawl": {"docs": crawl_docs, "fetched": fetched,
                          "seconds": round(crawl_sec, 2), "cpus": int(cpus),
                          "stages": crawl_stages,
                          "catalog_device": "tmpfs" if catalog_root
                          else "disk"},
            }
        )
    )


if __name__ == "__main__":
    main()
