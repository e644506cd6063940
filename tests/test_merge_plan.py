"""One MERGE rule: every bucketed sink resolves as one union grouped
by (bucket, key), so its write runs one shuffle and broadcasts none of
the table's existing rows. Plan shapes and job counts are read from
Spark's SQL status store (the final plan of each execution)."""

from __future__ import annotations

import os
import tempfile
from dataclasses import replace

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from scrapetition_spark.config import CrawlConfig, Dispatcher
from scrapetition_spark.crawl import CrawlEngine
from scrapetition_spark.sources import fixtures
from scrapetition_spark.sources.catalog import Catalog


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SqlExecutions:
    """The SQL executions that start after construction: per
    execution, its jobs, its shuffle exchanges, the broadcast
    exchanges that read a parquet table, and the table dir it writes
    under ``root``. Read from the status store's plan graph, which
    holds each exchange of the final adaptive plan once."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.mark = max(self._ids(), default=-1)

    def _ids(self) -> list[int]:
        return [e.executionId() for e in _seq(self.store.executionsList())]

    def since(self, root: str) -> list[dict]:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out = []
        for e in _seq(self.store.executionsList()):
            if e.executionId() <= self.mark:
                continue
            graph = self.store.planGraph(e.executionId())
            nodes = {n.id(): n for n in _seq(graph.allNodes())}
            children: dict[int, list[int]] = {}
            for edge in _seq(graph.edges()):
                children.setdefault(edge.toId(), []).append(edge.fromId())

            def reads_parquet(nid: int) -> bool:
                n = nodes[nid]
                return n.name().startswith("Scan parquet") or any(
                    reads_parquet(c) for c in children.get(nid, [])
                )

            writes = [
                n.desc().split(root + os.sep, 1)[1].split(os.sep, 1)[0]
                for n in nodes.values()
                if n.name().startswith("Execute") and root + os.sep in n.desc()
            ]
            out.append({
                "table": writes[0] if writes else None,
                "jobs": e.jobs().size(),
                "exchanges": sum(n.name() == "Exchange" for n in nodes.values()),
                "broadcast_parquet": sum(
                    n.name() == "BroadcastExchange" and reads_parquet(i)
                    for i, n in nodes.items()
                ),
            })
        return out


def _jobs_so_far(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def test_bucketed_merge_is_one_shuffle(spark):
    """A bucketed MERGE of a batch holding duplicates of existing keys
    and new keys: its write runs one shuffle Exchange and broadcasts
    no existing rows, and the rows equal INSERT OR IGNORE's."""
    sch = StructType([StructField("k", StringType()), StructField("v", IntegerType())])
    cat = Catalog(spark, tempfile.mkdtemp(prefix="mergeplan-"))
    bucket, spec = F.pmod(F.xxhash64("k"), F.lit(16)).cast("int"), {"n": 16}
    cat.merge_insert("t", spark.createDataFrame([(f"k{i}", i) for i in range(40)], sch),
                     ["k"], sch, bucket_expr=bucket, bucket_spec=spec)
    batch = spark.createDataFrame(
        [(f"k{i}", -1) for i in range(0, 60, 3)] + [("k50", 7), ("new", 2), ("new", 1)],
        sch,
    )
    ex = SqlExecutions(spark)
    cat.merge_insert("t", batch, ["k"], sch, bucket_expr=bucket, bucket_spec=spec,
                     touched=list(range(16)))
    writes = [e for e in ex.since(cat.root) if e["table"] == "t"]
    assert len(writes) == 1, writes
    assert writes[0]["exchanges"] == 1 and writes[0]["broadcast_parquet"] == 0, writes
    rows = {r["k"]: r["v"] for r in cat.read("t", sch).collect()}
    # existing keys keep their rows; of the batch's two "new" rows the
    # least wins (no order columns)
    assert rows == {**{f"k{i}": i for i in range(40)},
                    **{f"k{i}": -1 for i in range(42, 60, 3)}, "k50": 7, "new": 1}


class _PlanEngine(CrawlEngine):
    """Records the SQL executions and the job count of each epoch."""

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self.epochs: list[tuple[int, list[dict]]] = []

    def run_epoch(self, epoch: int):
        ex, jobs = SqlExecutions(self.spark), _jobs_so_far(self.spark)
        st = super().run_epoch(epoch)
        self.epochs.append((_jobs_so_far(self.spark) - jobs, ex.since(self.cat.root)))
        return st


def test_warm_epoch_sinks_are_one_shuffle_each(spark):
    """A warm epoch of a multi-host crawl: the urls commit and each
    bucketed item MERGE run one shuffle Exchange and broadcast no
    existing rows, and the epoch runs at most the 26 Spark jobs
    measured with ``fetched`` a projection of the pages and catalog
    reads under the declared schema (32 before; 45 when the MERGEs
    were anti-joins and the urls commit a two-join rewrite). The same
    epoch under ``-a``, on the same catalog state (rolled back to the
    commit record before the default epoch), runs no more jobs: its
    seen check is a predicate on the urls scan."""
    docs = fixtures.synthetic_web(spark, n_docs=600, n_hosts=8, fanout=6,
                                  seed=7).localCheckpoint()
    cfg = CrawlConfig(
        start_domain="", follow_links=True, cross_domain=True, politeness_sec=0,
        per_host_budget=8, max_urls_per_epoch=None,
        dispatchers=(Dispatcher("bench", r"^https://h\d+\.test/.*", "comment",
                                url_collectors=("js-comment-loader", "pager__page")),),
    )
    cat = Catalog(spark, tempfile.mkdtemp(prefix="mergeplan-crawl-"))
    eng = _PlanEngine(spark, cat, cfg, docs)
    eng.seed_frame(docs.select(F.col("doc_id").alias("target"))
                   .filter(F.xxhash64("doc_id") % 2 == 0))
    assert len(eng.run(max_epochs=2)) == 2
    record = os.path.join(cat.root, "_RECORD.json")
    with open(record) as f:
        before = f.read()
    stats = eng.run(max_epochs=1)
    assert len(stats) == 1 and stats[0].urls_due > 0
    jobs, executions = eng.epochs[-1]
    writes = {e["table"]: e for e in executions if e["table"]}
    assert {"urls", "comments", "url_edges"} <= set(writes), writes
    for table in ("urls", "comments", "url_edges"):
        assert writes[table]["exchanges"] == 1, (table, writes[table])
        assert writes[table]["broadcast_parquet"] == 0, (table, writes[table])
    assert jobs <= 26, (jobs, executions)

    with open(record, "w") as f:
        f.write(before)
    # the same engine, so the once-per-engine fallback-bucket job is
    # not counted again
    eng.cfg = replace(cfg, visit_again=True)
    stats = eng.run(max_epochs=1)
    assert len(stats) == 1 and stats[0].epoch == 2 and stats[0].urls_due > 0
    assert eng.epochs[-1][0] <= jobs, (eng.epochs[-1], jobs)
