"""One MERGE rule: every bucketed sink resolves as one union grouped
by (bucket, key), so its write runs one shuffle, sized by AQE to the
buckets it writes, and broadcasts nothing. Plan shapes, job and task
counts are read from Spark's SQL status store (the final plan of each
execution) and its status tracker."""

from __future__ import annotations

import os
import tempfile
from dataclasses import replace

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from scrapetition_spark.config import CrawlConfig, Dispatcher
from scrapetition_spark.crawl import CrawlEngine
from scrapetition_spark.sources import fixtures
from scrapetition_spark.sources.catalog import PART, Catalog


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SqlExecutions:
    """The SQL executions that start after construction: per
    execution, its jobs, the completed tasks of each of its stages in
    stage order (the last is the stage that writes), its shuffle and
    broadcast exchanges, and the table and data dir it writes under
    ``root``. Read from the status store's plan graph, which holds
    each exchange of the final adaptive plan once."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.mark = max(self._ids(), default=-1)

    def _ids(self) -> list[int]:
        return [e.executionId() for e in _seq(self.store.executionsList())]

    def since(self, root: str) -> list[dict]:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.spark.sparkContext.statusTracker()
        out = []
        for e in _seq(self.store.executionsList()):
            if e.executionId() <= self.mark:
                continue
            nodes = _seq(self.store.planGraph(e.executionId()).allNodes())
            names = [n.name() for n in nodes]
            writes = [
                n.desc().split(root + os.sep, 1)[1].split(",", 1)[0]
                for n in nodes
                if n.name().startswith("Execute") and root + os.sep in n.desc()
            ]
            stages = sorted(int(i) for i in e.stages().mkString(",").split(",") if i)
            # a stage the tracker no longer holds ran no task: the
            # store evicts skipped stages (no completion time) first
            infos = [tracker.getStageInfo(i) for i in stages]
            out.append({
                "table": writes[0].split(os.sep, 1)[0] if writes else None,
                "dir": os.path.join(root, writes[0]) if writes else None,
                "jobs": e.jobs().size(),
                "stage_tasks": [s.numCompletedTasks if s else 0 for s in infos],
                "exchanges": names.count("Exchange"),
                "broadcasts": names.count("BroadcastExchange"),
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
    assert writes[0]["exchanges"] == 1 and writes[0]["broadcasts"] == 0, writes
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
    bucketed item MERGE run one shuffle Exchange; no write of the
    epoch broadcasts anything (item rows carry their page's fetch_seq,
    so no sink joins back to the due set); each bucketed write's
    post-shuffle stage runs no more tasks than the buckets it writes
    (AQE coalesces the empty reduce partitions; 16 tasks per write
    when the shuffle had a fixed count) and writes one parquet file
    per bucket; and the epoch runs at most 25 Spark jobs (26 with the
    item sinks' due-set join, 32 before ``fetched`` was a projection
    of the pages and catalog reads took the declared schema; 45 when
    the MERGEs were anti-joins and the urls commit a two-join
    rewrite). The same epoch under ``-a``, on the same catalog state
    (rolled back to the commit record before the default epoch) and
    on a fresh engine, runs no more jobs: its seen check is a
    predicate on the urls scan, and the fallback buckets cost no
    job."""
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
    writes = [e for e in executions if e["table"]]
    by_table = {e["table"]: e for e in writes}
    assert {"urls", "comments", "url_edges"} <= set(by_table), writes
    for table in ("urls", "comments", "url_edges"):
        assert by_table[table]["exchanges"] == 1, (table, by_table[table])
    bucketed = 0
    for w in writes:
        assert w["broadcasts"] == 0, w
        buckets = [d for d in os.listdir(w["dir"]) if d.startswith(PART + "=")]
        if buckets:
            bucketed += 1
            assert w["stage_tasks"][-1] <= len(buckets), (w, buckets)
        for b in buckets:
            files = os.listdir(os.path.join(w["dir"], b))
            assert sum(f.endswith(".parquet") for f in files) == 1, (w, b, files)
    assert bucketed >= 4, writes  # urls, urls_seen, comments, url_edges
    assert jobs <= 25, (jobs, executions)

    with open(record, "w") as f:
        f.write(before)
    again = _PlanEngine(spark, cat, replace(cfg, visit_again=True), docs)
    stats = again.run(max_epochs=1)
    assert len(stats) == 1 and stats[0].epoch == 2 and stats[0].urls_due > 0
    assert again.epochs[-1][0] <= jobs, (again.epochs[-1], jobs)


def test_compaction_reads_under_the_schema(spark):
    """``compact_buckets`` folds each overfull bucket into one dir in
    one Spark job, its write: the read takes the declared schema, so
    no footer-inference job is planned. Rows are unchanged."""
    sch = StructType([StructField("k", StringType()), StructField("b", IntegerType())])
    cat = Catalog(spark, tempfile.mkdtemp(prefix="mergeplan-compact-"))
    want = []
    for i, buckets in enumerate(([0, 1, 2], [0, 1], [0, 1])):
        rows = [(f"k{i}-{b}", b) for b in buckets]
        cat.append_bucketed("t", spark.createDataFrame(rows, sch), F.col("b"), {"n": 3})
        want += rows
    jobs = _jobs_so_far(spark)
    assert cat.compact_buckets("t", sch, max_files=2) is not None
    assert _jobs_so_far(spark) - jobs == 2  # buckets 0 and 1, one write each
    _, parts = cat.partition_state("t")
    assert {k: len(v) for k, v in parts.items()} == {"0": 1, "1": 1, "2": 1}
    assert sorted(tuple(r) for r in cat.read("t", sch).collect()) == sorted(want)
