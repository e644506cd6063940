"""Streaming ingest tests: file-source stream → watermarked dedup →
foreachBatch merge into the catalog frontier, drained with the
availableNow trigger (bounded run of the unbounded pipeline)."""

from __future__ import annotations

import datetime as dt
import tempfile

from pyspark.sql import functions as F

from scrapetition_spark.schemas import UNIQUE_KEYS, URLS
from scrapetition_spark.sources.catalog import Catalog
from scrapetition_spark.streaming.ingest import (
    DISCOVERED_STREAM,
    stream_discovered_urls,
    stream_seen_counts,
)

T0 = dt.datetime(2020, 1, 1, 12, 0, 0)


def _drop(spark, path, rows):
    spark.createDataFrame(rows, DISCOVERED_STREAM).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_stream_ingest_merges_frontier(spark):
    drop = tempfile.mkdtemp(prefix="stream-drop-")
    ckpt = tempfile.mkdtemp(prefix="stream-ckpt-")
    cat = Catalog(spark, tempfile.mkdtemp(prefix="stream-cat-"))

    rows = [
        (f"https://h{i % 3}.test/d/{i}", 0, 0, 0, i, T0 + dt.timedelta(seconds=i))
        for i in range(20)
    ]
    # duplicate re-discoveries inside the watermark horizon
    rows += rows[:5]
    _drop(spark, drop, rows)

    from scrapetition_spark.crawl import CrawlEngine
    from scrapetition_spark.config import CrawlConfig

    eng = CrawlEngine(
        spark, cat, CrawlConfig(start_domain=""), documents=None
    )

    def sink(batch_df, batch_id):
        cat.merge_insert(
            "urls",
            eng._url_row(batch_df, scheduled=True),
            UNIQUE_KEYS["urls"],
            URLS,
            order_cols=["pos"],
        )

    q = stream_discovered_urls(
        spark, drop, sink, ckpt, watermark="10 minutes", available_now=True
    )
    q.awaitTermination(120)

    urls = cat.read("urls", URLS)
    got = {r["url"] for r in urls.collect()}
    assert got == {f"https://h{i % 3}.test/d/{i}" for i in range(20)}
    assert urls.count() == 20  # stream dedup + idempotent merge

    # second drop: 5 repeats + 5 new → only the new ones add rows
    rows2 = [
        (f"https://h{i % 3}.test/d/{i}", 1, 9, 0, i, T0 + dt.timedelta(seconds=100 + i))
        for i in range(15, 25)
    ]
    _drop(spark, drop, rows2)
    q2 = stream_discovered_urls(
        spark, drop, sink, ckpt, watermark="10 minutes", available_now=True
    )
    q2.awaitTermination(120)
    assert cat.read("urls", URLS).count() == 25


def test_stream_seen_counts_windows(spark):
    rows = [
        (f"https://h{i % 2}.test/d/{i}", 0, 0, 0, i, T0 + dt.timedelta(seconds=30 * i))
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, DISCOVERED_STREAM)
    out = stream_seen_counts(df, window="1 minute", watermark="5 minutes")
    got = {
        (r["window_start"].strftime("%H:%M"), r["host"]): r["n_urls"]
        for r in out.collect()
    }
    # 8 rows at 30s spacing → 2 per 1-minute window, hosts alternate
    assert got[("12:00", "h0.test")] == 1 and got[("12:00", "h1.test")] == 1
    assert sum(got.values()) == 8


def _run_admit(spark, drop, budget, max_files=None):
    from scrapetition_spark.streaming.ingest import stream_politeness_admit

    reader = spark.readStream.schema(DISCOVERED_STREAM)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = (
        reader.parquet(drop)
        .withColumn("host", F.regexp_extract("target", r"https://([^/]+)/", 1))
        .select("host", "target", "event_time")
    )
    out = stream_politeness_admit(stream, host_budget=budget)
    name = f"admit_{abs(hash((drop, budget, max_files)))}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {
        (r["host"], r["target"], r["admit_seq"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }


def test_stream_politeness_admit_budget_across_batches(spark):
    """The per-host cap holds across micro-batches (GroupState), the
    admit_seq is dense per host, and the admitted set is identical
    whether the files drain in one batch or one-at-a-time."""
    import datetime as dt
    import tempfile

    drop = tempfile.mkdtemp(prefix="admit-drop-")
    # host a: 4 urls in file 1 + 3 in file 2 (budget 5 → 5 admitted,
    # the last 2 of file 2 suppressed); host b: 2 urls total
    f1 = [
        (f"https://a.test/{i}", 0, 0, 0, i, T0 + dt.timedelta(seconds=i))
        for i in range(4)
    ] + [("https://b.test/0", 0, 0, 0, 0, T0)]
    f2 = [
        (f"https://a.test/{i}", 0, 0, 0, i, T0 + dt.timedelta(seconds=i))
        for i in range(4, 7)
    ] + [("https://b.test/1", 0, 0, 0, 1, T0 + dt.timedelta(seconds=1))]
    _drop(spark, drop, f1)
    _drop(spark, drop, f2)

    got = _run_admit(spark, drop, budget=5, max_files=1)
    a = sorted((t, s) for h, t, s in got if h == "a.test")
    b = sorted((t, s) for h, t, s in got if h == "b.test")
    assert [s for _, s in a] == [0, 1, 2, 3, 4]
    assert {t for t, _ in a} == {f"https://a.test/{i}" for i in range(5)}
    assert [s for _, s in b] == [0, 1]

    # same drop dir drained in ONE batch: identical admitted set —
    # modulo which file boundary the cap lands on, per-host event-time
    # order is preserved in both drains
    one = _run_admit(spark, drop, budget=5, max_files=None)
    assert one == got


def test_stream_ingest_dedup_gate(spark):
    """Stateful continuous-ingest gate: per-doc decisions; dups of the
    corpus, of earlier-admitted streamed docs, AND of same-batch
    smaller-id docs are all rejected; the admitted set is invariant
    under batch splits."""
    from scrapetition_spark.streaming.ingest import (
        DOC_STREAM,
        stream_ingest_dedup,
    )

    corpus = spark.createDataFrame(
        [(1, "sa sb sc sd se sf sg sh si sj", "en"),
         (2, "ta tb tc td te tf tg th ti tj", "en")],
        "doc_id long, text string, lang string",
    )
    clean = "ua ub uc ud ue uf ug uh ui uj"
    incoming = [
        (101, "sa sb sc sd se sf sg sh si sj", "en", T0),  # dup of corpus 1
        (102, clean, "en", T0),                            # novel -> admitted
        (105, clean, "en", T0),                            # dup of batch-mate 102
        (103, "ta tb tc td te tf tg th ti tj", "en", T0),  # dup of corpus 2
        (104, clean, "en", T0),                            # dup of admitted 102
    ]

    def run(chunks):
        drop = tempfile.mkdtemp(prefix="ddg-drop-")
        ckpt = tempfile.mkdtemp(prefix="ddg-ckpt-")
        seen = {}

        def sink(decisions, batch_id):
            for r in decisions.collect():
                seen[r["doc_id"]] = (
                    r["admitted"], r["n_matches"], r["best_jaccard"],
                    r["matched_doc"],
                )

        for chunk in chunks:
            spark.createDataFrame(chunk, DOC_STREAM).coalesce(1).write.mode(
                "append"
            ).parquet(drop)
            q = stream_ingest_dedup(
                spark, drop, corpus, sink, ckpt, available_now=True
            )
            assert q.awaitTermination(300)
        return seen

    got = run([incoming[:3], incoming[3:]])  # file at a time
    assert got[101] == (False, 1, 1.0, 1)
    assert got[102] == (True, 0, None, None)
    assert got[105] == (False, 1, 1.0, 102)   # intra-batch dup
    assert got[103] == (False, 1, 1.0, 2)
    assert got[104] == (False, 1, 1.0, 102)   # dup of earlier-admitted doc

    # admitted set + blame are split-invariant (n_matches may differ:
    # one batch sees 104/105 as mutual candidates too)
    one = run([incoming])
    assert {d: (v[0], v[3]) for d, v in one.items()} == {
        d: (v[0], v[3]) for d, v in got.items()
    }


def _time_sliced_stream(spark, events, d, n_slices=3):
    """Shared stream≡batch harness: write ``events`` as ``n_slices``
    time-ordered parquet files under ``d`` and return a
    maxFilesPerTrigger=1 readStream over them. Slices by TIME — micro-
    batch order must roughly follow event time or rows older than the
    advancing watermark (correctly) drop as too-late and append
    under-counts. Empty slices are removed (an empty part file would
    crash the mtime stamp and adds no micro-batch). mtimes are
    stamped strictly increasing by slice: FileStreamSource orders
    micro-batches by mtime, and three quick writes can tie on
    coarse-mtime filesystems, scrambling the time order."""
    import glob as _glob
    import os as _os

    min_ts, max_ts = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (max_ts - min_ts) / n_slices
    for i in range(n_slices):
        lo = min_ts + i * span
        hi = max_ts if i == n_slices - 1 else min_ts + (i + 1) * span
        cond = (F.col("ts") >= F.lit(lo)) & (
            (F.col("ts") <= F.lit(hi))
            if i == n_slices - 1
            else (F.col("ts") < F.lit(hi))
        )
        events.filter(cond).coalesce(1).write.mode("append").parquet(d)
    for f in _glob.glob(f"{d}/part-*.parquet"):
        part_min = spark.read.parquet(f).agg(F.min("ts")).collect()[0][0]
        if part_min is None:
            _os.remove(f)
            continue
        t = part_min.timestamp()
        _os.utime(f, (t, t))
    return (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )


def test_windowed_rollup_stream_equals_batch(spark):
    """The SAME windowed_event_rollup definition, run as a real
    file-source stream (3 micro-batches, append mode, watermark 2h)
    and as a batch frame: every emitted streaming row must equal its
    batch twin exactly, and append mode must have emitted every
    window the final watermark closed (end < max_ts - 2h)."""
    from scrapetition_spark.streaming.ingest import windowed_event_rollup

    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .orderBy("event_id")
        .limit(600)
        .localCheckpoint()
    )
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_rollup(events, with_users=False).collect()
    }
    max_ts = events.agg(F.max("ts")).collect()[0][0]

    with tempfile.TemporaryDirectory() as d:
        stream = _time_sliced_stream(spark, events, d)
        out = windowed_event_rollup(stream, with_users=False)
        q = (
            out.writeStream.format("memory")
            .queryName("rollup_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM rollup_stream").collect()
        }

    assert got, "stream emitted nothing"
    # exactness: every emitted row is the batch row
    for k, v in got.items():
        assert batch[k] == v, k
    # completeness: every window the watermark closed was emitted
    horizon = max_ts - dt.timedelta(hours=2)
    closed = {
        k
        for k in batch
        if k[0] + dt.timedelta(hours=1) < horizon
    }
    assert closed <= set(got)


def test_user_sessions_stream_equals_batch(spark):
    """The SAME a18_user_sessions definition as a real file-source
    stream (3 time-sliced micro-batches, append mode, 2h watermark):
    every emitted session equals its batch twin — including sessions
    whose events SPAN micro-batches (state merge) — and every session
    the final watermark closed was emitted."""
    from scrapetition_spark.operators.analytics import a18_user_sessions

    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .orderBy("event_id")
        .limit(900)
        .select("user_id", "ts", "value")
        .localCheckpoint()
    )
    key = lambda r: (r["user_id"], r["session_start"])
    val = lambda r: (r["session_end"], r["n_events"], r["sum_value"])
    batch = {key(r): val(r) for r in a18_user_sessions(events).collect()}
    max_ts = events.agg(F.max("ts")).collect()[0][0]

    with tempfile.TemporaryDirectory() as d:
        stream = _time_sliced_stream(spark, events, d)
        out = a18_user_sessions(stream, watermark="2 hours")
        q = (
            out.writeStream.format("memory")
            .queryName("sessions_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            key(r): val(r)
            for r in spark.sql("SELECT * FROM sessions_stream").collect()
        }

    assert got, "stream emitted nothing"
    for k, v in got.items():
        assert batch[k] == v, k
    # completeness: sessions closed well before the final watermark
    horizon = max_ts - dt.timedelta(hours=2)
    closed = {
        k for k, v in batch.items()
        if v[0] + dt.timedelta(minutes=30) < horizon
    }
    assert closed <= set(got)
