"""Robots gating, encoding sniff (S2), catalog snapshot semantics."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from scrapetition_spark.config import CrawlConfig
from scrapetition_spark.crawl import CrawlEngine
from scrapetition_spark.schemas import ROBOTS, URLS_SEEN
from scrapetition_spark.sources.catalog import Catalog
from scrapetition_spark.sources.fixtures import documents_df, fixture_site
from scrapetition_spark.spans import ROLE_CONTENT_TYPE, text_span

SEED = "https://www.zeit.de/politik/2020-01/art-a"


def test_robots_deny(spark):
    """North-rule robots gating (absent in the reference,
    SURVEY.md §4.1): denied path prefixes are never fetched but still
    recorded as discovered."""
    site = fixture_site()
    docs = documents_df(spark, site).localCheckpoint()
    robots = spark.createDataFrame(
        [("www.zeit.de", "/kultur/", 0)], ROBOTS
    )
    cfg = CrawlConfig("www.zeit.de", follow_links=True, sequential=False,
                      politeness_sec=0, per_host_budget=8,
                      respect_robots=True)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="robots-"))
    eng = CrawlEngine(spark, cat, cfg, docs, robots=robots)
    eng.seed([SEED])
    eng.run(max_epochs=8)
    fetched = {r["url"] for r in cat.read("urls_seen", URLS_SEEN).collect()}
    assert fetched, "crawl fetched nothing"
    assert not any("/kultur/" in u for u in fetched)
    # ...but kultur URLs were still *discovered* (S6 inserts are
    # gate-free, App.hs:89-90)
    from scrapetition_spark.schemas import URLS

    known = {r["url"] for r in cat.read("urls", URLS).collect()}
    assert any("/kultur/" in u for u in known)


def test_encoding_sniff_recorded(spark):
    """S2 (Encoding.hs:16-41): charset from the meta content-type span
    lands in urls_seen.encoding via the S9 update path."""
    url = "https://www.zeit.de/enc-test"
    spans = [
        text_span(ROLE_CONTENT_TYPE, "text/html; charset=iso-8859-1", 0),
    ]
    docs = documents_df(spark, {url: spans})
    cfg = CrawlConfig("www.zeit.de", follow_links=False, sequential=True,
                      politeness_sec=0)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="enc-"))
    eng = CrawlEngine(spark, cat, cfg, docs)
    eng.seed([url])
    eng.run()
    row = cat.read("urls_seen", URLS_SEEN).collect()[0]
    assert row["encoding"] == "iso-8859-1"


def test_catalog_snapshots_and_time_travel(spark):
    cat = Catalog(spark, tempfile.mkdtemp(prefix="cat-"))
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df2 = spark.createDataFrame([(2, "b")], "id int, v string")
    s1 = cat.append("t", df1)
    s2 = cat.append("t", df2)
    assert cat.read("t").count() == 2
    assert cat.read("t", snapshot=s1).count() == 1  # time travel
    # merge_insert dedups on key, first writer wins
    df3 = spark.createDataFrame([(2, "XX"), (3, "c")], "id int, v string")
    cat.merge_insert("t", df3, ["id"], df3.schema)
    rows = {r["id"]: r["v"] for r in cat.read("t").collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}


def test_catalog_partition_scoped_commit(spark):
    """overwrite_partitions replaces only touched commit buckets;
    untouched buckets' file dirs are carried forward VERBATIM (the
    Iceberg partition-overwrite contract) and plain appended files
    force consolidation."""
    cat = Catalog(spark, tempfile.mkdtemp(prefix="partcat-"))
    df = spark.createDataFrame([(i, i % 4) for i in range(40)], ["v", "b"])
    cat.overwrite_partitions("t", df, "b", None)
    _, parts1 = cat.partition_state("t")
    assert set(parts1) == {"0", "1", "2", "3"}

    upd = spark.createDataFrame([(100, 1)], ["v", "b"])
    cat.overwrite_partitions("t", upd, "b", [1])
    _, parts2 = cat.partition_state("t")
    for k in ("0", "2", "3"):
        assert parts2[k] == parts1[k]  # untouched dirs reused
    assert parts2["1"] != parts1["1"]
    rows = {(r["v"], r["b"]) for r in cat.read("t").collect()}
    assert rows == {(i, i % 4) for i in range(40) if i % 4 != 1} | {(100, 1)}

    # emptying a touched bucket leaves it with no files
    cat.overwrite_partitions("t", upd.limit(0), "b", [2])
    _, parts3 = cat.partition_state("t")
    assert parts3["2"] == []
    assert {r["b"] for r in cat.read("t").select("b").distinct().collect()} == {0, 1, 3}

    # plain appended files hold rows of unknown buckets → a scoped
    # commit must refuse until consolidated
    cat.append("t", upd)
    with pytest.raises(ValueError):
        cat.overwrite_partitions("t", upd, "b", [1])
    cat.overwrite_partitions("t", cat.read("t"), "b", None)  # consolidate
    _, parts4 = cat.partition_state("t")
    assert cat.partition_state("t")[0] is False and parts4


def test_crawl_urls_commit_partition_scoped(spark):
    """Epoch k+1's urls commit reuses the file dirs of commit buckets
    it did not touch (VERDICT r01 next-4: the per-epoch full-table
    rewrite was the engine's biggest scale-killer)."""
    import json
    import os

    from scrapetition_spark.functions.urls import host_bucket
    from scrapetition_spark.schemas import URLS

    cand = [(f"h{i}.test",) for i in range(40)]
    byb: dict[int, list[str]] = {}
    for r in spark.createDataFrame(cand, ["host"]).select(
        "host", F.pmod(host_bucket(F.col("host"), 256), F.lit(16)).alias("b")
    ).collect():
        byb.setdefault(r["b"], []).append(r["host"])
    groups = [v for v in byb.values()]
    assert len(groups) >= 2
    a_host, b_host = groups[0][0], groups[1][0]

    pages = {
        f"https://{a_host}/p": [("text", "alpha", None, 0)],
        f"https://{b_host}/p": [("text", "beta", None, 0)],
    }
    docs = documents_df(spark, pages)
    cfg = CrawlConfig("", follow_links=False, cross_domain=True,
                      sequential=True, politeness_sec=0)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="partcrawl-"))
    eng = CrawlEngine(spark, cat, cfg, docs)
    eng.seed(list(pages))
    eng.run()

    tdir = os.path.join(cat.root, "urls")
    snaps = sorted(
        int(f[5:-5]) for f in os.listdir(tdir) if f.startswith("snap-")
    )
    manis = []
    for s in snaps:
        with open(os.path.join(tdir, f"snap-{s}.json")) as f:
            manis.append(json.load(f))
    parted = [m for m in manis if m.get("parts")]
    assert len(parted) >= 2  # full consolidation + ≥1 scoped commit
    prev, last = parted[-2], parted[-1]
    reused = [
        k for k in prev["parts"]
        if prev["parts"][k] and last["parts"].get(k) == prev["parts"][k]
    ]
    assert reused, "untouched commit buckets must reuse dirs verbatim"
    # both pages fetched; state intact through scoped commits
    rows = {r["url"]: r for r in cat.read("urls", URLS).collect()}
    assert all(rows[u]["first_seen"] is not None for u in pages)


def test_catalog_bucketed_merge_insert(spark):
    """Bucketed MERGE (VERDICT r02 next-2): item-sink inserts append
    per-bucket files, untouched buckets' dirs are carried forward
    VERBATIM, dedup semantics are unchanged, and long append chains
    compact per bucket."""
    cat = Catalog(spark, tempfile.mkdtemp(prefix="bmerge-"))
    bexpr = F.pmod(F.xxhash64("id"), F.lit(4)).cast("int")
    schema = "id string, v string"
    df1 = spark.createDataFrame(
        [(f"k{i}", "a") for i in range(20)], schema
    )
    cat.merge_insert("t", df1, ["id"], df1.schema, bucket_expr=bexpr)
    has_plain, parts1 = cat.partition_state("t")
    assert not has_plain and parts1  # bucketed from birth, no plain files

    # second batch: one brand-new key + one duplicate (existing wins)
    df2 = spark.createDataFrame([("k0", "XX"), ("new", "b")], schema)
    touched = {
        str(r["b"])
        for r in df2.select(F.pmod(F.xxhash64("id"), F.lit(4)).cast("int").alias("b"))
        .distinct().collect()
    }
    cat.merge_insert("t", df2, ["id"], df2.schema, bucket_expr=bexpr)
    _, parts2 = cat.partition_state("t")
    for k in parts1:
        if k not in touched:
            assert parts2[k] == parts1[k], "untouched bucket dirs must be reused"
        else:
            assert parts2[k][: len(parts1[k])] == parts1[k], (
                "append must keep existing bucket files, only add new ones"
            )
    rows = {r["id"]: r["v"] for r in cat.read("t").collect()}
    assert rows["k0"] == "a" and rows["new"] == "b" and len(rows) == 21

    # dedup across many appends + per-bucket compaction keeps file
    # counts bounded: never more than the compaction threshold dirs
    for i in range(18):
        d = spark.createDataFrame([(f"k{i}", "dup"), (f"x{i}", "c")], schema)
        cat.merge_insert("t", d, ["id"], d.schema, bucket_expr=bexpr)
    _, parts3 = cat.partition_state("t")
    assert max(len(v) for v in parts3.values()) <= 16
    rows = {r["id"]: r["v"] for r in cat.read("t").collect()}
    assert len(rows) == 21 + 18 and rows["k5"] == "a" and rows["x7"] == "c"

    # legacy plain-file table: first bucketed MERGE consolidates once
    cat2 = Catalog(spark, tempfile.mkdtemp(prefix="bmerge2-"))
    cat2.append("t", df1)
    assert cat2.partition_state("t")[0] is True
    cat2.merge_insert("t", df2, ["id"], df2.schema, bucket_expr=bexpr)
    has_plain, parts = cat2.partition_state("t")
    assert has_plain is False and parts
    assert cat2.read("t").count() == 21


def test_select_urls_where(spark):
    """S12 parametric WHERE scan (URL.hs:47-53; Sql.hs:117-146)."""
    from scrapetition_spark.plans.frontier import select_urls_where
    from scrapetition_spark.schemas import URLS

    rows = [
        ("https://a.test/1", 200, None), ("https://a.test/2", None, None),
        ("https://b.test/3", 404, None),
    ]
    urls = spark.createDataFrame(
        [(u, s, None, None, None, None, None, "t", u.split("/")[2], 0,
          None, 1, 0, 0, 0, i) for i, (u, s, _) in enumerate(rows)],
        URLS,
    )
    got = {r["url"] for r in select_urls_where(urls, "status = 200").collect()}
    assert got == {"https://a.test/1"}
    got = {r["url"] for r in select_urls_where(
        urls, "status IS NULL OR status >= 400").collect()}
    assert got == {"https://a.test/2", "https://b.test/3"}
    # projection control (selectUrls generic form, Sql.hs:124-146)
    row = select_urls_where(urls, "status = 404", select="url, host").collect()[0]
    assert row["host"] == "b.test"


def test_export_tsv_roundtrip(spark):
    """S14 Gephi TSV export (utils/cooccurence.sql:7-8): single-file
    and distributed layouts both round-trip."""
    import os

    from scrapetition_spark.sources.export import export_tsv, read_tsv

    edges = spark.createDataFrame(
        [("alice", "bob", 3), ("bob", "carol", 1)],
        ["Source", "Target", "Weight"],
    )
    d = tempfile.mkdtemp(prefix="tsv-")
    one = export_tsv(edges, os.path.join(d, "edges.tsv"), single_file=True)
    assert os.path.isfile(one)
    with open(one) as fh:
        head = fh.readline().strip()
    assert head == "Source\tTarget\tWeight"  # Gephi header contract
    back = read_tsv(spark, one)
    assert {tuple(r) for r in back.collect()} == {("alice", "bob", 3), ("bob", "carol", 1)}

    many = export_tsv(edges, os.path.join(d, "edges_dir"))
    assert os.path.isdir(many)
    assert read_tsv(spark, many).count() == 2


def test_per_bucket_metrics(spark):
    """North rule: per-partition lineage/metrics at every checkpoint —
    each epoch's one crawl_metrics row carries its due/discovered
    counts per host bucket, which sum to the epoch totals, and the
    urls_seen snapshot the epoch committed."""
    from scrapetition_spark.schemas import CRAWL_METRICS

    docs = documents_df(spark, fixture_site())
    cfg = CrawlConfig("www.zeit.de", follow_links=True, politeness_sec=0,
                      per_host_budget=4)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="bucketmetrics-"))
    eng = CrawlEngine(spark, cat, cfg, docs)
    eng.seed(["https://www.zeit.de/politik/2020-01/art-a"])
    stats = eng.run(max_epochs=3)

    rows = cat.read("crawl_metrics", CRAWL_METRICS).orderBy("epoch").collect()
    assert [r["epoch"] for r in rows] == [s.epoch for s in stats]
    for r in rows:
        assert r["buckets"]
        assert len({b["host_bucket"] for b in r["buckets"]}) == len(r["buckets"])
        assert sum(b["urls_due"] for b in r["buckets"]) == r["urls_due"]
        disc = sum(b["urls_discovered"] or 0 for b in r["buckets"])
        assert disc == r["urls_discovered"]
    # each epoch appended to urls_seen; the last row names its HEAD
    snaps = [r["snapshot_id"] for r in rows]
    assert snaps == sorted(set(snaps)) and snaps[-1] == cat.head("urls_seen")


def test_broadcast_hint_fully_disabled_at_zero(spark):
    """broadcast_max_rows=0 is the documented 'no hints' A/B knob: it
    must not hint even a 0-row frame (0 <= 0 would)."""
    from types import SimpleNamespace

    from scrapetition_spark.config import CrawlConfig
    from scrapetition_spark.crawl import CrawlEngine

    df = spark.range(0).toDF("x")
    off = SimpleNamespace(cfg=CrawlConfig(start_domain="", broadcast_max_rows=0))
    assert CrawlEngine._hint(off, df, 0) is df
    on = SimpleNamespace(cfg=CrawlConfig(start_domain="", broadcast_max_rows=10))
    assert CrawlEngine._hint(on, df, 0) is not df


def test_catalog_name_map(spark, tmp_path):
    """A catalog with a name map stores each logical table under its
    physical name, keyword-style calls included; ``tables()`` lists
    logical names and leaves out a physical table that a mapped
    logical name shadows."""
    from pyspark.sql import functions as F

    from scrapetition_spark.sources.catalog import Catalog

    plain = Catalog(spark, str(tmp_path / "cat"))
    df = spark.range(3).select(F.col("id").alias("k"))
    plain.append("comments", df.limit(1))  # shadowed by the mapping
    cat = Catalog(spark, plain.root, {"comments": "phys_comments"})
    cat.append(table="comments", df=df)          # keyword-style call
    assert plain.exists("phys_comments")
    assert cat.read(table="comments", schema=df.schema).count() == 3
    assert plain.read("comments").count() == 1
    assert cat.tables() == ["comments"]
    assert plain.tables() == ["comments", "phys_comments"]


def test_bucket_spec_meta_survives_crashed_consolidation(spark, tmp_path):
    """Crash-window regression (review finding): the bucket spec
    changes only with the consolidating rewrite's commit. If the
    rewrite dies, the HEAD snapshot still carries the old spec, so
    resume re-detects the mismatch instead of pruning old-spec dirs
    with the new expr (silently refetching seen URLs)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from scrapetition_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    df = spark.range(50).select(F.col("id").cast("string").alias("url"))
    spec_a = {"n_host_buckets": 4}
    expr_a = F.abs(F.hash("url")) % 4
    # force the bucketed layout from birth
    cat.append_bucketed("seen", df, expr_a, spec_a)
    assert cat.prunable_buckets("seen", spec_a)

    # reopen under a CHANGED spec and crash the consolidating rewrite
    spec_b = {"n_host_buckets": 8}
    expr_b = F.abs(F.hash("url")) % 8
    boom = RuntimeError("simulated crash mid-rewrite")
    real = cat.overwrite_partitions

    def dying(*a, **k):
        raise boom

    cat.overwrite_partitions = dying
    df2 = spark.range(50, 60).select(F.col("id").cast("string").alias("url"))
    with _pytest.raises(RuntimeError, match="simulated crash"):
        cat.append_bucketed("seen", df2, expr_b, spec_b)
    cat.overwrite_partitions = real
    # HEAD still carries the OLD spec — pruning under the new spec
    # stays disabled, so nothing reads wrong buckets
    assert cat.prunable_buckets("seen", spec_a)
    assert not cat.prunable_buckets("seen", spec_b)
    # retry converges: consolidation under spec_b, spec follows
    cat.append_bucketed("seen", df2, expr_b, spec_b)
    assert cat.prunable_buckets("seen", spec_b)
    assert not cat.prunable_buckets("seen", spec_a)
    assert cat.read("seen", df.schema).count() == 60


def test_merge_insert_spec_meta_survives_crashed_consolidation(spark, tmp_path):
    """Same crash-window contract for the MERGE path: the spec
    follows the consolidating rewrite, never precedes it."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from scrapetition_spark.schemas import StructType  # noqa: F401
    from scrapetition_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    df = spark.range(50).select(F.col("id").cast("string").alias("url"))
    spec_a, expr_a = {"n": 4}, F.abs(F.hash("url")) % 4
    spec_b, expr_b = {"n": 8}, F.abs(F.hash("url")) % 8
    cat.merge_insert("items", df, ["url"], df.schema,
                     bucket_expr=expr_a, bucket_spec=spec_a)
    assert cat.prunable_buckets("items", spec_a)

    real = cat.overwrite_partitions
    cat.overwrite_partitions = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("simulated crash mid-rewrite")
    )
    df2 = spark.range(40, 60).select(F.col("id").cast("string").alias("url"))
    with _pytest.raises(RuntimeError, match="simulated crash"):
        cat.merge_insert("items", df2, ["url"], df.schema,
                         bucket_expr=expr_b, bucket_spec=spec_b)
    cat.overwrite_partitions = real
    assert cat.prunable_buckets("items", spec_a)
    assert not cat.prunable_buckets("items", spec_b)
    cat.merge_insert("items", df2, ["url"], df.schema,
                     bucket_expr=expr_b, bucket_spec=spec_b)
    assert cat.prunable_buckets("items", spec_b)
    # MERGE semantics intact across the crash + retry: 60 distinct keys
    assert cat.read("items", df.schema).count() == 60


def test_user_sessions_gap_semantics(spark):
    """Sessionization boundary pin: an event at exactly last_ts + gap
    MERGES (Spark session_window closes the gap interval — the DuckDB
    twin's <= matches this), one past it splits; multi-session trace
    is hand-checked."""
    import datetime as dt

    from scrapetition_spark.operators.analytics import a18_user_sessions

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def m(minutes, seconds=0):
        return t0 + dt.timedelta(minutes=minutes, seconds=seconds)

    rows = [
        # user 1: exact-gap chain -> ONE session of 3
        (1, t0, 1.0), (1, m(30), 2.0), (1, m(60), 3.0),
        # user 2: one second past the gap -> split 1 + 1
        (2, t0, 1.0), (2, m(30, 1), 2.0),
        # user 3: two sessions of 2, clearly separated
        (3, t0, 1.0), (3, m(5), 1.0), (3, m(120), 1.0), (3, m(121), 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_end"], r["sum_value"])
        for r in a18_user_sessions(df, gap_minutes=30).collect()
    }
    assert got[(1, t0)] == (3, m(60), 6.0)
    assert len([k for k in got if k[0] == 1]) == 1
    assert got[(2, t0)] == (1, t0, 1.0)
    assert got[(2, m(30, 1))] == (1, m(30, 1), 2.0)
    assert got[(3, t0)] == (2, m(5), 2.0)
    assert got[(3, m(120))] == (2, m(121), 2.0)


def test_p3_materialization_invariants(spark):
    """The composed materialization plan: shuffle_pos is a contiguous
    permutation of the kept set, and each stream's packing offsets
    re-derive exactly from the running token sum."""
    import __spark_entry__ as E

    rows = E.queries()["p3_materialization"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    pos = sorted(r["shuffle_pos"] for r in rows)
    assert pos == list(range(len(rows)))
    by_stream = {}
    for r in sorted(rows, key=lambda r: (r["stream"], r["doc_id"])):
        cum = by_stream.get(r["stream"], 0)
        assert r["first_seq"] == cum // 512
        assert r["offset_in_seq"] == cum % 512
        assert r["n_seqs_spanned"] == (cum + r["n_tokens"] - 1) // 512 - cum // 512 + 1
        by_stream[r["stream"]] = cum + r["n_tokens"]


def test_cohort_retention_planted(spark):
    """Hand-built cohort triangle: user 1 active weeks 0,1,3 of
    cohort A; user 2 weeks 0,1; user 3 cohorts one week later,
    active once. Multiple events in one week count once."""
    import datetime as dt

    from scrapetition_spark.operators.analytics import a20_cohort_retention

    w0 = dt.datetime(2024, 1, 1, 10, 0)  # a Monday
    wk = dt.timedelta(weeks=1)
    rows = [
        (1, w0), (1, w0 + dt.timedelta(days=2)), (1, w0 + wk), (1, w0 + 3 * wk),
        (2, w0), (2, w0 + wk),
        (3, w0 + wk),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["cohort_week"].isoformat(), r["week_offset"]): r["n_users"]
        for r in a20_cohort_retention(df).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 2,
        ("2024-01-01", 3): 1,
        ("2024-01-08", 0): 1,
    }
