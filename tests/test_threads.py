"""Thread-propagation goldens (FIXTURES.md §3), verbatim from
/root/reference/test/Test/Network/Scrapetition/Utils.hs:26-134."""

from __future__ import annotations

from pyspark.sql import functions as F

from scrapetition_spark.operators.threads import propagate_threads, subthread


def _df(spark, rows):
    # (order, id, parent, thread)
    return spark.createDataFrame(
        [(i, r[0], r[1], r[2] if len(r) > 2 else None) for i, r in enumerate(rows)],
        "ord int, id string, parent string, thread string",
    ).withColumn("domain", F.lit("testdomain"))


def _threads(df):
    return {
        (r["id"], r["thread"])
        for r in df.select("id", "thread").collect()
    }


def test_all_roots(spark):  # Utils.hs(test):26-35
    df = _df(spark, [("1", None), ("2", None), ("3", None)])
    out = propagate_threads(df, order_col="ord")
    assert _threads(out) == {("1", "1"), ("2", "2"), ("3", "3")}


def test_deep_propagation(spark):  # :38-59
    rows = [
        ("1", None), ("2", None), ("3", None), ("4", "1"), ("5", "4"),
        ("6", "4"), ("7", "2"), ("8", "4"), ("9", "6"),
    ]
    out = propagate_threads(_df(spark, rows), order_col="ord")
    want = {
        ("1", "1"), ("2", "2"), ("3", "3"), ("4", "1"), ("5", "1"),
        ("6", "1"), ("7", "2"), ("8", "1"), ("9", "1"),
    }
    assert _threads(out) == want


def test_duplicate_id_collapse(spark):  # :62-85 — last occurrence wins
    rows = [
        ("1", None), ("7", "1"), ("2", None), ("7", "2"),
    ]
    out = propagate_threads(_df(spark, rows), order_col="ord")
    assert out.count() == 3  # duplicate collapsed
    assert _threads(out) == {("1", "1"), ("2", "2"), ("7", "2")}


def test_orphans_stay_null(spark):  # :89-134 — fixpoint terminates
    rows = [
        ("1", None), ("4", "1"), ("9", "missing"), ("10", "9"),
    ]
    out = propagate_threads(_df(spark, rows), order_col="ord")
    assert _threads(out) == {
        ("1", "1"), ("4", "1"), ("9", None), ("10", None),
    }


def test_all_orphans(spark):  # :101-110 — nothing resolvable, no hang
    rows = [("5", "4"), ("6", "4"), ("9", "8")]
    out = propagate_threads(_df(spark, rows), order_col="ord")
    assert _threads(out) == {("5", None), ("6", None), ("9", None)}


def test_depth_column(spark):  # A2 threadview height (threadview.sql:9-41)
    rows = [("1", None), ("4", "1"), ("5", "4"), ("9", "5")]
    out = propagate_threads(_df(spark, rows), order_col="ord", with_depth=True)
    got = {(r["id"], r["depth"]) for r in out.select("id", "depth").collect()}
    assert got == {("1", 0), ("4", 1), ("5", 2), ("9", 3)}


def test_subthread(spark):  # A4 (subthread.sh:63-69)
    rows = [
        ("1", None), ("4", "1"), ("5", "4"), ("6", "4"), ("2", None), ("7", "2"),
    ]
    out = subthread(_df(spark, rows), "4")
    assert {r["id"] for r in out.collect()} == {"4", "5", "6"}


def test_recursive_cte_matches_iterative(spark):
    """Spark 4 WITH RECURSIVE fast path ≡ the iterative fixpoint on
    the same forest (roots, deep chains, orphans)."""
    from scrapetition_spark.operators.threads import (
        propagate_threads,
        propagate_threads_recursive,
    )

    rows = [
        ("a", None), ("b", "a"), ("c", "b"), ("d", "c"),  # deep chain
        ("e", None), ("f", "e"),
        ("x", "missing"), ("y", "x"),  # orphan subtree → thread NULL
    ]
    df = spark.createDataFrame(rows, ["id", "parent"]).withColumn(
        "thread", F.lit(None).cast("string")
    )
    it = {
        r["id"]: (r["thread"], r["depth"])
        for r in propagate_threads(
            df, domain_col=None, with_depth=True
        ).collect()
    }
    rec = {
        r["id"]: (r["thread"], r["depth"])
        for r in propagate_threads_recursive(df).collect()
    }
    assert it == rec
    assert rec["d"] == ("a", 3) and rec["x"] == (None, None)


def _last_job(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def test_propagation_jobs_bounded_by_depth(spark):
    """Each round's progress guard, the row count of its delta, rides
    on the round's checkpoint job instead of a count() of its own. A
    forest of depth 6 (7 rounds, the last one empty) with an orphan
    chain stays inside a bound that a second job per round breaks."""
    rows = [(f"a{i}", f"a{i - 1}" if i else None) for i in range(7)]
    rows += [("b0", None), ("b1", "b0"), ("b2", "b0")]
    rows += [("x", "missing"), ("y", "x")]
    df = spark.createDataFrame(rows, "id string, parent string").withColumn(
        "thread", F.lit(None).cast("string")
    ).localCheckpoint()
    mark = _last_job(spark)
    out = propagate_threads(df, domain_col=None, with_depth=True)
    jobs = _last_job(spark) - mark
    got = {r["id"]: (r["thread"], r["depth"]) for r in out.collect()}
    assert got["a6"] == ("a0", 6) and got["b2"] == ("b0", 1)
    assert got["y"] == (None, None)
    # 30 jobs here: the seed checkpoint, then per round the checkpoint
    # and its AQE stage and broadcast jobs; a count() per round made 44
    rounds = 7
    assert jobs <= 4 * rounds + 4, jobs
