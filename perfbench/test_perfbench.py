"""Tests for the benchmark's own parts; no Spark session needed.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import pandas as pd
import pytest
from checks import check_bfs, check_seen_invariants, fetched_by_epoch
from stats import tail_percentile
from tables import generate
from tracing import END_TO_END, PER_LAYER

from scrapetition_spark.config import Dispatcher

HERE = os.path.dirname(os.path.abspath(__file__))
SEP = "\x1f"
DISPATCHERS = (
    Dispatcher("bench", r"^https://h\d+\.test/.*", "comment",
               url_collectors=("js-comment-loader", "pager__page")),
)


A, B, C, D, E = (f"https://h0.test/d/{x}" for x in "abcde")


def _link(role: str, href: str, offset: int) -> tuple:
    return ("media", f"{role}{SEP}", href, offset)


def _five_page_web() -> dict[str, list[tuple]]:
    """a -> b, c (js loader); b -> d (pager, with a fragment) and an
    off-domain page; c -> a (a cycle); d -> e only through a plain
    anchor, a role the dispatcher does not collect."""
    return {
        A: [("text", f"title{SEP}A", None, 0),
            _link("js-comment-loader", B, 1), _link("js-comment-loader", C, 2)],
        B: [_link("pager__page", D + "#top", 0),
            _link("js-comment-loader", "https://h1.test/d/x", 1)],
        C: [_link("pager__page", A, 0)],
        D: [_link("a", E, 0)],
        E: [],
    }


def _bfs(web, fetched, left, budget=8):
    return check_bfs(web, [A], "h0.test", DISPATCHERS, budget, fetched, left)


def test_bfs_oracle_five_page_web():
    web = _five_page_web()
    # an unbinding budget fetches whole BFS levels and drains
    assert _bfs(web, [{A}, {B, C}, {D}], set()) == []
    # stopped after epoch 1, the next level is left on the frontier
    assert _bfs(web, [{A}, {B, C}], {D}) == []
    assert _bfs(web, [{A}, {B}], {C, D})  # c missing from epoch 1
    assert _bfs(web, [{A}, {B, C, E}], {D})  # e is not linked
    assert _bfs(web, [{A}, {B, C}], set())  # link discovery lost
    assert _bfs(web, [{A}, {B, C}], {D, E})  # e only by a plain anchor


def test_bfs_oracle_with_a_binding_budget():
    web = _five_page_web()
    # one fetch per epoch: either of b, c may go first, not both
    assert _bfs(web, [{A}, {B}], {C, D}, budget=1) == []
    assert _bfs(web, [{A}, {C}], {B}, budget=1) == []
    assert _bfs(web, [{A}, {C}, {B}, {D}], set(), budget=1) == []
    assert _bfs(web, [{A}, {B, C}], {D}, budget=1)  # over budget
    assert _bfs(web, [{A}, set()], {B, C}, budget=1)  # idle epoch


def test_bfs_oracle_missing_page_is_a_dead_end():
    web = _five_page_web()
    del web[B]
    assert _bfs(web, [{A}, {B, C}], set()) == []


def test_seen_invariants_and_epoch_sets():
    web = _five_page_web()
    rows = [(A, "h0.test", 0, 200), (B, "h0.test", 1, 200), (C, "h0.test", 1, 200)]
    assert fetched_by_epoch(rows, 3) == [{A}, {B, C}, set()]
    assert check_seen_invariants(rows, set(web), per_host_budget=2) == []
    assert check_seen_invariants(rows, set(web), per_host_budget=1)
    assert check_seen_invariants(rows + rows[:1], set(web), 2)
    stray = [("https://h0.test/d/zz", "h0.test", 1, 200)]
    assert check_seen_invariants(stray, set(web), 2)
    assert check_seen_invariants([stray[0][:3] + (404,)], set(web), 2) == []


@pytest.mark.parametrize("n, want", [(9, None), (10, None), (11, (9, 0.0)),
                                     (40, (75, 29.0))])
def test_tail_percentile_rule(n, want):
    assert tail_percentile([float(i) for i in range(n)]) == want


def test_tail_percentile_leaves_ten_beyond():
    values = [float(i) for i in range(40)]
    p, v = tail_percentile(values)
    assert sum(x > v for x in values) >= 10


def test_metric_names():
    names = [n for n, _, _ in END_TO_END + PER_LAYER]
    assert [n for n in names if not re.fullmatch(r"[A-Za-z0-9_.-]+", n)] == []
    assert len(set(names)) == len(names)


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in PER_LAYER]


def test_tables_are_a_function_of_the_seed(tmp_path):
    generate(str(tmp_path / "a"), seed=7, scale=0.05)
    generate(str(tmp_path / "b"), seed=7, scale=0.05)
    generate(str(tmp_path / "c"), seed=8, scale=0.05)
    for name in ("documents", "events", "lineitem", "embeddings"):
        a = pd.read_parquet(tmp_path / "a" / f"{name}.parquet")
        b = pd.read_parquet(tmp_path / "b" / f"{name}.parquet")
        c = pd.read_parquet(tmp_path / "c" / f"{name}.parquet")
        pd.testing.assert_frame_equal(a, b)
        assert not a.equals(c)
