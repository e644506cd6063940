"""Output checks. None of them is timed, and none uses engine code
to predict what the engine should have produced."""

from __future__ import annotations

import re
from collections import Counter
from urllib.parse import urljoin, urlsplit

SEP = "\x1f"  # role/payload separator of the span encoding


def link_targets(url: str, spans, dispatchers) -> list[str]:
    """Targets a page links to through the collector roles of every
    dispatcher whose URL pattern matches the page, fragments dropped
    and made absolute against the page URL."""
    out = []
    for d in dispatchers:
        if not d.url_collectors or not re.search(d.url_scheme, url):
            continue
        for kind, text, media_ref, offset in spans:
            if media_ref is None or text is None:
                continue
            if text.split(SEP, 1)[0] in d.url_collectors:
                out.append(urljoin(url, media_ref.split("#", 1)[0]))
    return out


def check_bfs(
    pages: dict[str, list],
    seeds: list[str],
    start_domain: str,
    dispatchers,
    per_host_budget: int,
    fetched: list[set[str]],
    frontier_left: set[str],
) -> list[str]:
    """Replay a single-domain crawl as a breadth-first search with a
    politeness budget and compare it with what the engine did.

    ``fetched[e]`` is the set of URLs the engine fetched in epoch e,
    ``frontier_left`` the URLs it had scheduled and not fetched when
    it stopped. The frontier starts as the seed set. Each epoch must
    fetch ``min(budget, |frontier|)`` URLs of the frontier (every URL
    is on one host); the frontier then loses them and gains every
    in-domain target they link to that was never fetched. A URL with
    no page is fetched (a 404) but links nowhere. Which URLs of an
    over-budget frontier go first is the engine's queue order, and is
    not checked here."""
    problems = []
    frontier, seen = set(seeds), set()
    for e, got in enumerate(fetched):
        want = min(per_host_budget, len(frontier))
        if not got <= frontier or len(got) != want:
            problems.append(
                f"epoch {e}: fetched {len(got)} URLs, {len(got - frontier)} of "
                f"them not on the frontier of {len(frontier)}; expected {want}"
            )
        seen |= got
        frontier -= got
        for url in got:
            for t in link_targets(url, pages.get(url, ()), dispatchers):
                host = (urlsplit(t).hostname or "").lower()
                if host == start_domain and t not in seen:
                    frontier.add(t)
    if frontier_left != frontier:
        problems.append(
            f"frontier left behind: {len(frontier_left)} URLs, the BFS has "
            f"{len(frontier)} ({len(frontier_left - frontier)} extra, "
            f"{len(frontier - frontier_left)} missing)"
        )
    return problems


def fetched_by_epoch(seen_rows: list[tuple], n_epochs: int) -> list[set[str]]:
    """``seen_rows``: (url, host, epoch, status) per fetched URL."""
    out: list[set[str]] = [set() for _ in range(n_epochs)]
    for url, _host, epoch, _status in seen_rows:
        while epoch >= len(out):
            out.append(set())
        out[epoch].add(url)
    return out


def check_seen_invariants(
    seen_rows: list[tuple], doc_ids: set[str], per_host_budget: int
) -> list[str]:
    """``seen_rows``: (url, host, epoch, status) per fetched URL.
    Every URL is fetched once, at most ``per_host_budget`` times per
    (epoch, host), and is a document or answered 404."""
    problems = []
    dup = [u for u, n in Counter(r[0] for r in seen_rows).items() if n > 1]
    if dup:
        problems.append(f"{len(dup)} URLs fetched more than once, e.g. {dup[0]}")
    per_host = Counter((r[2], r[1]) for r in seen_rows)
    over = {k: n for k, n in per_host.items() if n > per_host_budget}
    if over:
        problems.append(f"politeness budget exceeded at (epoch, host) {over}")
    bad = [r[0] for r in seen_rows if r[0] not in doc_ids and r[3] != 404]
    if bad:
        problems.append(f"{len(bad)} fetched URLs neither documents nor 404")
    return problems


def check_query(spark_df, oracle_df, value_hash) -> list[str]:
    """Row count, column names and order-insensitive value hash, the
    rule of the repository's oracle gate."""
    problems = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"rows {len(spark_df)} vs {len(oracle_df)}")
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(
            f"columns {sorted(spark_df.columns)} vs {sorted(oracle_df.columns)}"
        )
    elif value_hash(spark_df) != value_hash(oracle_df):
        problems.append("value hash mismatch")
    return problems
