"""Crawl configuration + dispatcher registry.

Mirrors the reference's ``Opts``/``Env`` (app/Main.hs:36-48,
src/Network/Scrapetition/Env.hs:15-31) and its dispatcher model
(src/Network/Scrapetition/Dispatcher.hs:20-26): an *ordered* list of
(url regex, item scraper, url scraper) tuples. List order is dispatch
order and therefore URL discovery order (App.hs:54-59) — it is part
of the engine's observable semantics.

In Spark the "scraper" is not per-dispatcher code: one vectorized
parse plan (parse/kernel.py) extracts every item kind and URL
collector; the registry then *selects* which outputs apply to a page
via ``url rlike scheme`` (C8) and stamps the dispatcher index used in
the frontier lineage key (C4).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Dispatcher:
    """One dispatch rule (Dispatcher.hs:20-26).

    ``url_scheme``   — regex, matched with rlike (same semantics as
                       the reference's TDFA ``=~``: unanchored search;
                       the reference's patterns carry their own ^).
    ``item_kind``    — which parsed item family this dispatcher emits
                       (None = URL-collecting only).
    ``url_collectors`` — ordered list of span-role collectors whose
                       URLs this dispatcher emits; order of the list
                       is the concat order (e.g. jsLoader ++ pager,
                       ZeitDe.hs:298-301).
    """

    name: str
    url_scheme: str
    item_kind: str | None
    url_collectors: tuple[str, ...] = ()


# The zeit.de registry, verbatim order from ZeitDe.hs:112-122.
# Collector roles reference the span encoding in sources/fixtures.py.
ZEIT_DE_DISPATCHERS: tuple[Dispatcher, ...] = (
    Dispatcher(  # zeitDeArticleDispatcher (ZeitDe.hs:72-79)
        "article", r"^(https?://)?www.zeit.de/[^?]*", "article"
    ),
    Dispatcher(  # zeitDeArticleFromCommentDispatcher (ZeitDe.hs:85-92)
        "article_from_comment", r"^(https?://)?www.zeit.de/.*", "article_from_comment"
    ),
    Dispatcher(  # zeitDeUserDispatcher (ZeitDe.hs:42-49)
        "user", r"^(https?://)?www.zeit.de.*", "user"
    ),
    Dispatcher(  # zeitDeCommentDispatcher (ZeitDe.hs:32-39)
        "comment",
        r"^(https?://)?www.zeit.de.*",
        "comment",
        url_collectors=("js-comment-loader", "pager__page"),  # ZeitDe.hs:298-301
    ),
    Dispatcher(  # zeitDeVoterDispatcher (ZeitDe.hs:52-59)
        "voter", r"^(https?://)?www.zeit.de.*", "voter"
    ),
    Dispatcher(  # zeitDeVotingDispatcher (ZeitDe.hs:62-69)
        "voting", r"^(https?://)?www.zeit.de.*", "vote"
    ),
    Dispatcher(  # zeitDeProfileDispatcher (ZeitDe.hs:94-101)
        "profile",
        r"^(https?://)?profile.zeit.de.*",
        None,
        url_collectors=("user-comment__link", "pager__page"),  # ZeitDe.hs:333-336
    ),
    Dispatcher(  # zeitDeSearchDispatcher (ZeitDe.hs:103-110)
        "search",
        r"^(https?://)?www.zeit.de/suche/.*",
        "article_searched",
        url_collectors=("pager__page", "zon-teaser__link"),  # ZeitDe.hs:350-353
    ),
)

# allLinksDispatcher (Generic.hs:91-98): collect every anchor href.
ALL_LINKS_DISPATCHERS: tuple[Dispatcher, ...] = (
    Dispatcher("all_links", r".*", None, url_collectors=("a",)),
)


@dataclass
class CrawlConfig:
    """Engine knobs ≙ the reference CLI flags (app/Main.hs:70-132)."""

    start_domain: str
    follow_links: bool = False  # -f (Main.hs:96-99); gate C6
    cross_domain: bool = False  # -x (Main.hs:100-103); gate C7
    lifo: bool = False  # -l (Main.hs:92-94); merge policy C3
    # -a (Main.hs:89-91; seen=[] wiring Main.hs:246): ignore the
    # PERSISTED seen set — every scheduled URL is due again with a
    # fresh fetch_seq. Within-run dedup still applies (the reference's
    # loop accumulates seen' from [] regardless, App.hs:63): an
    # anti-join against this run's urls_seen rows, the crawl's only
    # seen check besides urls.first_seen.
    visit_again: bool = False
    scraper_name: str = "scrapetition-spark"  # ≙ getProgName (App.hs:130-131)
    politeness_sec: float = 2.0  # threadDelay 2000000 (App.hs:68)
    dispatchers: tuple[Dispatcher, ...] = ZEIT_DE_DISPATCHERS
    # Engine scale knobs (no reference counterpart — epoch batching):
    per_host_budget: int = 1  # max fetches per host per epoch (politeness)
    max_urls_per_epoch: int | None = 100_000  # global due-set cap (None = unbounded)
    n_host_buckets: int = 256  # salted frontier partitioning
    # Commit buckets of urls and of the item/edge sinks (comments,
    # users, votes, articles, url_edges): host buckets fold into this
    # many. Every table is bucketed from its first write, and an epoch
    # reads and rewrites only the commit buckets its fetched pages and
    # discovered links touch. Local default 16 keeps file counts sane;
    # production = up to n_host_buckets, so a crawl of few hosts reads
    # few buckets.
    n_commit_buckets: int = 16
    n_frontier_salts: int = 8  # hot-host two-phase top-K (1 = off)
    # Accepted only as 0 (urls_seen is always bucketed) and has no
    # effect, like CrawlEngine's bloom_mode; both are kept because the
    # benchmark's crawl workload still passes them. The next change to
    # the benchmark removes them.
    seen_bucket_min_bytes: int = 0
    # Epoch frames derived from the due set (due, fetched, followed)
    # get an explicit F.broadcast hint only while their known row
    # count is at or below this; above it the join is left to the
    # shuffle planner (AQE still broadcasts when the build side turns
    # out cheap). The due set is per-host-budgeted but UNBOUNDED in
    # host count, so an unconditional hint would force multi-GB
    # broadcasts on a 10^8-host frontier and kill the epoch on
    # driver/executor broadcast limits (VERDICT r03 #1). The default
    # covers the measured-good 2.1M-row scaling run with headroom;
    # 0 disables every hint (exercised by tests + the scaling A/B).
    broadcast_max_rows: int = 4_000_000
    # Snapshot retention per catalog table (≙ Iceberg
    # expire_snapshots): after each epoch keep only the newest N
    # snapshots and GC superseded manifests/data dirs — a long crawl
    # otherwise accumulates O(epochs) of both. None = never expire
    # (full time travel). Resume needs only HEAD, so any N ≥ 1 keeps
    # exact resume working.
    expire_keep_snapshots: int | None = None
    sequential: bool = False  # 1 URL/epoch: bit-exact reference ordering
    respect_robots: bool = False  # north-rule addition (absent in reference)
    # logical→physical table-name overrides (≙ --items-table /
    # --users-table / --voting-table, app/Main.hs:117-131); e.g.
    # {"comments": "items", "votes": "comment_voting"}
    table_names: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    def __post_init__(self):
        if self.seen_bucket_min_bytes != 0:
            raise ValueError(
                "seen_bucket_min_bytes must be 0: urls_seen is always bucketed"
            )
