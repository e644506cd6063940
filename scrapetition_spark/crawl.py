"""The epoch-loop crawl driver (C13; SURVEY.md §3.1).

The reference's per-URL tail recursion
(/root/reference/src/Network/Scrapetition/App.hs:38-69) becomes a
driver loop over set-oriented Spark jobs. One epoch =

    due-set plan (politeness window over host-partitioned frontier)
    → fetch join against the documents table (the synthetic web;
      a real deployment swaps this stage for an async-HTTP
      mapInPandas source)
    → vectorized parse (parse/kernel.py)
    → dispatcher gating + metadata enrichment (C8, C11)
    → MERGE sinks for items/urls/edges (S6-S8)
    → frontier merge with FIFO/LIFO union semantics (C3/C4)
    → seen-set append (C2)
    → metrics row, then the epoch's commit record (exact resume)

``cfg.sequential=True`` fetches exactly one URL per epoch, which
reproduces the reference's crawl order bit-for-bit (verified against
the pure-Python simulator in tests/reference_sim.py). Wide epochs
(the scale path) preserve the same seen *set* and per-host order.

Resume (≙ ``scrapetition -d``, app/Main.hs:247-250): each epoch ends
in one commit point, a record of every ``ENGINE_TABLES`` HEAD
(``Catalog.record_heads``), and every entry point that writes first
rolls back to it (``Catalog.restore_heads``). An epoch that fails at
any write resumes to the clean crawl's state (tests/test_crawl.py,
tests/test_partitioned_bloom.py), and ``urls.first_seen`` and
``urls.last_epoch`` (the epoch of the latest fetch) are exact. So
``urls`` is the crawl's one seen truth: every due set, default and
``-a``, is a predicate on the ``urls`` scan (``plan_due``), and the
crawl reads ``urls_seen`` nowhere.

Every crawl-state table is bucketed from its first write, and each
table's bucket is a function of its key that equals the fetched
page's host bucket (urls, the item sinks: the commit bucket
``pmod(host_bucket, n_commit_buckets)``; urls_seen: the host
bucket). The epoch therefore knows on the driver,
from its due set and its discovered links, which buckets each sink
touches, and every sink reads and writes only those.
"""

from __future__ import annotations

import logging
import time
from collections import Counter
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from scrapetition_spark.config import CrawlConfig
from scrapetition_spark.functions.urls import host_bucket, url_domain
from scrapetition_spark.parse import discover_urls, parse_pages, sniffed_charset
from scrapetition_spark.plans.frontier import (
    LINEAGE_COLS,
    assign_fetch_seq,
    follow_order,
    plan_due,
)
from scrapetition_spark.session import local_df
from scrapetition_spark.schemas import (
    ARTICLES,
    COMMENTS,
    CRAWL_METRICS,
    UNIQUE_KEYS,
    URL_EDGES,
    URLS,
    URLS_SEEN,
    USERS,
    VOTES,
)
from scrapetition_spark.sources.catalog import PART, Catalog, grouped_resolve

_URL_ORDER = ["source_fetch_seq", "dispatcher_idx", "pos"]
# the tagged parts of the urls resolve (``CrawlEngine._merge_urls``):
# a row carries one of them, the others are null
_URL_TAGS = {
    "base": StructType(URLS.fields[1:]),
    "fetch": "struct<status:int,encoding:string>",
    "disc": "struct<source_fetch_seq:bigint,dispatcher_idx:int,pos:int>",
    "follow": "struct<s:bigint,d:int,p:int>",
}
# every table the engine writes, by logical name: the epoch's commit
# record holds the HEAD of each
ENGINE_TABLES = (
    "urls", "urls_seen", "comments", "users", "votes", "articles",
    "url_edges", "crawl_metrics",
)
log = logging.getLogger(__name__)


def _domain_or(fallback: str) -> F.Column:
    # domainT url fallback — note the reference's two distinct
    # misspellings: "UNKOWN" (Comment.hs:112, Vote.hs:81) vs
    # "UNKNOWN" (User.hs:87, Article.hs:88). Kept verbatim.
    return F.coalesce(url_domain(F.col("url")), F.lit(fallback))


@dataclass
class EpochStats:
    epoch: int
    urls_due: int
    urls_discovered: int
    duration_ms: int
    # per-stage wall seconds (due/fetch/parse/discovered/sinks) — the
    # evidence trail for which stage saturates at a given parallelism
    stage_seconds: dict[str, float] | None = None


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        cfg: CrawlConfig,
        documents: DataFrame,
        robots: DataFrame | None = None,
        bloom_mode: str | None = None,
    ):
        self.spark = spark
        if cfg.table_names:
            catalog = Catalog(catalog.spark, catalog.root, cfg.table_names)
        self.cat = catalog
        self.cfg = cfg
        self.documents = documents
        self.robots = robots
        # Accepted for callers that still pass it; it has no effect:
        # urls.first_seen is the crawl's one seen truth, and the bloom
        # (plans/seen.py) serves the c5/c5b operators only.
        if bloom_mode not in (None, "partitioned"):
            raise ValueError(f"unknown bloom_mode {bloom_mode!r}")
        self.fetch_seq_base = 0
        self._fallback_buckets: dict[str, int] | None = None
        # first epoch of THIS run: visit_again (-a) treats URLs last
        # fetched before it as unseen (≙ runScrapers urls [] — Main.hs:246
        # starts the run's seen set empty; within-run dedup stays)
        self.run_start_epoch = 0

    # ------------------------------------------------------------------ util

    def _seen_bucket_expr(self) -> F.Column:
        """urls_seen commit bucket: the row's host bucket, so a reader
        that knows a URL's host reads one bucket. The crawl itself
        never reads urls_seen (``-a`` is a predicate on
        ``urls.last_epoch``); the fetch log's readers are the CLI, the
        oracle trace and the tests."""
        return host_bucket(F.col("host"), self.cfg.n_host_buckets)

    def _seen_bucket_spec(self) -> dict:
        return {"n_host_buckets": self.cfg.n_host_buckets}

    def _commit_spec(self) -> dict:
        """Bucket spec of urls and the item sinks."""
        return {
            "n_commit_buckets": self.cfg.n_commit_buckets,
            "n_host_buckets": self.cfg.n_host_buckets,
        }

    def _commit_bucket(self, host: F.Column) -> F.Column:
        """Commit bucket of a host: the bucket of urls and of the item
        sinks. Host buckets fold into ``n_commit_buckets`` of them."""
        return F.pmod(
            host_bucket(host, self.cfg.n_host_buckets),
            F.lit(self.cfg.n_commit_buckets),
        )

    def _fallback_bucket(self, fallback: str) -> int:
        """Commit bucket of a literal domain ``_domain_or`` stores for
        an item whose page URL has no host. Computed once per engine,
        on the driver: a projection over a local relation runs no Spark
        job."""
        if self._fallback_buckets is None:
            one = local_df(self.spark, [(0,)], "x int")
            self._fallback_buckets = one.select(*[
                self._commit_bucket(F.lit(d)).alias(d) for d in ("UNKOWN", "UNKNOWN")
            ]).first().asDict()
        return self._fallback_buckets[fallback]

    def _read_urls(self) -> tuple[DataFrame, bool]:
        """The whole urls table, and whether it is stored in the live
        layout. If it is not (plain files from an older catalog, or
        another bucket spec), its ``host_bucket`` column is recomputed
        under the live ``n_host_buckets``, and the epoch's commit
        rewrites the whole table."""
        urls = self.cat.read("urls", URLS)
        live = self.cat.prunable_buckets("urls", self._commit_spec())
        if not live:
            urls = urls.withColumn(
                "host_bucket",
                host_bucket(F.col("host"), self.cfg.n_host_buckets).cast("int"),
            )
        return urls, live

    def _commit_urls(self, out: DataFrame, touched: list[int] | None) -> None:
        """The one write of ``urls``: a partition-scoped overwrite of the
        ``touched`` commit buckets with ``out``'s rows (the whole table
        when None), bucketed by ``out``'s ``PART`` column, bucket spec
        recorded after the commit."""
        self.cat.overwrite_partitions("urls", out, PART, touched, self._commit_spec())

    def _new_url(
        self, url: F.Column, scheduled: bool, lineage: dict[str, F.Column]
    ) -> list[F.Column]:
        """The columns after ``url`` of a newly inserted urls row:
        unfetched, scheduled or not, with ``lineage`` (one column per
        ``LINEAGE_COLS`` name)."""
        host = url_domain(url)
        given = {
            "scraper": F.lit(self.cfg.scraper_name),
            "host": host,
            "host_bucket": host_bucket(host, self.cfg.n_host_buckets),
            "in_frontier": F.lit(int(scheduled)),
            **lineage,
        }
        return [
            given.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name)
            for f in URLS.fields[1:]
        ]

    def _url_row(self, df: DataFrame, scheduled: bool) -> DataFrame:
        """Project a (target/lineage) frame onto the urls schema."""
        return df.select(
            F.col("target").alias("url"),
            *self._new_url(F.col("target"), scheduled,
                           {c: F.col(c) for c in LINEAGE_COLS}),
        )

    # ------------------------------------------------------------------ seed

    def seed(self, urls: list[str]) -> None:
        """≙ ``crawl (SingleUrl ...)`` (app/Main.hs:243-246): insert
        seeds and schedule them. Seeds carry lineage epoch -1 so they
        sort before (FIFO) / after (LIFO) every discovery."""
        rows = [(u, i) for i, u in enumerate(urls)]
        self._seed(local_df(self.spark, rows, "target string, pos long"))

    def seed_frame(self, targets: DataFrame) -> None:
        """Distributed seeding: schedule a whole DataFrame of URLs
        (column ``target``) — the 10^10-frontier bootstrap path; a
        driver-side list would not scale. ``pos`` is a deterministic
        hash rather than a dense global row number (which would need a
        single-partition sort); within-host pop order stays
        deterministic, cross-host seed order is immaterial to the
        politeness queue."""
        self._seed(targets.select(
            "target",
            F.pmod(F.xxhash64("target"), F.lit(1 << 31)).cast("int").alias("pos"),
        ))

    def _seed(self, targets: DataFrame) -> None:
        """INSERT OR IGNORE the ``targets`` (first ``pos`` per target
        wins) into urls as scheduled rows. Seeding rewrites the whole
        table, so a catalog in another layout leaves it in the live
        one."""
        self.cat.restore_heads()
        seeds = targets.select(
            "target",
            F.lit(-1).cast("long").alias("source_fetch_seq"),
            F.lit(-1).alias("dispatcher_idx"),
            "pos",
        )
        self._merge_urls(None, seeds, -1, scheduled=True)
        self.cat.record_heads(ENGINE_TABLES)

    def resume_not_seen(self) -> None:
        """≙ ``crawl (NotSeenFromDB ...)`` (Main.hs:247-250; S11):
        schedule every known URL with first_seen IS NULL."""
        self.cat.restore_heads()
        urls, _ = self._read_urls()
        rescheduled = urls.withColumn(
            "in_frontier",
            F.when(F.col("first_seen").isNull(), F.lit(1)).otherwise(
                F.col("in_frontier")
            ),
        ).withColumn(PART, F.pmod(F.col("host_bucket"), F.lit(self.cfg.n_commit_buckets)))
        self._commit_urls(rescheduled, None)
        self.cat.record_heads(ENGINE_TABLES)

    def _hint(self, df: DataFrame, n_rows: int) -> DataFrame:
        """Size-gated broadcast hint (VERDICT r03 #1): hint only while
        the governing KNOWN row count is at or below
        ``cfg.broadcast_max_rows``; above it the join goes through the
        shuffle planner (AQE still broadcasts when cheap). One
        definition, so the epoch's joins never diverge in broadcast
        policy. ``broadcast_max_rows=0`` disables EVERY hint (the A/B
        knob) — including on empty frames, which ``<=`` alone would
        still hint."""
        if self.cfg.broadcast_max_rows <= 0:
            return df
        return F.broadcast(df) if n_rows <= self.cfg.broadcast_max_rows else df

    # ------------------------------------------------------------------ epoch

    def run_epoch(self, epoch: int) -> EpochStats:
        t0 = time.time()
        marks: list[tuple[str, float]] = []

        def mark(label: str) -> None:
            marks.append((label, time.time() - t0))

        def stage_seconds() -> dict[str, float]:
            out, prev = {}, 0.0
            for label, t in marks:
                out[label] = round(t - prev, 3)
                prev = t
            return out

        cfg = self.cfg
        urls, urls_live = self._read_urls()
        due = plan_due(urls, cfg, self.fetch_seq_base, self.robots, self.run_start_epoch)
        # due_counts: due URLs per host bucket, known on the driver
        # without another job — every sink's touched buckets and the
        # per-bucket metrics derive from it
        if cfg.sequential:
            due = due.select(
                "url", "host", "host_bucket", "fetch_seq"
            ).localCheckpoint()
            due_counts = dict(Counter(
                r["host_bucket"] for r in due.select("host_bucket").collect()
            ))
            n_due = sum(due_counts.values())
        else:
            # materialize the due set once, then number it in parallel
            # (per-bucket windows + dense offsets — no global sort)
            raw = due.select(
                "url", "host", "host_bucket", *LINEAGE_COLS
            ).localCheckpoint()
            due, n_due, due_counts = assign_fetch_seq(raw, cfg, self.fetch_seq_base)
            due = due.select(
                "url", "host", "host_bucket", "fetch_seq"
            ).localCheckpoint()
        mark("due")
        if n_due == 0:
            return EpochStats(
                epoch, 0, 0, int((time.time() - t0) * 1000), stage_seconds()
            )

        # ---- fetch (S1): join the due set against the synthetic web.
        # The due side is politeness-capped per host but unbounded in
        # host count, so the broadcast hint is gated on the known
        # n_due (cfg.broadcast_max_rows): small due set → map-side
        # join, one streaming documents scan, no shuffle; huge due set
        # → plain shuffle join (AQE still broadcasts when cheap).
        # URLs with no document behave like HTTP failures: status 404,
        # no body, but still marked seen (App.hs:51-52 fetches and
        # updates the seen date regardless of status).
        hint = self._hint

        docs = self.documents
        hit = (
            docs.join(hint(due, n_due), docs["doc_id"] == due["url"], "inner")
            .select(
                due["url"].alias("url"),
                due["fetch_seq"],
                docs["doc_id"],
                docs["spans"],
                F.coalesce(docs["status"], F.lit(200)).alias("status"),
                docs["encoding"],
            )
            .localCheckpoint()  # one scan over documents per epoch
        )
        mark("fetch")
        miss = (
            due.join(hint(hit.select("url"), n_due), ["url"], "left_anti")
            .select(
                "url",
                "fetch_seq",
                F.col("url").alias("doc_id"),
                F.lit(None).cast(docs.schema["spans"].dataType).alias("spans"),
                F.lit(404).alias("status"),
                F.lit(None).cast("string").alias("encoding"),
            )
        )
        pages = hit.unionByName(miss)

        # ---- parse (C10): every extraction in one declarative plan.
        # comments feed four sinks (comments, contributors, votes,
        # articles-from-comments): materialize once, reuse (reuse=True).
        # pages carry fetch_seq, so every item frame does too: no join
        # back to the due set
        parsed = parse_pages(pages, reuse=True)
        mark("parse")

        # S2: sniffed charset (meta content-type span) wins over the
        # transport hint (Encoding.hs:16-41; stored by S9, URL.hs:18-25).
        # Materialized once: the urls_seen append and the urls resolve
        # both read it, and neither re-runs the fetch's anti-join.
        fetched = pages.select(
            "url", "fetch_seq", "status",
            F.coalesce(sniffed_charset(), "encoding").alias("encoding"),
        ).localCheckpoint()

        now = F.current_timestamp()
        dispatchers = cfg.dispatchers
        kind_idx = {d.item_kind: i for i, d in enumerate(dispatchers) if d.item_kind}

        def gated(*frames: tuple[str, DataFrame]) -> DataFrame | None:
            """Dispatcher regex gating (C8) + dispatcher_idx stamp of
            each frame whose kind a dispatcher extracts, unioned; None
            when no dispatcher extracts any of them."""
            parts = [
                df.filter(F.col("url").rlike(dispatchers[kind_idx[k]].url_scheme))
                .withColumn("dispatcher_idx", F.lit(kind_idx[k]))
                for k, df in frames if k in kind_idx
            ]
            return reduce(DataFrame.unionByName, parts) if parts else None

        # Touched commit buckets. An item row's page URL is due, so its
        # domain is a due host or the _domain_or literal; an edge's
        # source is a due page.
        ncb = cfg.n_commit_buckets
        due_commit = {b % ncb for b in due_counts}

        def by_domain(fallback: str) -> tuple[F.Column, list[int]]:
            return self._commit_bucket(F.col("domain")), sorted(
                due_commit | {self._fallback_bucket(fallback)}
            )

        n_discovered = 0
        disc_counts: dict[int, int] = {}
        # merge_insert arguments (table, batch, keys, schema, order,
        # bucket expr, touched buckets), one grouped resolve each,
        # executed concurrently below
        sink_tasks: list[tuple] = []
        # ---- item sinks (S8) — insertion order (fetch_seq,
        # dispatcher_idx, pos) ≙ the reference's sequential executeMany.
        order = ["fetch_seq", "dispatcher_idx", "pos"]
        stamp = [now.alias("first_scraped"), now.alias("last_scraped"),
                 F.lit(cfg.scraper_name).alias("scraper"), *order]
        comments = gated(("comment", parsed.comments))
        if comments is not None:
            batch = comments.select(
                "id",
                _domain_or("UNKOWN").alias("domain"),
                "text", "title", "user", "name", "date_informal", "date",
                "parent", "thread", "up_votes", "down_votes", "article",
                "url", *stamp,
            )
            sink_tasks.append(("comments", batch, UNIQUE_KEYS["comments"], COMMENTS,
                               order, *by_domain("UNKOWN")))

        users = gated(("user", parsed.users), ("voter", parsed.voters))
        if users is not None:
            batch = users.select(
                "user", _domain_or("UNKNOWN").alias("domain"), "name", "url", *stamp
            )
            sink_tasks.append(("users", batch, UNIQUE_KEYS["users"], USERS,
                               order, *by_domain("UNKNOWN")))

        votes = gated(("vote", parsed.votes))
        if votes is not None:
            batch = votes.select(
                _domain_or("UNKOWN").alias("domain"),
                "user", "comment", "vote", "url", *stamp,
            )
            sink_tasks.append(("votes", batch, UNIQUE_KEYS["votes"], VOTES,
                               order, *by_domain("UNKOWN")))

        arts = gated(
            ("article", parsed.articles),
            ("article_from_comment", parsed.articles_from_comments),
            ("article_searched", parsed.articles_searched),
        )
        if arts is not None:
            batch = arts.select(
                "canonical",
                _domain_or("UNKNOWN").alias("domain"),
                "title", "description", "author", "date", "url", *stamp,
            )
            # keyed by canonical alone: bucketed by canonical's host,
            # which the epoch does not know, so the MERGE collects it
            sink_tasks.append(
                ("articles", batch, UNIQUE_KEYS["articles"], ARTICLES, order,
                 self._commit_bucket(url_domain(F.col("canonical"))), None)
            )

        # ---- discovered URLs per dispatcher (C4): mkAbsolute + nub +
        # pos, computed *inside the span array* (parse/kernel.py
        # discover_urls) — map-side, no shuffle, no Python.
        disc = discover_urls(
            hit,
            [
                (i, d.url_scheme, d.url_collectors)
                for i, d in enumerate(dispatchers)
                if d.url_collectors
            ],
        )
        if disc is not None:
            # hit carries fetch_seq, so discover_urls passes the lineage
            # through as source_fetch_seq — no join back to the due set
            # (disc sources ⊆ hit ⊆ due by construction; the old inner
            # join was an identity lookup and one more due-set-derived
            # broadcast/shuffle in the epoch loop)
            disc = disc.select(
                "source",
                "source_fetch_seq",
                "dispatcher_idx",
                "pos",
                "target",
            ).localCheckpoint()
            # discovered targets per host bucket: the urls commit's
            # touched buckets and the per-bucket metrics
            disc_counts = {
                r["b"]: r["n"]
                for r in disc.groupBy(
                    host_bucket(url_domain(F.col("target")), cfg.n_host_buckets)
                    .alias("b")
                ).agg(F.count("*").alias("n")).collect()
            }
            n_discovered = sum(disc_counts.values())
        mark("discovered")

        if disc is not None and n_discovered > 0:
            # S7: link-graph edges (dedup on (source,target), URL.hs:94)
            edges = disc.select(
                "source", "target",
                now.alias("first_scraped"), now.alias("last_scraped"),
                F.lit(cfg.scraper_name).alias("scraper"),
                "source_fetch_seq", "dispatcher_idx", "pos",
            )
            sink_tasks.append(
                ("url_edges", edges, UNIQUE_KEYS["url_edges"], URL_EDGES, _URL_ORDER,
                 self._commit_bucket(url_domain(F.col("source"))), sorted(due_commit))
            )
        else:
            disc = None

        seen_batch = fetched.select(
            "url",
            url_domain(F.col("url")).alias("host"),
            "fetch_seq",
            F.lit(epoch).alias("epoch"),
            F.coalesce(F.col("status"), F.lit(404)).alias("status"),
            "encoding",
        ).select(*[f.name for f in URLS_SEEN.fields])

        # ---- execute the independent writes concurrently (each hits
        # its own table; Spark schedules the jobs in parallel). The
        # urls resolve (S6 inserts + S9 seen-update + C3 adoption —
        # one MERGE INTO with two WHEN clauses on Iceberg) and the
        # seen-set append (C2) join the pool.
        from concurrent.futures import ThreadPoolExecutor

        spec = self._commit_spec()
        # a urls table in another layout is rewritten whole (None)
        urls_touched = (
            sorted(due_commit | {b % ncb for b in disc_counts}) if urls_live else None
        )
        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = [
                pool.submit(
                    self.cat.merge_insert, tbl, batch, keys, schema, order,
                    bucket, spec, touched,
                )
                for tbl, batch, keys, schema, order, bucket, touched in sink_tasks
            ]
            futs.append(
                pool.submit(
                    self._merge_urls, urls_touched, disc, epoch, False, fetched
                )
            )
            futs.append(
                pool.submit(
                    self.cat.append_bucketed, "urls_seen", seen_batch,
                    self._seen_bucket_expr(), self._seen_bucket_spec(),
                )
            )
            for f in futs:
                f.result()  # propagate failures
        mark("sinks")

        dur = int((time.time() - t0) * 1000)
        # per-partition lineage/metrics (north rule): due and
        # discovered URLs per host bucket, in the epoch's one row
        buckets = [
            {"host_bucket": b, "urls_due": due_counts.get(b, 0),
             "urls_discovered": disc_counts.get(b)}
            for b in sorted(due_counts.keys() | disc_counts.keys())
        ]
        metrics = local_df(
            self.spark,
            [(epoch, n_due, n_due, n_discovered, None, dur,
              self.cat.head("urls_seen"), buckets)],
            CRAWL_METRICS,
        )
        self.cat.append("crawl_metrics", metrics, hint_partitions=1)
        # the epoch's one commit point: until this record, every write
        # above is undone by the next entry point's restore_heads
        self.cat.record_heads(ENGINE_TABLES)
        self.fetch_seq_base += n_due
        mark("metrics")  # post-sinks epoch bookkeeping is measured too
        stages = stage_seconds()
        log.debug("epoch %d: due=%d stage seconds %s", epoch, n_due, stages)
        return EpochStats(epoch, n_due, n_discovered, dur, stages)

    def _merge_urls(
        self,
        touched: list[int] | None,
        found: DataFrame | None,
        epoch: int,
        scheduled: bool,
        fetched: DataFrame | None = None,
    ) -> None:
        """S6 inserts + S9 seen-update + C3 adoption as one grouped
        resolve per (commit bucket, url) (``grouped_resolve``),
        committed partition-scoped over the ``touched`` commit buckets
        — every bucket a fetched or found URL lands in; None rewrites
        the whole table into the live layout. The union's rows are
        tagged (``_URL_TAGS``) and folded per url into:

        - ``base``: the stored row (``max``: at most one);
        - ``fetch``: the fetch update of a ``fetched`` row (S9);
        - ``disc``: the first occurrence among ``found`` rows (target
          plus ``_URL_ORDER`` lineage) — S6 inserts every discovered
          URL (App.hs:89-90), followed or not;
        - ``adopt``: the lineage the frontier adopts (C3,
          ``follow_order``); ``scheduled`` found rows are seeds, which
          are not adopted.

        The row is ``t = coalesce(base, first discovery)``, a new URL
        entering with lineage epoch ``epoch`` and ``in_frontier =
        scheduled``; existing and new rows then pass the same update
        rules."""
        cfg = self.cfg
        if touched is None:
            base, _ = self._read_urls()
        else:
            base = self.cat.read_buckets("urls", URLS, touched)

        def tagged(df: DataFrame, url: str, bucket: F.Column, **tags) -> DataFrame:
            return df.select(F.col(url).alias("url"), bucket.alias(PART), *[
                tags.get(c, F.lit(None)).cast(t).alias(c) for c, t in _URL_TAGS.items()
            ])

        def commit_bucket(url: str) -> F.Column:
            return self._commit_bucket(url_domain(F.col(url)))

        names = URLS.fieldNames()
        rows = tagged(
            base, "url", F.pmod(F.col("host_bucket"), F.lit(cfg.n_commit_buckets)),
            base=F.struct(*names[1:]),
        )
        if fetched is not None:
            rows = rows.unionByName(tagged(
                fetched, "url", commit_bucket("url"),
                fetch=F.struct(F.coalesce("status", F.lit(404)), "encoding"),
            ))
        if found is not None:
            follow = {} if scheduled else {"follow": follow_order(cfg)}
            rows = rows.unionByName(tagged(
                found, "target", commit_bucket("target"),
                disc=F.struct(*_URL_ORDER), **follow,
            ))
        g = grouped_resolve(
            rows, ["url"],
            F.max("base").alias("base"),
            F.max("fetch").alias("fetch"),
            F.min("disc").alias("disc"),
            F.min_by("disc", "follow").alias("adopt"),
        ).filter(F.col("base").isNotNull() | F.col("disc").isNotNull())

        new = F.struct(*self._new_url(F.col("url"), scheduled, {
            "discovery_epoch": F.lit(epoch),
            **{c: F.col(f"disc.{c}") for c in _URL_ORDER},
        }))
        g = g.select(PART, "url", "fetch", "adopt", F.coalesce("base", new).alias("t"))

        def t(c: str) -> F.Column:
            return F.col(f"t.{c}")

        now = F.current_timestamp()
        was_fetched = F.col("fetch").isNotNull()
        # C3 merge policy: FIFO keeps the existing lineage; LIFO lets a
        # re-discovery of a still-unfetched URL jump the queue. A newly
        # discovered URL is off the frontier until adopted.
        adopt = (
            F.col("adopt").isNotNull()
            & t("first_seen").isNull()
            & ~was_fetched
            & (F.lit(cfg.lifo) | (t("in_frontier") == 0))
        )
        updated = {
            "status": F.when(was_fetched, F.col("fetch.status")).otherwise(t("status")),
            "encoding": F.when(was_fetched, F.col("fetch.encoding")).otherwise(t("encoding")),
            # S9 (URL.hs:18-25): first_seen = coalesce(first_seen, now)
            "first_seen": F.when(was_fetched, F.coalesce(t("first_seen"), now))
            .otherwise(t("first_seen")),
            "last_seen": F.when(was_fetched, now).otherwise(t("last_seen")),
            "last_epoch": F.when(was_fetched, F.lit(epoch)).otherwise(t("last_epoch")),
            "in_frontier": F.when(adopt, F.lit(1)).otherwise(t("in_frontier")),
            "discovery_epoch": F.when(adopt, F.lit(epoch)).otherwise(t("discovery_epoch")),
            **{c: F.when(adopt, F.col(f"adopt.{c}")).otherwise(t(c)) for c in _URL_ORDER},
        }
        out = g.select(PART, "url", *[updated.get(c, t(c)).alias(c) for c in names[1:]])
        self._commit_urls(out, touched)

    # ------------------------------------------------------------------ run

    def run(self, max_epochs: int | None = None, sleep: bool = False) -> list[EpochStats]:
        """Run epochs until the due set is empty ("All URLs seen.",
        App.hs:45-47) or max_epochs is hit. ``sleep=True`` enforces the
        politeness budget in wall-clock (threadDelay ≙ App.hs:68)."""
        stats: list[EpochStats] = []
        # crawl_metrics is exact after restore_heads, and each of its
        # rows commits with that epoch's urls_seen rows: its
        # urls_fetched sum is the fetch counter, with no urls_seen scan
        self.cat.restore_heads()
        last, n_fetched = self.cat.read("crawl_metrics", CRAWL_METRICS).agg(
            F.max("epoch"), F.sum("urls_fetched")
        ).first()
        epoch = 0 if last is None else last + 1
        self.fetch_seq_base = n_fetched or 0
        self.run_start_epoch = epoch
        while True:
            t0 = time.time()
            st = self.run_epoch(epoch)
            if st.urls_due == 0:
                break
            stats.append(st)
            if self.cfg.expire_keep_snapshots is not None:
                for t in self.cat.tables():
                    self.cat.expire_snapshots(t, self.cfg.expire_keep_snapshots)
            if sleep and self.cfg.politeness_sec > 0:
                remaining = self.cfg.politeness_sec - (time.time() - t0)
                if remaining > 0:
                    time.sleep(remaining)
            epoch += 1
            if max_epochs is not None and len(stats) >= max_epochs:
                break
        return stats
