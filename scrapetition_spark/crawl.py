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
tests/test_partitioned_bloom.py), and ``urls.first_seen`` is exact.
So ``urls`` is the crawl's one seen truth: every due set is planned
from it with the frontier's candidate predicate, and the only seen
check left is ``-a``'s run-local anti-join against ``urls_seen``.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scrapetition_spark.config import CrawlConfig
from scrapetition_spark.functions.urls import host_bucket, url_domain
from scrapetition_spark.parse import discover_urls, parse_pages
from scrapetition_spark.plans.frontier import (
    LINEAGE_COLS,
    assign_fetch_seq,
    candidate_predicate,
    gate_discovered,
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
from scrapetition_spark.sources.catalog import Catalog

_URL_ORDER = ["source_fetch_seq", "dispatcher_idx", "pos"]
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
        # first epoch of THIS run: visit_again (-a) ignores seen rows
        # from epochs before it (≙ runScrapers urls [] — Main.hs:246
        # starts the run's seen set empty; within-run dedup stays)
        self.run_start_epoch = 0

    # ------------------------------------------------------------------ util

    def _seen_bucket_expr(self) -> F.Column:
        """urls_seen commit bucket: the row's host bucket — equal urls
        have equal hosts, so a candidate URL can only match seen rows
        in its own bucket (what makes the pruned read exact)."""
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
        an item whose page URL has no host. One tiny JVM job, once per
        engine."""
        if self._fallback_buckets is None:
            self._fallback_buckets = self.spark.range(1).select(*[
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
        when None), bucket spec recorded after the commit."""
        self.cat.overwrite_partitions(
            "urls", out, F.pmod(F.col("host_bucket"), F.lit(self.cfg.n_commit_buckets)),
            touched, self._commit_spec(),
        )

    def _read_seen(self, urls: DataFrame) -> DataFrame:
        """``-a``'s seen set (Main.hs:89-91, seen=[] at :246): the
        urls_seen rows of this run's epochs, read ONLY in the
        frontier's active host buckets (but for a catalog written under
        another spec). The due-set anti-join matches on url equality
        and equal urls share a host bucket, so seen rows of other
        buckets match no candidate: at 10^10 seen URLs the read is
        O(active buckets), and a domain-restricted crawl (the
        reference default, gate C7) reads exactly one bucket."""
        # MUST be plan_due's own predicate (shared helper): the bucket
        # cover is only sound for exactly the candidate set it joins
        active = urls.filter(candidate_predicate(self.cfg))
        buckets = sorted(
            r["host_bucket"]
            for r in active.select("host_bucket").distinct().collect()
        )
        if self.cat.prunable_buckets("urls_seen", self._seen_bucket_spec()):
            seen = self.cat.read_buckets("urls_seen", URLS_SEEN, buckets)
        else:
            seen = self.cat.read("urls_seen", URLS_SEEN)
        return seen.filter(F.col("epoch") >= F.lit(self.run_start_epoch))

    def _url_row(self, df: DataFrame, scheduled: bool) -> DataFrame:
        """Project a (target/lineage) frame onto the urls schema."""
        t = F.col("target")
        return df.select(
            t.alias("url"),
            F.lit(None).cast("int").alias("status"),
            F.lit(None).cast("string").alias("encoding"),
            F.lit(None).cast("timestamp").alias("first_seen"),
            F.lit(None).cast("timestamp").alias("last_seen"),
            F.lit(None).cast("timestamp").alias("first_scraped"),
            F.lit(None).cast("timestamp").alias("last_scraped"),
            F.lit(self.cfg.scraper_name).alias("scraper"),
            url_domain(t).alias("host"),
            host_bucket(url_domain(t), self.cfg.n_host_buckets).alias("host_bucket"),
            F.lit(None).cast("int").alias("depth"),
            F.lit(1 if scheduled else 0).alias("in_frontier"),
            F.col("discovery_epoch"),
            F.col("source_fetch_seq"),
            F.col("dispatcher_idx").cast("int"),
            F.col("pos").cast("int"),
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
        first = targets.groupBy("target").agg(F.min("pos").alias("pos")).select(
            "target",
            F.lit(-1).alias("discovery_epoch"),
            F.lit(-1).cast("long").alias("source_fetch_seq"),
            F.lit(-1).alias("dispatcher_idx"),
            "pos",
        )
        urls, _ = self._read_urls()
        new = self._url_row(first, scheduled=True).join(
            urls.select("url"), ["url"], "left_anti"
        )
        self._commit_urls(urls.unionByName(new), None)
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
        )
        self._commit_urls(rescheduled, None)
        self.cat.record_heads(ENGINE_TABLES)

    def _hint(self, df: DataFrame, n_rows: int) -> DataFrame:
        """Size-gated broadcast hint (VERDICT r03 #1): hint only while
        the governing KNOWN row count is at or below
        ``cfg.broadcast_max_rows``; above it the join goes through the
        shuffle planner (AQE still broadcasts when cheap). One
        definition so the epoch joins and the urls-rewrite joins can
        never diverge in broadcast policy. ``broadcast_max_rows=0``
        disables EVERY hint (the A/B knob) — including on empty
        frames, which ``<=`` alone would still hint."""
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
        # urls.first_seen commits with urls_seen in one epoch record:
        # the candidate predicate alone excludes every fetched URL.
        # Under -a fetched URLs are candidates again, and only this
        # run's seen rows dedup them.
        seen = self._read_seen(urls) if cfg.visit_again else None
        due = plan_due(urls, seen, cfg, self.fetch_seq_base, self.robots)
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
        parsed = parse_pages(pages, reuse=True)
        mark("parse")
        due_seq = due.select("url", "fetch_seq")

        # S2: sniffed charset (meta content-type span) wins over the
        # transport hint (Encoding.hs:16-41; stored by S9, URL.hs:18-25)
        fetched = (
            pages.select("url", "fetch_seq", "status", "encoding")
            .join(
                parsed.pages_meta.select(
                    "url", F.col("encoding").alias("sniffed")
                ),
                ["url"],
                "left",
            )
            .select(
                "url",
                "fetch_seq",
                "status",
                F.coalesce("sniffed", "encoding").alias("encoding"),
            )
        )

        def with_seq(df: DataFrame) -> DataFrame:
            return df.join(hint(due_seq, n_due), ["url"], "inner")

        now = F.current_timestamp()
        dispatchers = cfg.dispatchers

        def gate(df: DataFrame, kinds: dict[str, int]) -> DataFrame:
            """Dispatcher regex gating (C8) + dispatcher_idx stamp."""
            out = None
            for kind, idx in kinds.items():
                d = dispatchers[idx]
                part = df.filter(F.col("url").rlike(d.url_scheme)).withColumn(
                    "dispatcher_idx", F.lit(idx)
                )
                out = part if out is None else out.unionByName(part)
            return out

        kind_idx = {d.item_kind: i for i, d in enumerate(dispatchers) if d.item_kind}

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
        # (table, batch, keys, schema, order, bucket expr, touched
        # buckets), executed concurrently below
        sink_tasks: list[tuple] = []
        # ---- item sinks (S8) — insertion order (fetch_seq,
        # dispatcher_idx, pos) ≙ the reference's sequential executeMany.
        if "comment" in kind_idx:
            comments = gate(with_seq(parsed.comments), {"comment": kind_idx["comment"]})
            batch = comments.select(
                "id",
                _domain_or("UNKOWN").alias("domain"),
                "text", "title", "user", "name", "date_informal", "date",
                "parent", "thread", "up_votes", "down_votes", "article",
                "url",
                now.alias("first_scraped"), now.alias("last_scraped"),
                F.lit(cfg.scraper_name).alias("scraper"),
                "fetch_seq", "dispatcher_idx", "pos",
            )
            sink_tasks.append(
                ("comments", batch, UNIQUE_KEYS["comments"], COMMENTS,
                 ["fetch_seq", "dispatcher_idx", "pos"], *by_domain("UNKOWN"))
            )

        user_parts = []
        if "user" in kind_idx:
            user_parts.append(
                gate(with_seq(parsed.users), {"user": kind_idx["user"]})
            )
        if "voter" in kind_idx:
            user_parts.append(
                gate(with_seq(parsed.voters), {"voter": kind_idx["voter"]})
            )
        if user_parts:
            users = user_parts[0]
            for p in user_parts[1:]:
                users = users.unionByName(p)
            batch = users.select(
                "user",
                _domain_or("UNKNOWN").alias("domain"),
                "name", "url",
                now.alias("first_scraped"), now.alias("last_scraped"),
                F.lit(cfg.scraper_name).alias("scraper"),
                "fetch_seq", "dispatcher_idx", "pos",
            )
            sink_tasks.append(
                ("users", batch, UNIQUE_KEYS["users"], USERS,
                 ["fetch_seq", "dispatcher_idx", "pos"], *by_domain("UNKNOWN"))
            )

        if "vote" in kind_idx:
            votes = gate(with_seq(parsed.votes), {"vote": kind_idx["vote"]})
            batch = votes.select(
                _domain_or("UNKOWN").alias("domain"),
                "user", "comment", "vote", "url",
                now.alias("first_scraped"), now.alias("last_scraped"),
                F.lit(cfg.scraper_name).alias("scraper"),
                "fetch_seq", "dispatcher_idx", "pos",
            )
            sink_tasks.append(
                ("votes", batch, UNIQUE_KEYS["votes"], VOTES,
                 ["fetch_seq", "dispatcher_idx", "pos"], *by_domain("UNKOWN"))
            )

        article_parts = []
        for kind, frame in (
            ("article", parsed.articles),
            ("article_from_comment", parsed.articles_from_comments),
            ("article_searched", parsed.articles_searched),
        ):
            if kind in kind_idx:
                article_parts.append(gate(with_seq(frame), {kind: kind_idx[kind]}))
        if article_parts:
            arts = article_parts[0]
            for p in article_parts[1:]:
                arts = arts.unionByName(p)
            batch = arts.select(
                "canonical",
                _domain_or("UNKNOWN").alias("domain"),
                "title", "description", "author", "date", "url",
                now.alias("first_scraped"), now.alias("last_scraped"),
                F.lit(cfg.scraper_name).alias("scraper"),
                "fetch_seq", "dispatcher_idx", "pos",
            )
            # keyed by canonical alone: bucketed by canonical's host,
            # which the epoch does not know, so the MERGE collects it
            sink_tasks.append(
                ("articles", batch, UNIQUE_KEYS["articles"], ARTICLES,
                 ["fetch_seq", "dispatcher_idx", "pos"],
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

            # follow gates + within-epoch union dedup → frontier rows.
            # Lazily checkpointed: the urls-rewrite sink counts it (to
            # size-gate its broadcast hints on the DEDUPED row count,
            # not the n_discovered overestimate — fanout× larger) and
            # that first action materializes it INSIDE the sink pool,
            # concurrent with the other sinks; both rewrite joins then
            # reuse the checkpoint instead of re-running the dedup.
            followed = gate_discovered(
                disc.withColumn("discovery_epoch", F.lit(epoch)), cfg
            ).localCheckpoint(eager=False)
        else:
            followed = None

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
        # urls-table rewrite (S6 inserts + S9 seen-update + C3 merge —
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
                    self._rewrite_urls, fetched, disc, followed, epoch, n_due,
                    urls_touched,
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

    def _rewrite_urls(
        self,
        fetched: DataFrame,
        disc: DataFrame | None,
        followed: DataFrame | None,
        epoch: int,
        n_due: int,
        touched: list[int] | None,
    ) -> None:
        """S6 inserts + S9 seen-update + C3 frontier merge as one
        partition-scoped commit of the ``touched`` commit buckets —
        every bucket a fetched or discovered URL lands in; None
        rewrites the whole table into the live layout."""
        now = F.current_timestamp()
        cfg = self.cfg

        # same size-gated hint as the epoch joins: fetched is bounded
        # by n_due; the followed side is gated on its OWN deduped row
        # count — n_discovered counts raw (source × position) edges,
        # a fanout× overestimate of the per-target frontier rows that
        # actually join here (measured: the proxy flipped these joins
        # to shuffle on the 2.1M-URL scaling epoch and cost ~23 s of
        # sink time at local[8]). followed is lazily checkpointed, so
        # this count materializes it once, inside this pool task.
        hint = self._hint

        n_followed = followed.count() if followed is not None else 0

        if touched is None:
            urls, _ = self._read_urls()
        else:
            urls = self.cat.read_buckets("urls", URLS, touched)

        # S6: discovered URLs always inserted (App.hs:89-90), even when
        # not followed (C6) or cross-domain (C7). First occurrence wins.
        if disc is not None:
            # first occurrence per target (hash agg, not sort window)
            key = F.struct(*[F.col(c).alias(c) for c in _URL_ORDER])
            row = F.struct(*[F.col(c) for c in disc.columns if c != "target"])
            first_disc = (
                disc.groupBy("target")
                .agg(F.min_by(row, key).alias("__r"))
                .select("target", "__r.*")
                .withColumn("discovery_epoch", F.lit(epoch))
            )
            inserts = self._url_row(first_disc, scheduled=False)
        else:
            inserts = None

        f = fetched.select(
            F.col("url").alias("f_url"),
            F.coalesce(F.col("status"), F.lit(404)).alias("f_status"),
            F.col("encoding").alias("f_encoding"),
        )
        t = urls.alias("t")
        merged = t.join(hint(f, n_due), F.col("t.url") == F.col("f_url"), "left_outer")

        if followed is not None:
            # the followed rows' lineage, joined by both the merge of
            # existing rows and the scheduling of new ones
            fo = followed.select(
                F.col("target").alias("m_url"),
                F.col("discovery_epoch").alias("m_epoch"),
                F.col("source_fetch_seq").alias("m_seq"),
                F.col("dispatcher_idx").alias("m_didx"),
                F.col("pos").alias("m_pos"),
            )
            merged = merged.join(
                hint(fo, n_followed), F.col("t.url") == F.col("m_url"), "left_outer"
            )
        else:
            for c in ("m_url", "m_epoch", "m_seq", "m_didx", "m_pos"):
                merged = merged.withColumn(
                    c, F.lit(None).cast("long" if c in ("m_seq",) else "int")
                    if c != "m_url"
                    else F.lit(None).cast("string")
                )

        was_fetched = F.col("f_url").isNotNull()
        # C3 merge policy: FIFO keeps the existing lineage; LIFO lets a
        # re-discovery of a still-unfetched URL jump the queue.
        mergeable = (
            F.col("m_url").isNotNull()
            & F.col("t.first_seen").isNull()
            & ~was_fetched
        )
        adopt = mergeable & (
            F.lit(cfg.lifo) | (F.col("t.in_frontier") == 0)
        )
        out = merged.select(
            F.col("t.url").alias("url"),
            F.when(was_fetched, F.col("f_status")).otherwise(F.col("t.status")).alias("status"),
            F.when(was_fetched, F.col("f_encoding")).otherwise(F.col("t.encoding")).alias("encoding"),
            # S9 (URL.hs:18-25): first_seen = coalesce(first_seen, now)
            F.when(was_fetched, F.coalesce(F.col("t.first_seen"), now))
            .otherwise(F.col("t.first_seen")).alias("first_seen"),
            F.when(was_fetched, now).otherwise(F.col("t.last_seen")).alias("last_seen"),
            F.col("t.first_scraped").alias("first_scraped"),
            F.col("t.last_scraped").alias("last_scraped"),
            F.col("t.scraper").alias("scraper"),
            F.col("t.host").alias("host"),
            F.col("t.host_bucket").alias("host_bucket"),
            F.col("t.depth").alias("depth"),
            F.when(adopt, F.lit(1)).otherwise(F.col("t.in_frontier")).alias("in_frontier"),
            F.when(adopt, F.col("m_epoch")).otherwise(F.col("t.discovery_epoch")).alias("discovery_epoch"),
            F.when(adopt, F.col("m_seq")).otherwise(F.col("t.source_fetch_seq")).alias("source_fetch_seq"),
            F.when(adopt, F.col("m_didx")).otherwise(F.col("t.dispatcher_idx")).alias("dispatcher_idx"),
            F.when(adopt, F.col("m_pos")).otherwise(F.col("t.pos")).alias("pos"),
        )

        if inserts is not None:
            # brand-new rows (not in table): scheduled iff followed
            ins = inserts.join(urls.select(F.col("url")), ["url"], "left_anti")
            if followed is not None:
                ins = ins.join(
                    hint(fo, n_followed), ins["url"] == fo["m_url"], "left_outer"
                ).select(
                    "url", "status", "encoding", "first_seen", "last_seen",
                    "first_scraped", "last_scraped", "scraper", "host",
                    "host_bucket", "depth",
                    F.when(F.col("m_url").isNotNull(), F.lit(1))
                    .otherwise(F.lit(0)).alias("in_frontier"),
                    F.coalesce("m_epoch", "discovery_epoch").alias("discovery_epoch"),
                    F.coalesce("m_seq", "source_fetch_seq").alias("source_fetch_seq"),
                    F.coalesce("m_didx", "dispatcher_idx").alias("dispatcher_idx"),
                    F.coalesce("m_pos", "pos").alias("pos"),
                )
            out = out.unionByName(ins.select(*[fld.name for fld in URLS.fields]))

        self._commit_urls(out.select(*[fld.name for fld in URLS.fields]), touched)

    # ------------------------------------------------------------------ run

    def run(self, max_epochs: int | None = None, sleep: bool = False) -> list[EpochStats]:
        """Run epochs until the due set is empty ("All URLs seen.",
        App.hs:45-47) or max_epochs is hit. ``sleep=True`` enforces the
        politeness budget in wall-clock (threadDelay ≙ App.hs:68)."""
        stats: list[EpochStats] = []
        self.cat.restore_heads()  # crawl_metrics and urls_seen are exact after it
        last = self.cat.read("crawl_metrics", CRAWL_METRICS).agg(F.max("epoch")).first()[0]
        epoch = 0 if last is None else last + 1
        self.fetch_seq_base = self.cat.read("urls_seen", URLS_SEEN).count() if epoch else 0
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
