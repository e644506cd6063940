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
    → seen-set append (C2), plus the bloom sidecar OR-merge when the
      partitioned prefilter is on
    → metrics + snapshot commit (exact resume)

``cfg.sequential=True`` fetches exactly one URL per epoch, which
reproduces the reference's crawl order bit-for-bit (verified against
the pure-Python simulator in tests/reference_sim.py). Wide epochs
(the scale path) preserve the same seen *set* and per-host order.

Resume (≙ ``scrapetition -d``, app/Main.hs:247-250): the loop is a
pure function of the catalog tables, and every write is an idempotent
merge — restarting after any partial epoch converges to the same
state (tested in tests/test_crawl.py).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scrapetition_spark.config import CrawlConfig
from scrapetition_spark.functions.urls import host_bucket, url_domain
from scrapetition_spark.parse import discover_urls, parse_pages
from scrapetition_spark.plans.frontier import (
    LINEAGE_COLS,
    assign_fetch_seq,
    gate_discovered,
    plan_due,
)
from scrapetition_spark.plans.seen import (
    BLOOM_SIDECAR,
    PartitionedBloom,
    PartitionedBloomView,
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
        expected_urls: int = 1 << 16,
        bloom_mode: str | None = None,
    ):
        self.spark = spark
        if cfg.table_names:
            from scrapetition_spark.sources.catalog import RenamedCatalog

            catalog = RenamedCatalog(catalog, cfg.table_names)
        self.cat = catalog
        self.cfg = cfg
        self.documents = documents
        self.robots = robots
        # Seen filter. Default (None): the exact, bucket-pruned
        # anti-join against urls_seen. "partitioned": the same
        # anti-join behind a per-host-bucket bloom sidecar stored as a
        # catalog table, OR-merged per epoch and probed bucket-local
        # (north rule; the 10^10-key path — see plans/seen.py).
        if bloom_mode not in (None, "partitioned"):
            raise ValueError(f"unknown bloom_mode {bloom_mode!r}")
        self.pbloom: PartitionedBloom | None = (
            PartitionedBloom(expected_urls, n_buckets=cfg.n_host_buckets)
            if bloom_mode == "partitioned"
            else None
        )
        self.fetch_seq_base = 0
        self._sidecar_checked = False
        # first epoch of THIS run: visit_again (-a) ignores seen rows
        # from epochs before it (≙ runScrapers urls [] — Main.hs:246
        # starts the run's seen set empty; within-run dedup stays)
        self.run_start_epoch = 0

    def _recover_sidecar(self) -> None:
        """Once per engine: make the stored sidecar agree with the
        exact urls_seen truth before anything probes or merges it. A
        sidecar that is absent while urls_seen has rows (dropped, or
        the crash window between the two writes), stored under a
        different (m_bits, k, n_buckets) (engine reconfigured between
        runs — probing it would yield silent false negatives), or held
        in plain files (rows of unknown buckets, which a scoped commit
        would drop) is rebuilt from urls_seen in the partitioned
        layout, so every later merge into it is a scoped commit."""
        if self.cat.exists("bloom_sidecar"):
            has_plain, _ = self.cat.partition_state("bloom_sidecar")
            stale = has_plain or not self.pbloom.matches(
                self.cat.read("bloom_sidecar", BLOOM_SIDECAR)
            )
        else:
            stale = self.cat.exists("urls_seen")
        if stale:
            seen_b = self.cat.read("urls_seen", URLS_SEEN).select(
                "url", self._seen_bucket_expr().alias("host_bucket")
            )
            self.cat.overwrite_partitions(
                "bloom_sidecar", self.pbloom.build(seen_b), "bucket", None
            )

    def _seen_filter(self, active: list[int]) -> PartitionedBloomView | None:
        """The bloom view over the ``active`` buckets' sidecar rows
        only: a candidate probes its own bucket's row, so the epoch
        reads O(active buckets) of the sidecar, never all of it."""
        if self.pbloom is None:
            return None
        if not self._sidecar_checked:
            self._recover_sidecar()
            self._sidecar_checked = True
        if not self.cat.exists("bloom_sidecar"):
            return None
        return PartitionedBloomView(
            self.pbloom, self.cat.read_buckets("bloom_sidecar", BLOOM_SIDECAR, active)
        )

    # ------------------------------------------------------------------ util

    def _seen_bucket_expr(self) -> F.Column:
        """urls_seen commit bucket: the row's host bucket — equal urls
        have equal hosts, so a candidate URL can only match seen rows
        in its own bucket (what makes the pruned read exact)."""
        return host_bucket(F.col("host"), self.cfg.n_host_buckets)

    def _seen_bucket_spec(self) -> dict:
        return {"n_host_buckets": self.cfg.n_host_buckets}

    def _read_seen(self, urls: DataFrame) -> tuple[DataFrame, list[int] | None]:
        """The epoch's seen frame for the due-set anti-join, and the
        frontier's active host buckets (None when nothing needs them).
        Once urls_seen has converted to the bucketed layout
        (append_bucketed past the size threshold), read ONLY the
        buckets the active frontier touches: the anti-join matches on
        url equality, equal urls share a host bucket, so seen rows in
        never-due buckets cannot match any candidate. The bloom probe
        reads the same buckets of its sidecar. The distinct-bucket scan
        is one column-pruned agg over the frontier (bounded result:
        ≤ n_host_buckets rows); at 10^10 seen URLs this turns the last
        O(table)-per-epoch reads into O(active buckets) — a
        domain-restricted crawl (the reference default, gate C7) reads
        exactly one bucket."""
        prunable = self.cat.prunable_buckets("urls_seen", self._seen_bucket_spec())
        if not prunable and self.pbloom is None:
            return self.cat.read("urls_seen", URLS_SEEN), None
        from scrapetition_spark.plans.frontier import candidate_predicate

        # MUST be plan_due's own predicate (shared helper): the bucket
        # cover is only sound for exactly the candidate set it joins
        active = urls.filter(candidate_predicate(self.cfg))
        buckets = sorted(
            r["host_bucket"]
            for r in active.select("host_bucket").distinct().collect()
        )
        if not prunable:
            return self.cat.read("urls_seen", URLS_SEEN), buckets
        return self.cat.read_buckets("urls_seen", URLS_SEEN, buckets), buckets

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
        df = local_df(self.spark, rows, "target string, pos long").select(
            "target",
            F.lit(-1).alias("discovery_epoch"),
            F.lit(-1).cast("long").alias("source_fetch_seq"),
            F.lit(-1).alias("dispatcher_idx"),
            F.col("pos"),
        )
        self.cat.merge_insert(
            "urls", self._url_row(df, scheduled=True), UNIQUE_KEYS["urls"], URLS,
            order_cols=["pos"],
        )

    def seed_frame(self, targets: DataFrame) -> None:
        """Distributed seeding: schedule a whole DataFrame of URLs
        (column ``target``) — the 10^10-frontier bootstrap path; a
        driver-side list would not scale. ``pos`` is a deterministic
        hash rather than a dense global row number (which would need a
        single-partition sort); within-host pop order stays
        deterministic, cross-host seed order is immaterial to the
        politeness queue."""
        df = targets.select(
            "target",
            F.lit(-1).alias("discovery_epoch"),
            F.lit(-1).cast("long").alias("source_fetch_seq"),
            F.lit(-1).alias("dispatcher_idx"),
            F.pmod(F.xxhash64("target"), F.lit(1 << 31)).cast("int").alias("pos"),
        )
        self.cat.merge_insert(
            "urls", self._url_row(df, scheduled=True), UNIQUE_KEYS["urls"], URLS,
            order_cols=["pos"],
        )

    def resume_not_seen(self) -> None:
        """≙ ``crawl (NotSeenFromDB ...)`` (Main.hs:247-250; S11):
        schedule every known URL with first_seen IS NULL."""
        urls = self.cat.read("urls", URLS)
        rescheduled = urls.withColumn(
            "in_frontier",
            F.when(F.col("first_seen").isNull(), F.lit(1)).otherwise(
                F.col("in_frontier")
            ),
        )
        self.cat.overwrite("urls", rescheduled)

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
        import os

        t0 = time.time()
        debug = os.environ.get("SPARK_GRAFT_DEBUG")
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
        urls = self.cat.read("urls", URLS)
        seen, active = self._read_seen(urls)
        if cfg.visit_again:
            # -a (Main.hs:89-91, seen=[] at :246): drop persisted seen
            # rows from before this run; bloom positives for them fall
            # through to this (filtered) exact anti-join and survive.
            seen = seen.filter(F.col("epoch") >= F.lit(self.run_start_epoch))

        due = plan_due(
            urls, seen, self._seen_filter(active), cfg, self.fetch_seq_base,
            self.robots,
        )
        # due_buckets: the host buckets with due URLs, known on the
        # driver without another job (the bloom merge's touched set)
        if cfg.sequential:
            due = due.select(
                "url", "host", "host_bucket", "fetch_seq"
            ).localCheckpoint()
            due_buckets = [r["host_bucket"] for r in due.select("host_bucket").collect()]
            n_due = len(due_buckets)
        else:
            # materialize the due set once, then number it in parallel
            # (per-bucket windows + dense offsets — no global sort)
            raw = due.select(
                "url", "host", "host_bucket", *LINEAGE_COLS
            ).localCheckpoint()
            due, n_due, due_buckets = assign_fetch_seq(raw, cfg, self.fetch_seq_base)
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

        n_discovered = 0
        sink_tasks: list[tuple] = []  # executed concurrently below
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
                 ["fetch_seq", "dispatcher_idx", "pos"])
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
                 ["fetch_seq", "dispatcher_idx", "pos"])
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
                 ["fetch_seq", "dispatcher_idx", "pos"])
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
            sink_tasks.append(
                ("articles", batch, UNIQUE_KEYS["articles"], ARTICLES,
                 ["fetch_seq", "dispatcher_idx", "pos"])
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
            td0 = time.time()
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
            td1 = time.time()
            n_discovered = disc.count()
            if debug:
                # sub-attribution for the saturation probes (VERDICT
                # r03 #4): ckpt = span-array URL extraction + lineage
                # join + block-manager write (one action); count reads
                # the checkpoint back
                print(
                    f"[epoch {epoch}] disc ckpt={td1 - td0:.1f}s "
                    f"count={time.time() - td1:.1f}s", flush=True,
                )
        mark("discovered")

        urls_now = self.cat.read("urls", URLS)
        if disc is not None and n_discovered > 0:
            # S7: link-graph edges (dedup on (source,target), URL.hs:94)
            edges = disc.select(
                "source", "target",
                now.alias("first_scraped"), now.alias("last_scraped"),
                F.lit(cfg.scraper_name).alias("scraper"),
                "source_fetch_seq", "dispatcher_idx", "pos",
            )
            sink_tasks.append(
                ("url_edges", edges, UNIQUE_KEYS["url_edges"], URL_EDGES, _URL_ORDER)
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
        # one MERGE INTO with two WHEN clauses on Iceberg), the
        # seen-set append (C2) and the bloom sidecar fold-in join the pool.
        from concurrent.futures import ThreadPoolExecutor

        def _bloom_task():
            # epoch delta folded map-side, OR-merged bucket-local; the
            # driver never materializes any bitset. The commit is
            # PARTITION-SCOPED (≙ Iceberg dynamic partition overwrite):
            # only buckets with due URLs this epoch are OR-merged and
            # rewritten; every other bucket's bitset file is carried
            # forward verbatim — per-epoch sidecar cost is O(touched
            # buckets), never O(sidecar). At 10^10 keys the sidecar is
            # ~20 GB; a whole-table read+rewrite per epoch would dwarf
            # sparse epochs on its own. _recover_sidecar already left
            # any existing sidecar partitioned under this engine's
            # parameters.
            delta = self.pbloom.build(due.select("url", "host_bucket"))
            if not self.cat.exists("bloom_sidecar"):
                self.cat.overwrite_partitions("bloom_sidecar", delta, "bucket", None)
                return
            touched = sorted(set(due_buckets))
            old = self.cat.read_buckets("bloom_sidecar", BLOOM_SIDECAR, touched)
            merged = self.pbloom.or_merge(old.unionByName(delta))
            self.cat.overwrite_partitions("bloom_sidecar", merged, "bucket", touched)

        def _seen_and_bucket_metrics():
            # one worker: seen append first, then the per-partition
            # lineage/metrics rows (north rule) keyed to the snapshot
            # the append just created — sequenced inside the task so
            # the pool's other jobs can't race the snapshot id.
            self.cat.append_bucketed(
                "urls_seen", seen_batch, self._seen_bucket_expr(),
                self._seen_bucket_spec(), cfg.seen_bucket_min_bytes,
            )
            snap = self.cat.head("urls_seen")
            due_b = due.groupBy("host_bucket").agg(F.count("*").alias("urls_due"))
            if disc is not None and n_discovered > 0:
                disc_b = disc.groupBy(
                    host_bucket(
                        url_domain(F.col("target")), cfg.n_host_buckets
                    ).alias("host_bucket")
                ).agg(F.count("*").alias("urls_discovered"))
                bucket_m = due_b.join(disc_b, ["host_bucket"], "full_outer")
            else:
                bucket_m = due_b.withColumn(
                    "urls_discovered", F.lit(None).cast("long")
                )
            self.cat.append(
                "crawl_metrics_buckets",
                bucket_m.select(
                    F.lit(epoch).cast("int").alias("epoch"),
                    F.col("host_bucket").cast("int"),
                    F.coalesce(F.col("urls_due"), F.lit(0))
                    .cast("long").alias("urls_due"),
                    F.col("urls_discovered").cast("long"),
                    F.lit(snap).cast("long").alias("snapshot_id"),
                ),
                hint_partitions=1,
            )
            return snap

        def _item_bucket(keys: list[str]) -> F.Column:
            # key-hash commit bucket for the bucketed item-sink MERGE
            # (catalog.merge_insert bucket_expr): deterministic from
            # the UNIQUE key alone, so the same row always lands in —
            # and the anti-join only ever scans — the same bucket
            return F.pmod(
                F.xxhash64(*[F.col(k) for k in keys]),
                F.lit(cfg.n_item_buckets),
            ).cast("int")

        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = [
                pool.submit(
                    self.cat.merge_insert, tbl, batch, keys, schema, order,
                    _item_bucket(keys),
                    {"n_item_buckets": cfg.n_item_buckets},
                    cfg.item_bucket_min_bytes,
                )
                for tbl, batch, keys, schema, order in sink_tasks
            ]
            futs.append(
                pool.submit(
                    self._rewrite_urls, urls_now, fetched, disc, followed,
                    epoch, n_due,
                )
            )
            snap_fut = pool.submit(_seen_and_bucket_metrics)
            futs.append(snap_fut)
            if self.pbloom is not None:
                futs.append(pool.submit(_bloom_task))
            for f in futs:
                f.result()  # propagate failures
        mark("sinks")

        self.fetch_seq_base += n_due
        dur = int((time.time() - t0) * 1000)
        metrics = local_df(
            self.spark,
            [(epoch, n_due, n_due, n_discovered, None, dur, snap_fut.result())],
            CRAWL_METRICS,
        )
        self.cat.append("crawl_metrics", metrics, hint_partitions=1)
        mark("metrics")  # post-sinks epoch bookkeeping is measured too
        if debug:
            print(f"[epoch {epoch}] due={n_due} " +
                  " ".join(f"{l}={s:.1f}s" for l, s in marks), flush=True)
        return EpochStats(epoch, n_due, n_discovered, dur, stage_seconds())

    def _rewrite_urls(
        self,
        urls: DataFrame,
        fetched: DataFrame,
        disc: DataFrame | None,
        followed: DataFrame | None,
        epoch: int,
        n_due: int,
    ) -> None:
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

        # Commit planning: every row this epoch can change (fetched,
        # discovered, followed) hashes to a commit bucket derivable
        # from its URL. Policy, adaptive on the touch-set density:
        # - SPARSE epoch (the 10^10-frontier steady state: activity
        #   concentrated in few commit buckets): partition-scoped
        #   commit — rewrite only touched buckets, carry the rest
        #   forward; per-epoch cost O(epoch activity), not O(table)
        #   (the quadratic-crawl scale-killer VERDICT r01 flagged).
        # - DENSE epoch (small corpus, everything active — the local
        #   bench shape): plain consolidated overwrite; a scoped
        #   commit would rewrite everything anyway and pay an extra
        #   repartition shuffle + per-bucket file fan-out for nothing.
        # Transitions cost one full write; plain files hold rows of
        # unknown buckets, so the first sparse epoch after any plain
        # write consolidates with one full partitioned rewrite.
        ncb = cfg.n_commit_buckets
        commit_expr = F.pmod(F.col("host_bucket"), F.lit(ncb))
        has_plain, parts = self.cat.partition_state("urls")

        # The scoped-commit layout is only valid under the bucket spec
        # it was written with: reopening with a different
        # (n_commit_buckets, n_host_buckets) would derive touched
        # buckets that disagree with the stored host_bucket column and
        # silently drop/misroute rows. Persist the spec as a table
        # property; on mismatch force ONE consolidating rewrite with
        # host_bucket recomputed from the live config.
        spec = {"n_commit_buckets": ncb, "n_host_buckets": cfg.n_host_buckets}
        stored = self.cat.get_meta("urls").get("commit_spec")
        spec_mismatch = self.cat.exists("urls") and stored != spec
        if spec_mismatch:
            urls = urls.withColumn(
                "host_bucket",
                host_bucket(F.col("host"), cfg.n_host_buckets).cast("int"),
            )
        if stored != spec:
            self.cat.set_meta("urls", {**self.cat.get_meta("urls"),
                                       "commit_spec": spec})
        tb = fetched.select(F.col("url"))
        if disc is not None:
            tb = tb.unionByName(disc.select(F.col("target").alias("url")))
        bucket_of = F.pmod(
            host_bucket(url_domain(F.col("url")), cfg.n_host_buckets),
            F.lit(ncb),
        )
        touched_set = {
            r["b"] for r in tb.select(bucket_of.alias("b")).distinct().collect()
        }
        dense = len(touched_set) >= ncb * cfg.commit_dense_fraction
        touched: list[int] | None = None
        if spec_mismatch:
            # consolidate the whole table under the live spec
            commit_mode = "full_partitioned" if not dense else "plain"
        elif dense:
            commit_mode = "plain"
        elif has_plain or not parts:
            commit_mode = "full_partitioned"
        else:
            commit_mode = "scoped"
            touched = sorted(touched_set)
            urls = urls.filter(commit_expr.isin(touched))

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
                fo_keys = followed.select(
                    F.col("target").alias("m_url"),
                    F.col("discovery_epoch").alias("m_epoch"),
                    F.col("source_fetch_seq").alias("m_seq"),
                    F.col("dispatcher_idx").alias("m_didx"),
                    F.col("pos").alias("m_pos"),
                )
                ins = ins.join(
                    hint(fo_keys, n_followed), ins["url"] == fo_keys["m_url"], "left_outer"
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

        out = out.select(*[fld.name for fld in URLS.fields])
        if commit_mode == "plain":
            self.cat.overwrite("urls", out)
        else:
            self.cat.overwrite_partitions("urls", out, commit_expr, touched)

    # ------------------------------------------------------------------ run

    def run(self, max_epochs: int | None = None, sleep: bool = False) -> list[EpochStats]:
        """Run epochs until the due set is empty ("All URLs seen.",
        App.hs:45-47) or max_epochs is hit. ``sleep=True`` enforces the
        politeness budget in wall-clock (threadDelay ≙ App.hs:68)."""
        stats: list[EpochStats] = []
        epoch = 0
        prev = self.cat.read("crawl_metrics", CRAWL_METRICS)
        if prev.count() > 0:
            epoch = int(prev.agg(F.max("epoch")).collect()[0][0]) + 1
            self.run_start_epoch = epoch
            self.fetch_seq_base = self.cat.read("urls_seen", URLS_SEEN).count()
        while True:
            t0 = time.time()
            st = self.run_epoch(epoch)
            if st.urls_due == 0:
                break
            stats.append(st)
            if self.cfg.expire_keep_snapshots is not None:
                # tables() yields PHYSICAL names; route expiry through
                # the inner catalog, not the renaming view — a physical
                # name that collides with a logical key (e.g.
                # --items-table users) would be re-mapped and the wrong
                # table expired.
                phys = getattr(self.cat, "_inner", self.cat)
                for t in phys.tables():
                    phys.expire_snapshots(t, self.cfg.expire_keep_snapshots)
            if sleep and self.cfg.politeness_sec > 0:
                remaining = self.cfg.politeness_sec - (time.time() - t0)
                if remaining > 0:
                    time.sleep(remaining)
            epoch += 1
            if max_epochs is not None and len(stats) >= max_epochs:
                break
        return stats
