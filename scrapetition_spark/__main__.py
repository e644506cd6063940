"""spark-submit entry point (north rule: ``spark-submit --py-files``).

CLI mirrors the reference's flags (app/Main.hs:70-132):

    spark-submit --py-files scrapetition_spark.zip \
        -m scrapetition_spark \
        --catalog /data/crawl --documents /data/web.parquet \
        -u https://www.zeit.de/...            # seed URL (SingleUrl)
        [-d]                                  # resume not-seen (NotSeenFromDB)
        [-f] [-x] [-l]                        # follow / cross-domain / LIFO
        [--sequential]                        # bit-exact reference ordering
        [--epochs N] [--budget B] [--politeness S]
        [--dispatchers zeit|all-links]

On a cluster the session comes from spark-submit's conf (master,
executors); locally it falls back to local[*]. ``tools/submit.sh``
packages the library and demonstrates the full submit path.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="scrapetition_spark")
    p.add_argument("--catalog", default=None, help="catalog root directory")
    p.add_argument("--raw", action="store_true",
                   help="S5 raw output mode (app/Main.hs:232-237): run "
                        "the scrapers, print extracted items, persist "
                        "NOTHING (state goes to a discarded temp dir)")
    p.add_argument("--documents", required=True, help="documents parquet path")
    p.add_argument("-u", "--url", help="seed URL (crawl SingleUrl)")
    p.add_argument("-d", "--resume", action="store_true",
                   help="re-schedule not-seen URLs (crawl NotSeenFromDB)")
    p.add_argument("-f", "--follow-links", action="store_true")
    p.add_argument("-x", "--cross-domain", action="store_true")
    p.add_argument("-a", "--visit-again", action="store_true",
                   help="visit URLs again (app/Main.hs:89-91): URLs "
                        "already marked as visited in the database are "
                        "fetched and scraped again; only URLs seen "
                        "during THIS run are skipped")
    p.add_argument("-l", "--lifo", action="store_true")
    p.add_argument("--sequential", action="store_true")
    p.add_argument("--epochs", type=int, default=None)
    p.add_argument("--budget", type=int, default=1, help="per-host per-epoch")
    p.add_argument("--politeness", type=float, default=2.0)
    p.add_argument("--sleep", action="store_true",
                   help="enforce the politeness budget in wall-clock")
    p.add_argument("--start-domain", default=None)
    p.add_argument("--robots", default=None,
                   help="parquet of (host, path_prefix, allow)")
    p.add_argument("--dispatchers", choices=["zeit", "all-links"], default="zeit")
    # per-table name overrides (app/Main.hs:117-131; reference
    # defaults: comments / users / comment_voting — ours keep the
    # engine's physical names unless overridden)
    p.add_argument("--items-table", default="comments", metavar="ITEMTABLE",
                   help="table name for scraped items")
    p.add_argument("--users-table", default="users", metavar="USERTABLE",
                   help="table name for scraped users")
    p.add_argument("--voting-table", default="votes", metavar="VOTINGTABLE",
                   help="table name for voting by users about items")
    args = p.parse_args(argv)

    # fail fast on sink-name collisions: two sinks sharing one physical
    # table would interleave incompatible schemas into it, and an
    # override shadowing an engine-reserved table would corrupt crawl
    # state (the reference rejects nothing here — SQLite would simply
    # break later; we surface it at parse time).
    from scrapetition_spark.crawl import ENGINE_TABLES

    sink_names = [args.items_table, args.users_table, args.voting_table]
    # every engine table but the three renamable sinks
    reserved = set(ENGINE_TABLES) - {"comments", "users", "votes"}
    if len(set(sink_names)) != len(sink_names):
        p.error(f"sink table names must be distinct, got {sink_names}")
    clash = sorted(set(sink_names) & reserved)
    if clash:
        p.error(f"table name(s) {clash} are reserved for crawl state")

    from scrapetition_spark.config import (
        ALL_LINKS_DISPATCHERS,
        ZEIT_DE_DISPATCHERS,
        CrawlConfig,
    )
    from scrapetition_spark.crawl import CrawlEngine
    from scrapetition_spark.functions.urls import domain_str
    from scrapetition_spark.session import get_spark
    from scrapetition_spark.sources.catalog import Catalog

    spark = get_spark(app_name="scrapetition-spark")
    start_domain = args.start_domain or (domain_str(args.url) or "") if args.url else (
        args.start_domain or ""
    )
    cfg = CrawlConfig(
        start_domain=start_domain,
        follow_links=args.follow_links,
        cross_domain=args.cross_domain,
        lifo=args.lifo,
        visit_again=args.visit_again,
        sequential=args.sequential,
        politeness_sec=args.politeness,
        per_host_budget=args.budget,
        respect_robots=args.robots is not None,
        dispatchers=(
            ZEIT_DE_DISPATCHERS if args.dispatchers == "zeit" else ALL_LINKS_DISPATCHERS
        ),
        table_names={
            k: v
            for k, v in (
                ("comments", args.items_table),
                ("users", args.users_table),
                ("votes", args.voting_table),
            )
            if k != v
        },
    )
    documents = spark.read.parquet(args.documents)
    robots = spark.read.parquet(args.robots) if args.robots else None

    import shutil
    import tempfile

    if args.raw:
        cat_dir = tempfile.mkdtemp(prefix="scrapetition-raw-")
    elif args.catalog:
        cat_dir = args.catalog
    else:
        p.error("need --catalog (or --raw)")
    eng = CrawlEngine(spark, Catalog(spark, cat_dir), cfg, documents, robots=robots)

    try:
        if args.url:
            eng.seed([args.url])
        elif args.resume and not args.raw:
            eng.resume_not_seen()
        else:
            p.error("need -u URL or -d (resume)")

        stats = eng.run(max_epochs=args.epochs, sleep=args.sleep)
        out = {
            "epochs": len(stats),
            "urls_fetched": sum(s.urls_due for s in stats),
            "urls_discovered": sum(s.urls_discovered for s in stats),
            "seconds": round(sum(s.duration_ms for s in stats) / 1000.0, 2),
        }
        if args.raw:
            # ≙ runScrapersRaw: show what the scrapers extracted, keep
            # none of it (the temp catalog is deleted in finally)
            from scrapetition_spark.schemas import (
                ARTICLES, COMMENTS, URLS_SEEN, USERS, VOTES,
            )

            counts = {}
            for tbl, schema in (
                ("comments", COMMENTS), ("users", USERS), ("votes", VOTES),
                ("articles", ARTICLES), ("urls_seen", URLS_SEEN),
            ):
                frame = eng.cat.read(tbl, schema)
                counts[tbl] = frame.count()
                frame.show(10, truncate=60)
            out["raw"] = True
            out["items"] = counts
        print(json.dumps(out))
        return 0
    finally:
        # an interrupted raw run must not leak its temp dir
        if args.raw:
            shutil.rmtree(cat_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
