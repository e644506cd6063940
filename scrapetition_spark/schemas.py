"""Explicit table schemas (FIXTURES.md §1; reference DDL citations inline).

The reference declares schema as DDL strings compiled into the binary
(/root/reference/Setup.hs:16-24). We declare StructTypes; nullable
fields mirror the Haskell ``Maybe`` fields.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --------------------------------------------------------------------------
# documents — the synthetic web (BASELINE.json input_hint).
# One row per page; spans is the interleaved text+media payload in
# document order (offset dense, 0-based). Per-row invariant: any
# processing must preserve the (kind, text, media_ref, offset) sequence.
SPAN = StructType(
    [
        StructField("kind", StringType(), False),  # 'text' | 'media'
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), False),
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", StringType(), False),  # the page URL
        StructField("spans", ArrayType(SPAN), False),
        StructField("status", IntegerType(), True),  # HTTP status (S1)
        StructField("encoding", StringType(), True),  # sniffed charset (S2)
    ]
)

# --------------------------------------------------------------------------
# urls — from createUrlTableSqlite (/root/reference/src/Network/
# Scrapetition/URL.hs:68-82): frontier + seen set + fetch metadata.
# Engine additions (SURVEY.md §2.2 C4/C9): lineage key columns
# (discovery_epoch, source_fetch_seq, dispatcher_idx, pos), host_bucket
# for salted partitioning, depth for LIFO/priority, next_fetch_time for
# the politeness queue.
URLS = StructType(
    [
        StructField("url", StringType(), False),  # UNIQUE (URL.hs:82)
        StructField("status", IntegerType(), True),
        StructField("encoding", StringType(), True),
        StructField("first_seen", TimestampType(), True),
        StructField("last_seen", TimestampType(), True),
        StructField("first_scraped", TimestampType(), True),
        StructField("last_scraped", TimestampType(), True),
        StructField("scraper", StringType(), True),
        # engine lineage/scheduling additions
        StructField("host", StringType(), True),
        StructField("host_bucket", IntegerType(), True),
        StructField("depth", IntegerType(), True),
        StructField("in_frontier", IntegerType(), True),  # 1 = scheduled
        StructField("discovery_epoch", IntegerType(), True),
        StructField("source_fetch_seq", LongType(), True),
        StructField("dispatcher_idx", IntegerType(), True),
        StructField("pos", IntegerType(), True),
    ]
)

# urls_seen — append-only fetch log (C2), committed in the same epoch
# record as urls.first_seen. One row per fetch, fetch_seq is the
# global crawl order.
URLS_SEEN = StructType(
    [
        StructField("url", StringType(), False),
        StructField("host", StringType(), True),
        StructField("fetch_seq", LongType(), False),
        StructField("epoch", IntegerType(), False),
        StructField("status", IntegerType(), True),
        StructField("encoding", StringType(), True),
    ]
)

# url_edges — from createUrlSourceTableSqlite (URL.hs:85-94); link
# graph keyed by url text (id resolution happens in analytics joins).
URL_EDGES = StructType(
    [
        StructField("source", StringType(), False),
        StructField("target", StringType(), False),  # UNIQUE(source,target)
        StructField("first_scraped", TimestampType(), True),
        StructField("last_scraped", TimestampType(), True),
        StructField("scraper", StringType(), True),
    ]
)

# --------------------------------------------------------------------------
# comments — from createCommentTable (/root/reference/src/Network/
# Scrapetition/Comment.hs:121-146). UNIQUE(id, domain) (:146).
# up/down_votes declared TEXT in the reference DDL (:136-137) but
# scraped as Maybe Int (:36-37); we use int.
COMMENTS = StructType(
    [
        StructField("id", StringType(), False),
        StructField("domain", StringType(), True),
        StructField("text", StringType(), True),
        StructField("title", StringType(), True),
        StructField("user", StringType(), True),
        StructField("name", StringType(), True),
        StructField("date_informal", StringType(), True),
        StructField("date", TimestampType(), True),
        StructField("parent", StringType(), True),
        StructField("thread", StringType(), True),
        StructField("up_votes", IntegerType(), True),
        StructField("down_votes", IntegerType(), True),
        StructField("article", StringType(), True),  # canonical article URL
        StructField("url", StringType(), True),
        StructField("first_scraped", TimestampType(), True),
        StructField("last_scraped", TimestampType(), True),
        StructField("scraper", StringType(), True),
    ]
)

# users — createUserTable (User.hs:100-112); UNIQUE(user, domain).
USERS = StructType(
    [
        StructField("user", StringType(), False),
        StructField("domain", StringType(), True),
        StructField("name", StringType(), True),
        StructField("url", StringType(), True),
        StructField("first_scraped", TimestampType(), True),
        StructField("last_scraped", TimestampType(), True),
        StructField("scraper", StringType(), True),
    ]
)

# votes — createVotingTable (Vote.hs:91-103);
# UNIQUE(domain, user, comment) (:103); vote always 1 from the fans
# explode (ZeitDe.hs:259).
VOTES = StructType(
    [
        StructField("domain", StringType(), True),
        StructField("user", StringType(), False),
        StructField("comment", StringType(), False),
        StructField("vote", IntegerType(), True),
        StructField("url", StringType(), True),
        StructField("first_scraped", TimestampType(), True),
        StructField("last_scraped", TimestampType(), True),
        StructField("scraper", StringType(), True),
    ]
)

# articles — createArticleTableSqlite (Article.hs:103-118);
# UNIQUE(canonical).
ARTICLES = StructType(
    [
        StructField("canonical", StringType(), False),
        StructField("domain", StringType(), True),
        StructField("title", StringType(), True),
        StructField("description", StringType(), True),
        StructField("author", StringType(), True),
        StructField("date", TimestampType(), True),
        StructField("url", StringType(), True),
        StructField("first_scraped", TimestampType(), True),
        StructField("last_scraped", TimestampType(), True),
        StructField("scraper", StringType(), True),
    ]
)

# --------------------------------------------------------------------------
# crawl_metrics — engine addition (north rule per-partition
# lineage/metrics; FIXTURES.md §1.8).
CRAWL_METRICS = StructType(
    [
        StructField("epoch", IntegerType(), False),
        StructField("urls_due", LongType(), True),
        StructField("urls_fetched", LongType(), True),
        StructField("urls_discovered", LongType(), True),
        StructField("items_written", LongType(), True),
        StructField("duration_ms", LongType(), True),
        # urls_seen HEAD after the epoch's append
        StructField("snapshot_id", LongType(), True),
        # per-partition lineage: due/discovered URLs per host bucket
        StructField("buckets", ArrayType(StructType([
            StructField("host_bucket", IntegerType(), False),
            StructField("urls_due", LongType(), True),
            StructField("urls_discovered", LongType(), True),
        ])), True),
    ]
)

# robots — north-rule addition (absent in the reference; SURVEY §4.1):
# deny rules joined as a filter during due-set planning.
ROBOTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("path_prefix", StringType(), False),
        StructField("allow", IntegerType(), False),  # 0 = deny, 1 = allow
    ]
)

# Dedup sink uniqueness keys, from the reference's UNIQUE constraints.
UNIQUE_KEYS: dict[str, list[str]] = {
    "urls": ["url"],  # URL.hs:82
    "url_edges": ["source", "target"],  # URL.hs:94
    "comments": ["id", "domain"],  # Comment.hs:146
    "users": ["user", "domain"],  # User.hs:112
    "votes": ["domain", "user", "comment"],  # Vote.hs:103
    "articles": ["canonical"],  # Article.hs:118
}

TABLE_SCHEMAS: dict[str, StructType] = {
    "documents": DOCUMENTS,
    "urls": URLS,
    "urls_seen": URLS_SEEN,
    "url_edges": URL_EDGES,
    "comments": COMMENTS,
    "users": USERS,
    "votes": VOTES,
    "articles": ARTICLES,
    "crawl_metrics": CRAWL_METRICS,
    "robots": ROBOTS,
}
