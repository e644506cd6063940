"""Golden-page parse tests — the reference's own test vectors
(test/Test/Network/Scrapetition/Scrapers/ZeitDe.hs) over the span
rendering of test/examples/zeit.de.article.html (FIXTURES.md §2)."""

from __future__ import annotations

import datetime as dt
from collections import Counter

import pytest
from pyspark.sql import functions as F

from scrapetition_spark import spans as SP
from scrapetition_spark.parse import parse_pages
from scrapetition_spark.sources.fixtures import (
    GOLDEN_ARTICLE,
    GOLDEN_URL,
    documents_df,
    fixture_site,
    golden_page,
)


@pytest.fixture(scope="module")
def parsed(spark):
    url, spans = golden_page()
    pages = documents_df(spark, {url: spans})
    return parse_pages(pages)


def _ordered(df, *cols):
    return [tuple(r) for r in df.orderBy("pos").select(*cols).collect()]


def test_comment_count(parsed):  # ZeitDe.hs(test):21-24
    assert parsed.comments.count() == 8


def test_comment_ids(parsed):  # :44-50
    got = [r[0] for r in parsed.comments.orderBy("pos").select("id").collect()]
    assert got == [
        "cid-50377101", "cid-50381108", "cid-50377129", "cid-50377209",
        "cid-50377144", "cid-50377186", "cid-50377152", "cid-50377368",
    ]


def test_comment_parents(parsed):  # :52-58
    got = [r[0] for r in parsed.comments.orderBy("pos").select("parent").collect()]
    assert got == [
        None, "cid-50377101", None, "cid-50377129",
        None, "cid-50377144", None, "cid-50377152",
    ]


def test_comment_names(parsed):  # :26-33
    got = [r[0] for r in parsed.comments.orderBy("pos").select("name").collect()]
    assert got == [
        "regelus", "FnordPrefect", "betreb", "1 Gehirnlein",
        "Wichtiger Hinweis", "The Council", "centenarium_kid", "teek",
    ]


def test_comment_users(parsed):  # :35-42
    got = [r[0] for r in parsed.comments.orderBy("pos").select("user").collect()]
    assert got == [
        "3096219", "5786217", "2831850", None, "5119426", None, None, "2777961",
    ]


def test_comment_votes(parsed):  # :60-74
    got = _ordered(parsed.comments, "up_votes", "down_votes")
    assert got == [
        (127, None), (1, None), (166, None), (9, None),
        (23, None), (260, None), (52, None), (11, None),
    ]


def test_comment_article_and_text(parsed):
    rows = parsed.comments.orderBy("pos").select("article", "text", "title").collect()
    assert all(r["article"] == GOLDEN_ARTICLE for r in rows)
    # innerHTML is stripped (ZeitDe.hs:135)
    assert rows[0]["text"] == "<p>body of cid-50377101</p>"
    # title = text before the em-dash, stripped (ZeitDe.hs:136-138)
    assert rows[0]["title"] == "#1"


def test_url_collectors(parsed):  # :76-123
    urls = parsed.urls
    js = [r["target"] for r in urls.filter(F.col("role") == SP.ROLE_JS_LOADER)
          .orderBy("offset").collect()]
    pager = [r["target"] for r in urls.filter(F.col("role") == SP.ROLE_PAGER)
             .orderBy("offset").collect()]
    nxt = [r["target"] for r in urls.filter(F.col("role") == SP.ROLE_NEXT)
           .orderBy("offset").collect()]
    assert len(js) == 3 and len(pager) == 5 and len(nxt) == 1
    # collectCommentUrls = jsLoader ++ pager, exact order (:111-123);
    # fragments dropped by the collectors
    assert js + pager == [
        f"{GOLDEN_ARTICLE}?cid=50377209",
        f"{GOLDEN_ARTICLE}?cid=50377186",
        f"{GOLDEN_ARTICLE}?cid=50377368",
        f"{GOLDEN_ARTICLE}?page=2",
        f"{GOLDEN_ARTICLE}?page=3",
        f"{GOLDEN_ARTICLE}?page=4",
        f"{GOLDEN_ARTICLE}?page=5",
        f"{GOLDEN_ARTICLE}?page=35",
    ]
    # threadsAndNextUrl = jsLoader ++ nextButton = 4 (:97-102)
    assert len(js + nxt) == 4


def test_article(parsed):  # :125-136
    rows = parsed.articles.collect()
    assert len(rows) == 1
    a = rows[0]
    assert a["canonical"] == GOLDEN_ARTICLE
    assert a["author"] == "Juli Katz"
    assert a["title"] and "|" not in a["title"]
    assert a["description"] is not None
    assert a["date"] is not None


def test_datetime_parse(spark):  # :138-141 — "%FT%T%z" with offset → UTC
    from scrapetition_spark.parse.kernel import DATETIME_FMT

    got = (
        spark.createDataFrame([("2020-01-09T14:15:58+01:00",)], ["s"])
        .select(F.to_timestamp("s", DATETIME_FMT).alias("t"))
        .collect()[0]["t"]
    )
    assert got == dt.datetime(2020, 1, 9, 13, 15, 58)


def test_users_contributors(parsed):  # P3: user id required (User.hs:57-61)
    got = _ordered(parsed.users, "user", "name")
    assert got == [
        ("3096219", "regelus"), ("5786217", "FnordPrefect"),
        ("2831850", "betreb"), ("5119426", "Wichtiger Hinweis"),
        ("2777961", "teek"),
    ]


def test_votes_explode(parsed):  # P7: one vote per fan id, vote=1
    per_comment = {
        r["comment"]: r["n"]
        for r in parsed.votes.groupBy("comment").agg(F.count("*").alias("n")).collect()
    }
    assert per_comment["cid-50377101"] == 127
    assert per_comment["cid-50381108"] == 1
    assert parsed.votes.select("vote").distinct().collect()[0][0] == 1
    assert parsed.voters.count() == parsed.votes.count()


def test_articles_from_comments(parsed):  # P6: nub'd canonicals
    rows = parsed.articles_from_comments.collect()
    assert len(rows) == 1 and rows[0]["canonical"] == GOLDEN_ARTICLE


def test_span_sequence_invariant(spark, parsed):
    """Per-row invariant: the documents table round-trips through the
    explode with (kind, text, media_ref, offset) sequence intact."""
    from scrapetition_spark.parse import explode_spans

    url, spans = golden_page()
    pages = documents_df(spark, {url: spans})
    back = (
        explode_spans(pages)
        .orderBy("offset")
        .select("kind", "text", "media_ref", "offset")
        .collect()
    )
    assert [tuple(r) for r in back] == [tuple(s) for s in spans]


def test_item_frames_carry_their_page_fetch_seq(spark):
    """Pages with a ``fetch_seq`` column: every item frame carries its
    page's value and otherwise equals the parse of the same pages
    without one, in which no frame has the column."""
    pages = documents_df(spark, fixture_site())
    plain = parse_pages(pages)
    seq = parse_pages(pages.withColumn("fetch_seq", F.xxhash64("doc_id")))
    for name in ("comments", "users", "voters", "votes", "articles",
                 "articles_searched", "articles_from_comments"):
        without, with_seq = getattr(plain, name), getattr(seq, name)
        assert "fetch_seq" not in without.columns, name
        rows = with_seq.select(
            (F.col("fetch_seq") == F.xxhash64("url")).alias("ok"), *without.columns
        ).collect()
        assert rows and all(r["ok"] for r in rows), name
        assert Counter(tuple(r)[1:] for r in rows) == Counter(
            tuple(r) for r in without.collect()
        ), name
