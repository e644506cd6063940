"""The parse kernel: interleaved spans → typed item frames.

Re-expresses every scalpel scraper of the reference
(/root/reference/src/Network/Scrapetition/Scrapers/ZeitDe.hs,
Generic.hs — operators P1-P13 in SURVEY.md §2.4) as ONE declarative
Spark plan over the exploded span table:

    posexplode(spans) → role/payload split → window comment-grouping
    → conditional-aggregation pivot → per-kind frames

Design choice (scale): this is deliberately *not* a pandas UDF. All
extraction is native column expressions — string ops stay inside
whole-stage codegen, the only exchange is the window/groupBy on
(url), which is needed anyway to assemble per-comment records and is
perfectly distributed (one page = one tiny group, millions of pages
= uniform keys). URL resolution is native too
(functions/urls.py ``url_resolve_native``), so parsing and discovery
start no Python worker. The per-row invariant
holds trivially: spans are only read (ordered by ``offset``), never
rewritten.

Ordering: every emitted row carries ``pos`` — the span offset of its
first span — so document order (the golden-test order of
test/.../Scrapers/ZeitDe.hs) is materialized, not implicit.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scrapetition_spark import spans as SP
from scrapetition_spark.functions.urls import (
    count_of_fans,
    drop_fragment,
    fragment_or_url,
    hygienic_link,
    strip_query,
    url_resolve_native,
)

# P11 (ZeitDe.hs:386-388): "%FT%T%z" — ISO-8601 with numeric offset.
DATETIME_FMT = "yyyy-MM-dd'T'HH:mm:ssXXX"


def explode_spans(pages: DataFrame, with_groups: bool = False) -> DataFrame:
    """documents(url, spans, status, ...) → long frame
    (url[, fetch_seq], kind, text, media_ref, offset, role, payload[,
    cseq, tseq]); ``fetch_seq`` passes through when the pages have it.

    Pages with status >= 400 have no body (App.hs:119-121) and are
    dropped before the explode. Spans are processed strictly in
    ``offset`` order downstream.

    ``with_groups=True`` adds the comment/teaser group counters
    (cseq/tseq: how many ``comment`` / teaser-link markers occur at or
    before each span). They are computed *inside the span array*
    (nested higher-order functions) — O(n²) per page on n ≈ tens of
    spans, zero shuffle — instead of a cluster-wide cumulative-sum
    window over the exploded frame, which at crawl scale would shuffle
    every span twice. Pathologically long pages (n ≫ 10³ spans) would
    prefer the window form; crawl pages are short.
    """
    body_ok = F.col("status").isNull() | (F.col("status") < 400)
    pages = pages.filter(body_ok)
    c_marker = SP.ROLE_COMMENT + SP.SEP
    t_marker = SP.ROLE_TEASER_LINK + SP.SEP

    if with_groups:
        def count_before(marker: str, x):
            return F.size(
                F.filter(
                    F.col("spans"),
                    lambda y: y["text"].startswith(marker)
                    & (y["offset"] <= x["offset"]),
                )
            )

        spans = F.transform(
            "spans",
            lambda x: F.struct(
                x["kind"].alias("kind"),
                x["text"].alias("text"),
                x["media_ref"].alias("media_ref"),
                x["offset"].alias("offset"),
                count_before(c_marker, x).alias("cseq"),
                count_before(t_marker, x).alias("tseq"),
            ),
        )
    else:
        spans = F.col("spans")

    seq = _seq_cols(pages)
    s = pages.select(F.col("doc_id").alias("url"), *seq, F.explode(spans).alias("s"))
    cols = [
        "url",
        *seq,
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    ]
    if with_groups:
        cols += [F.col("s.cseq").alias("cseq"), F.col("s.tseq").alias("tseq")]
    s = s.select(*cols)
    role = F.substring_index("text", SP.SEP, 1)
    payload = F.expr(
        f"substring(text, length(substring_index(text, '{SP.SEP}', 1)) + 2)"
    )
    return s.withColumn("role", role).withColumn("payload", payload)


def _seq_cols(pages: DataFrame) -> list[str]:
    """``["fetch_seq"]`` when the pages carry their fetch order, else
    ``[]``: every frame derived from the pages passes it through."""
    return ["fetch_seq"] if "fetch_seq" in pages.columns else []


def _grp(role: str, col: str = "payload") -> F.Column:
    return F.max(F.when(F.col("role") == role, F.col(col)))


# Collector roles and their per-role target transforms (P1/P10):
COLLECTOR_ROLES = [
    SP.ROLE_JS_LOADER,
    SP.ROLE_PAGER,
    SP.ROLE_NEXT,
    SP.ROLE_USER_COMMENT,
    SP.ROLE_TEASER_LINK,
    SP.ROLE_ANCHOR,
]


def _collector_target(role: F.Column, m: F.Column) -> F.Column:
    return (
        F.when(role == SP.ROLE_JS_LOADER, drop_fragment(m))  # ZeitDe.hs:312-314
        .when(role == SP.ROLE_PAGER, drop_fragment(m))  # :326-329
        .when(role == SP.ROLE_NEXT, m)  # :320-323 (raw link)
        .when(role == SP.ROLE_USER_COMMENT, strip_query(m))  # :344-347
        .when(role == SP.ROLE_TEASER_LINK, m)  # :350-353
        .when(role == SP.ROLE_ANCHOR, drop_fragment(m))  # Generic.hs:36
    )


@dataclass
class ParseResult:
    """Per-kind item frames, all carrying (url, pos) document order.
    When the parsed pages have a ``fetch_seq`` column (the crawl's
    fetch order), every item frame carries its page's value, so the
    crawl needs no join back to its due set; ``urls`` never does."""

    comments: DataFrame
    users: DataFrame  # contributors derived from comments (P3)
    voters: DataFrame  # fan-exploded skeletal users (P8)
    votes: DataFrame  # fan-exploded votes (P7)
    articles: DataFrame  # article-page metadata (P4)
    articles_searched: DataFrame  # search teasers (P5)
    articles_from_comments: DataFrame  # canonical-only articles (P6)
    urls: DataFrame  # (url, role, target, offset) per collector (P1, P10)


def sniffed_charset() -> F.Column:
    """S2 encoding sniff (Encoding.hs:16-41) over a page row (columns
    ``spans`` and ``status``): the lower-cased charset of the first
    meta content-type span, null when there is none or the page has no
    body (status >= 400; the decoder then defaults to utf-8). Picked
    inside the span array, so it is a row-wise projection of the
    pages, with no shuffle and no join."""

    def is_ct(x):
        return F.substring_index(x["text"], SP.SEP, 1) == SP.ROLE_CONTENT_TYPE

    s0 = F.get(F.filter("spans", is_ct), 0)
    payload = s0["text"].substr(
        F.length(F.substring_index(s0["text"], SP.SEP, 1)) + 2, F.lit(1 << 30)
    )
    enc = F.lower(F.regexp_extract(payload, r"charset=([A-Za-z0-9_\-]+)", 1))
    body_ok = F.col("status").isNull() | (F.col("status") < 400)
    return F.when(body_ok & (enc != ""), enc)


def _comment_groups_map_side(pages: DataFrame) -> DataFrame:
    """Per-comment raw field groups assembled INSIDE the span array —
    zero shuffle (the exploded-groupBy formulation shuffles every span
    of every page; at crawl scale that is the single largest exchange
    of an epoch). Shape: enrich each span with its comment counter
    (cseq), then for comment c = 1..n pick the first matching span per
    role with array filter+get. O(roles · comments · spans) per page —
    pages are tens of spans, so this stays cheap and fully inside
    whole-stage codegen."""
    body_ok = F.col("status").isNull() | (F.col("status") < 400)
    if "status" in pages.columns:
        pages = pages.filter(body_ok)
    c_marker = SP.ROLE_COMMENT + SP.SEP

    def enrich(x):
        role = F.substring_index(x["text"], SP.SEP, 1)
        payload = x["text"].substr(
            F.length(F.substring_index(x["text"], SP.SEP, 1)) + 2, F.lit(1 << 30)
        )
        cseq = F.size(
            F.filter(
                F.col("spans"),
                lambda y: y["text"].startswith(c_marker)
                & (y["offset"] <= x["offset"]),
            )
        )
        return F.struct(
            x["kind"].alias("kind"),
            role.alias("role"),
            payload.alias("payload"),
            x["media_ref"].alias("media_ref"),
            x["offset"].alias("offset"),
            cseq.alias("cseq"),
        )

    seq = _seq_cols(pages)
    base = pages.select(
        F.col("doc_id").alias("url"),
        *seq,
        F.transform("spans", enrich).alias("__esp"),
    )
    n_c = F.size(F.filter("__esp", lambda s: s["role"] == SP.ROLE_COMMENT))

    def mk_comment(c):
        def pick(role, kind=None, attr="payload"):
            def cond(s):
                base_c = (s["cseq"] == c) & (s["role"] == role)
                return base_c if kind is None else base_c & (s["kind"] == kind)

            return F.get(F.filter("__esp", cond), 0)[attr]

        return F.struct(
            pick(SP.ROLE_COMMENT, attr="offset").alias("pos"),
            pick(SP.ROLE_COMMENT).alias("id"),
            pick(SP.ROLE_BODY).alias("body"),
            pick(SP.ROLE_NAME, kind="media").alias("name_a"),
            pick(SP.ROLE_NAME, kind="media", attr="media_ref").alias("name_href"),
            pick(SP.ROLE_NAME, kind="text").alias("name_plain"),
            pick(SP.ROLE_DATE).alias("date_text"),
            pick(SP.ROLE_DATE, kind="media", attr="media_ref").alias("date_href"),
            pick(SP.ROLE_ORIGIN, kind="media", attr="media_ref").alias("origin_href"),
            pick(SP.ROLE_CID_INPUT).alias("cid_value"),
            pick(SP.ROLE_REACTION).alias("fans"),
        )

    # sequence(1, max(n,1)): a 0-comment page yields one all-null
    # entry, dropped by the id/body requirement below (sequence(1,0)
    # would generate a DESCENDING range — never do that)
    carr = F.transform(F.sequence(F.lit(1), F.greatest(n_c, F.lit(1))), mk_comment)
    c = base.select("url", *seq, F.explode(carr).alias("__c")).select(
        "url", *seq, "__c.*"
    )
    return c


def parse_pages(pages: DataFrame, reuse: bool = False) -> ParseResult:
    """Run the full extraction plan. Dispatcher regex gating (C8) is
    applied later by the crawl layer — this kernel extracts every
    role; gating is a cheap filter on the small result frames.

    ``reuse=True`` materializes the comments frame (localCheckpoint)
    before the four frames derived from it — one window+aggregate
    execution instead of four when several sinks consume the result.
    """
    # grouped view for teaser assembly; plain view (no n² group
    # counters) for page-level aggregates and URL collectors. Comment
    # assembly is map-side (_comment_groups_map_side) — neither view
    # is evaluated unless teasers/articles are actually consumed.
    s = explode_spans(pages, with_groups=True)
    sp = explode_spans(pages)
    # the page key of every item frame: url, and fetch_seq if present
    page = ["url", *_seq_cols(pages)]

    # ---- comments (P2; ZeitDe.hs:125-172) --------------------------------
    c = _comment_groups_map_side(pages)
    emdash = SP.EMDASH
    # title = strip . takeWhile (/= '—')   (ZeitDe.hs:136-138)
    title = F.when(
        F.col("date_text").isNotNull(),
        F.trim(F.substring_index("date_text", emdash, 1)),
    )
    # informal date = strip . dropWhile (=='—') . dropWhile (/='—')
    # (ZeitDe.hs:148-150): "" when no em-dash present.
    informal = F.when(
        F.col("date_text").isNotNull(),
        F.when(
            F.col("date_text").contains(emdash),
            F.trim(F.regexp_replace("date_text", f"^[^{emdash}]*{emdash}+", "")),
        ).otherwise(F.lit("")),
    )
    # user = stripPrefix "https://profile.zeit.de/" href (ZeitDe.hs:139-142):
    # Nothing when the prefix is absent.
    user = F.when(
        F.col("name_href").startswith(SP.USER_PREFIX),
        F.expr(f"substring(name_href, {len(SP.USER_PREFIX) + 1})"),
    )
    # parent: comment__origin fragment, else 'cid-' <> input value
    # (ZeitDe.hs:153-158)
    parent = F.coalesce(
        F.when(F.col("origin_href").isNotNull(), fragment_or_url("origin_href")),
        F.when(F.col("cid_value").isNotNull(), F.concat(F.lit("cid-"), "cid_value")),
    )
    comments = (
        # scalpel requires body + id for the comment to parse at all
        c.filter(F.col("id").isNotNull() & F.col("body").isNotNull())
        .select(
            *page,
            "pos",
            F.col("id"),
            F.trim("body").alias("text"),  # T.strip innerHTML (ZeitDe.hs:135)
            title.alias("title"),
            user.alias("user"),
            F.coalesce("name_a", F.trim("name_plain")).alias("name"),
            informal.alias("date_informal"),
            F.lit(None).cast("timestamp").alias("date"),  # ZeitDe.hs:151
            parent.alias("parent"),
            F.lit(None).cast("string").alias("thread"),  # ZeitDe.hs:159
            F.when(
                F.col("fans").isNotNull(), count_of_fans("fans")
            ).alias("up_votes"),
            F.lit(None).cast("int").alias("down_votes"),  # ZeitDe.hs:164
            F.when(
                F.col("date_href").isNotNull(), strip_query("date_href")
            ).alias("article"),
            F.col("fans"),
        )
    )

    if reuse:
        comments = comments.localCheckpoint()

    # ---- users = contributors (P3; User.hs:57-61): user id required ----
    users = comments.filter(F.col("user").isNotNull()).select(
        *page, "pos", F.col("user"), F.col("name")
    )

    # ---- votes / voters (P7/P8; ZeitDe.hs:245-285): explode data-fans --
    fan = F.explode(F.split("fans", ","))
    fans_base = comments.filter(F.col("fans").isNotNull()).select(
        *page, "pos", F.col("id").alias("comment"), fan.alias("user")
    )
    votes = fans_base.select(
        *page, "pos", "user", "comment", F.lit(1).alias("vote")  # ZeitDe.hs:259
    )
    voters = fans_base.select(
        *page, "pos", "user", F.lit(None).cast("string").alias("name")
    )

    # ---- articles from page head (P4; ZeitDe.hs:191-214) ---------------
    a = sp.groupBy(*page).agg(
        _grp(SP.ROLE_CANONICAL, "media_ref").alias("canonical"),
        _grp(SP.ROLE_TITLE).alias("title_raw"),
        _grp(SP.ROLE_DESCRIPTION).alias("description"),
        _grp(SP.ROLE_BYLINE).alias("author"),
        _grp(SP.ROLE_META_DATE).alias("date_raw"),
    )
    articles = (
        # canonical, <title> and meta date are required selectors
        a.filter(
            F.col("canonical").isNotNull()
            & F.col("title_raw").isNotNull()
            & F.col("date_raw").isNotNull()
        ).select(
            *page,
            F.lit(0).alias("pos"),
            "canonical",
            # strip . takeWhile (/='|')  (ZeitDe.hs:201)
            F.trim(F.substring_index("title_raw", "|", 1)).alias("title"),
            F.trim("description").alias("description"),
            F.col("author"),
            F.to_timestamp("date_raw", DATETIME_FMT).alias("date"),
        )
    )

    # ---- search teasers (P5; ZeitDe.hs:217-242) -------------------------
    t = (
        s.filter(F.col("tseq") > 0)
        .groupBy(*page, "tseq")
        .agg(
            F.min("offset").alias("pos"),
            _grp(SP.ROLE_TEASER_LINK, "media_ref").alias("canonical"),
            _grp(SP.ROLE_TEASER_TITLE).alias("title_raw"),
            _grp(SP.ROLE_TEASER_TEXT).alias("text_raw"),
            _grp(SP.ROLE_TEASER_BYLINE).alias("byline"),
            _grp(SP.ROLE_TEASER_DATETIME).alias("datetime_raw"),
        )
    )
    articles_searched = (
        t.filter(
            F.col("canonical").isNotNull()
            & F.col("title_raw").isNotNull()
            & F.col("datetime_raw").isNotNull()
        ).select(
            *page,
            "pos",
            "canonical",
            F.trim("title_raw").alias("title"),
            F.trim("text_raw").alias("description"),
            # stripAuthor: strip . last . splitOn "  " (ZeitDe.hs:393-394)
            F.when(
                F.col("byline").isNotNull(),
                F.trim(F.element_at(F.split("byline", "  "), -1)),
            ).alias("author"),
            F.to_timestamp("datetime_raw", DATETIME_FMT).alias("date"),
        )
    )

    # ---- minimal articles from comments (P6; ZeitDe.hs:184-189) --------
    # nub keeps first occurrence: min(pos) per canonical per page.
    articles_from_comments = (
        comments.filter(F.col("article").isNotNull())
        .groupBy(*page, F.col("article").alias("canonical"))
        .agg(F.min("pos").alias("pos"))
        .select(
            *page,
            "pos",
            "canonical",
            F.lit(None).cast("string").alias("title"),
            F.lit(None).cast("string").alias("description"),
            F.lit(None).cast("string").alias("author"),
            F.lit(None).cast("timestamp").alias("date"),
        )
    )

    # ---- URL collectors (P1/P10) ----------------------------------------
    urls = (
        sp.filter(
            F.col("role").isin(COLLECTOR_ROLES)
            & F.col("media_ref").isNotNull()
            # generic anchors pass the hygiene filter (Generic.hs:45-52);
            # applied to the raw href before fragment-dropping.
            & ((F.col("role") != SP.ROLE_ANCHOR) | hygienic_link(F.col("media_ref")))
        )
        .select(
            "url",
            "role",
            _collector_target(F.col("role"), F.col("media_ref")).alias("target"),
            "offset",
        )
    )

    return ParseResult(
        comments=comments,
        users=users,
        voters=voters,
        votes=votes,
        articles=articles,
        articles_searched=articles_searched,
        articles_from_comments=articles_from_comments,
        urls=urls,
    )


# ---------------------------------------------------------------------------
# Map-side URL discovery (C4 + U2: mkAbsolute + nub per page, App.hs:83)


def discover_urls(
    pages: DataFrame,
    dispatchers: list[tuple[int, str, tuple[str, ...]]],
) -> DataFrame | None:
    """Discovered URLs per (page × dispatcher): absolutize (U2), nub
    first-occurrence in (collector_rank, offset) order, dense ``pos``.

    Scale design: everything happens *inside the span array* with
    higher-order functions — filter → transform (native ``urljoin``,
    ``url_resolve_native``) → array_sort → array_distinct →
    posexplode — so every page is map-side work with zero shuffles
    and zero Python, dot-segment refs included.

    ``dispatchers``: (dispatcher_idx, url_scheme_regex, collector
    roles).  Returns (source, dispatcher_idx, pos, target) — plus
    ``source_fetch_seq`` passed through when the input pages carry a
    ``fetch_seq`` column, so callers never need a lineage join back to
    the due set to recover it — or None if no dispatcher collects URLs.
    """
    parts: list[DataFrame] = []
    seq = _seq_cols(pages)
    cols = ["url", *seq, "spans"]
    base = pages.select(*cols)
    if "status" in pages.columns:
        base = pages.filter(
            F.col("status").isNull() | (F.col("status") < 400)
        ).select(*cols)

    for idx, scheme, collectors in dispatchers:
        roles = [r for r in collectors if r in COLLECTOR_ROLES]
        if not roles:
            continue
        rank_of = {r: collectors.index(r) for r in roles}

        def role_of(s):
            return F.substring_index(s["text"], SP.SEP, 1)

        # NB: span lambdas must take exactly one parameter — a second
        # parameter makes PySpark pass the array index as an argument.
        def make_keep(roles):
            def keep(s):
                r = role_of(s)
                return (
                    r.isin(roles)
                    & s["media_ref"].isNotNull()
                    & ((r != SP.ROLE_ANCHOR) | hygienic_link(s["media_ref"]))
                )

            return keep

        def make_to_cand(rank_of):
            def to_cand(s):
                r = role_of(s)
                rank = F.lit(None).cast("int")
                for role, rk in rank_of.items():
                    rank = F.when(r == role, F.lit(rk)).otherwise(rank)
                return F.struct(
                    rank.alias("rank"),
                    s["offset"].cast("int").alias("offset"),
                    _collector_target(r, s["media_ref"]).alias("target"),
                )

            return to_cand

        keep = make_keep(roles)
        to_cand = make_to_cand(rank_of)

        pg = base.filter(F.col("url").rlike(scheme)).select(
            "url", *seq,
            F.array_sort(
                F.transform(F.filter("spans", keep), to_cand)
            ).alias("__cand"),
        ).filter(F.size("__cand") > 0)

        # native absolutization inside the array — a plain string
        # array in (rank, offset) order (__cand is already sorted);
        # nub = array_distinct over the ordered targets — first
        # occurrence wins, O(k) hash-set dedup. (The first cut folded
        # an O(k²) aggregate/concat over struct elements; the per-page
        # array churn made this the epoch's only stage that stayed
        # flat from 8→32 cores — allocation-bandwidth-bound, ~2×
        # slower than this form on the 1.2M-page scaling epoch.)
        resolved = F.transform(
            "__cand", lambda x: url_resolve_native(F.col("url"), x["target"])
        )
        parts.append(
            pg.select(
                "url", *seq, F.posexplode(F.array_distinct(resolved)),
            ).select(
                F.col("url").alias("source"),
                *[F.col(c).alias("source_fetch_seq") for c in seq],
                F.lit(idx).alias("dispatcher_idx"),
                F.col("pos").cast("int").alias("pos"),
                F.col("col").alias("target"),
            )
        )

    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
