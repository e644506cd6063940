"""Vectorized span→item parse plan (SURVEY.md §2.4)."""

from scrapetition_spark.parse.kernel import (  # noqa: F401
    ParseResult,
    discover_urls,
    explode_spans,
    parse_pages,
    sniffed_charset,
)
