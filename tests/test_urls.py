"""URL scalar-function goldens (FIXTURES.md §4), verbatim from
/root/reference/test/Test/Network/Scrapetition/Utils.hs:137-161 and
test/Test/Network/Scrapetition/Scrapers/Generic.hs:13-48."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from scrapetition_spark.functions.urls import (
    _domain_series,
    _mk_absolute_series,
    count_of_fans,
    drop_fragment,
    fragment_or_url,
    hygienic_link,
    identifier,
    mk_absolute,
    strip_query,
    url_domain,
)


def test_domain_goldens_local():
    # test/.../Utils.hs:149-153
    urls = pd.Series(
        [
            "http://www.feu.de/ksw/index.html",
            "ftp://www.feu.de/ksw/index.html",
            "www.feu.de/ksw/index.html",  # scheme-less => null
            "urn:isbn:3827370191",  # no authority => null
            None,
        ]
    )
    out = _domain_series(urls)
    assert out.tolist() == ["www.feu.de", "www.feu.de", None, None, None]


def test_domain_spark(spark):
    df = spark.createDataFrame(
        [("http://www.feu.de/ksw",), ("www.feu.de/ksw",), ("urn:isbn:3827370191",)],
        ["url"],
    )
    got = [r[0] for r in df.select(url_domain("url")).collect()]
    assert got == ["www.feu.de", None, None]


def test_mk_absolute_goldens_local():
    # test/.../Utils.hs:156-161
    base = "http://www.feu.de"
    cases = [
        (base, "ksw", "http://www.feu.de/ksw"),
        ("http://www.feu.de/mi", "/ksw", "http://www.feu.de/ksw"),
        (base, "http://other.org/x", "http://other.org/x"),  # absolute passthrough
        ("not a uri", "ksw", "ksw"),  # unparsable base => path verbatim
        ("www.feu.de", "ksw", "ksw"),  # scheme-less base => path verbatim
    ]
    bases = pd.Series([c[0] for c in cases])
    paths = pd.Series([c[1] for c in cases])
    assert _mk_absolute_series(bases, paths).tolist() == [c[2] for c in cases]


def test_mk_absolute_spark(spark):
    df = spark.createDataFrame(
        [("http://www.feu.de", "ksw"), ("http://a.de/x/y", "../z")], ["b", "p"]
    )
    got = [r[0] for r in df.select(mk_absolute("b", "p")).collect()]
    assert got == ["http://www.feu.de/ksw", "http://a.de/z"]


def test_identifier_goldens(spark):
    # test/.../Utils.hs:137-146: fallback literal is "unkown"
    df = spark.createDataFrame(
        [("http://www.feu.de/x", "1"), (None, "1")], ["url", "id"]
    )
    got = [
        r[0]
        for r in df.select(identifier("|", F.col("url"), F.col("id"))).collect()
    ]
    assert got == ["www.feu.de|1", "unkown|1"]
    # domain override wins; other-id override wins
    got2 = df.select(
        identifier(
            "/",
            F.col("url"),
            F.col("id"),
            domain_override=F.lit("dom"),
            other_id=F.lit("other"),
        )
    ).collect()
    assert [r[0] for r in got2] == ["dom/other", "dom/other"]


def test_fragment_helpers(spark):
    df = spark.createDataFrame(
        [("http://x/y#frag",), ("http://x/y",), ("a#b#c",)], ["u"]
    )
    frag = [r[0] for r in df.select(fragment_or_url("u")).collect()]
    assert frag == ["frag", "http://x/y", "c"]
    nofrag = [r[0] for r in df.select(drop_fragment("u")).collect()]
    assert nofrag == ["http://x/y", "http://x/y", "a"]


def test_strip_query(spark):
    df = spark.createDataFrame([("http://x/y?page=2",), ("http://x/y",)], ["u"])
    got = [r[0] for r in df.select(strip_query("u")).collect()]
    assert got == ["http://x/y", "http://x/y"]


def test_hygienic_link(spark):
    # Generic.hs:45-52 goldens (test/.../Scrapers/Generic.hs:35-48)
    df = spark.createDataFrame(
        [("#same-doc",), ("mailto:a@b.c",), ("javascript:void(0)",), ("/ok#f",)],
        ["u"],
    )
    got = [r[0] for r in df.select(hygienic_link("u")).collect()]
    assert got == [False, False, False, True]


def test_count_of_fans(spark):
    # ZeitDe.hs:362-367: commas + 1 (empty string counts 1)
    df = spark.createDataFrame([("1,2,3",), ("9",), ("",)], ["fans"])
    got = [r[0] for r in df.select(count_of_fans("fans")).collect()]
    assert got == [3, 1, 1]


def test_url_resolve_native_matches_urljoin(spark):
    """Property: the native resolution equals mk_absolute_str
    (urljoin semantics) on every row of the generator — absolute,
    protocol-relative, rooted, fragment- and query-only refs,
    dot segments (trailing ``..`` included), ``;params``, empty refs
    and empty components, bases with no authority, a non-relative or
    upper-case scheme or empty segments, malformed IPv6 netlocs and
    leading whitespace."""
    from itertools import product

    from scrapetition_spark.functions.urls import (
        mk_absolute_str,
        url_resolve_native,
    )

    bases = [
        "https://h7.test/a/b/c?q=1#f",
        "https://h7.test/a/b/",
        "https://h7.test",
        "http://u:p@h.test:8080/x/y",
        "http://h.test/a/b;p?q",
        "http://h.test/a;x/b;y",
        "file:/srv/a/b",  # no authority
        "http:a/b",  # no authority, relative path
        "ws://h.test/a/b",  # no ;params for ws
        "http://[::1]/a",
        "http://[bad/a",  # unbalanced bracket: urljoin raises
        "HTTP://H.test/a/b",  # urljoin lowercases the scheme
        "http://h.test/a//b/c",  # empty middle segment
        "http://h.test/./a/b",
        "http://h.test/a?",  # empty query: dropped
        "http://h.test/a;",  # empty params: dropped
        "http://h.test/a/b?q#",
        "not a uri",
        "www.feu.de/x",
        "mailto:a@b.c",
        "urn:isbn:123",
    ]
    targets = [
        "https://other.org/z?x#y",
        "ftp://f.test/z",
        "//cdn.test/lib.js",
        "///triple",
        "/rooted/path?q=2",
        "/rooted#frag",
        "#frag-only",
        "?q=only",
        "?",
        "#",
        "plain/rel.html",
        "rel.html?a=1#b",
        "../up/one",
        "../../../../too/far",
        "./here",
        "a/../b",
        "a//b/./c",
        "/a//b/../c",
        "/..",
        "..",
        ".",
        "x/..",
        "x/.",
        ";p",
        "seg;p?q",
        "d/e;p/f;q",
        "x?",
        "x#",
        "x;",
        "/a;?q",
        "//h.test?",
        "//h.test/p;#f",
        "",
        " ",
        " /lead-space",
        "\tx\ny",
        "http:rel",
        "C:/windows/looking",
        "x y spaces",
        "//[::1]:80/v6",
        "//[nope]/v6",
    ]
    rows = list(product(bases, targets))
    df = spark.createDataFrame(rows, ["b", "t"])
    got = df.select(
        "b", "t", url_resolve_native(F.col("b"), F.col("t")).alias("n")
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        expect = mk_absolute_str(r["b"], r["t"])
        assert r["n"] == expect, (r["b"], r["t"], r["n"], expect)


def test_url_resolve_native_matches_urljoin_fuzzed(spark):
    """Seeded random URLs assembled from schemes, netlocs (userinfo,
    IPv6/IPvFuture literals, NFKC separators), dot/empty/``;param``
    segments, queries and fragments, with control characters mixed in:
    the native resolution equals mk_absolute_str on every row."""
    import random

    from scrapetition_spark.functions.urls import (
        mk_absolute_str,
        url_resolve_native,
    )

    rnd = random.Random(20261017)
    schemes = ["http", "https", "HTTP", "ftp", "file", "ws", "mailto", "urn", "sip"]
    nets = ["h.test", "u:p@h.test:80", "", "[::1]", "[v1.x]", "[1.2.3.4]",
            "[fe80::1%25e]", "[::ffff:1.2.3.04]", "a]b", "[x", "h\uff0ft",
            "h\u00e9.t", "H.Test"]
    segs = ["a", "b", "..", ".", "", "c;p", "d;", ";q", "e.html", "x y"]
    tails = ["", "?", "?q=1", "?a?b", "#", "#f", "?x#y", "#f?g"]

    def path():
        p = "/".join(rnd.choice(segs) for _ in range(rnd.randint(0, 4)))
        return rnd.choice(["", "/"]) + p + rnd.choice(tails)

    def base():
        s = rnd.choice(schemes)
        return f"{s}://{rnd.choice(nets)}{path()}" if rnd.random() < 0.8 else f"{s}:{path()}"

    def target():
        pre = rnd.choice(["", "", "", " ", "\t", "\x01 "])
        r = rnd.random()
        if r < 0.15:
            t = f"//{rnd.choice(nets)}{path()}"
        elif r < 0.2:
            t = f"{rnd.choice(schemes)}:{path()}"
        else:
            t = path()
        if rnd.random() < 0.1:
            i = rnd.randint(0, len(t))
            t = t[:i] + rnd.choice(["\t", "\r", "\n"]) + t[i:]
        return pre + t

    rows = [(base(), target()) for _ in range(3000)]
    got = spark.createDataFrame(rows, "b string, t string").select(
        "b", "t", url_resolve_native(F.col("b"), F.col("t")).alias("n")
    ).collect()
    bad = [(r["b"], r["t"], r["n"]) for r in got if r["n"] != mk_absolute_str(r["b"], r["t"])]
    assert not bad, bad[:10]


def test_nfkc_separator_class_matches_unicodedata():
    """The netloc characters urlsplit rejects under NFKC, hard-coded
    in the native resolution, are exactly this Python's set."""
    import re
    import unicodedata

    from scrapetition_spark.functions.urls import _NFKC_SEPARATORS

    want = {
        c for c in map(chr, range(0x80, 0x110000))
        if set("/?#@:") & set(unicodedata.normalize("NFKC", c))
    }
    got = set(re.findall(r"\\u([0-9a-f]{4})", _NFKC_SEPARATORS))
    assert {chr(int(h, 16)) for h in got} == want


def test_url_domain_native_equals_pandas_kernel(spark):
    """The native U1 expression must equal the pandas kernel on every
    edge case the reference's goldens exercise plus adversarial
    inputs (userinfo, ports, IPv6, empty authority, unicode case)."""
    from scrapetition_spark.functions.urls import url_domain, url_domain_udf

    cases = [
        "https://www.zeit.de/politik/x?y#z",
        "http://USER:pw@Host.Example.COM:8080/p",
        "https://[2001:db8::1]:443/p",
        "urn:isbn:0451450523",
        "mailto:x@example.com",
        "www.feu.de/no-scheme",
        "ftp://files.test/",
        "",
        "https://",
        "HTTPS://UPPER.test/p",
        "a+b-c.d://weird.scheme.test/p",
        None,
    ]
    df = spark.createDataFrame([(c,) for c in cases], "url string")
    native = [r[0] for r in df.select(url_domain("url")).collect()]
    kernel = [r[0] for r in df.select(url_domain_udf("url")).collect()]
    assert native == kernel


def test_ipv6_pattern_matches_ipaddress():
    """The bracketed-host pattern of the native resolution accepts
    exactly the strings ``ipaddress.IPv6Address`` accepts, over seeded
    random colon-joined parts (hextets, empty parts, over-long and
    non-hex parts, dotted IPv4 tails with leading zeros or big octets)
    with optional scope ids."""
    import ipaddress
    import random
    import re

    from scrapetition_spark.functions.urls import _IPV6_RE

    pattern = re.compile(_IPV6_RE.replace("\\z", "\\Z"))
    parts = ["", "0", "1", "ab", "ffff", "FfFf"] * 4 + [
        "12345", "g", "1.2.3.4", "01.2.3.4", "256.1.1.1", "1.2.3"]
    rnd = random.Random(6)
    cases = ["::", "::1", "1::", "::ffff:1.2.3.4", "1:2:3:4:5:6:7:8",
             "1:2:3:4:5:6:7::", "::2:3:4:5:6:7:8", "1:2:3:4:5:6:1.2.3.4"]
    for _ in range(20000):
        s = ":".join(rnd.choice(parts) for _ in range(rnd.randint(1, 10)))
        cases.append(s + rnd.choice(["", "", "%eth0", "%", "%a%b"]))
    for s in cases:
        try:
            ipaddress.IPv6Address(s)
            ok = True
        except ValueError:
            ok = False
        assert bool(pattern.match(s)) == ok, s
