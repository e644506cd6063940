"""URL scalar functions (SURVEY.md §2.3 U1-U7).

Reference semantics (all /root/reference/src/Network/Scrapetition/):
- U1 ``domain``       Utils.hs:26-31  — host of an *absolute* URI;
  null for scheme-less strings and URIs without an authority
  (``urn:``, ``mailto:``). Golden: test/.../Utils.hs:149-153.
- U2 ``mkAbsolute``   Utils.hs:36-42  — RFC 3986 resolution of a
  relative reference against a base; an absolute reference passes
  through; unparsable base ⇒ the path is returned verbatim.
  Golden: test/.../Utils.hs:156-161.
- U3 ``identifier``   Utils.hs:49-67  — ``domain <> sep <> id`` with
  overrides; literal fallback ``"unkown"`` (reference's misspelling).
- U4 ``fragmentOrUrl``  Scrapers/ZeitDe.hs:374-379
- U5 ``dropFragment``   Scrapers/ZeitDe.hs:382-383
- U6 query-strip        Scrapers/ZeitDe.hs:165-167 (takeWhile /= '?')
- U7 link hygiene       Scrapers/Generic.hs:45-52

Execution: the crawl path runs U1 and U2 as native Column expressions
(``url_domain``, ``url_resolve_native`` — JVM, no Python worker);
U3-U7 are native too. The pandas UDFs ``url_domain_udf`` and
``url_join`` (behind ``mk_absolute``) stay as the reference kernels
the native forms are tested against: U2's pandas kernel short-circuits
already-absolute refs via a regex mask and calls ``urljoin`` only on
the relative remainder.
"""

from __future__ import annotations

from urllib.parse import urljoin, uses_netloc, uses_params, uses_relative

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# RFC 3986 scheme: ALPHA *( ALPHA / DIGIT / "+" / "-" / "." ) ":"
_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:"
# scheme '://' userinfo@ host :port — capture the host (reg-name).
_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?(\[[^\]]*\]|[^/?#:@]*)"


def domain_str(url: str | None) -> str | None:
    """Pure-Python U1 (single value) — same regex as the vectorized
    kernel; used by the test-oracle simulator."""
    import re

    if url is None:
        return None
    m = re.match(_HOST_RE, url)
    if not m or not m.group(1):
        return None
    return m.group(1).lower()


def mk_absolute_str(base: str | None, path: str | None) -> str | None:
    """Pure-Python U2 (single value), same branch logic as the kernel."""
    import re

    if path is None:
        return None
    if re.match(_SCHEME_RE, path):
        return path
    if base is None or not re.match(_SCHEME_RE, base):
        return path
    try:
        return urljoin(base, path)
    except ValueError:
        return path


def _domain_series(urls: pd.Series) -> pd.Series:
    """Vectorized U1: host of an absolute URI, else <NA>.

    Mirrors parseURI >>= uriAuthority >>= uriRegName (Utils.hs:26-31):
    scheme required; empty authority (urn:, mailto:) ⇒ null.
    """
    host = urls.str.extract(_HOST_RE, expand=False)
    host = host.mask(host.notna() & (host.str.len() == 0)).str.lower()
    return host.astype("object").where(host.notna(), None)


@pandas_udf(StringType())
def url_domain_udf(urls: pd.Series) -> pd.Series:  # pragma: no cover (runs on executors)
    return _domain_series(urls)


def url_domain(col: Column | str) -> Column:
    """U1 as a NATIVE expression (JVM regex, whole-stage codegen) —
    the exact twin of the pandas kernel above (same ``_HOST_RE``,
    same empty-authority ⇒ null rule; property-tested equal in
    tests/test_urls.py). U1 sits on every hot path of the epoch loop
    (host columns, host buckets, metrics, cross-domain gate), so it
    must not spin Python workers; the pandas kernel remains as the
    cross-checked reference implementation."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.lower(F.regexp_extract(c, _HOST_RE, 1))
    return F.when(h != "", h)


def domain_of(col: Column | str) -> Column:
    """U1 as a Column expression."""
    return url_domain(col)


def _mk_absolute_series(bases: pd.Series, paths: pd.Series) -> pd.Series:
    """Vectorized U2 (Utils.hs:36-42).

    - path with a scheme (absolute URI) ⇒ parseRelativeReference
      fails in the reference ⇒ path verbatim (which equals RFC
      resolution for absolute refs, so passthrough is exact);
    - base without a scheme ⇒ parseURI fails ⇒ path verbatim;
    - otherwise RFC 3986 resolution (urljoin).
    """
    path_absolute = paths.str.match(_SCHEME_RE).astype("boolean").fillna(False)
    base_ok = bases.str.match(_SCHEME_RE).astype("boolean").fillna(False)
    out = paths.copy()
    todo = (~path_absolute) & base_ok & paths.notna()
    if todo.any():

        def _join(row: tuple[str, str]) -> str:
            try:
                return urljoin(row[0], row[1])
            except ValueError:
                return row[1]

        sub = pd.DataFrame({"b": bases[todo], "p": paths[todo]})
        out[todo] = [_join(t) for t in zip(sub["b"], sub["p"])]
    return out


@pandas_udf(StringType())
def url_join(bases: pd.Series, paths: pd.Series) -> pd.Series:  # pragma: no cover
    return _mk_absolute_series(bases, paths)


# urlsplit's component grammar: scheme, //netloc, path, ?query, #fragment
_SPLIT_RE = (
    r"(?s)^(?:([A-Za-z][A-Za-z0-9+.\-]*):)?(?://([^/?#]*))?([^?#]*)"
    r"(?:\?([^#]*))?(?:#(.*))?\z"
)
# non-ASCII characters whose NFKC form holds one of / ? # @ : — a
# netloc containing one makes urlsplit raise (urllib.parse._checknetloc)
_NFKC_SEPARATORS = (
    r"[\u2047\u2048\u2049\u2100\u2101\u2105\u2106\u2a74\ufe13\ufe16\ufe55"
    r"\ufe56\ufe5f\ufe6b\uff03\uff0f\uff1a\uff1f\uff20]"
)
# urljoin resolves only schemes in uses_relative, and every one of them
# is in uses_netloc, so a resolved URL always takes the netloc form
assert set(uses_relative) <= set(uses_netloc)


def _ipv6_re() -> str:
    """The text forms ``ipaddress.IPv6Address`` accepts: eight hextets,
    or one ``::`` standing for at least one zero hextet, either
    optionally ending in a dotted IPv4 address with no leading zeros,
    then an optional ``%scope``."""
    h = "[0-9A-Fa-f]{1,4}"
    octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    v4 = rf"{octet}(?:\.{octet}){{3}}"

    def run(n: int) -> str:
        return "" if n == 0 else f"(?:{h}:){{{n - 1}}}{h}"

    alts = [run(8), f"{run(6)}:{v4}"]
    for hi in range(8):
        for lo in range(8 - hi):
            alts.append(f"{run(hi)}::{run(lo)}")
            if hi + lo <= 5:
                alts.append(f"{run(hi)}::{run(lo)}{':' if lo else ''}{v4}")
    return "^(?:" + "|".join(alts) + ")(?:%[^%]+)?\\z"


_IPV6_RE = _ipv6_re()


def _let(value: Column, fn) -> Column:
    """``fn(value)`` with ``value`` evaluated once (bound as a lambda
    variable), so nested steps do not copy its expression tree."""
    return F.transform(F.array(value), fn).getItem(0)


def _bad_netloc(netloc: Column) -> Column:
    """True where urlsplit raises ValueError on this netloc: unbalanced
    brackets, a bracketed host that is neither an IPv6 address nor an
    IPvFuture literal, or an NFKC-separator character."""
    has_l, has_r = netloc.contains("["), netloc.contains("]")
    host = F.regexp_extract(netloc, r"^[^\[]*\[([^\]]*)", 1)
    host_ok = F.when(
        host.startswith("v"), host.rlike(r"(?s)^v[a-fA-F0-9]+\..+\z")
    ).otherwise(host.rlike(_IPV6_RE))
    return (has_l != has_r) | (has_l & ~host_ok) | netloc.rlike(_NFKC_SEPARATORS)


def _urlsplit(u: Column) -> Column:
    def g(i: int) -> Column:
        return F.regexp_extract(u, _SPLIT_RE, i)

    return F.struct(
        F.lower(g(1)).alias("scheme"),
        g(2).alias("netloc"),
        g(3).alias("path"),
        g(4).alias("query"),
        g(5).alias("fragment"),
    )


def _split_params(path: Column, use: Column) -> Column:
    """urlparse's ``;params``: split the last path segment at its first
    ';' when the scheme uses params."""
    tail = F.substring_index(path, "/", -1)
    head = path.substr(F.lit(1), F.length(path) - F.length(tail))
    stem = F.substring_index(tail, ";", 1)
    has = use & tail.contains(";")
    return F.struct(
        F.when(has, F.concat(head, stem)).otherwise(path).alias("path"),
        F.when(has, tail.substr(F.length(stem) + 2, F.lit(1 << 30)))
        .otherwise(F.lit(""))
        .alias("params"),
    )


def _merge_path(bpath: Column, ppath: Column) -> Column:
    """urljoin's path merge: a rooted ref replaces the base path, any
    other ref appends to the base's directory with empty middle
    segments dropped; then '.' and '..' segments resolve ('..' above
    the root is ignored) and a trailing '.' or '..' leaves a trailing
    slash."""
    bp = F.split(bpath, "/")
    base_dir = F.when(
        F.element_at(bp, -1) != "", F.slice(bp, F.lit(1), F.size(bp) - 1)
    ).otherwise(bp)

    def drop_empty_middle(segs: Column) -> Column:
        n = F.size(segs)
        middle = F.filter(F.slice(segs, F.lit(2), n - 2), lambda s: s != "")
        return F.when(
            n > 2, F.concat(F.slice(segs, 1, 1), middle, F.slice(segs, n, F.lit(1)))
        ).otherwise(segs)

    def resolve(segs: Column) -> Column:
        def step(acc: Column, s: Column) -> Column:
            pop = F.when(F.size(acc) > 0, F.slice(acc, F.lit(1), F.size(acc) - 1))
            return (
                F.when(s == "..", pop.otherwise(acc))
                .when(s == ".", acc)
                .otherwise(F.concat(acc, F.array(s)))
            )

        empty = F.array().cast("array<string>")
        trailing = F.when(
            F.element_at(segs, -1).isin(".", ".."), F.array(F.lit(""))
        ).otherwise(empty)
        out = F.concat(F.aggregate(segs, empty, step), trailing)
        return F.coalesce(F.nullif(F.array_join(out, "/"), F.lit("")), F.lit("/"))

    segs = F.when(ppath.startswith("/"), F.split(ppath, "/")).otherwise(
        _let(F.concat(base_dir, F.split(ppath, "/")), drop_empty_middle)
    )
    return _let(segs, resolve)


def _urlunsplit(
    scheme: Column, netloc: Column, path: Column, params: Column,
    query: Column, fragment: Column,
) -> Column:
    """urlunparse for a scheme in uses_netloc."""

    def compose(url: Column) -> Column:
        rooted = F.when((url != "") & ~url.startswith("/"), F.concat(F.lit("/"), url))
        with_auth = F.concat(F.lit("//"), netloc, rooted.otherwise(url))
        return F.concat(
            scheme,
            F.lit(":"),
            F.when((netloc != "") | ~url.startswith("//"), with_auth).otherwise(url),
            F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
            F.when(fragment != "", F.concat(F.lit("#"), fragment)).otherwise(F.lit("")),
        )

    with_params = F.when(params != "", F.concat(F.lit(";"), params)).otherwise(F.lit(""))
    return _let(F.concat(path, with_params), compose)


def _urljoin(base: Column, target: Column) -> Column:
    """``urllib.parse.urljoin(base, target)`` for a non-empty target,
    returning ``target`` where urljoin raises ValueError."""

    def clean(s: Column) -> Column:
        # urlsplit strips leading C0 controls/space, then drops \t\r\n
        return F.regexp_replace(F.regexp_replace(s, r"^[\x00-\x20]+", ""), r"[\t\r\n]", "")

    def joined(v: Column) -> Column:
        b, p = v["b"], v["p"]
        bs = b["scheme"]
        ps = F.when(p["scheme"] != "", p["scheme"]).otherwise(bs)

        def resolved(w: Column) -> Column:
            bp, pp = w["b"], w["p"]
            query = F.when(p["query"] != "", p["query"]).otherwise(b["query"])
            return (
                F.when(_bad_netloc(b["netloc"]) | _bad_netloc(p["netloc"]), target)
                .when((ps != bs) | ~bs.isin(*uses_relative), target)
                .when(
                    p["netloc"] != "",
                    _urlunsplit(bs, p["netloc"], pp["path"], pp["params"],
                                p["query"], p["fragment"]),
                )
                .when(
                    (pp["path"] == "") & (pp["params"] == ""),
                    _urlunsplit(bs, b["netloc"], bp["path"], bp["params"],
                                query, p["fragment"]),
                )
                .otherwise(
                    _urlunsplit(bs, b["netloc"], _merge_path(bp["path"], pp["path"]),
                                pp["params"], p["query"], p["fragment"])
                )
            )

        use = bs.isin(*uses_params)
        return _let(
            F.struct(
                _split_params(b["path"], use).alias("b"),
                _split_params(p["path"], use).alias("p"),
            ),
            resolved,
        )

    def parsed(v: Column) -> Column:
        return _let(
            F.struct(_urlsplit(v["b"]).alias("b"), _urlsplit(v["p"]).alias("p")), joined
        )

    return _let(F.struct(clean(base).alias("b"), clean(target).alias("p")), parsed)


# A base whose plain concatenations equal urljoin's result: lowercase
# http(s), a non-empty printable-ASCII netloc without brackets, path
# segments that are neither empty (a trailing '/' aside) nor '.'/'..',
# no ';' ending the path (urlunparse drops empty params), a non-empty
# query if any, and no tab/CR/LF.
_PLAIN_BASE_RE = (
    r"^(?![^?#]*;(?:[?#]|\z))https?://[\x21-\x7e&&[^/?#\[\]]]+"
    r"(?:/(?!\.\.?(?:[/?#]|\z))[^/?#\t\r\n]+)*/?"
    r"(?:\?[^#\t\r\n]+)?(?:#[^\t\r\n]*)?\z"
)
# refs that need urljoin's full steps: leading C0/space or any
# tab/CR/LF (urlsplit cleans them), an empty query or fragment (urljoin
# drops it), a ';' ending the path (empty params, dropped too), '//'
# without a plain netloc, a '.'/'..' path segment, or an empty segment
# inside a relative path (urljoin drops it)
_SLOW_REF_RE = (
    r"^[\x00-\x20]|[\t\r\n]|^[^#]*\?(?:#|\z)|^[^#]*#\z|^[^?#]*;(?:[?#]|\z)"
    r"|^//(?![\x21-\x7e&&[^/?#\[\]]]+(?:[/?#]|\z))"
    r"|^[^?#]*?(?:^|/)\.\.?(?:[/?#]|\z)"
    r"|^[^/?#][^?#]*//"
)


def url_resolve_native(base: Column, target: Column) -> Column:
    """U2 as a native Column expression, equal to ``mk_absolute_str``
    on every input: an absolute ref passes through, a base without a
    scheme returns the ref verbatim, an empty ref returns the base.
    A plain ref on a plain http(s) base — the crawl's common case —
    is one concatenation: scheme + protocol-relative ref, origin +
    rooted ref, base + fragment or query, base directory + relative
    path. Every other ref (dot segments, ``;params`` edge cases, empty
    components, authority-less or non-http bases, odd netlocs) follows
    ``urljoin`` step by step — urlsplit's component grammar and input
    cleaning, ``;params``, the ``uses_relative`` rule, dot-segment
    removal and urlunsplit's re-assembly — with the ref returned
    verbatim where urljoin raises ValueError. Usable inside array
    lambdas (higher-order functions), which keeps per-page URL
    discovery map-side with no Python worker. Equality with
    ``mk_absolute_str`` is property-tested (tests/test_urls.py)."""
    t = target
    origin = F.regexp_extract(base, r"^(https?://[^/?#]*)", 1)
    base_nf = F.substring_index(base, "#", 1)
    base_dir = F.regexp_extract(base, r"^(https?://[^?#]*/)", 1)
    plain = (
        F.when(t.startswith("//"), F.concat(F.substring_index(base, ":", 1), F.lit(":"), t))
        .when(t.startswith("/"), F.concat(origin, t))
        .when(t.startswith("#"), F.concat(base_nf, t))
        .when(t.startswith("?"), F.concat(F.substring_index(base_nf, "?", 1), t))
        .when(base_dir != "", F.concat(base_dir, t))
        .otherwise(F.concat(origin, F.lit("/"), t))
    )
    return (
        F.when(t.isNull(), F.lit(None).cast("string"))
        .when(t.rlike(_SCHEME_RE), t)  # absolute ⇒ passthrough (exact)
        .when(base.isNull() | ~base.rlike(_SCHEME_RE), t)  # unparsable base
        .when(t == "", base)
        .when(base.rlike(_PLAIN_BASE_RE) & ~t.rlike(_SLOW_REF_RE), plain)
        .otherwise(_urljoin(base, t))
    )


def mk_absolute(base: Column | str, path: Column | str) -> Column:
    """U2 as a Column expression: resolve ``path`` against ``base``."""
    b = F.col(base) if isinstance(base, str) else base
    p = F.col(path) if isinstance(path, str) else path
    return url_join(b, p)


def identifier(
    sep: str,
    url: Column | None,
    item_id: Column,
    domain_override: Column | None = None,
    other_id: Column | None = None,
) -> Column:
    """U3 (Utils.hs:49-67): ``coalesce(override, domain(url), 'unkown')
    || sep || coalesce(other, id)``.  The ``unkown`` literal is the
    reference's own misspelling (golden test/.../Utils.hs:137-146).
    """
    dom_parts = []
    if domain_override is not None:
        dom_parts.append(domain_override)
    if url is not None:
        dom_parts.append(url_domain(url))
    dom_parts.append(F.lit("unkown"))
    dom = F.coalesce(*dom_parts)
    the_id = item_id if other_id is None else F.coalesce(other_id, item_id)
    return F.concat(dom, F.lit(sep), the_id)


def fragment_or_url(col: Column | str) -> Column:
    """U4 (ZeitDe.hs:374-379): the last '#'-fragment if any, else the
    whole string."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.contains("#"), F.element_at(F.split(c, "#"), -1)).otherwise(c)


def drop_fragment(col: Column | str) -> Column:
    """U5 (ZeitDe.hs:382-383): takeWhile (/= '#')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring_index(c, "#", 1)


def strip_query(col: Column | str) -> Column:
    """U6 (ZeitDe.hs:165-167): takeWhile (/= '?')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring_index(c, "?", 1)


def hygienic_link(col: Column | str) -> Column:
    """U7 (Generic.hs:45-52): keep a link unless it starts with '#',
    'mailto:' or 'javascript:'."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        ~c.startswith("#") & ~c.startswith("mailto:") & ~c.startswith("javascript:")
    )


def count_of_fans(col: Column | str) -> Column:
    """P9 (ZeitDe.hs:362-367): up-votes = comma count + 1 over the
    raw ``data-fans`` attribute."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(c, ","))


def host_bucket(host: Column | str, n_buckets: int, salt: Column | None = None) -> Column:
    """Salted host-hash bucket for frontier partitioning (north rule:
    'per-host-hash salted partitions ... salted repartitioning to
    defuse hot-host skew'). ``salt`` spreads one hot host over several
    buckets while keeping same-host rows co-bucketed per salt value."""
    h = F.col(host) if isinstance(host, str) else host
    key = h if salt is None else F.concat_ws("\x1f", h, salt.cast("string"))
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
