"""URL canonicalization — the prerequisite for url-keyed uniqueness and
dedup on web corpora (the north rule's key column): two crawls of the
same page must map to ONE key before `uniqueness on url` or exact dedup
mean anything.

Entirely native Column expressions (regex + split/sort/fold HOFs): runs
in whole-stage codegen at scan bandwidth, no Python, no shuffle.

Normalizations applied (the conservative, semantics-preserving set per
RFC 3986 §6, plus query-param sorting which is the standard crawl-dedup
convention):

* trim surrounding whitespace;
* scheme and host lowercase (userinfo is case-SENSITIVE per RFC 3986
  §3.2.1 and is preserved verbatim);
* percent-encoding normalized (§6.2.2.1-2): hex digits uppercased,
  escapes of unreserved characters (ALPHA / DIGIT / ``-._~``) decoded;
* default ports dropped (``:80`` for http, ``:443`` for https);
* fragment stripped (``#...`` never reaches the server);
* dot path segments resolved (``/a/./b/../c`` -> ``/a/c``);
* empty path becomes ``/``;
* query parameters sorted (stable for duplicates), empty ``?`` dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _resolve_dots(path: Column) -> Column:
    """RFC 3986 §5.2.4 remove_dot_segments over a split path: one fold —
    '.' segments drop, '..' pops the previous segment (never above
    root). Leading '' from the split (absolute path) survives as the
    root anchor."""
    segs = F.split(path, "/")
    folded = F.aggregate(
        segs,
        F.expr("array()").cast("array<string>"),
        lambda acc, s: F.when(s == ".", acc)
        .when(
            s == "..",
            # pop unless only the root anchor remains
            F.when(F.size(acc) > 1, F.slice(acc, 1, F.size(acc) - 1)).otherwise(acc),
        )
        .otherwise(F.concat(acc, F.array(s))),
    )
    return F.array_join(folded, "/")


def _pct_normalize(s: Column) -> Column:
    """RFC 3986 §6.2.2.1-2 percent-encoding normalization: uppercase the
    hex digits of every valid escape; fully decode escapes of unreserved
    characters (ALPHA / DIGIT / ``-._~``). Decoding unreserved bytes can
    never produce a delimiter, so this is safe to apply before the
    authority/path/query split. Malformed escapes (``%`` not followed by
    two hex digits) pass through untouched."""
    parts = F.split(s, "%", -1)

    def _decode_tok(t: Column) -> Column:
        h2 = F.substring(t, 1, 2)
        is_hex = h2.rlike("^[0-9A-Fa-f]{2}$")
        v = F.conv(h2, 16, 10).cast("int")
        unreserved = (
            ((v >= 65) & (v <= 90))        # A-Z
            | ((v >= 97) & (v <= 122))     # a-z
            | ((v >= 48) & (v <= 57))      # 0-9
            | v.isin(45, 46, 95, 126)      # - . _ ~
        )
        tail = F.substring(t, 3, F.lit(1 << 30))
        return (
            F.when(~is_hex, F.concat(F.lit("%"), t))
            .when(unreserved, F.concat(F.char(v), tail))
            .otherwise(F.concat(F.lit("%"), F.upper(h2), tail))
        )

    # two-parameter transform lambda == (element, index): the text before
    # the first '%' passes through, every later token starts at an escape
    fixed = F.transform(
        parts, lambda t, i: F.when(i == F.lit(0), t).otherwise(_decode_tok(t))
    )
    return F.array_join(fixed, "")


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL (see module doc).
    Non-http(s) or unparseable values pass through trimmed — a cleaning
    pipeline must never invent keys for rows it cannot parse."""
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    is_http = scheme.isin("http", "https")
    rest = _pct_normalize(F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", ""))
    # authority = up to first /, ?, or #; remainder keeps its delimiter
    authority = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    tail = F.substring(rest, F.length(authority) + 1, F.lit(1 << 30))
    # only scheme and host are case-insensitive (RFC 3986 §6.2.2.1) —
    # userinfo (through the LAST '@', greedy) is preserved verbatim
    userinfo = F.regexp_extract(authority, r"^(.*@)", 1)
    hostport = F.lower(F.regexp_replace(authority, r"^.*@", ""))
    hostport = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    # strip fragment from the tail, split path vs query
    no_frag = F.regexp_replace(tail, r"#.*$", "")
    path = F.regexp_extract(no_frag, r"^([^?]*)", 1)
    query = F.regexp_extract(no_frag, r"^[^?]*\?(.*)$", 1)
    path = F.when(path == "", F.lit("/")).otherwise(_resolve_dots(path))
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        userinfo,
        hostport,
        path,
        F.when(sorted_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), sorted_q)),
    )
    return F.when(is_http, canon).otherwise(u)


def with_canonical_url(
    df: DataFrame, url_col: str = "url", out_col: str = "url_canonical"
) -> DataFrame:
    """Append the canonical-url column (the dedup/uniqueness key)."""
    return df.withColumn(out_col, canonicalize_url(F.col(url_col)))
