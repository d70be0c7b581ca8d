"""HTML -> text extraction in pure Column expressions — the step that
produces the north-star table's ``text`` column from its ``html`` one
(BASELINE input_hint: pages arrive as ``html:binary`` and the per-row
invariant is byte-identical extracted text per url).

Runs entirely in whole-stage codegen (regexp chains + one split/
transform fold for numeric entities): no Python, no shuffle — at
10^12 documents extraction is scan-bandwidth work, exactly like the
validation kernels.

Extraction contract (the standard crawl-pipeline cleaning subset, NOT
a browser-grade HTML5 parser — scope documented per step):

1. ``<script>``/``<style>`` elements removed wholesale (non-greedy,
   case-insensitive, dotall — a ``</p>`` inside script text does not
   terminate it), then the whole ``<head>`` element (title/meta are
   metadata, not page text; script/style removal runs FIRST so a
   script containing a literal ``</head>`` cannot truncate it);
2. comments ``<!-- ... -->`` removed;
3. tags stripped, honoring quoted attribute values (``<div
   data-x="a>b">`` is one tag);
4. entities decoded in ONE left-to-right pass (split on ``&``; a
   decode's output is never rescanned, matching the single-pass
   semantics of the WHATWG algorithm and Python's ``html.unescape``):

   * the FULL WHATWG named-character-reference table (2,231 names,
     generated from the public spec table by tools/gen_html_entities.py
     into ops/html_entities.py) — both the ``&eacute;`` spellings and
     the ~106 legacy bare spellings (``&eacute``, ``&amp``) with the
     spec's longest-prefix matching (``&notit;`` -> ``¬it;``,
     ``&copy=2`` -> ``©=2``, exactly as ``html.unescape``). Lookups
     are single ``instr`` probes into a packed literal string — no
     2k-entry map literal, no Python;
   * numeric character references, decimal and hex, for EVERY valid
     Unicode scalar value 1..0x10FFFF — BMP code points via a two-byte
     UTF-16BE decode built in-expression, supplementary-plane ones via
     an in-expression surrogate pair (``&#128512;`` -> 😀). Leading
     zeros are accepted to any length (``&#0000097;`` -> ``a``,
     ``&#x0000041;`` -> ``A``): the patterns strip ``0*`` before
     capping significant digits at 9 decimal / 6 hex, which covers
     every valid scalar — a reference whose significant digits exceed
     the cap is out of range and passes through unchanged like any
     other invalid reference.

   ``&amp;lt;`` therefore yields the literal ``&lt;``. Documented
   divergences from ``html.unescape`` (asserted in tests): numeric
   references REQUIRE the terminating ``;`` and invalid ones (``&#0;``,
   surrogates, > 0x10FFFF, malformed) pass through unchanged rather
   than becoming U+FFFD / windows-1252 remaps, and entity-produced
   U+00A0 (``&nbsp;`` and friends) becomes a PLAIN SPACE — the
   crawl-pipeline convention, so it participates in whitespace
   collapse;
5. whitespace runs collapse to a single space, trimmed.

CDATA sections and conditional comments are out of scope (each passes
through recognizably rather than being silently mangled)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from schema_fantasy_spark.ops import html_entities as _ENT

#: tag token: honors double- and single-quoted attribute values
_TAG = r"(?s)<(?:[^>\"']|\"[^\"]*\"|'[^']*')*>"

def _BIG() -> Column:  # F.lit needs a live SparkContext — keep it lazy
    return F.lit(1 << 30)


def _codepoint_char(dv: Column) -> Column:
    """The character for a scalar code point, built in-expression: the
    UTF-16BE byte string of the code point (one unit for the BMP, a
    surrogate pair above it) decoded back to a string — no Python, no
    dictionary, full Unicode range."""
    cpp = dv - 0x10000  # supplementary-plane offset
    hi = F.lit(0xD800) + F.floor(cpp / 1024).cast("int")
    lo = F.lit(0xDC00) + F.pmod(cpp, F.lit(1024))
    units = F.when(
        dv < 0x10000, F.lpad(F.hex(dv), 4, "0")
    ).otherwise(F.concat(F.lpad(F.hex(hi), 4, "0"), F.lpad(F.hex(lo), 4, "0")))
    return F.decode(F.unhex(units), "UTF-16BE")


def _tbl_lookup(table: str, key: Column) -> Column:
    """Exact-match lookup of ``key`` in a packed ``\\x01key\\x02value``
    literal table (ops/html_entities.py): ONE intrinsified ``instr``
    scan, NULL on miss. The ``\\x01`` anchor makes false positives
    impossible (every record holds exactly one ``\\x02`` between
    anchors) and the common-first packing means frequent entities
    (&amp; &nbsp; &lt; ...) resolve within the first few hundred
    bytes. A Catalyst map literal would be a linear scan of 2k boxed
    entries per probe AND a giant expression tree; this is one
    SIMD-vectorized indexOf."""
    pos = F.nullif(
        F.instr(F.lit(table), F.concat(F.lit("\x01"), key, F.lit("\x02"))),
        F.lit(0),
    )
    return F.substring_index(
        F.substr(F.lit(table), pos + F.length(key) + 2, _BIG()), "\x01", 1
    )


def _shard_lookup(span: Column) -> Column:
    """Bucket-sharded exact-match lookup: O(1) ``get`` into the
    101-shard array (first-two-chars bucket), then one ``instr`` scan
    of ≤1.2 KB — bounding the MISS cost URL query params would pay
    against the whole packed table."""
    tbl = F.get(
        F.lit(_ENT.SHARDS),
        F.pmod(
            F.ascii(span) * _ENT.SHARD_MUL
            + F.ascii(F.substring(span, 2, 1)),
            F.lit(_ENT.N_SHARDS),
        ).cast("int"),
    )
    pos = F.nullif(
        F.instr(tbl, F.concat(F.lit("\x01"), span, F.lit("\x02"))), F.lit(0)
    )
    return F.substring_index(
        F.substr(tbl, pos + F.length(span) + 2, _BIG()), "\x01", 1
    )


def _decode_token(x: Column) -> Column:
    """Decode one post-``&`` token (a struct of precomputed fields —
    HOF lambdas get no common-subexpression elimination, so the regex
    extractions and the table probe are materialized ONCE per token in
    :func:`_decode_entities_columns` and referenced here as struct
    field accesses). Mirrors the SQL function body exactly."""
    t, span, vf, m, dv, nn = (
        x["t"], x["span"], x["vf"], x["m"], x["dv"], x["nn"]
    )
    # numeric reference: &#NNN; / &#xHH; (semicolon required; invalid
    # scalars pass through recognizably — module contract)
    bad = (
        dv.isNull()
        | (dv < 1)
        | (dv > 0x10FFFF)
        | ((dv >= 0xD800) & (dv <= 0xDFFF))
    )
    numeric = F.when(bad, F.concat(F.lit("&"), t)).otherwise(
        F.concat(_codepoint_char(dv), F.substr(t, nn, _BIG()))
    )
    # named: exact span first ('&eacute;', and bare legacy '&eacute'
    # when the span IS the whole name — the full table contains the
    # legacy keys), else the longest-prefix candidate m (a legacy name
    # by regex construction, so its probe always hits)
    named = (
        F.when(vf.isNotNull(),
               F.concat(vf, F.substr(t, F.length(span) + 1, _BIG())))
        .when(m != "",
              F.concat(_tbl_lookup(_ENT.LEGACY, m),
                       F.substr(t, F.length(m) + 1, _BIG())))
        .otherwise(F.concat(F.lit("&"), t))
    )
    return F.when(F.substring(t, 1, 1) == "#", numeric).otherwise(named)


def _sql_lit(s: str) -> str:
    """Spark-SQL single-quoted string literal: backslash escapes for
    quote/backslash, ``\\uXXXX`` for control characters (the packed
    tables' record anchors), raw text otherwise."""
    out = []
    for ch in s:
        o = ord(ch)
        if ch == "\\":
            out.append("\\\\")
        elif ch == "'":
            out.append("\\'")
        elif o < 32 or o == 127:
            out.append(f"\\u{o:04X}")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


_FN = "sfs_decode_entities"

#: numeric-reference captures, shared by the SQL body and the Column
#: twin. ``0*`` strips leading zeros so the significant-digit caps
#: (9 decimal / 6 hex — every valid scalar fits) don't reject padded
#: but valid references like ``&#0000097;``; the captured group keeps
#: the zeros so consumed-length arithmetic stays ``length(m) + 3/4``.
_DEC_RE = r"^#(0*[0-9]{1,9});"
_HEX_RE = r"^#[xX](0*[0-9A-Fa-f]{1,6});"


def _decode_body_sql(var: str = "s") -> str:
    """The decoder as a SQL expression string over ``var`` — identical
    semantics to :func:`_decode_entities_columns`; wrapped into a
    TEMPORARY FUNCTION by :func:`_ensure_decode_fn`, once per session.

    Why SQL and not Column building: every pyspark ``F.*`` call is a
    py4j round trip, and the decoder tree is ~1,000 nodes — building
    it cost ~1.1 s of DRIVER time per call site (html_meta alone calls
    it five times; measured +5-12 s per gated query in round 7's first
    bench). The SQL body parses JVM-side in milliseconds, the analyzer
    inlines it, and the physical plan is the same expression tree.

    Lookup shape inside: the name table is bucket-sharded 101 ways on
    the first two chars (O(1) ``element_at`` dispatch + an ``instr``
    scan of ≤1.2 KB — bounding the MISS cost that URL query params
    like ``&b=2`` would otherwise pay against the whole 25 KB table),
    and legacy longest-prefix matching is ONE alternation regex
    (longest name first = first-match-wins) instead of unrolled
    per-length probes."""
    big = 1 << 30
    tbl = (
        f"element_at(array({','.join(_sql_lit(x) for x in _ENT.SHARDS)}), "
        f"pmod(ascii(x.span) * {_ENT.SHARD_MUL} + "
        f"ascii(substr(x.span, 2, 1)), {_ENT.N_SHARDS}) + 1)"
    )
    leg = _sql_lit(_ENT.LEGACY)

    def probe(table: str, key: str) -> str:
        return (
            f"substring_index(substr({table}, "
            f"nullif(instr({table}, concat('\\u0001', {key}, '\\u0002')), 0)"
            f" + length({key}) + 2, {big}), '\\u0001', 1)"
        )

    span_re = _sql_lit(r"^([a-zA-Z][a-zA-Z0-9]{0,31};?)")
    dec_re = _sql_lit(_DEC_RE)
    hex_re = _sql_lit(_HEX_RE)
    codepoint = (
        "decode(unhex(CASE WHEN x.dv < 65536 THEN lpad(hex(x.dv), 4, '0') "
        "ELSE concat("
        "lpad(hex(55296 + cast(floor((x.dv - 65536) / 1024) AS int)), 4, '0'), "
        "lpad(hex(56320 + pmod(x.dv - 65536, 1024)), 4, '0')) END), 'UTF-16BE')"
    )
    return f"""
array_join(transform(
  transform(
    transform(
      transform(split({var}, '&', -1),
        t -> struct(t AS t, regexp_extract(t, {span_re}, 1) AS span)),
      x -> struct(x.t AS t, x.span AS span,
        CASE WHEN length(x.span) >= {_ENT.MIN_LEGACY}
             THEN {probe(tbl, 'x.span')} END AS vf,
        CASE WHEN substr(x.t, 1, 1) = '#'
             THEN regexp_extract(x.t, {dec_re}, 1) ELSE '' END AS dec,
        CASE WHEN substr(x.t, 1, 1) = '#'
             THEN regexp_extract(x.t, {hex_re}, 1) ELSE '' END AS hexd)),
    x -> struct(x.t AS t, x.span AS span, x.vf AS vf,
      CASE WHEN x.vf IS NULL AND substr(x.t, 1, 1) != '#'
           THEN regexp_extract(x.span, {_sql_lit(_ENT.LEGACY_RE)}, 1)
           ELSE '' END AS m,
      CASE WHEN x.dec != '' THEN cast(x.dec AS int)
           WHEN x.hexd != '' THEN cast(conv(x.hexd, 16, 10) AS int)
           END AS dv,
      CASE WHEN x.dec != '' THEN length(x.dec) + 3
           ELSE length(x.hexd) + 4 END AS nn)),
  (x, i) -> CASE
    WHEN i = 0 THEN x.t
    WHEN substr(x.t, 1, 1) = '#' THEN
      CASE WHEN x.dv IS NULL OR x.dv < 1 OR x.dv > 1114111
                OR (x.dv >= 55296 AND x.dv <= 57343)
           THEN concat('&', x.t)
           ELSE concat({codepoint}, substr(x.t, x.nn, {big})) END
    WHEN x.vf IS NOT NULL
         THEN concat(x.vf, substr(x.t, length(x.span) + 1, {big}))
    WHEN x.m != ''
         THEN concat({probe(leg, 'x.m')}, substr(x.t, length(x.m) + 1, {big}))
    ELSE concat('&', x.t) END), '')
"""


def _ensure_decode_fn(spark) -> None:
    """Register the SQL decoder once per session."""
    if not spark.catalog.functionExists(_FN):
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {_FN}(s STRING) "
            f"RETURNS STRING RETURN {_decode_body_sql('s')}"
        )


def _contains_lambda_var(col: Column) -> bool:
    """True when the expression references a higher-order-function
    lambda variable — SQL-function INLINING cannot scope those (the
    analyzer lifts the argument into a standalone Project and the
    reference dangles), so such call sites take the Column twin."""
    try:
        # Spark 4 classic Columns carry a ColumnNode; its toString
        # renders the whole tree, so containment is an exact test
        return "UnresolvedNamedLambdaVariable" in str(col._jc.node())
    except Exception:
        return True  # unknown shape: the Column twin is always safe


def decode_entities(s: Column) -> Column:
    """Entity decoding shared by text extraction and metadata
    extraction: ONE left-to-right pass over the string — split on
    ``&``, decode each token's head (numeric reference, full WHATWG
    named table, or legacy longest-prefix), restore ``&`` on misses.
    Because tokens are decoded independently and joined, a decode's
    output is never rescanned: ``&amp;lt;`` -> ``&lt;`` and
    ``&#38;#97;`` -> ``&#97;``, exactly like ``html.unescape``'s
    single pass. See the module contract for the three documented
    divergences from ``html.unescape``.

    Dispatch: with an active session and a lambda-free argument this
    resolves to the per-session SQL function (see :func:`_decode_body_sql`
    for why — ~1 s of driver-side py4j construction per Column-built
    call site); inside HOF lambdas (where SQL-function inlining cannot
    reach) and without a session it builds the semantics-identical
    Column twin (differentially tested against the SQL path AND
    html.unescape over the full table)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None and not _contains_lambda_var(s):
        _ensure_decode_fn(spark)
        return F.call_function(_FN, s)
    return _decode_entities_columns(s)


def _decode_entities_columns(s: Column) -> Column:
    """Pure-Column decoder (the SQL function's reference twin) — three
    struct stages so every field is evaluated once per token (trap:
    HOF lambdas get no CSE), then the shared token decode."""
    parts = F.split(s, "&", -1)
    is_num = lambda t: F.substring(t, 1, 1) == "#"  # noqa: E731
    s1 = F.transform(
        parts,
        lambda t: F.struct(
            t.alias("t"),
            F.regexp_extract(t, r"^([a-zA-Z][a-zA-Z0-9]{0,31};?)", 1).alias("span"),
        ),
    )
    s2 = F.transform(
        s1,
        lambda x: F.struct(
            x["t"].alias("t"),
            x["span"].alias("span"),
            F.when(
                F.length(x["span"]) >= _ENT.MIN_LEGACY, _shard_lookup(x["span"])
            ).alias("vf"),
            F.when(
                is_num(x["t"]),
                F.regexp_extract(x["t"], _DEC_RE, 1),
            ).otherwise(F.lit("")).alias("dec"),
            F.when(
                is_num(x["t"]),
                F.regexp_extract(x["t"], _HEX_RE, 1),
            ).otherwise(F.lit("")).alias("hexd"),
        ),
    )
    s3 = F.transform(
        s2,
        lambda x: F.struct(
            x["t"].alias("t"),
            x["span"].alias("span"),
            x["vf"].alias("vf"),
            F.when(
                x["vf"].isNull() & ~is_num(x["t"]),
                F.regexp_extract(x["span"], _ENT.LEGACY_RE, 1),
            ).otherwise(F.lit("")).alias("m"),
            F.when(x["dec"] != "", x["dec"].cast("int"))
            .otherwise(
                F.when(x["hexd"] != "", F.conv(x["hexd"], 16, 10).cast("int"))
            ).alias("dv"),
            F.when(x["dec"] != "", F.length(x["dec"]) + 3)
            .otherwise(F.length(x["hexd"]) + 4).alias("nn"),
        ),
    )
    out = F.transform(
        s3,
        lambda x, i: F.when(i == F.lit(0), x["t"]).otherwise(_decode_token(x)),
    )
    return F.array_join(out, "")


def extract_text(html: Column) -> Column:
    """Extracted text of an HTML document column (see module contract)."""
    s = F.regexp_replace(html, r"(?is)<script\b.*?</script\s*>", " ")
    s = F.regexp_replace(s, r"(?is)<style\b.*?</style\s*>", " ")
    s = F.regexp_replace(s, r"(?is)<head\b.*?</head\s*>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, _TAG, " ")
    s = decode_entities(s)
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def with_extracted_text(
    df: DataFrame, html_col: str = "html", out_col: str = "text"
) -> DataFrame:
    """Append the extracted-text column (html may be binary or string)."""
    col = F.col(html_col)
    return df.withColumn(out_col, extract_text(col.cast("string")))
