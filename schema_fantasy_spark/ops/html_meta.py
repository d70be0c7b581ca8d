"""HTML metadata + outlink extraction — the structured side of the crawl
page: ``<title>``, ``<meta name=...>`` / Open Graph ``<meta property=...>``
descriptions, the ``<link rel=canonical>`` target, and the outlink set
(href + anchor text).

Like ops/html.extract_text this is pure Column work — regexp extraction
chains inside whole-stage codegen, no Python, no shuffle: at 10^12 pages
metadata extraction is scan-bandwidth work.

Scope (the crawl-pipeline subset, NOT a browser-grade HTML5 parser; every
step is deliberate and documented):

* attribute values must be quoted (double or single — both handled);
  unquoted attribute values are out of scope;
* ``name``/``property`` and ``content`` may appear in either order
  inside the ``<meta>`` tag;
* the FIRST match wins for title / meta / canonical (the browser rule);
* anchor text is the tag-stripped, entity-decoded, whitespace-collapsed
  inner HTML of the ``<a>`` element (same pipeline as extract_text);
* href resolution covers absolute http(s) URLs, protocol-relative
  ``//host/path``, and root-relative ``/path`` against the page's base;
  path-relative hrefs, fragments and non-fetchable schemes
  (``mailto:``, ``javascript:``, ...) resolve to NULL and are dropped
  from the resolved outlink set (the crawl-frontier convention).

Reference parity note: the reference validates documents it is handed
(index.js entry points); producing the document columns from raw HTML is
this engine's ingestion edge, same seam as ops/html.extract_text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from schema_fantasy_spark.ops.html import decode_entities

#: one attribute value, either quote style, as alternation groups 1|2
_Q = "(?:\"([^\"]*)\"|'([^']*)')"
#: tag-interior token that cannot terminate the tag early
_IN = "(?:[^>\"']|\"[^\"]*\"|'[^']*')"


def _first2(s: Column, pattern: str) -> Column:
    """First match of a pattern whose value sits in alternation group 1
    (double-quoted) or 2 (single-quoted); NULL when the pattern does not
    match. Spark's regexp_extract returns '' both for no-match and for a
    matched-but-empty group, so matching is detected separately."""
    hit = F.regexp_like(s, F.lit(pattern))
    g1 = F.regexp_extract(s, pattern, 1)
    g2 = F.regexp_extract(s, pattern, 2)
    return F.when(hit, F.when(g1 != "", g1).otherwise(g2))


def _clean_fragment(s: Column) -> Column:
    """Inner-HTML fragment -> text: strip tags, decode entities, collapse
    whitespace (the extract_text pipeline, minus script/style/head
    removal which cannot occur inside these fragments)."""
    s = F.regexp_replace(s, r"(?s)<(?:[^>\"']|\"[^\"]*\"|'[^']*')*>", " ")
    return F.trim(F.regexp_replace(decode_entities(s), r"\s+", " "))


def html_title(html: Column) -> Column:
    """Decoded, whitespace-collapsed text of the first ``<title>``
    element; NULL when the document has none."""
    pat = r"(?is)<title\b[^>]*>(.*?)</title\s*>"
    return F.when(
        F.regexp_like(html, F.lit(pat)),
        _clean_fragment(F.regexp_extract(html, pat, 1)),
    )


def html_meta_content(html: Column, key: str, attr: str = "name") -> Column:
    """``content`` of the first ``<meta {attr}="{key}" ...>`` tag, both
    attribute orders and quote styles; entity-decoded; NULL if absent.
    Use attr="property" for Open Graph keys (og:title etc.)."""
    key_re = key.replace(".", r"\.").replace(":", ":")
    fwd = (
        rf"(?is)<meta\b{_IN}*?\b{attr}\s*=\s*[\"']{key_re}[\"']"
        rf"{_IN}*?\bcontent\s*=\s*{_Q}"
    )
    rev = (
        rf"(?is)<meta\b{_IN}*?\bcontent\s*=\s*{_Q}"
        rf"{_IN}*?\b{attr}\s*=\s*[\"']{key_re}[\"']"
    )
    return decode_entities(F.coalesce(_first2(html, fwd), _first2(html, rev)))


def html_canonical(html: Column) -> Column:
    """``href`` of the first ``<link rel="canonical">``, both attribute
    orders and quote styles; NULL if absent. The value is a URL: entity
    decoding applies (``&amp;`` in query strings) but no text cleanup."""
    fwd = (
        rf"(?is)<link\b{_IN}*?\brel\s*=\s*[\"']canonical[\"']"
        rf"{_IN}*?\bhref\s*=\s*{_Q}"
    )
    rev = (
        rf"(?is)<link\b{_IN}*?\bhref\s*=\s*{_Q}"
        rf"{_IN}*?\brel\s*=\s*[\"']canonical[\"']"
    )
    return decode_entities(F.coalesce(_first2(html, fwd), _first2(html, rev)))


#: a whole <a ...>inner</a> element (quote-aware tag interior, lazy inner)
_A_ELEM = rf"(?is)<a\b{_IN}*>.*?</a\s*>"


def html_outlinks(html: Column) -> Column:
    """All ``<a href=...>`` outlinks of a page, in document order, as
    ``array<struct<href:string, anchor:string, nofollow:boolean>>`` —
    href entity-decoded verbatim (no resolution), anchor run through the
    text pipeline, nofollow true when the link's ``rel`` attribute
    carries the token (link graphs exclude nofollow edges — the
    rel-ownership signal crawlers have honored since 2005). ``<a>``
    elements without an href are skipped."""
    elems = F.regexp_extract_all(html, F.lit(_A_ELEM), F.lit(0))
    href_pat = rf"(?is)<a\b{_IN}*?\bhref\s*=\s*{_Q}"
    rel_pat = rf"(?is)<a\b{_IN}*?\brel\s*=\s*{_Q}"

    def _link(e: Column) -> Column:
        href = decode_entities(_first2(e, href_pat))
        anchor = _clean_fragment(
            F.regexp_extract(e, r"(?is)<a\b(?:[^>\"']|\"[^\"]*\"|'[^']*')*>(.*?)</a\s*>", 1)
        )
        rel = F.coalesce(_first2(e, rel_pat), F.lit(""))
        nofollow = F.arrays_overlap(
            F.split(F.lower(rel), r"\s+"), F.array(F.lit("nofollow"))
        )
        return F.struct(
            href.alias("href"), anchor.alias("anchor"), nofollow.alias("nofollow")
        )

    return F.filter(F.transform(elems, _link), lambda l: l["href"].isNotNull())


#: a whole <script ...>...</script> element whose type attribute is
#: application/ld+json (quote-aware interior so type= inside another
#: attribute's value cannot spoof it)
_JSONLD_ELEM = (
    rf"(?is)<script\b{_IN}*?\btype\s*=\s*[\"']application/ld\+json[\"']"
    rf"{_IN}*>(.*?)</script\s*>"
)


def jsonld_blocks(html: Column) -> Column:
    """All ``<script type="application/ld+json">`` bodies of a page, in
    document order, trimmed — ``array<string>`` of raw JSON texts ready
    for the dynamic validation kernel (script content is raw character
    data: no entity decoding, per the HTML script-element rules). Other
    script elements (javascript, modules) are never matched. Trim is a
    regexp (\\s), NOT F.trim — Spark's trim strips only 0x20 spaces and
    JSON-LD blocks routinely start with a newline."""
    return F.transform(
        F.regexp_extract_all(html, F.lit(_JSONLD_ELEM), F.lit(1)),
        lambda b: F.regexp_replace(b, r"^\s+|\s+$", ""),
    )


def resolve_href(href: Column, base_scheme: Column, base_host: Column) -> Column:
    """Resolve an href against the page's base: absolute http(s) pass
    through; ``//host/path`` gains the base scheme; ``/path`` gains
    scheme://host; everything else (path-relative, fragment-only,
    mailto:/javascript:/other schemes) is NULL — out of the crawl
    frontier by convention."""
    return (
        F.when(F.regexp_like(href, F.lit(r"(?i)^https?://")), href)
        .when(
            href.startswith("//"),
            F.concat(base_scheme, F.lit(":"), href),
        )
        .when(
            href.startswith("/"),
            F.concat(base_scheme, F.lit("://"), base_host, href),
        )
    )


def with_html_metadata(
    df: DataFrame,
    html_col: str = "html",
    base_scheme_col: str | None = None,
    base_host_col: str | None = None,
) -> DataFrame:
    """Append title / description / og_title / canonical / outlinks (and,
    when a base is given, resolved_outlinks with NULL-scheme hrefs
    dropped) to a page DataFrame. html may be binary or string."""
    h = F.col(html_col).cast("string")
    out = (
        df.withColumn("title", html_title(h))
        .withColumn("description", html_meta_content(h, "description"))
        .withColumn("og_title", html_meta_content(h, "og:title", attr="property"))
        .withColumn("canonical", html_canonical(h))
        .withColumn("outlinks", html_outlinks(h))
    )
    if base_scheme_col and base_host_col:
        out = out.withColumn(
            "resolved_outlinks",
            F.filter(
                F.transform(
                    F.col("outlinks"),
                    lambda l: F.struct(
                        resolve_href(
                            l["href"],
                            F.col(base_scheme_col),
                            F.col(base_host_col),
                        ).alias("href"),
                        l["anchor"].alias("anchor"),
                        l["nofollow"].alias("nofollow"),
                    ),
                ),
                lambda l: l["href"].isNotNull(),
            ),
        )
    return out
