"""Charset sniffing + transcoding: ``html:binary`` -> UTF-8 ``text``.

The north-star table's pages arrive as raw bytes (BASELINE input_hint:
``html:binary``); real crawl bytes are NOT all UTF-8 (historically ~2%
windows-1252, plus Shift_JIS / GBK / EUC-KR / Big5 tails on CJK hosts).
Before any text extraction or validation can honor the byte-identical-
text-per-url contract, every page must be transcoded to one canonical
encoding. This module implements the WHATWG-style sniffing order and a
two-lane transcoder designed so the hot path (>99% of a modern crawl)
never leaves whole-stage codegen.

Detection precedence (https://html.spec.whatwg.org/#determining-the-character-encoding):

1. **BOM** — UTF-8 (EF BB BF), UTF-16LE (FF FE), UTF-16BE (FE FF); a
   BOM wins over everything, including a contradicting ``<meta>``.
2. **meta prescan** — the first 1024 bytes are scanned (as their
   latin-1 lift, comments stripped) for ``<meta charset=...>`` or
   ``<meta http-equiv="content-type" content="...charset=...">``; the
   label resolves through the WHATWG Encoding-Standard label table
   (``latin1``/``ascii``/``iso-8859-1`` are all windows-1252, etc.).
   Per the spec's "change the encoding" rules a meta-declared
   ``utf-16*`` is treated as UTF-8 (the prescan could only have seen
   it if the bytes were ASCII-compatible) and ``x-user-defined`` as
   windows-1252.
3. **UTF-8 validation** — undeclared bytes that match the RFC 3629
   grammar are UTF-8. The grammar runs as a single regex over the
   latin-1 lift (bytes map 1:1 to U+00-U+FF), entirely JVM-side.
4. **Fallback** — windows-1252, the WHATWG default for the general-
   purpose locales.

Transcoding lanes:

* **Lane A (pure Column, whole-stage codegen)** — UTF-8 and UTF-16
  decode via ``F.decode`` *guarded by well-formedness regexes* (Spark 4
  ANSI ``decode`` throws on malformed input — an unguarded decode is a
  job-killer at 10^12 rows; malformed rows quarantine to NULL text
  instead), and every single-byte charset via ``F.translate`` of the
  128 high bytes over the latin-1 lift — a 256-entry codec IS a
  character map, so windows-1252 / ISO-8859-2 / KOI8-R decode without
  touching Python or allocating anything per-row.
* **Lane B (Arrow UDF)** — multibyte CJK charsets (Shift_JIS, EUC-JP,
  EUC-KR=cp949, GBK, GB18030, Big5) decode in a vectorized pandas UDF
  with ``errors='replace'`` (browser behavior). The lane is entered by
  a FILTER on the detected charset, so only the CJK slice of the corpus
  pays the Python tax; the union back is narrow (no shuffle).

Unknown labels surface as ``charset='unknown'`` with NULL text — the
per-row quarantine contract every decoder in this repo follows (the
reference accumulates per-row errors rather than aborting,
/root/reference/src/schema.js validateIn).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType

# RFC 3629 UTF-8 grammar over the latin-1 lift (one char per byte).
_UTF8_GRAMMAR = (
    "^(?:[\\x00-\\x7F]|[\\xC2-\\xDF][\\x80-\\xBF]"
    "|\\xE0[\\xA0-\\xBF][\\x80-\\xBF]|[\\xE1-\\xEC][\\x80-\\xBF]{2}"
    "|\\xED[\\x80-\\x9F][\\x80-\\xBF]|[\\xEE-\\xEF][\\x80-\\xBF]{2}"
    "|\\xF0[\\x90-\\xBF][\\x80-\\xBF]{2}|[\\xF1-\\xF3][\\x80-\\xBF]{3}"
    "|\\xF4[\\x80-\\x8F][\\x80-\\xBF]{2})*$"
)

# UTF-16 well-formedness: even length, surrogates correctly paired.
# LE: code unit = (lo, hi) byte pairs — a unit whose HIGH byte is in
# D8-DB must be followed by one with high byte DC-DF (and DC-DF must
# not appear alone). BE mirrors with the high byte first.
_UTF16LE_GRAMMAR = (
    "^(?:[\\x00-\\xFF][\\x00-\\xD7\\xE0-\\xFF]"
    "|[\\x00-\\xFF][\\xD8-\\xDB][\\x00-\\xFF][\\xDC-\\xDF])*$"
)
_UTF16BE_GRAMMAR = (
    "^(?:[\\x00-\\xD7\\xE0-\\xFF][\\x00-\\xFF]"
    "|[\\xD8-\\xDB][\\x00-\\xFF][\\xDC-\\xDF][\\x00-\\xFF])*$"
)

_HIGH_BYTES = "".join(chr(b) for b in range(0x80, 0x100))


def _single_byte_table(codec: str) -> str:
    """The 128 high-byte decode targets of an ASCII-compatible single-
    byte codec, as a translate() 'to' string. Bytes the codec leaves
    undefined fall back to their latin-1 identity — exactly the WHATWG
    windows-1252 treatment of 0x81/0x8D/0x8F/0x90/0x9D (C1 controls)."""
    out = []
    for b in range(0x80, 0x100):
        try:
            out.append(bytes([b]).decode(codec))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


#: single-byte charsets decoded in pure Column expressions (lane A)
SINGLE_BYTE = {
    "windows-1252": _single_byte_table("cp1252"),
    "iso-8859-2": _single_byte_table("iso8859-2"),
    "koi8-r": _single_byte_table("koi8-r"),
}

#: multibyte charsets decoded in the Arrow-UDF lane (lane B):
#: canonical name -> Python codec (WHATWG euc-kr IS Windows-949)
MULTIBYTE = {
    "shift_jis": "shift_jis",
    "euc-jp": "euc_jp",
    "euc-kr": "cp949",
    "gbk": "gbk",
    "gb18030": "gb18030",
    "big5": "big5",
}

# WHATWG Encoding-Standard label table (the subset that appears in
# crawls; https://encoding.spec.whatwg.org/#names-and-labels), plus the
# spec's change-the-encoding remaps (utf-16* -> utf-8, x-user-defined
# -> windows-1252) which only apply on the meta path — the only path
# that consults labels here.
LABELS = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "utf-16": "utf-8", "utf-16le": "utf-8", "utf-16be": "utf-8",
    "x-user-defined": "windows-1252",
    "windows-1252": "windows-1252", "cp1252": "windows-1252",
    "x-cp1252": "windows-1252", "iso-8859-1": "windows-1252",
    "iso8859-1": "windows-1252", "iso_8859-1": "windows-1252",
    "latin1": "windows-1252", "l1": "windows-1252",
    "ascii": "windows-1252", "us-ascii": "windows-1252",
    "cp819": "windows-1252", "ibm819": "windows-1252",
    "iso-8859-2": "iso-8859-2", "iso8859-2": "iso-8859-2",
    "latin2": "iso-8859-2", "l2": "iso-8859-2",
    "csisolatin2": "iso-8859-2",
    "koi8-r": "koi8-r", "koi8": "koi8-r", "koi": "koi8-r",
    "cskoi8r": "koi8-r", "koi8_r": "koi8-r",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis",
    "sjis": "shift_jis", "x-sjis": "shift_jis",
    "ms_kanji": "shift_jis", "csshiftjis": "shift_jis",
    "windows-31j": "shift_jis", "ms932": "shift_jis",
    "euc-jp": "euc-jp", "x-euc-jp": "euc-jp",
    "cseucpkdfmtjapanese": "euc-jp",
    "euc-kr": "euc-kr", "korean": "euc-kr", "ksc_5601": "euc-kr",
    "ks_c_5601-1987": "euc-kr", "ks_c_5601-1989": "euc-kr",
    "csksc56011987": "euc-kr", "iso-ir-149": "euc-kr",
    "windows-949": "euc-kr",
    "gbk": "gbk", "gb2312": "gbk", "gb_2312": "gbk",
    "gb_2312-80": "gbk", "chinese": "gbk", "csgb2312": "gbk",
    "csiso58gb231280": "gbk", "iso-ir-58": "gbk", "x-gbk": "gbk",
    "gb18030": "gb18030",
    "big5": "big5", "big5-hkscs": "big5", "cn-big5": "big5",
    "csbig5": "big5", "x-x-big5": "big5",
}

#: transport-layer (HTTP Content-Type) label resolution: same table,
#: EXCEPT the utf-16->utf-8 and x-user-defined remaps, which are
#: meta-path "change the encoding" rules only — a transport-declared
#: utf-16 means real UTF-16 bytes (Encoding Standard: the "utf-16"
#: label is utf-16le), and transport x-user-defined is ignored
TRANSPORT_LABELS = {
    **{k: v for k, v in LABELS.items() if k != "x-user-defined"},
    "utf-16": "utf-16le", "utf-16le": "utf-16le", "utf-16be": "utf-16be",
}

#: how many leading bytes the meta prescan examines (WHATWG: 1024)
PRESCAN_BYTES = 1024

_META_RE = r'<meta[^>]*charset\s*=\s*["\']?\s*([a-z0-9._:+-]+)'


def _detect_parts(b: Column, declared: Column | None) -> dict:
    """The four raw detection signals as Columns: BOM hex prefixes,
    resolved transport label, resolved meta label, and the full-page
    UTF-8-grammar verdict (the expensive one — a regex over every
    byte). Split out so :func:`transcode` can materialize them ONCE per
    row behind a barrier before composing charset/source."""
    p3 = F.hex(F.substring(b, 1, 3))
    p2 = F.hex(F.substring(b, 1, 2))
    head = F.lower(F.decode(F.substring(b, 1, PRESCAN_BYTES), "ISO-8859-1"))
    # comments stripped first: a commented-out meta must not win
    head = F.regexp_replace(head, r"(?s)<!--.*?-->", " ")
    label = F.regexp_extract(head, _META_RE, 1)
    canon = F.try_element_at(
        F.create_map(*[F.lit(x) for kv in LABELS.items() for x in kv]), label
    )
    meta = F.when(label == "", F.lit(None)).otherwise(
        F.coalesce(canon, F.lit("unknown"))
    )
    transport = (
        F.lit(None).cast("string")
        if declared is None
        else F.try_element_at(
            F.create_map(
                *[F.lit(x) for kv in TRANSPORT_LABELS.items() for x in kv]
            ),
            F.lower(F.trim(declared)),
        )
    )
    utf8_valid = F.decode(b, "ISO-8859-1").rlike(_UTF8_GRAMMAR)
    return {"p3": p3, "p2": p2, "transport": transport, "meta": meta,
            "utf8_valid": utf8_valid}


def _compose_charset_source(
    p3: Column, p2: Column, transport: Column, meta: Column,
    utf8_valid: Column,
) -> tuple[Column, Column]:
    """(charset, source) from the raw detection signals — cheap CASE
    chains, shared by :func:`detect_charset` and :func:`transcode`."""
    charset = (
        F.when(p3 == "EFBBBF", F.lit("utf-8"))
        .when(p2 == "FFFE", F.lit("utf-16le"))
        .when(p2 == "FEFF", F.lit("utf-16be"))
        .when(transport.isNotNull(), transport)
        .when(meta.isNotNull(), meta)
        .when(utf8_valid, F.lit("utf-8"))
        .otherwise(F.lit("windows-1252"))
    )
    source = (
        F.when((p3 == "EFBBBF") | (p2 == "FFFE") | (p2 == "FEFF"), F.lit("bom"))
        .when(transport.isNotNull(), F.lit("transport"))
        .when(meta.isNotNull(), F.lit("meta"))
        .when(utf8_valid, F.lit("utf8"))
        .otherwise(F.lit("fallback"))
    )
    return charset, source


def detect_charset(
    b: Column, declared: Column | None = None
) -> tuple[Column, Column]:
    """(charset, source) for a binary page column, pure Column exprs.

    ``declared`` is an optional transport-layer charset label (the
    ``charset=`` parameter of an HTTP ``Content-Type`` header — WARC
    ingestion surfaces it); per the WHATWG order it ranks between the
    BOM and the meta prescan. An unrecognized transport label is
    IGNORED and detection continues (browser behavior), unlike an
    unrecognized meta label which quarantines — the transport layer is
    routinely wrong on real crawls, the in-document declaration is the
    page author's own claim.

    ``source`` is one of ``bom`` / ``transport`` / ``meta`` / ``utf8``
    (undeclared but grammar-valid) / ``fallback`` (undeclared, not
    UTF-8 -> windows-1252). Unknown meta labels yield
    ``('unknown', 'meta')``.
    """
    d = _detect_parts(b, declared)
    return _compose_charset_source(
        d["p3"], d["p2"], d["transport"], d["meta"], d["utf8_valid"]
    )


def _decode_multibyte_udf():
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    codecs = dict(MULTIBYTE)

    def decode_mb(payload, charset):
        out = []
        for raw, cs in zip(payload, charset):
            codec = codecs.get(cs)
            if raw is None or codec is None:
                out.append(None)
            else:
                # errors='replace' is browser behavior: malformed CJK
                # sequences become U+FFFD, the row survives
                out.append(bytes(raw).decode(codec, errors="replace"))
        return pd.Series(out)

    # real (non-string) hints: `from __future__ import annotations`
    # would stringify inline ones and break inference (CLAUDE.md #5)
    decode_mb.__annotations__ = {
        "payload": pd.Series, "charset": pd.Series, "return": pd.Series
    }
    return pandas_udf(StringType())(decode_mb)


def content_type_charset(ct: Column) -> Column:
    """The charset label of an HTTP ``Content-Type`` value (NULL when
    absent) — feed as ``declared_col`` when ingesting from WARC."""
    lbl = F.regexp_extract(
        F.lower(ct), r"charset\s*=\s*[\"']?\s*([a-z0-9._:+-]+)", 1
    )
    return F.when(lbl == "", F.lit(None)).otherwise(lbl)


def transcode(
    df: DataFrame,
    binary_col: str = "html",
    id_col: str = "doc_id",
    declared_col: str | None = None,
) -> DataFrame:
    """Sniff + decode every page to UTF-8: the input columns plus
    ``charset`` / ``source`` / ``text`` (replacing any existing columns
    of those names; ``id_col`` is part of the output via passthrough and
    kept as a parameter for call-site clarity).

    Lane A (UTF-8/UTF-16/single-byte: pure Column, codegen) handles the
    overwhelming share of a modern crawl; lane B (multibyte CJK) is a
    filtered Arrow-UDF pass over only its own rows; the union is narrow.
    Rows whose bytes are malformed for their detected charset, and rows
    with unrecognized labels, quarantine to NULL text with the charset/
    source columns still populated (per-row error accumulation, matching
    the reference's Validation semantics).
    """
    b = F.col(binary_col)
    # trap 1 (CLAUDE.md): plain withColumns let CollapseProject
    # re-inline the whole detection tree — including the FULL-PAGE
    # UTF-8-grammar rlike and the meta prescan regex — into every
    # downstream reference (the r9 before-plan of text_consistency
    # carried 12 instantiations of the grammar tree). Materialize the four RAW
    # detection signals once per row behind a Generate barrier — the
    # charset/source CASE chains each referenced utf8_valid/meta
    # separately, so barriering only their composed outputs still
    # evaluated the page-length regex twice — then compose
    # charset/source from the barriered fields (cheap CASEs). The
    # replace-existing-columns contract is preserved by dropping first.
    from schema_fantasy_spark.ops import _assert_staging_free, _barrier

    _assert_staging_free(df, "_cs_raw")
    d = _detect_parts(b, F.col(declared_col) if declared_col else None)
    staged = df.drop(*[c for c in ("charset", "source") if c in df.columns])
    staged = _barrier(
        staged,
        F.struct(*[d[k].alias(k) for k in
                   ("p3", "p2", "transport", "meta", "utf8_valid")]),
        "_cs_raw",
    )
    charset, source = _compose_charset_source(
        *[F.col(f"_cs_raw.{k}") for k in
          ("p3", "p2", "transport", "meta", "utf8_valid")]
    )
    base = staged.select(
        "*",
        charset.alias("charset"),
        source.alias("source"),
    ).drop("_cs_raw")

    raw = F.col(binary_col)
    cs = F.col("charset")
    # BOM strip: 3 bytes for UTF-8, 2 for UTF-16 (only on the bom path)
    body = (
        F.when(
            (F.col("source") == "bom") & (cs == "utf-8"),
            F.substring(raw, 4, F.lit(1 << 30)),
        )
        .when(
            (F.col("source") == "bom") & cs.startswith("utf-16"),
            F.substring(raw, 3, F.lit(1 << 30)),
        )
        .otherwise(raw)
    )
    lift = F.decode(body, "ISO-8859-1")

    text = F.when(
        cs == "utf-8",
        F.when(lift.rlike(_UTF8_GRAMMAR), F.decode(body, "UTF-8")),
    )
    for name, grammar, jcs in (
        ("utf-16le", _UTF16LE_GRAMMAR, "UTF-16LE"),
        ("utf-16be", _UTF16BE_GRAMMAR, "UTF-16BE"),
    ):
        text = text.when(
            cs == name, F.when(lift.rlike(grammar), F.decode(body, jcs))
        )
    for name, table in SINGLE_BYTE.items():
        text = text.when(cs == name, F.translate(lift, _HIGH_BYTES, table))

    lane_a = base.filter(~cs.isin(*MULTIBYTE)).withColumn("text", text)
    lane_b = base.filter(cs.isin(*MULTIBYTE)).withColumn(
        "text", _decode_multibyte_udf()(raw, F.col("charset"))
    )
    return lane_a.unionByName(lane_b)
