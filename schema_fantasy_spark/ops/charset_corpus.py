"""Deterministic charset-gate page corpus for ``ops/charset.py``.

Each doc's page family is a nibble of ``md5(str(doc_id))``, which the
DuckDB oracle recomputes as ``md5(CAST(doc_id AS VARCHAR))``, so the
expected (charset, source) labels and the non-ASCII specials replay in
pure SQL (``text_consistency_documents``).
"""

from __future__ import annotations

import hashlib


def _nibbles(doc_id: int) -> list:
    """32 md5 nibbles of str(doc_id) — nibble i (0-based) mirrors the SQL
    ``strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),
    i+1, 1)) - 1``."""
    return [int(c, 16) for c in hashlib.md5(str(doc_id).encode()).hexdigest()]


#: charset-gate page families (ops/charset.py under the oracle gate), one
#: per ``md5(doc_id)`` nibble-1 % 14: (meta_label, bom, python_codec,
#: special_chars, expected_charset, expected_source). ``special`` is the
#: non-ASCII payload appended to the page body — the chars that prove the
#: transcode actually ran (ASCII bytes are identical across every family's
#: charset, so without them a wrong decode would be invisible).
CHARSET_FAMILIES = [
    (None, None, "utf-8", "é", "utf-8", "utf8"),
    (None, "utf-8", "utf-8", "中\U0001f600", "utf-8", "bom"),
    (None, "utf-16le", "utf-16-le", "中é\U0001f600", "utf-16le", "bom"),
    (None, "utf-16be", "utf-16-be", "中é\U0001f600", "utf-16be", "bom"),
    ("windows-1252", None, "cp1252", "é€", "windows-1252", "meta"),
    ("latin1", None, "cp1252", "é", "windows-1252", "meta"),
    ("iso-8859-2", None, "iso8859-2", "őč", "iso-8859-2", "meta"),
    ("koi8-r", None, "koi8-r", "Жя", "koi8-r", "meta"),
    ("shift_jis", None, "shift_jis", "あ中", "shift_jis", "meta"),
    ("euc-kr", None, "cp949", "한글", "euc-kr", "meta"),
    ("gb2312", None, "gbk", "中文", "gbk", "meta"),
    ("big5", None, "big5", "中文", "big5", "meta"),
    # meta-declared utf-16: WHATWG change-the-encoding says treat as
    # UTF-8 (the prescan could only see the label in ASCII-compatible
    # bytes), so the payload IS utf-8
    ("utf-16", None, "utf-8", "é", "utf-8", "meta"),
    # undeclared cp1252: the é€ bytes are invalid UTF-8, so detection
    # must fall through the grammar check to the windows-1252 fallback
    (None, None, "cp1252", "é€", "windows-1252", "fallback"),
]

_CHARSET_BOMS = {"utf-8": b"\xef\xbb\xbf", "utf-16le": b"\xff\xfe",
                 "utf-16be": b"\xfe\xff"}


def charset_fam(doc_id: int) -> int:
    """Family index for a doc: nibble 1 of md5(doc_id), mod 14."""
    return _nibbles(doc_id)[0] % len(CHARSET_FAMILIES)


def encode_charset_page(fam: int, page: str) -> bytes:
    """Encode a full page string per its family: BOM prefix for the BOM
    families, the family codec for the bytes (the meta tag itself must
    already be in ``page`` — the query builds the markup)."""
    label, bom, codec, _special, _cs, _src = CHARSET_FAMILIES[fam]
    return (_CHARSET_BOMS[bom] if bom else b"") + page.encode(codec)
