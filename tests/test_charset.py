"""Charset sniffing + transcoding (ops/charset.py): WHATWG detection
precedence, the pure-Column decode lanes, the Arrow-UDF CJK lane, and
the per-row quarantine contract."""

import pytest

from schema_fantasy_spark.ops import charset as cs
from schema_fantasy_spark.ops import charset_corpus as mc
from schema_fantasy_spark.ops.charset import transcode


def _run(spark, cases):
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(cases)],
        "doc_id: long, html: binary",
    )
    return {
        r["doc_id"]: (r["charset"], r["source"], r["text"])
        for r in transcode(df).collect()
    }


def test_single_byte_tables_match_python_codecs():
    """The translate tables agree with Python's codecs on every defined
    byte; cp1252's five undefined bytes take their latin-1 (C1 control)
    identity — the WHATWG windows-1252 treatment."""
    for name, codec in (("windows-1252", "cp1252"),
                        ("iso-8859-2", "iso8859-2"),
                        ("koi8-r", "koi8-r")):
        table = cs.SINGLE_BYTE[name]
        assert len(table) == 128
        for b in range(0x80, 0x100):
            try:
                want = bytes([b]).decode(codec)
            except UnicodeDecodeError:
                want = chr(b)
            assert table[b - 0x80] == want, (name, hex(b))
    # and the whole WHATWG label table resolves to an implemented charset
    for label, canon in cs.LABELS.items():
        assert (canon in cs.SINGLE_BYTE or canon in cs.MULTIBYTE
                or canon in ("utf-8",)), label


def test_detection_precedence_and_decode(spark):
    cases = [
        'plain ascii'.encode(),                                        # 0
        b'\xef\xbb\xbf' + 'bom café 中'.encode(),             # 1
        b'\xff\xfe' + '16le 中\U0001f600'.encode('utf-16-le'),     # 2
        b'\xfe\xff' + '16be é'.encode('utf-16-be'),               # 3
        '<meta charset="windows-1252">café €'.encode('cp1252'),  # 4
        ('<meta http-equiv="Content-Type" content="text/html; '
         'charset=latin1">é'.encode('cp1252')),                   # 5
        '<meta charset=koi8-r>Жя'.encode('koi8-r'),          # 6
        '<meta charset="Shift_JIS">あ中'.encode('shift_jis'),  # 7
        '<meta charset=gb2312>中文'.encode('gbk'),             # 8
        '<meta charset="utf-16">treated as utf8 é'.encode(),      # 9
        b'undeclared caf\xe9 falls back',                               # 10
        '<meta charset="x-fantasy">?'.encode(),                        # 11
        # BOM beats a contradicting meta
        b'\xef\xbb\xbf' + '<meta charset="koi8-r">é'.encode(),    # 12
        # commented-out meta is ignored
        '<!-- <meta charset="koi8-r"> -->plain é'.encode(),       # 13
    ]
    got = _run(spark, cases)
    assert got[0] == ("utf-8", "utf8", "plain ascii")
    assert got[1] == ("utf-8", "bom", "bom café 中")
    assert got[2] == ("utf-16le", "bom", "16le 中\U0001f600")
    assert got[3] == ("utf-16be", "bom", "16be é")
    assert got[4][0:2] == ("windows-1252", "meta")
    assert got[4][2].endswith("café €")
    assert got[5][0:2] == ("windows-1252", "meta") and got[5][2].endswith("é")
    assert got[6][0:2] == ("koi8-r", "meta") and got[6][2].endswith("Жя")
    assert got[7][0:2] == ("shift_jis", "meta")
    assert got[7][2].endswith("あ中")
    assert got[8][0:2] == ("gbk", "meta") and got[8][2].endswith("中文")
    assert got[9][0:2] == ("utf-8", "meta")
    assert got[10] == ("windows-1252", "fallback", "undeclared café falls back")
    assert got[11] == ("unknown", "meta", None)
    assert got[12][0:2] == ("utf-8", "bom") and got[12][2].endswith("é")
    assert got[13][0:2] == ("utf-8", "utf8")


def test_malformed_quarantines_per_row(spark):
    """Malformed bytes for the detected charset yield NULL text with the
    detection columns still populated — never a thrown job (Spark 4 ANSI
    decode throws; the guards are load-bearing)."""
    cases = [
        b'\xef\xbb\xbf' + b'bom but \xff\xfe\xfd bad utf8',       # 0
        '<meta charset="utf-8">'.encode() + b'declared \xff bad',  # 1
        b'\xff\xfe' + b'odd-length utf16 \x00!',                   # 2
        # unpaired high surrogate (D800 with no low surrogate)
        b'\xff\xfe' + b'a\x00\x00\xd8b\x00',                       # 3
        # CJK lane: malformed shift_jis survives via U+FFFD (browser
        # errors='replace'), NOT quarantine
        '<meta charset=shift_jis>ok '.encode() + b'\x81\x39 end',  # 4
    ]
    got = _run(spark, cases)
    assert got[0] == ("utf-8", "bom", None)
    assert got[1] == ("utf-8", "meta", None)
    assert got[2] == ("utf-16le", "bom", None)
    assert got[3] == ("utf-16le", "bom", None)
    assert got[4][0] == "shift_jis" and "�" in got[4][2]


def test_prescan_window(spark):
    """The meta prescan examines only the first 1024 bytes (WHATWG): a
    later meta is invisible and detection falls through to the grammar."""
    late = b" " * 1100 + '<meta charset="koi8-r">text'.encode()
    early = b"<html>" + b" " * 900 + '<meta charset="koi8-r">'.encode() + b"x"
    got = _run(spark, [late, early])
    assert got[0][0:2] == ("utf-8", "utf8")
    assert got[1][0:2] == ("koi8-r", "meta")


def test_gate_families_round_trip(spark):
    """Every gate family (charset_corpus.CHARSET_FAMILIES) round-trips: the
    generator's encode and the operator's sniff+decode agree on charset,
    source, and the exact special chars."""
    rows = []
    for fam, (label, _bom, _codec, special, want_cs, want_src) in enumerate(
        mc.CHARSET_FAMILIES
    ):
        meta = f'<meta charset="{label}">' if label else ""
        page = f"<html><head>{meta}</head><body>w1 {special} t2</body></html>"
        rows.append((fam, bytearray(mc.encode_charset_page(fam, page))))
    df = spark.createDataFrame(rows, "doc_id: long, html: binary")
    got = {r["doc_id"]: r for r in transcode(df).collect()}
    for fam, (label, _bom, _codec, special, want_cs, want_src) in enumerate(
        mc.CHARSET_FAMILIES
    ):
        r = got[fam]
        assert (r["charset"], r["source"]) == (want_cs, want_src), fam
        assert f"w1 {special} t2" in r["text"], fam


def test_lane_split_plan(spark):
    """Exactly one Python eval node in the transcode plan (the CJK lane)
    and it sits behind the multibyte filter — the UTF/single-byte lane
    stays whole-stage codegen."""
    df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id: long, html: binary")
    plan = transcode(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") == 1
    # codegen renders as "*(n)" stage prefixes in executedPlan toString
    assert "*(" in plan


def test_transport_layer_precedence(spark):
    """The HTTP Content-Type charset ranks between BOM and meta; unknown
    transport labels are ignored (detection continues); a transport
    utf-16 label means REAL utf-16 (the utf-16->utf-8 remap is a
    meta-path change-the-encoding rule only)."""
    from pyspark.sql import functions as F

    from schema_fantasy_spark.ops.charset import content_type_charset

    cases = [
        # (payload, content_type)
        ('<meta charset="koi8-r">transport wins é'.encode("cp1252"),
         "text/html; charset=windows-1252"),                            # 0
        (b"\xef\xbb\xbf" + "bom beats transport".encode(),
         "text/html; charset=koi8-r"),                                  # 1
        ('<meta charset="koi8-r">Жя'.encode("koi8-r"),
         "text/html; charset=x-nonsense"),                              # 2
        ("16le real 中".encode("utf-16-le"),
         'text/html; charset="utf-16le"'),                              # 3
        ("plain no charset param".encode(), "text/html"),               # 4
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b), ct) for i, (b, ct) in enumerate(cases)],
        "doc_id: long, html: binary, content_type: string",
    )
    got = {
        r["doc_id"]: (r["charset"], r["source"], r["text"])
        for r in transcode(
            df.withColumn("_d", content_type_charset(F.col("content_type"))),
            declared_col="_d",
        ).collect()
    }
    assert got[0][0:2] == ("windows-1252", "transport")
    assert got[0][2].endswith("é")
    assert got[1] == ("utf-8", "bom", "bom beats transport")
    assert got[2][0:2] == ("koi8-r", "meta") and got[2][2].endswith("Жя")
    assert got[3] == ("utf-16le", "transport", "16le real 中")
    assert got[4][0:2] == ("utf-8", "utf8")


def test_transcode_passes_input_columns_through(spark):
    """transcode carries every input column (the WARC ingestion path
    keeps url/warc_ts/html alongside the decoded text, no join)."""
    df = spark.createDataFrame(
        [("u1", 7, bytearray("hi é".encode()))],
        "url: string, n: long, html: binary",
    )
    r = transcode(df, id_col="url").collect()[0]
    assert (r["url"], r["n"], r["text"]) == ("u1", 7, "hi é")


def test_transcode_rejects_staging_name_collision(spark):
    """An input frame that already carries the internal ``_cs_raw``
    staging column fails up front with an error naming it, instead of an
    ambiguous reference deep in the detection plan."""
    df = spark.createDataFrame(
        [(1, bytearray(b"hi"), "mine")],
        "doc_id: long, html: binary, _cs_raw: string",
    )
    with pytest.raises(ValueError, match="_cs_raw"):
        transcode(df)
