"""Seeded input generators and their closed-form expectations.

Every generator is a pure function of ``(n, seed)`` built from JVM-side
column expressions over ``spark.range``, so the same seed gives the same
rows at any parallelism. Invalid rows sit at known modular id positions;
the ``expected_*`` functions derive every count the correctness gate
checks from those positions, without running the engine.

* pages           -- the typed pages table (``sources.pages``), ~0.5% invalid
* json documents  -- nested JSON strings, exactly one third invalid
* snapshot pair   -- (base, next) pages snapshots with orphans and drift
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, functions as F

from schema_fantasy_spark.sources import pages as src_pages

# ------------------------------------------------------------------ pages

#: (keyword, path) of the one error each injected pages violation raises
PAGES_ERROR_KINDS = {
    "bad_url": ("pattern", "url"),
    "empty_text": ("minLength", "text"),
    "null_text": ("required", ""),
    "future_ts": ("maximum", "warc_ts"),
    "bad_lang": ("enum", "lang"),
}


#: files per generated table; a scan packs them into about one task per
#: slot. One task per file ran slower: each task of the dynamic kernel
#: pays a fixed start-up cost (3 -> 24 files took a pass from 2.2 s to 4.7 s)
N_FILES = 16


def pages(spark: SparkSession, n_rows: int, seed: int, n_days: int) -> DataFrame:
    return src_pages.pages(spark, n_rows, seed=seed, n_days=n_days, partitions=N_FILES)


def expected_pages(n_rows: int) -> dict:
    """Violation ids per (keyword, path), plus the row/invalid/error totals
    one validation pass over ``pages(n_rows)`` must report."""
    ids = src_pages.expected_violation_ids(n_rows)
    by_kind = {PAGES_ERROR_KINDS[k]: sorted(ids[k]) for k in PAGES_ERROR_KINDS}
    n_invalid = sum(len(v) for v in by_kind.values())  # residues are disjoint
    return {
        "by_kind": by_kind,
        "n_rows": n_rows,
        "n_invalid": n_invalid,
        "n_errors": n_invalid,  # one error per injected row
        "n_null_lang": len(ids["null_lang"]),
        "n_dup_url": len(ids["dup_url"]),
    }


# --------------------------------------------------------- json documents

#: residue of id % DOC_MOD -> the keywords of the flattened error rows the
#: injection raises (compound errors list their depth-1 children too)
DOC_MOD = 30
DOC_INJECTIONS = {
    1: ["allOf", "pattern"],                  # url "ftp://..."
    4: ["anyOf", "maximum", "type"],          # meta.score 1.5
    7: ["uniqueItems"],                       # tags ["dup", "dup"]
    10: ["pattern"],                          # tags[1] "Bad Tag"
    13: ["items"],                            # loc has a 4th item
    16: ["maximum"],                          # loc[0] latitude 123.5
    19: ["required", "additionalProperties"],  # links[0] lacks href, has x
    22: ["oneOf", "minLength", "type"],       # body ""
    25: ["not"],                              # status "deleted"
    28: ["type", "additionalProperties"],     # x-n: 5, junk: 1
}

DOCS_SCHEMA = {
    "definitions": {
        "tag": {"type": "string", "pattern": "^[a-z][a-z0-9-]*$"},
        "link": {
            "type": "object",
            "required": ["href"],
            "properties": {
                "href": {"type": "string", "pattern": "^https?://"},
                "rel": {"enum": ["next", "prev", "canonical"]},
            },
            "additionalProperties": False,
        },
        "meta": {
            "type": "object",
            "required": ["lang"],
            "properties": {
                "lang": {"enum": src_pages.LANGS},
                "words": {"type": "integer", "minimum": 0},
                "score": {"anyOf": [
                    {"type": "number", "minimum": 0, "maximum": 1},
                    {"type": "null"},
                ]},
            },
        },
    },
    "type": "object",
    "required": ["id", "kind", "url", "meta"],
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "kind": {"enum": ["page", "feed"]},
        "url": {"allOf": [{"type": "string"}, {"pattern": "^https://"}]},
        "meta": {"$ref": "#/definitions/meta"},
        "tags": {"type": "array", "items": {"$ref": "#/definitions/tag"}, "uniqueItems": True},
        "loc": {
            "type": "array",
            "items": [
                {"type": "number", "minimum": -90, "maximum": 90},
                {"type": "number", "minimum": -180, "maximum": 180},
                {"type": "string"},
            ],
            "additionalItems": False,
        },
        "links": {"type": "array", "items": {"$ref": "#/definitions/link"}},
        "body": {"oneOf": [
            {"type": "string", "minLength": 1},
            {"type": "object", "required": ["parts"]},
        ]},
        "status": {"not": {"enum": ["deleted"]}},
    },
    "patternProperties": {"^x-": {"type": "string"}},
    "additionalProperties": False,
}


def _h(salt: int, mod: int):
    """Deterministic small int in [0, mod) from the row id."""
    return F.pmod(F.xxhash64(F.col("id"), F.lit(salt)), F.lit(mod))


def _s(col):
    return col.cast("string")


def json_docs(spark: SparkSession, n_docs: int, seed: int) -> DataFrame:
    """``(id, doc)`` with ``doc`` a JSON object string; injections at
    ``id % DOC_MOD`` in ``DOC_INJECTIONS``."""
    r = F.col("id") % DOC_MOD

    def inj(residue: int, bad, good):
        return F.when(r == residue, F.lit(bad)).otherwise(good)

    host = _s(_h(seed, 500))
    url = F.concat(
        F.lit("https://h"), host, F.lit(".example.com/"),
        F.substring(F.md5(F.concat(F.lit(f"d{seed}:"), _s(F.col("id")))), 1, 16),
    )
    url = F.when(r == 1, F.concat(F.lit("ftp://h"), host, F.lit(".example.com/"))).otherwise(url)
    lang = F.element_at(F.array(*[F.lit(x) for x in src_pages.LANGS]),
                        (_h(seed + 1, len(src_pages.LANGS)) + 1).cast("int"))
    score = F.when(_h(seed + 2, 7) == 0, F.lit("null")).otherwise(
        F.format_string("%.2f", _h(seed + 3, 101) / 100.0))
    score = inj(4, "1.5", score)
    a = _h(seed + 4, 50)
    b = a + 1 + _h(seed + 5, 40)
    tags = F.concat(F.lit('"t'), _s(a), F.lit('","t'), _s(b), F.lit('"'))
    tags = inj(7, '"dup","dup"', inj(10, '"ok","Bad Tag"', tags))
    lat = F.format_string("%.2f", _h(seed + 6, 17001) / 100.0 - 85.0)
    lat = inj(16, "123.5", lat)
    lon = F.format_string("%.2f", _h(seed + 7, 35001) / 100.0 - 175.0)
    loc = F.concat(lat, F.lit(","), lon, F.lit(',"c'), _s(_h(seed + 8, 1000)), F.lit('"'))
    loc = F.when(r == 13, F.concat(loc, F.lit(',"extra"'))).otherwise(loc)
    link = F.concat(F.lit('{"href":"https://h'), host, F.lit('.example.com/n","rel":"next"}'))
    link = inj(19, '{"rel":"next","x":1}', link)
    body = F.when(F.col("id") % 2 == 0, F.lit('"some body text"')).otherwise(
        F.lit('{"parts":["a","b"]}'))
    body = inj(22, '""', body)
    status = inj(25, ',"status":"deleted"',
                 F.when(F.col("id") % 3 == 0, F.lit(',"status":"live"')).otherwise(F.lit("")))
    extra = inj(28, ',"junk":1,"x-n":5', F.lit(""))
    kind = F.when(_h(seed + 9, 2) == 0, F.lit("page")).otherwise(F.lit("feed"))
    doc = F.concat(
        F.lit('{"id":'), _s(F.col("id")),
        F.lit(',"kind":"'), kind,
        F.lit('","url":"'), url,
        F.lit('","meta":{"lang":"'), lang,
        F.lit('","words":'), _s(_h(seed + 10, 5000)),
        F.lit(',"score":'), score,
        F.lit('},"tags":['), tags,
        F.lit('],"loc":['), loc,
        F.lit('],"links":['), link,
        F.lit('],"body":'), body,
        status,
        F.lit(',"x-src":"crawl"'), extra,
        F.lit("}"),
    )
    return spark.range(0, n_docs, 1, N_FILES).select("id", doc.alias("doc"))


def expected_docs(n_docs: int) -> dict:
    """Invalid-document count and error rows per keyword for ``n_docs``."""
    per_residue = [(n_docs - res + DOC_MOD - 1) // DOC_MOD for res in range(DOC_MOD)]
    keywords: Counter = Counter()
    n_invalid = 0
    for res, kws in DOC_INJECTIONS.items():
        n_invalid += per_residue[res]
        for kw in kws:
            keywords[kw] += per_residue[res]
    return {
        "n_rows": n_docs,
        "n_invalid": n_invalid,
        "n_errors": sum(keywords.values()),
        "keywords": dict(keywords),
    }


# ---------------------------------------------------------- snapshot pair

SNAPSHOT_DROP_MOD = 211


def snapshot_pair(spark: SparkSession, n_rows: int, seed: int, n_days: int):
    """``(base, next)``: next drops ids % 211 == 0, appends n_rows // 20 new
    urls and shifts the lang distribution (``sources.pages.snapshot_pair``)."""
    if n_rows % 1000:
        raise ValueError("n_rows must be a multiple of 1000 (keeps the formulas exact)")
    return src_pages.snapshot_pair(
        spark, n_rows, seed=seed, drop_mod=SNAPSHOT_DROP_MOD, n_days=n_days,
        partitions=N_FILES,
    )


def expected_snapshot(n_rows: int, n_days: int) -> dict:
    """Totals of a full validation of ``next`` and the table-check counts
    the suite must report, from the id positions alone."""
    n_new = n_rows // 20
    next_ids = [i for i in range(n_rows + n_new) if i % SNAPSHOT_DROP_MOD != 0 or i >= n_rows]
    present = set(next_ids)
    m = 1000
    marks = {
        "bad_url": src_pages.BAD_URL_MARK,
        "empty_text": src_pages.EMPTY_TEXT_MARK,
        "null_text": src_pages.NULL_TEXT_MARK,
        "future_ts": src_pages.FUTURE_TS_MARK,
    }
    counts = {k: sum(1 for i in next_ids if i % m == mark) for k, mark in marks.items()}
    null_lang = sum(1 for i in next_ids if i % src_pages.NULL_LANG_MOD == src_pages.NULL_LANG_MARK)
    bad_lang = sum(
        1 for i in next_ids
        if i % m == src_pages.BAD_LANG_MARK
        and i % src_pages.NULL_LANG_MOD != src_pages.NULL_LANG_MARK
    )
    n_invalid = sum(counts.values()) + bad_lang
    # a duplicate url only counts when the row it copies survived the drop
    n_dup = sum(1 for i in next_ids if i % m == src_pages.DUP_URL_MARK and i > 0 and (i - 1) in present)
    return {
        "n_rows": len(next_ids),
        "n_invalid": n_invalid,
        "n_errors": n_invalid,
        "n_partitions": n_days + 1,  # the crawl days plus the injected future day
        "n_future_ts": counts["future_ts"],
        "n_null_lang": null_lang,
        "n_duplicates": n_dup,
        "n_orphans": n_new,  # appended urls are absent from base
        # check name -> expected pass flag, in suite registration order
        "checks": {
            "schema": True,
            "null_rate(lang)": True,
            "bounds(warc_ts)": False,
            "unique(url)": False,
            "referential(url)": False,
            "chi_square_drift(lang)": False,
        },
    }
