"""Deterministic synthetic Common-Crawl-style pages table (FIXTURES.md §1).

Generated ENTIRELY with JVM-side column expressions over ``spark.range`` —
no Python, no ``rand()`` — so the table is byte-identical across runs,
partition counts, and parallelism levels (local[8] vs local[32] scaling
runs read literally the same rows), and generation scales linearly on a
real cluster.

Schema (BASELINE.json input_hint):
    url:string  warc_ts:timestamp  html:binary  text:string  lang:string

Construction rules:
* hosts are power-law skewed (a few hot hosts) to exercise salted
  repartitioning — ``host_id = floor(H * u^4)`` concentrates mass near 0;
* ``text`` is a pure function of ``url`` (sha2 chain), so the
  byte-identical-text-per-url invariant holds BY CONSTRUCTION — including
  for injected duplicate urls;
* violations are injected at known modular id positions so tests can
  compute exact expected violation sets:
    - id % 1000 == 7   -> duplicate url (copies url of id-1)
    - id % 1000 == 13  -> malformed url (fails pattern)
    - id % 1000 == 23  -> empty text (fails minLength)
    - id % 1000 == 29  -> NULL text (fails required)
    - id % 1000 == 31  -> future warc_ts (fails maximum)
    - id % 1000 == 37  -> invalid lang code 'xx' (fails enum)
    - id % 97  == 11   -> NULL lang (passes enum vacuously; feeds the
                          null-rate table check)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

#: modular violation positions (id % 1000)
DUP_URL_MARK = 7
BAD_URL_MARK = 13
EMPTY_TEXT_MARK = 23
NULL_TEXT_MARK = 29
FUTURE_TS_MARK = 31
BAD_LANG_MARK = 37
#: id % 97 for NULL lang
NULL_LANG_MOD, NULL_LANG_MARK = 97, 11

LANGS = ["en", "de", "fr", "es", "zh", "ru"]
#: cumulative weight thresholds out of 100 for lang assignment
LANG_CUM = [45, 60, 72, 84, 94, 100]

#: distinct hosts (H in the construction rules above)
N_HOSTS = 1000

MAX_WARC_TS = "2030-01-01 00:00:00"
FUTURE_TS = "2033-06-01 00:00:00"

#: the flagship JSON-Schema for the pages table (draft-4 keywords; the
#: timestamp maximum is the engine's documented extension)
PAGES_SCHEMA = {
    "type": "object",
    "required": ["url", "warc_ts", "text"],
    "properties": {
        "url": {"type": "string", "pattern": "^https://", "maxLength": 2048},
        "warc_ts": {"maximum": MAX_WARC_TS},
        "text": {"type": "string", "minLength": 1},
        "lang": {"enum": LANGS},
    },
}


def _u01(col, salt: int):
    """Deterministic uniform [0,1) from a long column."""
    return (F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(1_000_000)) / 1_000_000.0)


def pages(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    n_days: int = 30,
    partitions: int | None = None,
    lang_cum=None,
) -> DataFrame:
    """Build the synthetic pages DataFrame. ``lang_cum`` overrides the lang
    distribution (used by snapshot_pair to induce drift)."""
    lang_cum = lang_cum or LANG_CUM
    rng = spark.range(0, n_rows, 1, partitions) if partitions else spark.range(n_rows)
    df = rng.withColumn("_m", F.col("id") % 1000)

    # url: power-law host + unique path; duplicates copy the previous id's url
    url_id = F.when(F.col("_m") == DUP_URL_MARK, F.col("id") - 1).otherwise(F.col("id"))
    host = F.floor(F.lit(N_HOSTS) * F.pow(_u01(url_id, seed), F.lit(4.0)))
    path = F.md5(F.concat(F.lit(f"p{seed}:"), url_id.cast("string")))
    url = F.concat(F.lit("https://host"), host.cast("string"), F.lit(".example.com/"), path)
    url = F.when(
        F.col("_m") == BAD_URL_MARK,
        F.concat(F.lit("notaurl:"), F.col("id").cast("string")),
    ).otherwise(url)
    df = df.withColumn("url", url)

    # warc_ts: spread over n_days; future injections
    day = F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(n_days))
    sec = F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 2)), F.lit(86400))
    ts = F.to_timestamp(F.lit("2026-01-01 00:00:00")) + (
        F.make_dt_interval(day.cast("int"), F.lit(0), F.lit(0), sec.cast("double"))
    )
    ts = F.when(F.col("_m") == FUTURE_TS_MARK, F.to_timestamp(F.lit(FUTURE_TS))).otherwise(ts)
    df = df.withColumn("warc_ts", ts)

    # text: pure function of url (sha2 chain), log-uniform length 32..~4k
    tlen = F.floor(F.pow(F.lit(10.0), F.lit(1.5) + F.lit(2.1) * _u01(F.xxhash64(df.url), seed + 3)))
    seed_hash = F.sha2(df.url, 256)
    body = F.concat(seed_hash, F.sha2(F.concat(seed_hash, F.lit("1")), 256),
                    F.sha2(F.concat(seed_hash, F.lit("2")), 256))
    text = F.substring(
        F.repeat(body, 22), F.lit(1).cast("int"), tlen.cast("int")
    )  # 22*192 > 4000 chars
    text = (
        F.when(F.col("_m") == EMPTY_TEXT_MARK, F.lit(""))
        .when(F.col("_m") == NULL_TEXT_MARK, F.lit(None).cast("string"))
        .otherwise(text)
    )
    df = df.withColumn("text", text)

    # lang: fixed-weight categorical + injected NULLs and invalid codes
    lu = F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 4)), F.lit(100))
    lang = F.lit(None).cast("string")
    expr = None
    for code, cum in zip(LANGS, lang_cum):
        cond = lu < cum
        expr = F.when(cond, code) if expr is None else expr.when(cond, code)
    lang = expr.otherwise(F.lit(LANGS[-1]))
    lang = (
        F.when(F.col("id") % NULL_LANG_MOD == NULL_LANG_MARK, F.lit(None).cast("string"))
        .when(F.col("_m") == BAD_LANG_MARK, F.lit("xx"))
        .otherwise(lang)
    )
    df = df.withColumn("lang", lang)

    # html: opaque binary wrapper (never read unless a check touches it)
    df = df.withColumn(
        "html",
        F.to_binary(
            F.concat(F.lit("<html><body>"), F.coalesce(F.substring(df.text, 1, 64), F.lit("")),
                     F.lit("</body></html>")),
            F.lit("utf-8"),
        ),
    )
    return df.select("id", "url", "warc_ts", "html", "text", "lang")


def snapshot_pair(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    drop_mod: int = 211,
    n_new: int | None = None,
    **kw,
):
    """(base, next) snapshot pair for referential-integrity + drift checks
    (FIXTURES.md §1): ``next`` drops urls where id % drop_mod == 0 (orphans
    relative to base), appends new urls, and shifts the lang distribution.
    """
    base = pages(spark, n_rows, seed=seed, **kw)
    n_new = n_new if n_new is not None else n_rows // 20
    shifted = [55, 68, 78, 88, 96, 100]  # lang drift vs LANG_CUM
    nxt = pages(spark, n_rows + n_new, seed=seed, lang_cum=shifted, **kw).filter(
        (F.col("id") % drop_mod != 0) | (F.col("id") >= n_rows)
    )
    return base, nxt


def expected_violation_ids(n_rows: int) -> dict:
    """Exact injected-violation id sets for assertions (sidecar oracle)."""
    ids = range(n_rows)
    return {
        "dup_url": [i for i in ids if i % 1000 == DUP_URL_MARK and i > 0],
        "bad_url": [i for i in ids if i % 1000 == BAD_URL_MARK],
        "empty_text": [i for i in ids if i % 1000 == EMPTY_TEXT_MARK],
        "null_text": [i for i in ids if i % 1000 == NULL_TEXT_MARK],
        "future_ts": [i for i in ids if i % 1000 == FUTURE_TS_MARK],
        # NULL-lang injection takes precedence over bad-lang (when() order)
        "bad_lang": [
            i for i in ids
            if i % 1000 == BAD_LANG_MARK and i % NULL_LANG_MOD != NULL_LANG_MARK
        ],
        "null_lang": [i for i in ids if i % NULL_LANG_MOD == NULL_LANG_MARK],
    }
