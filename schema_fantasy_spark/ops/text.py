"""Marker-word language ID for the WARC -> text path — native Column
expressions (split, array_intersect); no Python in the data path."""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import Column, DataFrame, functions as F

from schema_fantasy_spark.ops import _assert_staging_free, _barrier

# compact marker sets per language (function words; heuristic, documented)
LANG_MARKERS: Dict[str, List[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "es", "en", "un", "por", "con"],
    "ru": ["и", "в", "не", "на", "что", "это", "с", "как", "по", "но"],
    "zh": ["的", "是", "在", "了", "我", "有", "和", "不", "这", "人"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokens, lowercased, empty-safe."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Marker-word language ID: per language, count distinct marker hits in
    the token set; argmax (ties resolved by language-code order). Rows with
    zero hits get 'und'. Pure Column algebra: one filter/size per language
    over the shared token array (subexpression-eliminated by Catalyst)."""
    # trap 1: every score appears in greatest() AND in the argmax
    # when-chain — without barriers each reference re-instantiates
    # array_distinct(split(...)) (a dozen tokenization copies in the
    # r9 before-plan). Materialize the distinct-token array once, then
    # the per-language score struct once.
    _assert_staging_free(df, "_li_tk", "_li_sc")
    base = _barrier(
        df, F.array_distinct(tokens_col(F.col(text_col))), "_li_tk"
    )
    toks = F.col("_li_tk")
    codes = sorted(LANG_MARKERS)
    base = _barrier(
        base,
        F.struct(*[
            F.size(
                F.array_intersect(
                    toks,
                    F.array(*[F.lit(m) for m in LANG_MARKERS[code]]),
                )
            ).alias(code)
            for code in codes
        ]),
        "_li_sc",
    )
    scores = [(code, F.col("_li_sc")[code]) for code in codes]
    best = F.greatest(*[s for _, s in scores]) if len(scores) > 1 else scores[0][1]
    # first language (code order) achieving the max, if max > 0
    expr = None
    for code, s in scores:
        cond = s == best
        expr = F.when(cond, code) if expr is None else expr.when(cond, code)
    pred = F.when(best > 0, expr).otherwise(F.lit("und"))
    return base.withColumn(out_col, pred).drop("_li_tk", "_li_sc")
