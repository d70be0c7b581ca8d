"""Helpers for the WARC -> text path that ``jobs/validate_job.py`` runs
before validation: charset decoding (``charset``), HTML extraction and
entity decoding (``html``, ``html_entities``, ``html_meta``), URL
canonicalization (``urls``) and marker-word language ID (``text``). All
hot paths are native Column expressions / higher-order functions; Python
appears only in clearly-marked Arrow-batched UDFs."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Expression-sharing note: Catalyst's CollapseProject inlines a projected
# expression into every downstream use, so N readers evaluate it N times
# (measured on a since-deleted minhash stage: 64 hash lanes each rebuilding
# a shingle array took 230s for 5k docs, ~2s with the barrier). `_barrier`
# materializes an expression as a Generate (explode) output attribute,
# which downstream projections reference instead of re-evaluating.


def _barrier(df: DataFrame, expr: Column, name: str) -> DataFrame:
    """Materialize ``expr`` once per row as column ``name`` via an
    explode(array(...)) Generate barrier (exempt from CollapseProject)."""
    return df.select("*", F.explode(F.array(expr)).alias(name))


def _assert_staging_free(df: DataFrame, *names: str) -> None:
    """Refuse to stage through internal column names the caller's
    DataFrame already carries — silently clobbering (or an ambiguous
    reference deep in a parser pipeline) is strictly worse than an
    upfront error naming the conflict."""
    clash = sorted(set(names) & set(df.columns))
    if clash:
        raise ValueError(
            "input DataFrame already has internal staging column(s) "
            f"{clash}; rename them before calling this parser"
        )
