"""Scale helper: host extraction for per-host verdicts (SURVEY.md §4.3).

Per-host verdicts are ``ValidationEngine.partition_verdicts`` grouped on
``host_of(url)``. No salt: count and sum get a map-side partial
aggregate, so a hot host reaches its reducer as at most one partial row
per map task, and a salt would only add a second exchange
(``tests/test_plan_audit.py::test_per_host_verdicts_one_exchange``).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def host_of(url: Column) -> Column:
    """Host part of a URL (native parse_url — codegen'd)."""
    return F.parse_url(url, F.lit("HOST"))
