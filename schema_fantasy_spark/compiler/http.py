"""HTTP/file schema acquisition — entry point C parity.

The reference's third entry point fetches a schema by URL, transitively
links every $ref-reachable document, then validates
(reference http.js:48-67, src/linker.js:50-59). Here acquisition is
driver-side and synchronous (the reference's Task chain is lazy async —
the laziness maps to Spark's job scheduling, not to schema fetching):

    engine = engine_from_url("http://host/schema.json")
    engine.apply(df)

Only the driver touches the network, once, at plan time.
"""

from __future__ import annotations

import json
from typing import Any, Dict, Optional, Tuple
from urllib.request import urlopen

from schema_fantasy_spark.compiler import pointer as ptr
from schema_fantasy_spark.compiler.linker import link


def http_fetch(url: str, timeout: float = 10.0):
    """GET + JSON-parse one schema document (reference http.js:21-29)."""
    with urlopen(url, timeout=timeout) as resp:
        return json.loads(resp.read().decode("utf-8"))


def file_fetch(url: str):
    path = url[len("file://"):] if url.startswith("file://") else url
    with open(path) as f:
        return json.load(f)


def default_fetch(url: str):
    if url.startswith(("http://", "https://")):
        return http_fetch(url)
    return file_fetch(url)


def load_schema(
    url: str,
    fetch=None,
    cache: Optional[Dict[str, Any]] = None,
) -> Tuple[Any, Dict[str, Any]]:
    """Fetch ``url`` and its transitive $ref closure (cycle-safe dedup,
    reference src/linker.js:96-103). Returns (schema, refs_table) ready
    for ValidationEngine(schema, refs=refs). A root without an ``id``
    gets ``url`` as its ``id``, so its relative $refs resolve against
    the URL it was fetched from, as ``link`` resolved them."""
    refs, root = link(fetch or default_fetch, url, cache=cache)
    if isinstance(root, dict) and not isinstance(root.get("id"), str):
        root = {"id": ptr.normalize_url(url), **root}
    return root, refs


def engine_from_url(url: str, mode: str = "columnar", fetch=None, cache=None):
    """One-call parity with the reference's http.validate: fetch, link,
    compile (reference http.js:48-51)."""
    from schema_fantasy_spark.engine import ValidationEngine

    schema, refs = load_schema(url, fetch=fetch, cache=cache)
    return ValidationEngine(schema, refs=refs, mode=mode)
