"""Transitive $ref linker + plan-time ref resolution.

Behavioral model (driver-side re-expression, not a port):

* ``refs_in``      — recursive $ref extraction with bases resolved against
                     the document's top-level ``id`` only (reference
                     src/linker.js:119-132, including the noted limitation).
* ``link``         — transitive closure acquisition with dedup of
                     already-cached URLs, which is also what breaks fetch
                     cycles (reference src/linker.js:96-103). The reference
                     chains async Tasks; here acquisition is a driver-side
                     BFS over a caller-supplied ``fetch`` callable.
* ``resolve_ref``  — follow a chain of ``{"$ref": ...}`` nodes: local
                     pointers within the current document, remote documents
                     via the refs table, unknown resource -> raise, cycle ->
                     raise (reference src/context.js:16-37).
"""

from __future__ import annotations

from typing import Any, Callable, Dict, List, Optional, Tuple

from schema_fantasy_spark.compiler import pointer as ptr


class LinkerError(Exception):
    pass


class UnknownResourceError(LinkerError):
    """$ref points at a resource not present in the refs table
    (reference src/context.js:33 throws 'Unknown schema resource')."""


class CyclicRefError(LinkerError):
    """A $ref chain resolves back to itself without consuming any value
    depth (reference src/context.js:24-26; tested in test-smoke.js:194-226)."""


def _base_uri(doc: Any, fallback: str = "") -> str:
    if isinstance(doc, dict) and isinstance(doc.get("id"), str):
        return ptr.normalize_url(doc["id"])
    return fallback


def refs_in(doc: Any, base: Optional[str] = None) -> List[str]:
    """All remote resource URLs referenced (transitively within this doc),
    resolved against the top-level ``id`` (or ``base``), deduped, order of
    first appearance. Fragment-only refs (local pointers) are excluded.
    """
    top = _base_uri(doc, base or "")
    out: List[str] = []
    seen = set()

    def walk(node: Any) -> None:
        if isinstance(node, dict):
            r = node.get("$ref")
            if isinstance(r, str):
                url, _frag = ptr.split_ref(ptr.resolve_url(top, r))
                if url and url != top and url not in seen:
                    seen.add(url)
                    out.append(url)
            for v in node.values():
                walk(v)
        elif isinstance(node, list):
            for v in node:
                walk(v)

    walk(doc)
    return out


def link(fetch: Callable[[str], Any], url: str) -> Tuple[Dict[str, Any], Any]:
    """Fetch ``url`` and the transitive closure of its $ref-reachable
    documents. A URL already fetched is not fetched again — this dedup is
    what terminates cyclic reference graphs. Returns (refs_table, root_doc).
    """
    refs: Dict[str, Any] = {}
    root_url = ptr.normalize_url(url)
    queue = [root_url]
    root_doc = None
    while queue:
        u = queue.pop(0)
        if u in refs:
            doc = refs[u]
        else:
            doc = fetch(u)
            refs[u] = doc
        if root_doc is None and u == root_url:
            root_doc = doc
        for dep in refs_in(doc, u):
            if dep not in refs and dep not in queue:
                queue.append(dep)
    return refs, root_doc


def resolve_ref(
    refs: Dict[str, Any],
    base: str,
    doc: Any,
    node: Any,
) -> Tuple[str, Any, Any]:
    """Follow a chain of {"$ref": ...} nodes starting at ``node`` (which
    lives inside document ``doc`` whose resource URL is ``base``).

    Returns (base', doc', node') where node' is not a $ref dict.
    Raises UnknownResourceError / CyclicRefError per reference semantics.
    """
    seen = set()
    while isinstance(node, dict) and isinstance(node.get("$ref"), str):
        ref = node["$ref"]
        absolute = ptr.resolve_url(_base_uri(doc, base), ref)
        url, frag = ptr.split_ref(absolute)
        key = (url or base, frag)
        if key in seen:
            raise CyclicRefError(f"cyclic $ref chain at {absolute!r}")
        seen.add(key)
        if url and url != base:
            norm = ptr.normalize_url(url)
            if norm not in refs:
                raise UnknownResourceError(f"unknown schema resource: {norm!r}")
            doc, base = refs[norm], norm
        node = ptr.walk_pointer(doc, frag)
    return base, doc, node
