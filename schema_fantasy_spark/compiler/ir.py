"""The keyword IR: a draft-4 schema lowered once into the checks that
every execution mode translates.

This is the only module that reads the draft-4 keywords. ``lower``
resolves each ``$ref`` once (``linker.resolve_ref``; a cycle or unknown
resource raises), checks each keyword's value and returns the root
:class:`Node`. A node holds its checks in schema-key order, the order its
errors accumulate in (reference index.js:56-63); each check is a small
record of normalized arguments and finished wording (messages,
``expected`` strings, regexes compiled for both targets). The backends
translate these records: ``compiler/plan.py`` into the dynamic mode's
Python kernel, ``columnar.py`` and ``variant.py`` into Column expressions.

Nodes are memoized per ``(base, id(schema object))``, so a recursive
schema lowers to a cyclic graph; each backend keeps its own policy for a
cycle (mutually recursive kernel functions, a columnar compile error, a
variant unroll to ``max_depth``). A cycle that checks the same value
again (through allOf, anyOf, oneOf, not or a schema dependency, never
descending into the value) would never end, so ``lower`` raises
CyclicRefError for it, as for a bare ``$ref`` chain. Unknown keywords
and the non-predicates ('default', 'definitions', 'format', 'id', ...)
lower to nothing (reference index.js:73, src/predicate.js:34-59); a
schema that is not an object lowers to :data:`ANY`; ``$ref`` beside
other keywords replaces the whole node by its target (draft-4 ignores
the siblings).

Malformed keyword values raise :class:`SchemaCompileError` here, so every
mode refuses the same schemas. Pinned divergence: a non-boolean
``exclusiveMinimum``/``exclusiveMaximum`` reads as false
(``tests/fixtures/draft4/minimum.json``).
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass, fields
from typing import (Any, Callable, ClassVar, Dict, Iterator, List, NamedTuple, Optional,
                    Tuple, Union)

from schema_fantasy_spark.compiler.linker import CyclicRefError, resolve_ref
from schema_fantasy_spark.compiler.regex_dialect import (
    _JS_SPACE,
    RegexDialectError,
    java_pattern,
    python_pattern,
)
from schema_fantasy_spark.errors import human_list


class SchemaCompileError(Exception):
    pass


#: JS WhiteSpace and LineTerminator runs at either end, which Number() trims
_JS_TRIM = re.compile(rf"\A[{_JS_SPACE}]+|[{_JS_SPACE}]+\Z")
_JS_DECIMAL = re.compile(r"[+-]?(?:Infinity|(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?)")
_JS_RADIX = {"x": (16, re.compile(r"[0-9a-fA-F]+")), "o": (8, re.compile(r"[0-7]+")),
             "b": (2, re.compile(r"[01]+"))}


def js_number(s: str) -> float:
    """JS ``Number(s)`` (ECMA-262 StringToNumber): the value a JSON number
    meets when the reference compares it with a string bound."""
    s = _JS_TRIM.sub("", s)
    if not s:
        return 0.0
    if _JS_DECIMAL.fullmatch(s):
        return float(s.replace("Infinity", "inf"))
    radix = _JS_RADIX.get(s[1:2].lower()) if s[:1] == "0" else None
    if radix and radix[1].fullmatch(s, 2):
        try:
            return float(int(s[2:], radix[0]))
        except OverflowError:
            return math.inf
    return math.nan


def json_repr(v: Any) -> str:
    """Stringify a JSON value for error messages: a string as itself, any
    other value as ``json.dumps(v, separators=(",", ":"), sort_keys=True)``
    gives it. Containers are walked with a stack of their own, so the text
    of a deep value does not depend on the recursion limit."""
    if isinstance(v, str):
        return v
    out: List[str] = []
    todo: List[Tuple[bool, Any]] = [(False, v)]  # (is text, text or value), last first
    while todo:
        text, x = todo.pop()
        if text:
            out.append(x)
        elif isinstance(x, (list, tuple)):
            out.append("[")
            todo.append((True, "]"))
            for i in range(len(x) - 1, -1, -1):
                todo.append((False, x[i]))
                if i:
                    todo.append((True, ","))
        elif isinstance(x, dict):
            if not all(isinstance(k, str) for k in x):
                return json.dumps(v, separators=(",", ":"), sort_keys=True)
            out.append("{")
            todo.append((True, "}"))
            items = sorted(x.items())
            for i in range(len(items) - 1, -1, -1):
                k, y = items[i]
                todo += [(False, y), (True, ("," if i else "") + json.dumps(k) + ":")]
        else:
            out.append(json.dumps(x))
    return "".join(out)


# ------------------------------------------------------------------ wording
# A message whose text depends on the value is a tuple of words: strings,
# COUNT (a runtime count), NAMES (a runtime name list, 'a, b and c') and
# Plural (the form for a count of 1, else the other). Each backend renders
# the tuple in its target; ``say`` is the Python rendering.

COUNT, NAMES = object(), object()


class Plural(NamedTuple):
    one: str
    many: str


def say(words: tuple, n: int, names: List[str] = ()) -> str:
    """The text of ``words`` for a count ``n`` and a name list ``names``."""
    return "".join(
        w if isinstance(w, str) else (w.one if n == 1 else w.many) if isinstance(w, Plural)
        else str(n) if w is COUNT else human_list("and", names)
        for w in words)


def _additional(verb: str) -> tuple:
    return ("additional propert", Plural("y", "ies"), f" {verb}: ", NAMES)


def props_message(verb: str, names: List[str]) -> str:
    """additionalProperties' message: ``verb`` is 'found' or 'invalid'."""
    return say(_additional(verb), len(names), names)


def unique_message(n: int) -> str:
    """uniqueItems' message for ``n`` duplicates."""
    return say(UniqueItems.words, n)


# ---------------------------------------------------------- nodes and checks


@dataclass(eq=False)
class Node:
    """One schema object: its checks in schema-key order. ``path`` is the
    schema path (``#/properties/a/...``) of the first route that reached
    it; nodes compare by identity."""

    path: str
    checks: Tuple["Check", ...] = ()


#: the node of a schema that is not an object: every value passes
ANY = Node("")


@dataclass(frozen=True, eq=False)
class Regex:
    """A draft-4 pattern translated from the JS dialect and compiled once:
    ``python`` for the kernel and compile-time field matching, ``java``
    for ``rlike``."""

    python: "re.Pattern"
    java: str


class Check:
    """One keyword check of a node; ``keyword`` names it in error rows."""


_check = dataclass(frozen=True, eq=False)


@_check
class Type(Check):
    """``types`` in schema order; ``integer``: 'integer' is among them."""

    keyword: str
    types: Tuple[Any, ...]
    expected: str
    integer: bool
    message: ClassVar[str] = "Invalid type"


@_check
class Enum(Check):
    """``depth``: nesting depth of the deepest value (scalars 0)."""

    keyword: str
    values: Tuple[Any, ...]
    expected: str
    depth: int
    message: ClassVar[str] = ""


@_check
class Bound(Check):
    """minimum / maximum; ``exclusive`` from exclusiveMinimum/Maximum. A
    string ``limit`` bounds date/timestamp columns (columnar mode)."""

    keyword: str
    limit: Union[int, float, str]
    exclusive: bool
    is_min: bool
    message: str

    @property
    def number(self) -> Union[int, float]:
        """The limit a JSON number compares against: a string reads as
        JS ``Number(limit)``, and NaN fails every number, as the
        reference's ``value <= max`` does."""
        return js_number(self.limit) if isinstance(self.limit, str) else self.limit


@_check
class MultipleOf(Check):
    keyword: str
    divisor: Union[int, float]
    message: str


@_check
class Size(Check):
    """min/maxLength, min/maxItems, min/maxProperties: the size of a value
    of JSON type ``guard`` ('string': NFC code points, 'array': items,
    'object': properties) against ``limit``."""

    keyword: str
    guard: str
    limit: int
    is_min: bool
    message: str


@_check
class Pattern(Check):
    keyword: str
    regex: Regex
    message: str


@_check
class UniqueItems(Check):
    """``unique`` is False only for ``uniqueItems: false``."""

    keyword: str
    unique: bool
    words: ClassVar[tuple] = (
        "does not contain unique values: ", COUNT, " duplicate", Plural("", "s"), " found")


@_check
class Required(Check):
    """One error per missing name (reference src/v4/required.js:18-24)."""

    keyword: str
    names: Tuple[str, ...]
    messages: Tuple[str, ...]


@_check
class Properties(Check):
    keyword: str
    entries: Tuple[Tuple[str, Node], ...]


@_check
class PatternProperties(Check):
    """Cross product of patterns and value keys, patterns outer
    (reference src/v4/patternProperties.js:31 xprod)."""

    keyword: str
    entries: Tuple[Tuple[Regex, Node], ...]


@_check
class AdditionalProperties(Check):
    """The keys neither in ``known`` (the node's properties) nor matched
    by ``patterns`` (its patternProperties) are additional. ``additional``
    is False (forbidden), True (allowed) or the node validating them."""

    keyword: str
    known: Tuple[str, ...]
    patterns: Tuple[Regex, ...]
    additional: Union[bool, Node]
    found: ClassVar[tuple] = _additional("found")
    invalid: ClassVar[tuple] = _additional("invalid")


@_check
class Items(Check):
    """Homogeneous ``items``: every element against ``node``."""

    keyword: str
    node: Node


@_check
class TupleItems(Check):
    """Tuple ``items``: element i against ``nodes[i]``, the elements past
    them against ``additional`` (additionalItems: False forbids them, True
    or absent allows them)."""

    keyword: str
    nodes: Tuple[Node, ...]
    additional: Union[bool, Node]
    message: ClassVar[str] = "additional item found"


@_check
class DependentNames:
    """The list form of one dependency: ``key`` present needs ``names``."""

    key: str
    names: Tuple[str, ...]
    messages: Tuple[str, ...]
    words: tuple


@_check
class DependentSchema:
    """The schema form: ``key`` present re-validates the whole value
    against ``node``, at the same path."""

    key: str
    node: Node
    message: str


@_check
class Dependencies(Check):
    keyword: str
    entries: Tuple[Union[DependentNames, DependentSchema], ...]


@_check
class AllOf(Check):
    keyword: str
    nodes: Tuple[Node, ...]
    message: ClassVar[str] = "Not all conditions valid"


@_check
class AnyOf(Check):
    """No branches: vacuous truth (reference src/v4/anyOf.js:25)."""

    keyword: str
    nodes: Tuple[Node, ...]
    message: ClassVar[str] = "No conditions valid"


@_check
class OneOf(Check):
    keyword: str
    nodes: Tuple[Node, ...]
    message: ClassVar[str] = AnyOf.message
    too_many: ClassVar[str] = "More than one condition valid"


@_check
class Not(Check):
    keyword: str
    node: Node
    message: ClassVar[str] = "condition valid"


#: every check kind; each backend has one handler per kind
CHECKS = (Type, Enum, Bound, MultipleOf, Size, Pattern, UniqueItems, Required,
          Properties, PatternProperties, AdditionalProperties, Items, TupleItems,
          Dependencies, AllOf, AnyOf, OneOf, Not)


def _nodes(x: Any) -> Iterator[Node]:
    """The nodes a check (or one of its fields) refers to, in order."""
    if isinstance(x, Node):
        yield x
    elif isinstance(x, tuple):
        for y in x:
            yield from _nodes(y)
    elif isinstance(x, (Check, DependentSchema)):
        for f in fields(x):
            yield from _nodes(getattr(x, f.name))


def reachable(root: Node) -> Iterator[Node]:
    """Every node reachable from ``root``, each once, depth first."""
    seen, stack = set(), [root]
    while stack:
        node = stack.pop()
        if node not in seen:
            seen.add(node)
            yield node
            stack.extend(reversed(list(_nodes(node.checks))))


# ----------------------------------------------------------------- lowering


def lower(schema: Any, refs: Optional[Dict[str, Any]] = None) -> Node:
    """The IR of ``schema``, its $refs resolved against ``refs`` and
    against the root's ``id``. Raises CyclicRefError /
    UnknownResourceError / SchemaCompileError."""
    root = _Lowering(refs or {}).node("", schema, schema, "#")
    _refuse_same_value_cycles(root)
    return root


def _same_value(node: Node) -> Iterator[Node]:
    """The nodes that ``node``'s checks apply to the value ``node`` checks."""
    for c in node.checks:
        if isinstance(c, (AllOf, AnyOf, OneOf)):
            yield from c.nodes
        elif isinstance(c, Not):
            yield c.node
        elif isinstance(c, Dependencies):
            yield from (e.node for e in c.entries if isinstance(e, DependentSchema))


def _refuse_same_value_cycles(root: Node) -> None:
    """Raise CyclicRefError if a node reaches itself through
    ``_same_value`` edges alone: that cycle checks one value forever."""
    for node in reachable(root):
        seen, todo = set(), list(_same_value(node))
        while todo:
            kid = todo.pop()
            if kid is node:
                raise CyclicRefError(f"$ref cycle at {node.path!r} checks the same value "
                                     "again without descending into it")
            if kid not in seen:
                seen.add(kid)
                todo.extend(_same_value(kid))


class _Lowering:
    def __init__(self, refs: Dict[str, Any]):
        self.refs = refs
        self.memo: Dict[Tuple[str, int], Node] = {}
        self.regexes: Dict[str, Regex] = {}

    def node(self, base: str, doc: Any, schema: Any, path: str) -> Node:
        base, doc, schema = resolve_ref(self.refs, base, doc, schema)
        if not isinstance(schema, dict):
            return ANY  # boolean/scalar schema: keysIn -> [] -> vacuous success
        key = (base, id(schema))
        node = self.memo.get(key)
        if node is None:
            # memoized before its checks, so a recursive $ref meets it
            node = self.memo[key] = Node(path)

            def sub(s: Any, step: str) -> Node:
                return self.node(base, doc, s, f"{path}/{step}")

            checks = (_KEYWORDS[kw](self, kw, value, schema, sub)
                      for kw, value in schema.items() if kw in _KEYWORDS)
            node.checks = tuple(c for c in checks if c is not None)
        return node

    def regex(self, source: str) -> Regex:
        if source not in self.regexes:
            try:
                self.regexes[source] = Regex(python_pattern(source), java_pattern(source))
            except RegexDialectError as e:
                raise SchemaCompileError(str(e)) from None
            except re.error as e:
                raise SchemaCompileError(f"bad regex {source!r}: {e}") from e
        return self.regexes[source]


# Each keyword's lowering: (lowering, keyword, value, schema object, sub)
# -> a Check or None; ``sub(schema, step)`` lowers a subschema.
_KEYWORDS: Dict[str, Callable] = {}


def _lowers(*keywords: str):
    def register(fn: Callable) -> Callable:
        _KEYWORDS.update(dict.fromkeys(keywords, fn))
        return fn
    return register


def _must(ok: bool, kw: str, value: Any, want: str) -> None:
    if not ok:
        raise SchemaCompileError(f"{kw} must be {want}, not {value!r}")


def _is_number(x: Any) -> bool:
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def _literal_depth(v: Any) -> int:
    """Nesting depth of a JSON literal: scalars 0, each list/dict level 1."""
    if isinstance(v, (list, dict)):
        return 1 + max(map(_literal_depth, v if isinstance(v, list) else v.values()), default=0)
    return 0


@_lowers("type")
def _type(lo, kw, value, schema, sub):
    types = tuple(value) if isinstance(value, list) else (value,)
    _must(all(isinstance(t, str) for t in types), kw, value,
          "a string or an array of strings")
    return Type(kw, types, " or ".join(str(t) for t in types), "integer" in types)


@_lowers("enum")
def _enum(lo, kw, value, schema, sub):
    _must(isinstance(value, list), kw, value, "an array")
    return Enum(kw, tuple(value), human_list("or", [json_repr(x) for x in value]),
                max(map(_literal_depth, value), default=0))


@_lowers("minimum", "maximum")
def _bound(lo, kw, value, schema, sub):
    # a string bounds date/timestamp columns (a columnar extension)
    _must(_is_number(value) or isinstance(value, str), kw, value,
          "a number or a date/timestamp string")
    excl = schema.get("exclusiveM" + kw[1:])
    excl = excl if isinstance(excl, bool) else False  # non-boolean -> false
    is_min = kw == "minimum"
    return Bound(kw, value, excl, is_min, f"{'less' if is_min else 'greater'} than "
                 f"{'or equal to ' if excl else ''}{value}")


@_lowers("multipleOf")
def _multiple_of(lo, kw, value, schema, sub):
    _must(_is_number(value) and value > 0, kw, value, "a number greater than 0")
    return MultipleOf(kw, value, f"not a multiple of {value}")


@_lowers("minLength", "maxLength", "minItems", "maxItems", "minProperties", "maxProperties")
def _size(lo, kw, value, schema, sub):
    _must(isinstance(value, int) and not isinstance(value, bool) and value >= 0,
          kw, value, "a non-negative integer")
    is_min = kw.startswith("min")
    if kw.endswith("Length"):
        guard, msg = "string", f"{'shorter than' if is_min else 'longer than'} {value} characters"
    else:
        guard, noun = ("array", "items") if kw.endswith("Items") else ("object", "properties")
        msg = f"{'less than' if is_min else 'more than'} {value} {noun}"
    return Size(kw, guard, value, is_min, msg)


@_lowers("pattern")
def _pattern(lo, kw, value, schema, sub):
    _must(isinstance(value, str), kw, value, "a string")
    return Pattern(kw, lo.regex(value), f"does not match /{value}/")


@_lowers("uniqueItems")
def _unique_items(lo, kw, value, schema, sub):
    return UniqueItems(kw, value is not False)


@_lowers("required")
def _required(lo, kw, value, schema, sub):
    _must(isinstance(value, list) and all(isinstance(r, str) for r in value),
          kw, value, "an array of strings")
    return Required(kw, tuple(value), tuple(f"missing {r}" for r in value))


@_lowers("properties", "patternProperties", "dependencies")
def _object_valued(lo, kw, value, schema, sub):
    _must(isinstance(value, dict), kw, value, "an object")
    if kw == "properties":
        return Properties(kw, tuple((k, sub(s, f"{kw}/{k}")) for k, s in value.items()))
    if kw == "patternProperties":
        return PatternProperties(kw, tuple(
            (lo.regex(p), sub(s, f"{kw}/{p}")) for p, s in value.items()))
    entries = []
    for key, dep in value.items():
        if isinstance(dep, list):
            entries.append(DependentNames(
                key, tuple(dep), tuple(f'Missing "{d}" given "{key}"' for d in dep),
                ("Missing dependenc", Plural("y ", "ies "), f'for "{key}"')))
        elif isinstance(dep, dict):
            entries.append(DependentSchema(key, sub(dep, f"{kw}/{key}"),
                                           f'Failed dependency for "{key}"'))
    return Dependencies(kw, tuple(entries))


@_lowers("additionalProperties", "additionalItems")
def _additional_schema(lo, kw, value, schema, sub):
    _must(isinstance(value, (bool, dict)), kw, value, "a boolean or an object")
    known = schema.get("properties") or {}
    patterns = schema.get("patternProperties") or {}
    # additionalItems is read by tuple 'items'; a malformed sibling of
    # additionalProperties raises on its own key
    if kw == "additionalItems" or not isinstance(known, dict) or not isinstance(patterns, dict):
        return None
    return AdditionalProperties(kw, tuple(known), tuple(map(lo.regex, patterns)),
                                value if isinstance(value, bool) else sub(value, kw))


@_lowers("items")
def _items(lo, kw, value, schema, sub):
    if isinstance(value, dict):
        return Items(kw, sub(value, kw))
    if not isinstance(value, list):
        return None
    nodes = tuple(sub(s, f"{kw}/{i}") for i, s in enumerate(value))
    extra = schema.get("additionalItems", True)
    return TupleItems(kw, nodes, sub(extra, "additionalItems") if isinstance(extra, dict)
                      else extra)


@_lowers("allOf", "anyOf", "oneOf")
def _combinator(lo, kw, value, schema, sub):
    _must(isinstance(value, list), kw, value, "an array")
    nodes = tuple(sub(s, f"{kw}/{i}") for i, s in enumerate(value))
    return {"allOf": AllOf, "anyOf": AnyOf, "oneOf": OneOf}[kw](kw, nodes)


@_lowers("not")
def _not(lo, kw, value, schema, sub):
    return Not(kw, sub(value, kw))
