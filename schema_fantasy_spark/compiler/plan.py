"""Compile a JSON-Schema draft-4 document into a validator, once, on the driver.

Re-expresses the reference's recursive interpreter (reference index.js:56-63:
for each schema key dispatch a predicate, fold results applicatively so ALL
failures accumulate) as a one-time compilation to Python source. The
keyword semantics, ``$ref`` resolution, value checks and wording live in
``compiler/ir.py``; this module translates the IR's checks into source:

* every keyword predicate keeps its universal type guard: vacuous success
  when the value is not of the type the keyword applies to
  (e.g. reference src/v4/pattern.js:16).
* regexes are compiled once, as constants of the source (the reference
  deliberately recompiles per evaluation, src/v4/pattern.js:18 — a
  documented naivety we do not reproduce).

The generated source holds one function ``f<n>(v)`` per IR node (a
recursive schema becomes mutually recursive functions), returning
``None`` for a valid value. Each function has up to two paths:

* a fast one for the values whose class alone settles the node's type
  (``v.__class__ is dict``, ``is str``, ``is int`` ...). A node without
  loops (a leaf) tests one condition, the class test and its checks'
  conditions joined by ``and``, and returns ``None`` at once when it
  holds. A node with loops runs its checks for that class with no type
  lookup and no guards. A caller tests a leaf's condition in place and
  calls the leaf only when it fails, so most valid values cost no call;
* the general one: the value's JSON type is looked up once
  (``_T.get(v.__class__) or _type_of(v)``), the checks are straight-line
  ``if``s in schema-key order under that guard. Values the fast path
  does not take (``True`` under ``number``, ``1.0`` under ``integer``,
  NaN, subclasses, failing values) get their rows here, as before.

Object checks read each declared property with one lookup
(``v.get(key, _NO)``). When no declared property name matches a
``patternProperties`` regex (decided at compile time), the patterns and
``additionalProperties`` look only at the keys outside ``properties``,
listed once in document order; otherwise they loop over every key.
``uniqueItems`` compares an all-``str`` array as a set, and
``minLength``/``maxLength`` count an ASCII string with ``len``.

Errors carry value paths relative to the node that made them; a parent
prefixes its key only when a child failed, so a valid document builds no
path at all. ``anyOf`` stops at the first passing branch and ``oneOf`` at
the second: the discarded branches could not change the result. The
fast conditions never change the rows: a condition holds only where the
node passes (``tests/fixtures/kernel_golden.json`` pins the rows).

Every constant (messages, enum sets, translated regexes) is a literal in
the source, so the text alone determines the kernel: ``load_kernel``
executes a source once per process and caches it by its text, which is
how the dynamic mode's Python workers reuse one kernel across batches.

Documented divergences:
* integer: the reference tests ``x === (x|0)`` (src/v4/type.js:13), which
  silently bounds integers to int32 in JS. We use mathematical integrality
  (int, or float with .is_integer()), matching draft-4 intent.
* enum expected-value rendering uses compact JSON, not JS String().
  Deep equality (``canonical``) and that rendering walk a value without
  recursion, so an enum's rows do not depend on the recursion limit.
* nesting: one rule, whatever the schema: a value nested deeper than
  ``MAX_DEPTH`` is refused before the kernel runs (``check_depth``; the
  dynamic mode refuses such a document before parsing it). The reference
  recurses until the JS stack overflows. The kernel checks no depth.
"""

from __future__ import annotations

import functools
import itertools
import math
import re
import unicodedata
from dataclasses import dataclass
from typing import Any, Callable, Dict, List, NamedTuple, Optional, Tuple

from schema_fantasy_spark.compiler import ir
from schema_fantasy_spark.compiler.ir import SchemaCompileError, json_repr
from schema_fantasy_spark.errors import COMPOUND, SINGLE, VALUES, Err

#: The nesting cap, so that a hostile document cannot exhaust the Python
#: stack. A schema whose nodes each cost several frames per level may
#: still run out of stack first; the dynamic mode quarantines that
#: RecursionError as it does a document past the cap, as one '$depth' row.
MAX_DEPTH = 512


class NestingError(RecursionError):
    """A value nests deeper than MAX_DEPTH levels."""


def check_depth(value: Any) -> None:
    """Raise NestingError when the containers of ``value`` nest deeper
    than MAX_DEPTH: one walk, a level of containers at a time."""
    level = [value] if isinstance(value, (list, dict)) else []
    for _ in range(MAX_DEPTH):
        level = [x for v in level for x in (v.values() if isinstance(v, dict) else v)
                 if isinstance(x, (list, dict))]
        if not level:
            return
    raise NestingError(f"value nests deeper than {MAX_DEPTH} levels")


# ---------------------------------------------------------------- type model


def type_of(v: Any) -> str:
    """JSON runtime type, mirror of reference src/v4/type.js:12."""
    if v is None:
        return "null"
    if isinstance(v, bool):  # before int: Python bool subclasses int
        return "boolean"
    if isinstance(v, (int, float)):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    if isinstance(v, dict):
        return "object"
    return "unknown"


#: type_of by exact class; other classes fall back to type_of
_TYPES = {type(None): "null", bool: "boolean", int: "number", float: "number",
          str: "string", list: "array", dict: "object"}


def is_integer(v: Any) -> bool:
    """Integer-valued number (reference src/v4/type.js:13; int32 quirk not
    reproduced — see module docstring)."""
    if isinstance(v, bool):
        return False
    if isinstance(v, int):
        return True
    return isinstance(v, float) and v.is_integer()


_END = object()


def canonical(v: Any):
    """Hashable type-tagged canonical form for JSON deep equality
    (R.equals semantics: 1 == 1.0 but 1 != true != '1') of ``v``. It
    walks the value with a stack of its own, so the result does not
    depend on the recursion limit."""
    parts: list = []  # finished forms of the open container's members
    stack: list = []  # open containers: (object keys or None, members, outer parts)
    while True:
        t = _TYPES.get(v.__class__) or type_of(v)
        if t == "array" or t == "object":
            keys = [] if t == "object" else None
            stack.append((keys, iter(v if keys is None else v.items()), parts))
            parts = []
        else:
            parts.append(("n", float(v)) if t == "number" else (t[0], v))
        while stack:  # the next member of the innermost open container
            keys, members, outer = stack[-1]
            v = next(members, _END)
            if v is not _END:
                if keys is not None:
                    k, v = v
                    keys.append(k)
                break
            stack.pop()
            outer.append(("a", tuple(parts)) if keys is None
                         else ("o", tuple(sorted(zip(keys, parts)))))
            parts = outer
        else:
            return parts[0]


def ulength(s: str) -> int:
    """Code-point length after NFC normalization (reference
    src/v4/minLength.js:18-22 + src/ulength.js:9-17 — surrogate pairs
    count as one, which is exactly Python's code-point len)."""
    return len(unicodedata.normalize("NFC", s))


# ------------------------------------------------- runtime of the kernels

def _add(errs: Optional[list], err: Err) -> list:
    if errs is None:
        return [err]
    errs.append(err)
    return errs


def _cat(errs: Optional[list], more: list) -> list:
    if errs is None:
        return more
    errs.extend(more)
    return errs


def _at(errs: list, key) -> list:
    """Prefix ``key`` to the value path of ``errs`` and their children:
    a child's errors are relative to the child's value."""
    stack = list(errs)
    while stack:
        err = stack.pop()
        err.vpath = (key,) + err.vpath
        stack.extend(err.children)
    return errs


def _vacuous(v):
    return None


def _dups(items: list) -> int:
    """How many items of an array equal an earlier one under JSON deep
    equality. Distinct strs are distinct JSON strings, so an all-str
    array needs no canonical forms."""
    for x in items:
        if x.__class__ is not str:
            return len(items) - len({canonical(x) for x in items})
    return len(items) - len(set(items))


#: the absent-key default of a property lookup
_NO = object()

#: the names generated source may use besides its own functions/constants
_RUNTIME = {
    "_Err": Err, "_T": _TYPES, "_type_of": type_of, "_isint": is_integer,
    "_canon": canonical, "_json": json_repr, "_ulen": ulength, "_add": _add,
    "_cat": _cat, "_at": _at, "_props_msg": ir.props_message, "_dups": _dups, "_NO": _NO,
    "_unique_msg": ir.unique_message, "_vacuous": _vacuous, "_re": re,
    "_filterfalse": itertools.filterfalse,
}


@functools.lru_cache(maxsize=128)
def load_kernel(source: str) -> Callable[[Any], Optional[List[Err]]]:
    """The root function of generated ``source``, executed once per
    process and cached by the source text."""
    ns = dict(_RUNTIME)
    exec(compile(source, "<schema kernel>", "exec"), ns)
    return ns["kernel"]


class CompiledSchema:
    """A compiled constraint plan. ``validate(value)`` returns the
    accumulated error list (empty = valid), mirroring the reference's
    ``Validation`` applicative (index.js:60-62), or raises NestingError
    for a value nested deeper than MAX_DEPTH. ``source`` is the generated
    kernel."""

    def __init__(self, source: str, schema: Any, refs: Dict[str, Any]):
        self.source = source
        self.schema = schema
        self.refs = refs
        self._kernel = load_kernel(source)

    def validate(self, value: Any) -> List[Err]:
        check_depth(value)
        return self._kernel(value) or []

    def is_valid(self, value: Any) -> bool:
        return not self.validate(value)


def compile_schema(schema: Any, refs: Optional[Dict[str, Any]] = None) -> CompiledSchema:
    """Compile ``schema`` (its $refs resolved against ``refs``) into a
    CompiledSchema. Raises CyclicRefError / UnknownResourceError /
    SchemaCompileError at plan time.
    """
    refs = refs or {}
    return CompiledSchema(generate_source(schema, refs), schema, refs)


def generate_source(schema: Any, refs: Optional[Dict[str, Any]] = None) -> str:
    """Python source of the kernel validating ``schema``: one function
    ``f<n>(v)`` per schema node returning ``None`` or a non-empty error
    list, and ``kernel``, the root. The same schema always yields the
    same text."""
    return _Generator().run(ir.lower(schema, refs))


def null_errors(node: ir.Node) -> List[Err]:
    """The errors a JSON ``null`` yields under IR ``node``, from the
    kernel generated for that node. A null has no children, so every
    error sits at the null's own path."""
    return load_kernel(_Generator().run(node))(None) or []


# ------------------------------------------------------------- the generator

def _lit(x: Any) -> str:
    """A Python literal expression evaluating to the JSON value ``x``."""
    if x is None or isinstance(x, bool):
        return repr(x)
    if isinstance(x, int):
        return int.__repr__(x)
    if isinstance(x, float):
        if math.isnan(x):
            return "float('nan')"
        if math.isinf(x):
            return "float('inf')" if x > 0 else "-float('inf')"
        return float.__repr__(x)
    if isinstance(x, str):
        return str.__repr__(x)
    if isinstance(x, list):
        return "[" + ", ".join(_lit(y) for y in x) + "]"
    if isinstance(x, dict):
        return "{" + ", ".join(f"{_lit(k)}: {_lit(y)}" for k, y in x.items()) + "}"
    raise SchemaCompileError(f"schema constant {x!r} is not a JSON value")


def _err(kind: str, keyword: str, message: str, path: str = "()",
         expected: str = "None", actual: str = "None", children: str = "") -> str:
    """Source of one ``Err`` construction; ``message`` is an expression."""
    args = [repr(kind), repr(keyword), message, path]
    if expected != "None" or actual != "None" or children:
        args += [expected, actual]
    if children:
        args.append(children)
    return f"_Err({', '.join(args)})"


def _add_err(*args, **kw) -> str:
    return f"e = _add(e, {_err(*args, **kw)})"


def _indent(lines: List[str], levels: int = 1) -> List[str]:
    return ["    " * levels + line for line in lines]


#: the JSON type each guarded check kind applies to (it passes on the others)
_GUARDS = {
    ir.Bound: "number", ir.MultipleOf: "number", ir.Pattern: "string",
    ir.UniqueItems: "array", ir.Items: "array", ir.TupleItems: "array",
    ir.Required: "object", ir.Properties: "object", ir.PatternProperties: "object",
    ir.AdditionalProperties: "object", ir.Dependencies: "object",
}


def _guard(c: ir.Check) -> Optional[str]:
    """The JSON type check ``c`` applies to; None: every type."""
    return c.guard if isinstance(c, ir.Size) else _GUARDS.get(type(c))


#: the class test of a fast path's values, by the JSON type it settles
#: ('integer': the ints among the numbers)
_CLASS_TESTS = {
    "string": "{v}.__class__ is str", "integer": "{v}.__class__ is int",
    "number": "({v}.__class__ is int or {v}.__class__ is float)",
    "array": "{v}.__class__ is list", "object": "{v}.__class__ is dict",
    "boolean": "{v}.__class__ is bool", "null": "{v} is None",
}


def _kind(node: ir.Node) -> Optional[Tuple[str, str]]:
    """``(t, test)``: the JSON type ``t`` of the values ``node``'s fast path
    takes and the key of their class test. A value that passes the test
    passes the node's type check, and its guarded checks are those of
    type ``t``. None when no one type is the node's."""
    for c in node.checks:
        if isinstance(c, ir.Type):
            types = set(c.types)
            if types == {"integer"}:
                return "number", "integer"
            if "number" in types:
                types.discard("integer")
            if len(types) == 1 and types <= _CLASS_TESTS.keys():
                t = types.pop()
                return t, t
            return None
    guards = {_guard(c) for c in node.checks} - {None}
    if len(guards) == 1:
        t = guards.pop()
        return t, t
    return None


def _accepts(node: ir.Node) -> Optional[set]:
    """The JSON types ``node``'s type check lets through; None: all."""
    for c in node.checks:
        if isinstance(c, ir.Type):
            return {"number" if t == "integer" else t for t in c.types}
    return None


class _Fast(NamedTuple):
    """A condition under which a node or check passes, as the terms of a
    conjunction. ``exact``: it holds only then."""

    terms: Tuple[str, ...]
    exact: bool

    @property
    def src(self) -> str:
        return " and ".join(self.terms) or "True"


_PASSES = _Fast((), True)

#: the longest fast condition worth testing in place of a call
_FAST_MAX = 400


def _all(parts: List[_Fast]) -> _Fast:
    terms = tuple(dict.fromkeys(t for p in parts for t in p.terms))
    return _Fast(terms, all(p.exact for p in parts))


def _any(parts: List[_Fast], exact: bool) -> _Fast:
    return _Fast(("(" + " or ".join(p.src for p in parts) + ")",), exact)


@dataclass
class _Block:
    """The source lines of one check, run when the value's JSON type is
    the check's guard."""

    check: ir.Check
    lines: List[str]

    @property
    def guard(self) -> Optional[str]:
        return _guard(self.check)


@dataclass
class _Keys:
    """What the key loops of one object node share. ``disjoint``: no
    declared property name matches a pattern of the node, so patterns and
    additionalProperties need only the keys outside ``known``; ``listed``
    once a block has bound those keys, in document order, to ``u``."""

    known: Tuple[str, ...] = ()
    disjoint: bool = True
    listed: bool = False

    @classmethod
    def of(cls, node: ir.Node) -> "_Keys":
        known = next((tuple(k for k, _ in c.entries) for c in node.checks
                      if isinstance(c, ir.Properties)), ())
        patterns = next((tuple(rx for rx, _ in c.entries) for c in node.checks
                         if isinstance(c, ir.PatternProperties)), ())
        return cls(known, not any(rx.python.search(k) for rx in patterns for k in known))


class _Generator:
    def __init__(self):
        #: IR node -> function name, None for a node without checks
        self.memo: Dict[ir.Node, Optional[str]] = {}
        self.n_funcs = 0
        self.consts: Dict[str, str] = {}  # literal expression -> name
        self.funcs: List[str] = []
        self.keys = _Keys()  # of the object node being generated
        self.busy: set = set()  # nodes whose fast condition is being built

    def run(self, root: ir.Node) -> str:
        root = self.node(root)
        consts = [f"{name} = {expr}" for expr, name in self.consts.items()]
        return "\n".join(consts + self.funcs + [f"kernel = {root or '_vacuous'}", ""])

    def const(self, expr: str) -> str:
        name = self.consts.get(expr)
        if name is None:
            name = self.consts[expr] = f"_k{len(self.consts)}"
        return name

    def regex(self, rx: ir.Regex) -> str:
        """Name of the ``search`` method of a pattern's compiled regex."""
        return self.const(f"_re.compile({rx.python.pattern!r}, {rx.python.flags}).search")

    def node(self, node: ir.Node) -> Optional[str]:
        """Name of the function validating ``node``; None if it never fails."""
        if node is ir.ANY:
            return None
        if node in self.memo:
            return self.memo[node]  # done, or in progress (a recursive $ref)
        name = self.memo[node] = f"f{self.n_funcs}"
        self.n_funcs += 1
        outer, self.keys = self.keys, _Keys.of(node)
        blocks = [b for b in (self.HANDLERS[type(c)](self, c) for c in node.checks)
                  if b is not None]
        self.keys = outer
        if not blocks:
            # later callers skip the node; a recursive $ref met while it
            # was in progress may already call it by name
            self.memo[node] = None
            self.funcs.append(f"{name} = _vacuous\n")
            return None
        lines = [f"def {name}(v):"]
        fast, kind = self.fast(node, "v"), _kind(node)
        if fast is not None:
            lines.append(f"    if {fast.src}: return None")
        elif kind is not None:
            # a value of the kind's class passes the type check, and only
            # the checks of its type apply: no type lookup and no guards
            own = [b for b in blocks
                   if not isinstance(b.check, ir.Type) and b.guard in (None, kind[0])]
            body = ["e = None"] + [line for b in own for line in b.lines]
            lines.append(f"    if {_CLASS_TESTS[kind[1]].format(v='v')}:")
            lines += _indent(body + ["return e"], 2)
        lines.append("    e = None")
        if any(b.guard or isinstance(b.check, ir.Type) for b in blocks):
            lines.append("    t = _T.get(v.__class__) or _type_of(v)")
        for guard, group in itertools.groupby(blocks, key=lambda b: b.guard):
            group, pad = list(group), "    "
            if guard is not None:
                lines.append(f"    if t == {guard!r}:")
                pad = "        "
            lines += [pad + line for b in group for line in b.lines]
        lines.append("    return e")
        self.funcs.append("\n".join(lines) + "\n")
        return name

    def call(self, node: ir.Node, v: str) -> Optional[str]:
        """Expression of ``node``'s errors on the value ``v``: a call of
        its function, skipped when its fast condition holds. None for a
        node that never fails."""
        fn = self.node(node)
        if fn is None:
            return None
        fast = self.fast(node, v)
        return f"{fn}({v})" if fast is None else f"None if {fast.src} else {fn}({v})"

    # ------------------------------------------------- fast conditions

    def fast(self, node: ir.Node, v: str) -> Optional[_Fast]:
        """A condition on the value ``v`` under which ``node`` passes,
        built from the class test of its kind and the conditions of its
        checks; None when a check has none. A node tests it first and
        returns at once, and a caller tests it before calling the node."""
        if node is ir.ANY:
            return _PASSES
        kind = _kind(node)
        if node in self.busy or kind is None and any(
                isinstance(c, ir.Type) or _guard(c) for c in node.checks):
            return None
        self.busy.add(node)
        parts = [_Fast((_CLASS_TESTS[kind[1]].format(v=v),), False)] if kind else []
        for c in node.checks:
            if not isinstance(c, ir.Type) and _guard(c) in (None, kind and kind[0]):
                parts.append(self.ok(c, v))
        self.busy.discard(node)
        if None in parts:
            return None
        fast = _all(parts)
        return fast if len(fast.src) <= _FAST_MAX else None

    def ok(self, c: ir.Check, v: str) -> Optional[_Fast]:
        """A condition on the value ``v`` under which check ``c`` passes,
        its guard holding; None when there is none cheap."""
        if isinstance(c, ir.Enum):
            allowed = self.const(f"frozenset(map(_canon, {_lit(list(c.values))}))")
            # a str's canonical form is ('s', str): test strs directly
            strs = self.const(f"frozenset({_lit([x for x in c.values if isinstance(x, str)])})")
            return _Fast((f"({v} in {strs} if {v}.__class__ is str "
                          f"else _canon({v}) in {allowed})",), True)
        if isinstance(c, ir.Bound):
            op = (">" if c.is_min else "<") + ("" if c.exclusive else "=")
            src = f"{v} {op} {_lit(c.number)}"
        elif isinstance(c, ir.MultipleOf):
            src = f"({v} / {_lit(c.divisor)}) % 1 == 0"  # float semantics, IEEE754 like JS
            if isinstance(c.divisor, int):
                src = f"({v} % {_lit(c.divisor)} == 0 if isinstance({v}, int) else {src})"
        elif isinstance(c, ir.Size):
            # an ASCII string is its own NFC form
            n = (f"(len({v}) if {v}.isascii() else _ulen({v}))" if c.guard == "string"
                 else f"len({v})")
            src = f"{n} {'>=' if c.is_min else '<='} {_lit(c.limit)}"
        elif isinstance(c, ir.Pattern):
            src = f"{self.regex(c.regex)}({v})"
        elif isinstance(c, ir.Required):
            return _Fast(tuple(f"{_lit(name)} in {v}" for name in c.names), True)
        elif isinstance(c, ir.UniqueItems):
            return _Fast((f"not _dups({v})",), True) if c.unique else _PASSES
        elif isinstance(c, ir.AllOf):
            parts = [self.fast(n, v) for n in c.nodes if self.node(n) is not None]
            return None if None in parts else _all(parts)
        elif isinstance(c, ir.AnyOf):
            return self.any_ok(c, v)
        elif isinstance(c, ir.OneOf):
            return self.one_ok(c, v)
        elif isinstance(c, ir.Not) and self.node(c.node) is not None:
            inner = self.fast(c.node, v)
            if inner is None or not inner.exact:
                return None
            return _Fast((f"not ({inner.src})",), True)
        else:
            return None
        return _Fast((src,), True)

    def any_ok(self, c: ir.AnyOf, v: str) -> Optional[_Fast]:
        """Any branch's condition; exact when every branch's is."""
        if not c.nodes or any(self.node(n) is None for n in c.nodes):
            return _PASSES  # vacuous truth, as the kernel's check
        fasts = [self.fast(n, v) for n in c.nodes]
        parts = [fast for fast in fasts if fast is not None]
        if not parts:
            return None
        return _any(parts, None not in fasts and all(p.exact for p in parts))

    def one_ok(self, c: ir.OneOf, v: str) -> Optional[_Fast]:
        """The condition of a branch whose kind no other branch's type
        check lets through: the value passes that branch and fails the
        rest."""
        if any(self.node(n) is None for n in c.nodes):
            return None
        accepts = [_accepts(n) for n in c.nodes]
        parts = []
        for i, n in enumerate(c.nodes):
            kind, fast = _kind(n), self.fast(n, v)
            if fast is None or kind is None:
                continue
            if all(j == i or a is not None and kind[0] not in a for j, a in enumerate(accepts)):
                parts.append(fast)
        return _any(parts, False) if parts else None

    # -------------------------------------------------------------- checks
    # each: the block of one IR check, None for a check that never fails

    def type_(self, c: ir.Type) -> _Block:
        ok = f"t in {self.const(f'frozenset({_lit(list(c.types))})')}"
        if c.integer and "number" not in c.types:
            ok += " or (t == 'number' and _isint(v))"
        return _Block(c, [f"if not ({ok}):",
                          "    " + _add_err(VALUES, c.keyword, repr(c.message), "()",
                                            repr(c.expected), "t")])

    def enum(self, c: ir.Enum) -> _Block:
        return _Block(c, [f"if not {self.ok(c, 'v').src}:",
                          "    " + _add_err(VALUES, c.keyword, repr(c.message), "()",
                                            repr(c.expected), "_json(v)")])

    def single(self, c: ir.Check) -> _Block:
        """A check failing with its fixed message when its condition fails."""
        return _Block(c, [f"if not {self.ok(c, 'v').src}:",
                          "    " + _add_err(SINGLE, c.keyword, repr(c.message))])

    def unique_items(self, c: ir.UniqueItems) -> Optional[_Block]:
        if not c.unique:
            return None
        return _Block(c, ["n = _dups(v)", "if n:",
                          "    " + _add_err(SINGLE, c.keyword, "_unique_msg(n)")])

    def required(self, c: ir.Required) -> Optional[_Block]:
        lines = []
        for name, msg in zip(c.names, c.messages):
            lines += [f"if {_lit(name)} not in v:",
                      "    " + _add_err(SINGLE, c.keyword, repr(msg))]
        return _Block(c, lines) if lines else None

    def properties(self, c: ir.Properties) -> Optional[_Block]:
        lines = []
        for key, sub in c.entries:
            call, k = self.call(sub, "x"), _lit(key)
            if call is not None:  # absent keys vacuously pass
                lines += [f"x = v.get({k}, _NO)", "if x is not _NO:", f"    r = {call}",
                          f"    if r: e = _cat(e, _at(r, {k}))"]
        return _Block(c, lines) if lines else None

    def undeclared(self) -> List[str]:
        """The line binding ``u`` to the keys outside the declared names,
        in document order, unless a block before bound it."""
        if self.keys.listed:
            return []
        self.keys.listed = True
        known = self.const(f"frozenset({_lit(list(self.keys.known))})")
        return [f"u = () if v.keys() <= {known} else "
                f"[*_filterfalse({self.const(known + '.__contains__')}, v)]"]

    def pattern_properties(self, c: ir.PatternProperties) -> Optional[_Block]:
        entries = [(self.regex(rx), self.call(sub, "x")) for rx, sub in c.entries]
        entries = [(rx, call) for rx, call in entries if call is not None]
        if not entries:
            return None
        if not self.keys.disjoint:  # a declared name may match: every key
            lines = []
            for rx, call in entries:
                lines += [f"for k in filter({rx}, v):"] + _indent(
                    ["x = v[k]", f"r = {call}", "if r: e = _cat(e, _at(r, k))"])
            return _Block(c, lines)
        lines = self.undeclared()
        for rx, call in entries:  # patterns outer, as the reference
            lines += ["for k in u:", f"    if {rx}(k):"] + _indent(
                ["x = v[k]", f"r = {call}", "if r: e = _cat(e, _at(r, k))"], 2)
        return _Block(c, lines)

    def additional_properties(self, c: ir.AdditionalProperties) -> Optional[_Block]:
        if c.additional is True:
            return None
        call = None if c.additional is False else self.call(c.additional, "x")
        if c.additional is not False and call is None:
            return None
        if self.keys.disjoint:
            head, keys = self.undeclared(), "u"
        else:
            known = self.const(f"frozenset({_lit(list(c.known))})")
            head = [f"if not v.keys() <= {known}:"]
            keys = f"_filterfalse({self.const(known + '.__contains__')}, v)"
        for p in c.patterns:
            keys = f"_filterfalse({self.regex(p)}, {keys})"
        if call is None:
            body = [f"a = {keys}" if keys == "u" else f"a = [*{keys}]",
                    "if a: " + _add_err(SINGLE, c.keyword, "_props_msg('found', a)")]
        else:
            # object schema: validate each additional prop via focusValue
            body = ["a = c = None", f"for k in {keys}:"] + _indent([
                "x = v[k]", f"r = {call}", "if r:", "    a = _add(a, k)",
                "    c = _cat(c, _at(r, k))"])
            body.append("if a: " + _add_err(COMPOUND, c.keyword, "_props_msg('invalid', a)",
                                             children="c"))
        return _Block(c, head + (body if self.keys.disjoint else _indent(body)))

    def items(self, c: ir.Items) -> Optional[_Block]:
        call = self.call(c.node, "x")
        if call is None:
            return None
        return _Block(c, ["for i, x in enumerate(v):", f"    r = {call}",
                          "    if r: e = _cat(e, _at(r, i))"])

    def tuple_items(self, c: ir.TupleItems) -> Optional[_Block]:
        lines = []
        for i, sub in enumerate(c.nodes):
            call = self.call(sub, "x")
            if call is not None:
                lines += [f"if len(v) > {i}:", f"    x = v[{i}]", f"    r = {call}",
                          f"    if r: e = _cat(e, _at(r, {i}))"]
        n = len(c.nodes)
        if c.additional is False:
            lines += [f"for i in range({n}, len(v)):",
                      "    " + _add_err(SINGLE, c.keyword, repr(c.message), "(i,)")]
        elif c.additional is not True:
            call = self.call(c.additional, "x")
            if call is not None:
                lines += [f"for i in range({n}, len(v)):", "    x = v[i]", f"    r = {call}",
                          "    if r: e = _cat(e, _at(r, i))"]
        return _Block(c, lines) if lines else None

    def dependencies(self, c: ir.Dependencies) -> Optional[_Block]:
        lines = []
        for dep in c.entries:
            key = _lit(dep.key)
            if isinstance(dep, ir.DependentSchema):
                call = self.call(dep.node, "v")
                if call is not None:  # whole value re-validated, same path
                    lines += [f"if {key} in v:",
                              f"    r = {call}",
                              "    if r: " + _add_err(COMPOUND, c.keyword, repr(dep.message),
                                                      children="r")]
            elif dep.names:
                lines += [f"if {key} in v:", "    m = None"]
                for name, msg in zip(dep.names, dep.messages):
                    lines += [f"    if {_lit(name)} not in v:",
                              "        m = _add(m, " + _err(SINGLE, c.keyword, repr(msg)) + ")"]
                one, many = (repr(ir.say(dep.words, n)) for n in (1, 2))
                lines += ["    if m: " + _add_err(COMPOUND, c.keyword,
                                                  f"{one} if len(m) == 1 else {many}",
                                                  children="m")]
        return _Block(c, lines) if lines else None

    def all_of(self, c: ir.AllOf) -> Optional[_Block]:
        calls = [call for call in (self.call(n, "v") for n in c.nodes) if call is not None]
        if not calls:
            return None
        lines = ["c = None"]
        for call in calls:
            lines += [f"r = {call}", "if r: c = _cat(c, r)"]
        lines.append("if c: " + _add_err(COMPOUND, c.keyword, repr(c.message), children="c"))
        return _Block(c, lines)

    def any_of(self, c: ir.AnyOf) -> Optional[_Block]:
        calls = [self.call(n, "v") for n in c.nodes]
        if not calls or None in calls:  # vacuous truth (reference src/v4/anyOf.js:25)
            return None
        # c holds the failures so far; None once a branch passed
        lines = [f"c = {calls[0]}"]
        for call in calls[1:]:
            lines += ["if c:", f"    r = {call}", "    c = _cat(c, r) if r else None"]
        lines.append("if c: " + _add_err(COMPOUND, c.keyword, repr(c.message), children="c"))
        return _Block(c, lines)

    def one_of(self, c: ir.OneOf) -> _Block:
        calls = [self.call(n, "v") for n in c.nodes]
        # n counts passing branches; past two the verdict cannot change
        lines = ["c = None", f"n = {sum(call is None for call in calls)}"]
        for call in calls:
            if call is not None:
                lines += ["if n < 2:", f"    r = {call}",
                          "    if r: c = _cat(c, r)", "    else: n += 1"]
        lines += ["if n == 0: " + _add_err(COMPOUND, c.keyword, repr(c.message),
                                           children="c or []"),
                  "elif n > 1: " + _add_err(SINGLE, c.keyword, repr(c.too_many))]
        return _Block(c, lines)

    def not_(self, c: ir.Not) -> _Block:
        call = self.call(c.node, "v")
        lines = [_add_err(SINGLE, c.keyword, repr(c.message))]
        if call is not None:
            lines = [f"if not ({call}):", "    " + lines[0]]
        return _Block(c, lines)

    #: IR check kind -> the method generating its block
    HANDLERS: Dict[type, Callable] = {
        ir.Type: type_, ir.Enum: enum, ir.Bound: single, ir.MultipleOf: single,
        ir.Size: single, ir.Pattern: single, ir.UniqueItems: unique_items,
        ir.Required: required, ir.Properties: properties,
        ir.PatternProperties: pattern_properties,
        ir.AdditionalProperties: additional_properties, ir.Items: items,
        ir.TupleItems: tuple_items, ir.Dependencies: dependencies, ir.AllOf: all_of,
        ir.AnyOf: any_of, ir.OneOf: one_of, ir.Not: not_,
    }
