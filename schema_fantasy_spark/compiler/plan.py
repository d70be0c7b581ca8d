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

The generated source holds one function per IR node (a recursive schema
becomes mutually recursive functions). Inside a function the value's JSON
type is looked up once, the checks are straight-line ``if``s in schema-key
order under that guard, and a function returns ``None`` for a valid value.
Errors carry value paths relative to the node that made them; a parent
prefixes its key only when a child failed, so a valid document builds no
path at all. ``anyOf`` stops at the first passing branch and ``oneOf`` at
the second: the discarded branches could not change the result.

Every constant (messages, enum sets, translated regexes) is a literal in
the source, so the text alone determines the kernel: ``load_kernel``
executes a source once per process and caches it by its text, which is
how the dynamic mode's Python workers reuse one kernel across batches.

Documented divergences:
* integer: the reference tests ``x === (x|0)`` (src/v4/type.js:13), which
  silently bounds integers to int32 in JS. We use mathematical integrality
  (int, or float with .is_integer()), matching draft-4 intent.
* enum expected-value rendering uses compact JSON, not JS String().
* nesting: the kernel looks inside containers at most ``MAX_DEPTH`` levels
  below the root and raises :class:`NestingError` past that; the
  reference recurses until the JS stack overflows.
"""

from __future__ import annotations

import functools
import itertools
import math
import re
import unicodedata
from dataclasses import dataclass
from typing import Any, Callable, Dict, List, Optional

from schema_fantasy_spark.compiler import ir
from schema_fantasy_spark.compiler.ir import SchemaCompileError, json_repr
from schema_fantasy_spark.errors import COMPOUND, SINGLE, VALUES, Err

#: The kernel's nesting budget: it looks inside containers at most this
#: many levels below the document root. A deeper document raises
#: NestingError (the dynamic mode quarantines it as one '$depth' row), so
#: a hostile document cannot exhaust the Python stack. A schema whose
#: nodes each cost several frames per level may still run out of stack
#: first; that RecursionError is quarantined the same way.
MAX_DEPTH = 512


class NestingError(RecursionError):
    """A document nests deeper than MAX_DEPTH levels."""


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


def canonical(v: Any):
    """Hashable type-tagged canonical form for JSON deep equality
    (R.equals semantics: 1 == 1.0 but 1 != true != '1')."""
    t = _TYPES.get(v.__class__) or type_of(v)
    if t == "number":
        return ("n", float(v))
    if t == "array":
        return ("a", tuple(canonical(x) for x in v))
    if t == "object":
        return ("o", tuple(sorted((k, canonical(x)) for k, x in v.items())))
    return (t[0], v)


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


def _deep():
    raise NestingError(f"document nests deeper than {MAX_DEPTH} levels")


def _vacuous(v, d):
    return None


#: the names generated source may use besides its own functions/constants
_RUNTIME = {
    "_Err": Err, "_T": _TYPES, "_type_of": type_of, "_isint": is_integer,
    "_canon": canonical, "_json": json_repr, "_ulen": ulength, "_add": _add,
    "_cat": _cat, "_at": _at, "_props_msg": ir.props_message,
    "_unique_msg": ir.unique_message, "_deep": _deep, "_vacuous": _vacuous, "_re": re,
}


@functools.lru_cache(maxsize=128)
def load_kernel(source: str) -> Callable[[Any, int], Optional[List[Err]]]:
    """The root function of generated ``source``, executed once per
    process and cached by the source text."""
    ns = dict(_RUNTIME)
    exec(compile(source, "<schema kernel>", "exec"), ns)
    return ns["kernel"]


class CompiledSchema:
    """A compiled constraint plan. ``validate(value)`` returns the
    accumulated error list (empty = valid), mirroring the reference's
    ``Validation`` applicative (index.js:60-62). ``source`` is the
    generated kernel."""

    def __init__(self, source: str, schema: Any, refs: Dict[str, Any]):
        self.source = source
        self.schema = schema
        self.refs = refs
        self._kernel = load_kernel(source)

    def validate(self, value: Any) -> List[Err]:
        return self._kernel(value, 0) or []

    def is_valid(self, value: Any) -> bool:
        return not self._kernel(value, 0)


def compile_schema(
    schema: Any,
    refs: Optional[Dict[str, Any]] = None,
    base: str = "",
) -> CompiledSchema:
    """Compile ``schema`` (its $refs resolved against ``refs``) into a
    CompiledSchema. Raises CyclicRefError / UnknownResourceError /
    SchemaCompileError at plan time.
    """
    refs = refs or {}
    return CompiledSchema(generate_source(schema, refs, base), schema, refs)


def generate_source(schema: Any, refs: Optional[Dict[str, Any]] = None,
                    base: str = "") -> str:
    """Python source of the kernel validating ``schema``: one function
    ``f<n>(v, d)`` per schema node (``d`` is the value's nesting depth)
    returning ``None`` or a non-empty error list, and ``kernel``, the
    root. The same schema always yields the same text."""
    return _Generator().run(ir.lower(schema, refs, base))


def null_errors(node: ir.Node) -> List[Err]:
    """The errors a JSON ``null`` yields under IR ``node``, from the
    kernel generated for that node. A null has no children, so every
    error sits at the null's own path."""
    return load_kernel(_Generator().run(node))(None, 0) or []


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


@dataclass
class _Block:
    """The source lines of one check, run when the value's JSON type
    ``t`` is ``guard`` (always when None); ``descends`` if they call
    children at depth ``d1``, ``typed`` if they read ``t`` unguarded."""

    guard: Optional[str]
    lines: List[str]
    descends: bool = False
    typed: bool = False


class _Generator:
    def __init__(self):
        #: IR node -> function name, None for a node without checks
        self.memo: Dict[ir.Node, Optional[str]] = {}
        self.n_funcs = 0
        self.consts: Dict[str, str] = {}  # literal expression -> name
        self.funcs: List[str] = []

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
        """Name of the compiled regex constant of a pattern."""
        return self.const(f"_re.compile({rx.python.pattern!r}, {rx.python.flags})")

    def node(self, node: ir.Node) -> Optional[str]:
        """Name of the function validating ``node``; None if it never fails."""
        if node is ir.ANY:
            return None
        if node in self.memo:
            return self.memo[node]  # done, or in progress (a recursive $ref)
        name = self.memo[node] = f"f{self.n_funcs}"
        self.n_funcs += 1
        blocks = [b for b in (self.HANDLERS[type(c)](self, c) for c in node.checks)
                  if b is not None]
        if not blocks:
            # later callers skip the node; a recursive $ref met while it
            # was in progress may already call it by name
            self.memo[node] = None
            self.funcs.append(f"{name} = _vacuous\n")
            return None
        lines = [f"def {name}(v, d):", "    e = None"]
        if any(b.guard or b.typed for b in blocks):
            lines.append("    t = _T.get(v.__class__) or _type_of(v)")
        for guard, group in itertools.groupby(blocks, key=lambda b: b.guard):
            group, pad = list(group), "    "
            if guard is not None:
                lines.append(f"    if t == {guard!r}:")
                pad = "        "
            if any(b.descends for b in group):
                lines += [pad + "d1 = d + 1", pad + f"if d1 > {MAX_DEPTH}: _deep()"]
            lines += [pad + line for b in group for line in b.lines]
        lines.append("    return e")
        self.funcs.append("\n".join(lines) + "\n")
        return name

    # -------------------------------------------------------------- checks
    # each: the block of one IR check, None for a check that never fails

    def type_(self, c: ir.Type) -> _Block:
        ok = f"t in {self.const(f'frozenset({_lit(list(c.types))})')}"
        if c.integer and "number" not in c.types:
            ok += " or (t == 'number' and _isint(v))"
        return _Block(None, [f"if not ({ok}):",
                             "    " + _add_err(VALUES, c.keyword, repr(c.message), "()",
                                               repr(c.expected), "t")], typed=True)

    def enum(self, c: ir.Enum) -> _Block:
        allowed = self.const(f"frozenset(map(_canon, {_lit(list(c.values))}))")
        # a str's canonical form is ('s', str): test strs directly
        strs = self.const(f"frozenset({_lit([x for x in c.values if isinstance(x, str)])})")
        miss = f"v not in {strs} if v.__class__ is str else _canon(v) not in {allowed}"
        return _Block(None, [f"if {miss}:",
                             "    " + _add_err(VALUES, c.keyword, repr(c.message), "()",
                                               repr(c.expected), "_json(v)")])

    @staticmethod
    def _single(guard: str, ok: str, c: ir.Check) -> _Block:
        """A check failing with its fixed message when ``ok`` is false."""
        return _Block(guard, [f"if not {ok}:",
                              "    " + _add_err(SINGLE, c.keyword, repr(c.message))])

    def bound(self, c: ir.Bound) -> _Block:
        op = (">" if c.is_min else "<") + ("" if c.exclusive else "=")
        return self._single("number", f"v {op} {_lit(c.number)}", c)

    def multiple_of(self, c: ir.MultipleOf) -> _Block:
        ok = f"(v / {_lit(c.divisor)}) % 1 == 0"  # float semantics, IEEE754 like JS
        if isinstance(c.divisor, int):
            ok = f"(v % {_lit(c.divisor)} == 0 if isinstance(v, int) else {ok})"
        return self._single("number", ok, c)

    def size(self, c: ir.Size) -> _Block:
        n = "_ulen(v)" if c.guard == "string" else "len(v)"
        return self._single(c.guard, f"{n} {'>=' if c.is_min else '<='} {_lit(c.limit)}", c)

    def pattern(self, c: ir.Pattern) -> _Block:
        return self._single("string", f"{self.regex(c.regex)}.search(v)", c)

    def unique_items(self, c: ir.UniqueItems) -> Optional[_Block]:
        if not c.unique:
            return None
        return _Block("array", [
            "n = len(v) - len({_canon(x) for x in v})",
            "if n:",
            "    " + _add_err(SINGLE, c.keyword, "_unique_msg(n)")])

    def required(self, c: ir.Required) -> Optional[_Block]:
        lines = []
        for name, msg in zip(c.names, c.messages):
            lines += [f"if {_lit(name)} not in v:",
                      "    " + _add_err(SINGLE, c.keyword, repr(msg))]
        return _Block("object", lines) if lines else None

    def properties(self, c: ir.Properties) -> Optional[_Block]:
        lines = []
        for key, sub in c.entries:
            fn = self.node(sub)
            if fn is not None:  # absent keys vacuously pass
                lines += [f"if {_lit(key)} in v:",
                          f"    r = {fn}(v[{_lit(key)}], d1)",
                          f"    if r: e = _cat(e, _at(r, {_lit(key)}))"]
        return _Block("object", lines, True) if lines else None

    def pattern_properties(self, c: ir.PatternProperties) -> Optional[_Block]:
        lines = []
        for regex, sub in c.entries:
            rx, fn = self.regex(regex), self.node(sub)
            if fn is not None:
                lines += [f"for k in filter({rx}.search, v):",
                          f"    r = {fn}(v[k], d1)",
                          "    if r: e = _cat(e, _at(r, k))"]
        return _Block("object", lines, True) if lines else None

    def additional_properties(self, c: ir.AdditionalProperties) -> Optional[_Block]:
        if c.additional is True:
            return None
        known = self.const(f"frozenset({_lit(list(c.known))})")
        extra = f"k not in {known}" + "".join(
            f" and not {self.regex(p)}.search(k)" for p in c.patterns)
        if c.additional is False:
            return _Block("object", [
                f"if not v.keys() <= {known}:",
                f"    a = [k for k in v if {extra}]",
                "    if a: " + _add_err(SINGLE, c.keyword, "_props_msg('found', a)")])
        fn = self.node(c.additional)
        if fn is None:
            return None
        # object schema: validate each additional prop via focusValue
        return _Block("object", [
            f"if not v.keys() <= {known}:",
            "    a = c = None",
            "    for k in v:",
            f"        if {extra}:",
            f"            r = {fn}(v[k], d1)",
            "            if r:",
            "                a = _add(a, k)",
            "                c = _cat(c, _at(r, k))",
            "    if a: " + _add_err(COMPOUND, c.keyword, "_props_msg('invalid', a)",
                                    children="c")], True)

    def items(self, c: ir.Items) -> Optional[_Block]:
        fn = self.node(c.node)
        if fn is None:
            return None
        return _Block("array", ["for i, x in enumerate(v):",
                                f"    r = {fn}(x, d1)",
                                "    if r: e = _cat(e, _at(r, i))"], True)

    def tuple_items(self, c: ir.TupleItems) -> Optional[_Block]:
        lines = []
        for i, sub in enumerate(c.nodes):
            fn = self.node(sub)
            if fn is not None:
                lines += [f"if len(v) > {i}:",
                          f"    r = {fn}(v[{i}], d1)",
                          f"    if r: e = _cat(e, _at(r, {i}))"]
        n = len(c.nodes)
        if c.additional is False:
            lines += [f"for i in range({n}, len(v)):",
                      "    " + _add_err(SINGLE, c.keyword, repr(c.message), "(i,)")]
        elif c.additional is not True:
            fn = self.node(c.additional)
            if fn is not None:
                lines += [f"for i in range({n}, len(v)):",
                          f"    r = {fn}(v[i], d1)",
                          "    if r: e = _cat(e, _at(r, i))"]
        return _Block("array", lines, True) if lines else None

    def dependencies(self, c: ir.Dependencies) -> Optional[_Block]:
        lines = []
        for dep in c.entries:
            key = _lit(dep.key)
            if isinstance(dep, ir.DependentSchema):
                fn = self.node(dep.node)
                if fn is not None:  # whole value re-validated, same path
                    lines += [f"if {key} in v:",
                              f"    r = {fn}(v, d)",
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
        return _Block("object", lines) if lines else None

    def all_of(self, c: ir.AllOf) -> Optional[_Block]:
        fns = [fn for fn in map(self.node, c.nodes) if fn is not None]
        if not fns:
            return None
        lines = ["c = None"]
        for fn in fns:
            lines += [f"r = {fn}(v, d)", "if r: c = _cat(c, r)"]
        lines.append("if c: " + _add_err(COMPOUND, c.keyword, repr(c.message), children="c"))
        return _Block(None, lines)

    def any_of(self, c: ir.AnyOf) -> Optional[_Block]:
        fns = [self.node(n) for n in c.nodes]
        if not fns or None in fns:  # vacuous truth (reference src/v4/anyOf.js:25)
            return None
        # c holds the failures so far; None once a branch passed
        lines = [f"c = {fns[0]}(v, d)"]
        for fn in fns[1:]:
            lines += ["if c:", f"    r = {fn}(v, d)", "    c = _cat(c, r) if r else None"]
        lines.append("if c: " + _add_err(COMPOUND, c.keyword, repr(c.message), children="c"))
        return _Block(None, lines)

    def one_of(self, c: ir.OneOf) -> _Block:
        fns = [self.node(n) for n in c.nodes]
        # n counts passing branches; past two the verdict cannot change
        lines = ["c = None", f"n = {sum(fn is None for fn in fns)}"]
        for fn in fns:
            if fn is not None:
                lines += ["if n < 2:", f"    r = {fn}(v, d)",
                          "    if r: c = _cat(c, r)", "    else: n += 1"]
        lines += ["if n == 0: " + _add_err(COMPOUND, c.keyword, repr(c.message),
                                           children="c or []"),
                  "elif n > 1: " + _add_err(SINGLE, c.keyword, repr(c.too_many))]
        return _Block(None, lines)

    def not_(self, c: ir.Not) -> _Block:
        fn = self.node(c.node)
        lines = [_add_err(SINGLE, c.keyword, repr(c.message))]
        if fn is not None:
            lines = [f"if not {fn}(v, d):", "    " + lines[0]]
        return _Block(None, lines)

    #: IR check kind -> the method generating its block
    HANDLERS: Dict[type, Callable] = {
        ir.Type: type_, ir.Enum: enum, ir.Bound: bound, ir.MultipleOf: multiple_of,
        ir.Size: size, ir.Pattern: pattern, ir.UniqueItems: unique_items,
        ir.Required: required, ir.Properties: properties,
        ir.PatternProperties: pattern_properties,
        ir.AdditionalProperties: additional_properties, ir.Items: items,
        ir.TupleItems: tuple_items, ir.Dependencies: dependencies, ir.AllOf: all_of,
        ir.AnyOf: any_of, ir.OneOf: one_of, ir.Not: not_,
    }
