"""Columnar constraint compiler — the 100 TB execution path.

Translates the checks of the keyword IR (``compiler/ir.py``, where the
keyword semantics and wording live) ONCE, at plan time, against a typed
DataFrame schema, emitting one flat DAG of native Spark ``Column``
expressions: an ``errors: array<struct>`` column whose construction
evaluates EVERY check (no AND-chain short-circuit), mirroring the
reference's applicative accumulation (reference index.js:56-63) — a value
failing type + minLength + pattern yields all three error structs.

Design rules (SURVEY.md §1.4, §2):

* all checks are native ``pyspark.sql.functions`` expressions — they stay
  inside whole-stage codegen; there is NO Python in this path;
* the per-value cursor (reference src/context.js) does not exist: value
  paths are literal ``array<string>`` columns, extended with runtime array
  indices inside ``transform`` lambdas;
* every keyword keeps its universal type guard, but with static types most
  guards resolve at COMPILE time: a ``pattern`` on a numeric column is
  elided as vacuously true (reference src/v4/pattern.js:16 semantics);
* NULL column value ≡ absent property: ``required`` fails it
  (reference src/v4/required.js:18-24), every other keyword passes it
  vacuously (``properties`` never recurses into absent keys,
  reference src/v4/properties.js:13-27).

Engine extensions over the reference model (documented):
* ``minimum``/``maximum`` accept timestamp/date columns (bounds coerced);
* ``type`` may name the non-JSON types 'timestamp'/'date'/'binary';
* string lengths are raw code points: the columnar path does not NFC
  normalize (reference src/ulength.js:9-17); the dynamic mode does, and
  is the exact path for corpora with decomposed sequences. A length check
  is decided by the byte length ``b`` (``octet_length``, a stored count)
  where it can be: a code point is 1 to 4 bytes, so only a string with
  ``b`` between ``k`` and ``4k`` counts its code points (Spark ``length``,
  a walk of every byte).

The checks keep no keyword semantics of their own: each translates its
IR record, and the errors a JSON ``null`` yields (an array element or map
value, see :func:`_emit_json`) come from the kernel generated for the
node (``compiler/plan.py`` ``null_errors``).
"""

from __future__ import annotations

import math
from typing import Any, Callable, Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F, types as T

from schema_fantasy_spark.columns import column
from schema_fantasy_spark.compiler import ir
from schema_fantasy_spark.compiler.ir import SchemaCompileError
from schema_fantasy_spark.compiler.plan import null_errors
from schema_fantasy_spark.errors import ERRORS_SCHEMA

ERRORS_DDL = ERRORS_SCHEMA.simpleString()


def _empty_errors() -> Column:
    return F.array().cast(ERRORS_DDL)


def _err_struct(
    path: Column,
    keyword: str,
    message: Column,
    expected: Optional[Column] = None,
    actual: Optional[Column] = None,
    depth: int = 0,
) -> Column:
    return F.struct(
        path.alias("path"),
        F.lit(keyword).alias("keyword"),
        message.alias("message"),
        (expected if expected is not None else F.lit(None).cast("string")).alias("expected"),
        (actual if actual is not None else F.lit(None).cast("string")).alias("actual"),
        F.lit(depth).alias("depth"),
    )


def _leaf(violated: Column, err: Column) -> Column:
    """One leaf check -> 0-or-1-element error array."""
    return F.when(violated, F.array(err)).otherwise(_empty_errors())


def _concat_errors(parts: Sequence[Column]) -> Column:
    parts = [p for p in parts if p is not None]
    if not parts:
        return _empty_errors()
    if len(parts) == 1:
        return parts[0]
    return F.concat(*parts)


def _bump_depth(errors: Column) -> Column:
    return F.transform(
        errors,
        lambda e: F.struct(
            e["path"].alias("path"),
            e["keyword"].alias("keyword"),
            e["message"].alias("message"),
            e["expected"].alias("expected"),
            e["actual"].alias("actual"),
            (e["depth"] + 1).alias("depth"),
        ),
    )


def _compound(
    failed: Column, path: Column, keyword: str, message: Column, children: Column
) -> Column:
    """Parent entry + depth-bumped children when ``failed``."""
    parent = F.struct(
        path.alias("path"),
        F.lit(keyword).alias("keyword"),
        message.alias("message"),
        F.lit(None).cast("string").alias("expected"),
        F.lit(None).cast("string").alias("actual"),
        F.lit(0).alias("depth"),
    )
    return F.when(failed, F.concat(F.array(parent), _bump_depth(children))).otherwise(
        _empty_errors()
    )


def _emit_json(sub: Callable, node: ir.Node, value: Column, dtype: T.DataType,
               path: Column) -> Column:
    """``sub``, the emitter of IR ``node``, over an array element or map
    value. ``sub`` reads a NULL as an absent property, which every
    keyword passes; here a NULL is a JSON null that is present, so it
    yields the errors the kernel gives a null under ``node``, all at the
    value's own path."""
    nulls = [
        _err_struct(path, err.keyword, F.lit(err.message), F.lit(err.expected).cast("string"),
                    F.lit(err.actual).cast("string"), depth)
        for top in null_errors(node) for err, depth in top.flatten()
    ]
    return F.when(
        value.isNull(), F.array(*nulls) if nulls else _empty_errors()
    ).otherwise(sub(value, dtype, path))


# ----------------------------------------------------------- type utilities


_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType, T.DecimalType)


#: Spark dtype classes -> their JSON type; timestamp/date/binary extend JSON
_JSON_TYPES = (
    (T.NullType, "null"), (T.BooleanType, "boolean"), (_INT_TYPES + _FLOAT_TYPES, "number"),
    (T.StringType, "string"), (T.ArrayType, "array"), ((T.StructType, T.MapType), "object"),
    (T.TimestampType, "timestamp"), (T.DateType, "date"), (T.BinaryType, "binary"),
)


def json_type_of(dtype: T.DataType) -> str:
    """Static JSON type of a Spark dtype (mirror of the reference's dynamic
    typeOf, reference src/v4/type.js:12, resolved at compile time)."""
    return next((name for cls, name in _JSON_TYPES if isinstance(dtype, cls)), "unknown")


def _is_integral(dtype: T.DataType) -> bool:
    return isinstance(dtype, _INT_TYPES)


def _is_numeric(dtype: T.DataType) -> bool:
    return isinstance(dtype, _INT_TYPES + _FLOAT_TYPES)


# ------------------------------------------------------------- the compiler


def compile_columnar(schema: Any, refs: Optional[Dict[str, Any]] = None) -> "ColumnarPlan":
    """Compile ``schema`` into a ColumnarPlan applicable to any DataFrame
    whose schema the plan's keywords can bind to. $refs resolved at compile
    time (cycle -> raise, reference src/context.js:24-26 semantics).

    Note: unlike the dynamic mode, the columnar compiler rejects
    *recursive* schemas (a $ref cycle through properties/items) — a flat
    expression DAG cannot express unbounded recursion. Those route to the
    dynamic mode.
    """
    return ColumnarPlan(_Translator().node(ir.lower(schema, refs)))


class _Translator:
    """IR nodes -> emitters, each check by its ``_EMITTERS`` entry."""

    def __init__(self):
        self.in_progress: set = set()

    def node(self, node: ir.Node) -> Callable:
        if node in self.in_progress:
            raise SchemaCompileError("recursive schema cannot compile to a flat column DAG; "
                                     "use the dynamic (Arrow-batched) mode")
        self.in_progress.add(node)
        try:
            emitters = [_EMITTERS[type(c)](c, self) for c in node.checks]
        finally:
            self.in_progress.discard(node)

        def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
            return _concat_errors([em(value, dtype, path) for em in emitters])

        return emit


class ColumnarPlan:
    """A compiled constraint plan bound lazily to a DataFrame."""

    def __init__(self, root: Callable):
        self._root = root
        #: input struct type (JSON: field order, types, nullability) ->
        #: its errors Column
        self._bound: Dict[str, Column] = {}

    def errors_column(self, df: DataFrame) -> Column:
        """The ``errors`` array<struct> expression for ``df``'s rows.

        The row value is the struct of all columns (the JSON object).
        Built once per input struct type: every ``F.*`` call is a py4j
        round trip, and the Column, made of unresolved column references,
        binds to any frame of that type.
        """
        key = df.schema.json()
        errors = self._bound.get(key)
        if errors is None:
            value = F.struct(*[column(f.name) for f in df.schema.fields])
            dtype = T.StructType(df.schema.fields)
            errors = self._bound[key] = self._root(value, dtype, F.array().cast("array<string>"))
        return errors


# ------------------------------------------------------------- check emit
# One function per IR check kind: (check, translator) -> emit(value, dtype,
# path) -> errors array. Every keyword keeps its type guard, resolved
# against the bound dtype at bind time.


def _say(words: tuple, n: Column, names: Optional[Column] = None) -> Column:
    """The message of IR ``words`` for a runtime count ``n`` and name
    array ``names`` (see ``ir.say``)."""
    return F.concat(*[
        F.lit(w) if isinstance(w, str)
        else F.when(n == 1, F.lit(w.one)).otherwise(F.lit(w.many)) if isinstance(w, ir.Plural)
        else n.cast("string") if w is ir.COUNT
        else _human_list_col("and", names)
        for w in words
    ])


def _ck_type(c: ir.Type, tr: _Translator):
    tset = set(c.types)

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        actual = json_type_of(dtype)
        if actual in tset or (actual == "number" and c.integer and _is_integral(dtype)):
            return _empty_errors()
        if actual == "number" and c.integer:
            # runtime integrality check on a float column
            err = _err_struct(path, c.keyword, F.lit(c.message), F.lit(c.expected),
                              F.lit("number"))
            return _leaf(value.isNotNull() & (value != F.floor(value)), err)
        # statically wrong type: every non-null value fails
        err = _err_struct(path, c.keyword, F.lit(c.message), F.lit(c.expected), F.lit(actual))
        return _leaf(value.isNotNull(), err)

    return emit


#: closed integral ranges per Spark type, for ANSI-safe literal coercion
_INTEGRAL_RANGES = {
    "ByteType": (-(1 << 7), (1 << 7) - 1),
    "ShortType": (-(1 << 15), (1 << 15) - 1),
    "IntegerType": (-(1 << 31), (1 << 31) - 1),
    "LongType": (-(1 << 63), (1 << 63) - 1),
}


def _typed_literal(x: Any, dtype: T.DataType) -> Optional[Column]:
    """Coerce a JSON enum value into a Column literal of exactly ``dtype``.

    Returns None when the value is not representable in the column's type —
    no value of that column could deep-equal it (reference src/v4/enum.js:25
    ``R.equals``: booleans never equal numbers, strings never equal numbers).
    Numeric coercion implements the 1 == 1.0 deep-equality the dynamic
    kernel already has (compiler/plan.py ``canonical``)."""
    if x is None:
        return F.lit(None).cast(dtype)
    if isinstance(x, bool):
        return F.lit(x) if isinstance(dtype, T.BooleanType) else None
    if isinstance(x, (int, float)):
        if not _is_numeric(dtype):
            return None
        if _is_integral(dtype):
            if isinstance(x, float) and not x.is_integer():
                return None
            # range-check BEFORE casting: under ANSI mode an out-of-range
            # literal cast throws CAST_OVERFLOW and kills the job; the
            # correct semantics is "no value of this type can equal it"
            lo, hi = _INTEGRAL_RANGES.get(type(dtype).__name__, (None, None))
            iv = int(x)
            if lo is not None and not (lo <= iv <= hi):
                return None
            return F.lit(iv).cast(dtype)
        try:
            fv = float(x)
        except OverflowError:
            return None  # JSON int beyond double range matches nothing
        if isinstance(dtype, T.DecimalType):
            # ANSI decimal cast throws NUMERIC_VALUE_OUT_OF_RANGE instead
            # of returning null — range-check driver-side first
            if not abs(fv) < float(10 ** (dtype.precision - dtype.scale)):
                return None
        return F.lit(fv).cast(dtype)
    if isinstance(x, str):
        if isinstance(dtype, T.StringType):
            return F.lit(x)
        if isinstance(dtype, (T.DateType, T.TimestampType)):
            # engine extension mirrors _ck_bound: JSON carries dates as
            # strings, so a string literal compares against a typed
            # date/timestamp column; unparseable strings match nothing
            # (try_cast -> NULL literal; <=> against a non-null value is
            # false, and NULL values pass the enum vacuously anyway)
            return F.lit(x).try_cast(dtype)
        return None
    if isinstance(x, list):
        if not isinstance(dtype, T.ArrayType):
            return None
        elems = [_typed_literal(e, dtype.elementType) for e in x]
        if any(e is None for e in elems):
            return None
        if not elems:
            return F.expr("array()").cast(dtype)
        return F.array(*elems)
    if isinstance(x, dict):
        if isinstance(dtype, T.StructType):
            names = {f.name for f in dtype.fields}
            if any(k not in names for k in x):
                return None  # property the type cannot hold
            parts = []
            for f in dtype.fields:
                if f.name in x:
                    c = _typed_literal(x[f.name], f.dataType)
                    if c is None:
                        return None
                else:
                    c = F.lit(None).cast(f.dataType)  # absent ≡ NULL field
                parts.append(c.alias(f.name))
            return F.struct(*parts)
        if isinstance(dtype, T.MapType):
            if not isinstance(dtype.keyType, T.StringType):
                return None
            vals = [_typed_literal(v, dtype.valueType) for v in x.values()]
            if any(v is None for v in vals):
                return None
            if not vals:
                return F.expr("map()").cast(dtype)
            return F.map_from_arrays(
                F.array(*[F.lit(k) for k in x.keys()]), F.array(*vals)
            )
        return None
    return None


def _contains_map(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.MapType):
        return True
    if isinstance(dtype, T.ArrayType):
        return _contains_map(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_contains_map(f.dataType) for f in dtype.fields)
    return False


def _sorted_maps(col: Column, dtype: T.DataType) -> Column:
    """Rewrite every map in the value as a key-sorted entries array so
    ``to_json`` renders a canonical form (map iteration order is not)."""
    if isinstance(dtype, T.MapType):
        entries = F.array_sort(
            F.map_entries(col),
            lambda a, b: F.when(a["key"] < b["key"], -1)
            .when(a["key"] > b["key"], 1)
            .otherwise(0),
        )
        return F.transform(
            entries,
            lambda e: F.struct(
                e["key"].alias("key"),
                _sorted_maps(e["value"], dtype.valueType).alias("value"),
            ),
        )
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda e: _sorted_maps(e, dtype.elementType))
    if isinstance(dtype, T.StructType):
        inner = F.struct(
            *[_sorted_maps(col[f.name], f.dataType).alias(f.name) for f in dtype.fields]
        )
        # keep NULL structs NULL (a struct of NULL fields renders differently)
        return F.when(col.isNotNull(), inner)
    return col


def _ck_enum(c: ir.Enum, tr: _Translator):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        # each enum literal is coerced into the column's exact dtype at
        # compile time; comparison is then structural (1 == 1.0 holds, and
        # struct-field order is the type's, not the JSON text's). Types
        # containing maps are not directly comparable in Spark — those
        # compare via to_json after canonical map-entry sorting. The
        # value-side canonicalization appears ONCE (array_contains over
        # the literal JSONs, which Catalyst constant-folds): HOF exprs get
        # no common-subexpression elimination, so K eqNullSafe copies
        # would re-sort the row's maps K times.
        lits = [_typed_literal(x, dtype) for x in c.values]
        lits = [x for x in lits if x is not None]
        if not lits:
            ok = F.lit(False)
        elif _contains_map(dtype):
            lit_jsons = F.array(*[F.to_json(_sorted_maps(x, dtype)) for x in lits])
            ok = F.coalesce(
                F.array_contains(lit_jsons, F.to_json(_sorted_maps(value, dtype))),
                F.lit(False),
            )
        else:
            ok = F.lit(False)
            for x in lits:
                ok = ok | value.eqNullSafe(x)
        err = _err_struct(path, c.keyword, F.lit(c.message), F.lit(c.expected),
                          value.cast("string"))
        return _leaf(value.isNotNull() & ~ok, err)

    return emit


def _ck_bound(c: ir.Bound, tr: _Translator):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if _is_numeric(dtype):
            bound = F.lit(c.number)
        elif isinstance(dtype, (T.TimestampType, T.DateType)):
            bound = F.lit(c.limit).cast(dtype)  # engine extension
        else:
            return _empty_errors()
        if _is_numeric(dtype) and math.isnan(c.number):
            ok = F.lit(False)  # Spark orders NaN above every number
        elif c.is_min:
            ok = value > bound if c.exclusive else value >= bound
        else:
            ok = value < bound if c.exclusive else value <= bound
        err = _err_struct(path, c.keyword, F.lit(c.message))
        return _leaf(value.isNotNull() & ~ok, err)

    return emit


def _ck_multiple_of(c: ir.MultipleOf, tr: _Translator):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not _is_numeric(dtype):
            return _empty_errors()
        if _is_integral(dtype) and isinstance(c.divisor, int):
            ok = value % F.lit(c.divisor) == 0
        else:
            ok = (value.cast("double") / F.lit(float(c.divisor))) % 1 == 0
        err = _err_struct(path, c.keyword, F.lit(c.message))
        return _leaf(value.isNotNull() & ~ok, err)

    return emit


#: No Spark string (in bytes), array or map reaches 2^31 elements, so a
#: size limit above it decides as 2^31 does; the cap keeps every size
#: literal a long (a limit of 2^63 or more is no Spark literal at all).
_SIZE_CAP = 2**31


def _size_limit(c: ir.Size) -> int:
    """``c.limit`` as a Spark literal, capped at :data:`_SIZE_CAP`."""
    return min(c.limit, _SIZE_CAP)


def _ck_size(c: ir.Size, tr: _Translator):
    """min/maxLength over strings, min/maxItems over arrays and
    min/maxProperties over structs (non-null fields) and maps."""
    k = _size_limit(c)

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if c.guard == "string" and isinstance(dtype, T.StringType):
            n = None  # _length_violates decides from the byte length first
        elif c.guard == "array" and isinstance(dtype, T.ArrayType):
            n = F.size(value)
        elif c.guard == "object" and isinstance(dtype, T.MapType):
            n = F.size(F.map_keys(value))
        elif c.guard == "object" and isinstance(dtype, T.StructType):
            # present properties = non-null fields (NULL ≡ absent)
            n = sum((F.when(value[f.name].isNotNull(), 1).otherwise(0) for f in dtype.fields),
                    start=F.lit(0))
        else:
            return _empty_errors()
        if n is None:
            violated = _length_violates(value, k, c.is_min)
        else:
            violated = ~(n >= k if c.is_min else n <= k)
        err = _err_struct(path, c.keyword, F.lit(c.message))
        return _leaf(value.isNotNull() & violated, err)

    return emit


def _length_violates(value: Column, k: int, is_min: bool) -> Column:
    """``length(value) < k`` (min) or ``> k`` (max), decided by the byte
    length where it can be. Spark's ``length`` walks every byte, while
    ``octet_length`` reads a stored count. Spark reads each code point as
    1 to 4 bytes (an invalid byte as a 1-byte one), so ``ceil(b/4) <=
    length <= b``, and only a string with ``k <= b < 4k`` (min) or ``k < b
    <= 4k`` (max) walks its bytes: And/Or short-circuit in codegen."""
    b = F.octet_length(value)
    wide = min(4 * k, _SIZE_CAP)  # octet_length stays below it
    if is_min:
        return (b < k) | ((b < wide) & (F.length(value) < k))
    return (b > wide) | ((b > k) & (F.length(value) > k))


def _ck_pattern(c: ir.Pattern, tr: _Translator):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not isinstance(dtype, T.StringType):
            return _empty_errors()
        # rlike = java.util.regex find -> unanchored, like JS RegExp.test
        err = _err_struct(path, c.keyword, F.lit(c.message))
        return _leaf(value.isNotNull() & ~value.rlike(c.regex.java), err)

    return emit


def _has_float(dtype: T.DataType) -> bool:
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return True
    if isinstance(dtype, T.ArrayType):
        return _has_float(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_has_float(f.dataType) for f in dtype.fields)
    return False


def _positive_zeros(col: Column, dtype: T.DataType) -> Column:
    """Every float of the value with -0.0 rewritten to 0.0 (``x + 0.0``):
    JSON deep equality, like the kernel's, holds -0.0 == 0.0, but
    ``array_distinct`` keeps both."""
    if not _has_float(dtype):
        return col
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return col + F.lit(0.0).cast(dtype)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda e: _positive_zeros(e, dtype.elementType))
    inner = F.struct(
        *[_positive_zeros(col[f.name], f.dataType).alias(f.name) for f in dtype.fields]
    )
    return F.when(col.isNotNull(), inner)


def _ck_unique_items(c: ir.UniqueItems, tr: _Translator):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not isinstance(dtype, T.ArrayType) or not c.unique:
            return _empty_errors()
        ndup = F.size(value) - F.size(F.array_distinct(_positive_zeros(value, dtype)))
        err = _err_struct(path, c.keyword, _say(c.words, ndup))
        return _leaf(value.isNotNull() & (ndup > 0), err)

    return emit


def _required_in_map(c: ir.Required, m: Column, path: Column) -> Column:
    return _concat_errors([
        _leaf(m.isNotNull() & ~F.map_contains_key(m, req), _err_struct(path, c.keyword, F.lit(msg)))
        for req, msg in zip(c.names, c.messages)])


def _ck_required(c: ir.Required, tr: _Translator):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if isinstance(dtype, T.MapType):
            return _required_in_map(c, value, path)
        if not isinstance(dtype, T.StructType):
            return _empty_errors()
        fields = {f.name for f in dtype.fields}
        return _concat_errors([
            _leaf(value.isNotNull() & value[req].isNull() if req in fields else value.isNotNull(),
                  _err_struct(path, c.keyword, F.lit(msg)))
            for req, msg in zip(c.names, c.messages)])

    return emit


def _field_errors(value: Column, name: str, child: Column) -> Column:
    """``child`` for struct field ``name``: a NULL struct or field is an
    absent property, on which no keyword runs (a compound like 'not'
    would otherwise fail on it)."""
    return F.when(value.isNull() | value[name].isNull(), _empty_errors()).otherwise(child)


def _at_key(path: Column, key) -> Column:
    return F.concat(path, F.array(F.lit(key) if isinstance(key, str) else key))


def _ck_properties(c: ir.Properties, tr: _Translator):
    subs = [(key, node, tr.node(node)) for key, node in c.entries]

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if isinstance(dtype, T.StructType):
            fields = {f.name: f.dataType for f in dtype.fields}
            # an absent property vacuously passes
            return _concat_errors([
                _field_errors(value, key, sub(value[key], fields[key], _at_key(path, key)))
                for key, _, sub in subs if key in fields])
        if isinstance(dtype, T.MapType):
            return _concat_errors([
                F.when(value.isNull() | ~F.map_contains_key(value, key), _empty_errors())
                .otherwise(_emit_json(sub, node, value.getItem(key), dtype.valueType,
                                      _at_key(path, key)))
                for key, node, sub in subs])
        return _empty_errors()

    return emit


def _ck_pattern_properties(c: ir.PatternProperties, tr: _Translator):
    subs = [(regex, node, tr.node(node)) for regex, node in c.entries]

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if isinstance(dtype, T.StructType):
            # cross-product regex x static field names, resolved at compile time
            return _concat_errors([
                _field_errors(value, f.name, sub(value[f.name], f.dataType,
                                                      _at_key(path, f.name)))
                for regex, _, sub in subs for f in dtype.fields if regex.python.search(f.name)])
        if isinstance(dtype, T.MapType):
            return _concat_errors([
                F.when(value.isNull(), _empty_errors()).otherwise(F.flatten(F.transform(
                    F.map_entries(F.map_filter(value, lambda k, _v: k.rlike(regex.java))),
                    lambda e: _emit_json(sub, node, e["value"], dtype.valueType,
                                         _at_key(path, e["key"])))))
                for regex, node, sub in subs])
        return _empty_errors()

    return emit


def _invalid_keys(c: ir.AdditionalProperties, keys: Column, child: Callable,
                  path: Column) -> Column:
    """additionalProperties' compound error over the runtime ``keys``;
    ``child(k)`` is the errors of key k's value."""
    child_arrays = F.transform(keys, child)
    children = F.flatten(child_arrays)
    fail_keys = F.filter(
        F.zip_with(keys, child_arrays, lambda k, errs: F.when(F.size(errs) > 0, k)),
        lambda x: x.isNotNull(),
    )
    nf = F.size(fail_keys)
    return _compound(nf > 0, path, c.keyword, _say(c.invalid, nf, fail_keys), children)


def _ck_additional_properties(c: ir.AdditionalProperties, tr: _Translator):
    sub = tr.node(c.additional) if isinstance(c.additional, ir.Node) else None

    def is_additional(name: str) -> bool:
        return name not in c.known and not any(rx.python.search(name) for rx in c.patterns)

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if c.additional is True:
            return _empty_errors()
        if isinstance(dtype, T.StructType):
            # compile-time column-set difference (zero runtime cost for the
            # 'no additional columns' case — SURVEY.md §2.2 #17)
            add = [f for f in dtype.fields if is_additional(f.name)]
            if not add:
                return _empty_errors()
            if c.additional is False:
                # present additional props = non-null additional fields
                present = F.array_compact(F.array(
                    *[F.when(value[f.name].isNotNull(), F.lit(f.name)) for f in add]))
                n = F.size(present)
                err = _err_struct(path, c.keyword, _say(c.found, n, present))
                return _leaf(value.isNotNull() & (n > 0), err)
            # schema form: validate each additional field
            child_parts = [
                _field_errors(value, f.name, sub(value[f.name], f.dataType,
                                                      _at_key(path, f.name)))
                for f in add]
            children = _concat_errors(child_parts)
            failed_props = F.array_compact(F.array(*[
                F.when(F.size(child) > 0, F.lit(f.name)) for f, child in zip(add, child_parts)]))
            nf = F.size(failed_props)
            return _compound(nf > 0, path, c.keyword, _say(c.invalid, nf, failed_props),
                             children)
        if isinstance(dtype, T.MapType):
            addkeys = F.filter(
                F.map_keys(value),
                lambda k: ~k.isin(list(c.known)) & ~F.coalesce(
                    F.array_max(F.array(*[k.rlike(rx.java) for rx in c.patterns]))
                    if c.patterns else F.lit(False),
                    F.lit(False),
                ),
            )
            n = F.size(addkeys)
            if c.additional is False:
                err = _err_struct(path, c.keyword, _say(c.found, n, addkeys))
                return _leaf(value.isNotNull() & (n > 0), err)
            # schema form over map values
            return F.when(value.isNull(), _empty_errors()).otherwise(_invalid_keys(
                c, addkeys,
                lambda k: _emit_json(sub, c.additional, value[k], dtype.valueType,
                                     _at_key(path, k)), path))
        return _empty_errors()

    return emit


def _ck_items(c: ir.Items, tr: _Translator):
    sub = tr.node(c.node)

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not isinstance(dtype, T.ArrayType):
            return _empty_errors()
        per_element = F.transform(value, lambda x, i: _emit_json(
            sub, c.node, x, dtype.elementType, _at_key(path, i.cast("string"))))
        return F.when(value.isNull(), _empty_errors()).otherwise(F.flatten(per_element))

    return emit


def _ck_tuple_items(c: ir.TupleItems, tr: _Translator):
    subs = [tr.node(sub) for sub in c.nodes]
    add_sub = tr.node(c.additional) if isinstance(c.additional, ir.Node) else None

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not isinstance(dtype, T.ArrayType):
            return _empty_errors()
        et, k = dtype.elementType, len(subs)
        parts = [
            F.when(value.isNull() | (F.size(value) <= i), _empty_errors()).otherwise(
                _emit_json(sub, node, F.element_at(value, i + 1), et, _at_key(path, str(i))))
            for i, (node, sub) in enumerate(zip(c.nodes, subs))]
        if c.additional is False:
            rest = F.transform(
                F.slice(value, k + 1, F.greatest(F.size(value) - k, F.lit(0))),
                lambda _x, i: _err_struct(_at_key(path, (i + k).cast("string")),
                                          c.keyword, F.lit(c.message)))
        elif add_sub is not None:
            rest = F.flatten(F.transform(
                F.slice(value, k + 1, F.greatest(F.size(value) - k, F.lit(0))),
                lambda x, i: _emit_json(add_sub, c.additional, x, et,
                                        _at_key(path, (i + k).cast("string")))))
        else:
            return _concat_errors(parts)
        extra = F.when(value.isNotNull() & (F.size(value) > k), rest).otherwise(_empty_errors())
        return _concat_errors(parts + [extra])

    return emit


def _dependency_errors(c: ir.Dependencies, guard: Column, has: Callable,
                       schema_errors: Callable, path: Column) -> Column:
    """dependencies over an object value: ``has(name)`` tests a property,
    ``schema_errors(dep)`` is the value's errors under a schema form."""
    parts = []
    for dep in c.entries:
        present = guard & has(dep.key)
        if isinstance(dep, ir.DependentSchema):
            children = schema_errors(dep)
            parts.append(_compound(present & (F.size(children) > 0), path, c.keyword,
                                   F.lit(dep.message), children))
            continue
        children = F.array_compact(F.array(*[
            F.when(~has(d), _err_struct(path, c.keyword, F.lit(msg)))
            for d, msg in zip(dep.names, dep.messages)]))
        nm = F.size(children)
        parts.append(_compound(present & (nm > 0), path, c.keyword, _say(dep.words, nm),
                               children))
    return _concat_errors(parts)


def _ck_dependencies(c: ir.Dependencies, tr: _Translator):
    subs = {dep: tr.node(dep.node) for dep in c.entries if isinstance(dep, ir.DependentSchema)}

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if isinstance(dtype, T.StructType):
            fields = {f.name for f in dtype.fields}

            def has(name: str) -> Column:
                # a NULL field is an absent property
                return value[name].isNotNull() if name in fields else F.lit(False)
        elif isinstance(dtype, T.MapType):

            def has(name: str) -> Column:
                return F.map_contains_key(value, name)
        else:
            return _empty_errors()
        return _dependency_errors(c, value.isNotNull(), has,
                                  lambda dep: subs[dep](value, dtype, path), path)

    return emit


# The combinators over the errors arrays of their branches at one value
# (shared with variant.py).


def _all_of_errors(c: ir.AllOf, arrays: List[Column], path: Column) -> Column:
    children = _concat_errors(arrays)
    return _compound(F.size(children) > 0, path, c.keyword, F.lit(c.message), children)


def _any_of_errors(c: ir.AnyOf, arrays: List[Column], path: Column) -> Column:
    n_fail = sum((F.when(F.size(x) > 0, 1).otherwise(0) for x in arrays), start=F.lit(0))
    return _compound(n_fail == len(arrays), path, c.keyword, F.lit(c.message),
                     _concat_errors(arrays))


def _one_of_errors(c: ir.OneOf, arrays: List[Column], path: Column) -> Column:
    n_ok = sum((F.when(F.size(x) == 0, 1).otherwise(0) for x in arrays), start=F.lit(0))
    none_valid = _compound(n_ok == 0, path, c.keyword, F.lit(c.message), _concat_errors(arrays))
    too_many = _leaf(n_ok > 1, _err_struct(path, c.keyword, F.lit(c.too_many)))
    return F.concat(none_valid, too_many)


def _not_errors(c: ir.Not, errors: Column, path: Column) -> Column:
    return _leaf(F.size(errors) == 0, _err_struct(path, c.keyword, F.lit(c.message)))


def _ck_all_of(c: ir.AllOf, tr: _Translator):
    subs = [tr.node(sub) for sub in c.nodes]

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        return _all_of_errors(c, [s(value, dtype, path) for s in subs], path)

    return emit


def _ck_any_of(c: ir.AnyOf, tr: _Translator):
    subs = [tr.node(sub) for sub in c.nodes]

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not subs:
            return _empty_errors()
        return _any_of_errors(c, [s(value, dtype, path) for s in subs], path)

    return emit


def _ck_one_of(c: ir.OneOf, tr: _Translator):
    subs = [tr.node(sub) for sub in c.nodes]

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        return _one_of_errors(c, [s(value, dtype, path) for s in subs], path)

    return emit


def _ck_not(c: ir.Not, tr: _Translator):
    sub = tr.node(c.node)

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        return _not_errors(c, sub(value, dtype, path), path)

    return emit


#: IR check kind -> the function making its emitter
_EMITTERS: Dict[type, Callable] = {
    ir.Type: _ck_type, ir.Enum: _ck_enum, ir.Bound: _ck_bound,
    ir.MultipleOf: _ck_multiple_of, ir.Size: _ck_size, ir.Pattern: _ck_pattern,
    ir.UniqueItems: _ck_unique_items, ir.Required: _ck_required,
    ir.Properties: _ck_properties, ir.PatternProperties: _ck_pattern_properties,
    ir.AdditionalProperties: _ck_additional_properties, ir.Items: _ck_items,
    ir.TupleItems: _ck_tuple_items, ir.Dependencies: _ck_dependencies,
    ir.AllOf: _ck_all_of, ir.AnyOf: _ck_any_of, ir.OneOf: _ck_one_of, ir.Not: _ck_not,
}


def _human_list_col(last: str, arr: Column) -> Column:
    """'a, b and c' rendering of a runtime string array (reference
    src/humanlist.js:3-9 semantics as a Column expression)."""
    n = F.size(arr)
    return F.when(n <= 1, F.array_join(arr, "")).otherwise(
        F.concat(
            F.array_join(F.slice(arr, 1, n - 1), ", "),
            F.lit(f" {last} "),
            F.element_at(arr, -1),
        )
    )
