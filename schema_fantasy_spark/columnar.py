"""Columnar constraint compiler — the 100 TB execution path.

Compiles a JSON-Schema draft-4 document ONCE on the driver against a typed
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
* string lengths are code points (Spark ``length``), NFC normalization is
  not applied in the columnar path (route to the dynamic mode if a fixture
  requires it — reference src/ulength.js:9-17).
"""

from __future__ import annotations

import re
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, functions as F, types as T

from schema_fantasy_spark.errors import ERRORS_SCHEMA, human_list
from schema_fantasy_spark.compiler.linker import resolve_ref
from schema_fantasy_spark.compiler.plan import SchemaCompileError, json_repr
from schema_fantasy_spark.compiler.regex_dialect import (
    RegexDialectError,
    java_pattern,
    python_pattern,
)


def _rx(p: str) -> Tuple[str, "re.Pattern"]:
    """Java-dialect pattern for ``rlike`` (JS spellings translated,
    dialect-divergent constructs rejected — reference src/v4/pattern.js:18)
    and the Python-dialect compiled pattern the kernel uses. Compiling the
    Python form rejects, at schema-compile time, a pattern the kernel
    rejects (say, a repeated group name) that would otherwise fail as a
    task inside ``rlike``."""
    rx = _prx(p)
    try:
        return java_pattern(p), rx
    except RegexDialectError as e:
        raise SchemaCompileError(str(e)) from None


def _jrx(p: str) -> str:
    """The ``rlike`` half of :func:`_rx`."""
    return _rx(p)[0]


def _prx(p: str) -> "re.Pattern":
    """Python-dialect compiled pattern for compile-time field matching."""
    try:
        return python_pattern(p)
    except RegexDialectError as e:
        raise SchemaCompileError(str(e)) from None
    except re.error as e:
        raise SchemaCompileError(f"bad regex {p!r}: {e}") from e

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


def _with_null_rows(emit: Callable, rows: Sequence[tuple]) -> Callable:
    """Attach the rows a JSON null yields under this keyword (see
    :class:`ColumnarNode`); keywords without them pass a null."""
    emit.null_rows = tuple(rows)
    return emit


def _bump_rows(rows: Sequence[tuple]) -> List[tuple]:
    return [(kw, msg, exp, act, depth + 1) for kw, msg, exp, act, depth in rows]


def _emit_json(sub: "ColumnarNode", value: Column, dtype: T.DataType, path: Column) -> Column:
    """``sub`` over an array element or map value. There a NULL is a
    JSON null that is present, not an absent property, so it yields
    ``sub.null_rows`` (only ``type``, ``enum`` and the combinators over
    them react to a null; every other keyword's type guard passes it)."""
    nulls = [
        _err_struct(path, kw, F.lit(msg), F.lit(exp).cast("string"),
                    F.lit(act).cast("string"), depth)
        for kw, msg, exp, act, depth in sub.null_rows
    ]
    return F.when(
        value.isNull(), F.array(*nulls) if nulls else _empty_errors()
    ).otherwise(sub.emit(value, dtype, path))


# ----------------------------------------------------------- type utilities


_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType, T.DecimalType)


def json_type_of(dtype: T.DataType) -> str:
    """Static JSON type of a Spark dtype (mirror of the reference's dynamic
    typeOf, reference src/v4/type.js:12, resolved at compile time)."""
    if isinstance(dtype, T.NullType):
        return "null"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, _INT_TYPES + _FLOAT_TYPES):
        return "number"
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.ArrayType):
        return "array"
    if isinstance(dtype, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dtype, T.TimestampType):
        return "timestamp"
    if isinstance(dtype, T.DateType):
        return "date"
    if isinstance(dtype, T.BinaryType):
        return "binary"
    return "unknown"


def _is_integral(dtype: T.DataType) -> bool:
    return isinstance(dtype, _INT_TYPES)


def _is_numeric(dtype: T.DataType) -> bool:
    return isinstance(dtype, _INT_TYPES + _FLOAT_TYPES)


# ------------------------------------------------------------- the compiler


class ColumnarNode:
    """Compiled subschema: emits an errors array for (value expr, path expr).

    ``emit`` reads a NULL value as an ABSENT property (a NULL struct field
    or column), which every keyword passes. ``null_rows`` are the error
    rows a JSON ``null`` yields instead — the reading of a NULL array
    element or map value, see :func:`_emit_json`. They are static:
    ``(keyword, message, expected, actual, depth)`` tuples, all at the
    value's own path, because null has no children."""

    __slots__ = ("emit", "null_rows")

    def __init__(
        self,
        emit: Callable[[Column, T.DataType, Column], Column],
        null_rows: Sequence[tuple] = (),
    ):
        self.emit = emit
        self.null_rows = tuple(null_rows)


def compile_columnar(
    schema: Any,
    refs: Optional[Dict[str, Any]] = None,
    base: str = "",
    nfc_lengths: bool = False,
) -> "ColumnarPlan":
    """Compile ``schema`` into a ColumnarPlan applicable to any DataFrame
    whose schema the plan's keywords can bind to. $refs resolved at compile
    time (cycle -> raise, reference src/context.js:24-26 semantics).

    ``nfc_lengths=True`` routes min/maxLength through a vectorized
    NFC-normalizing pandas UDF for exact reference parity on corpora with
    decomposed combining sequences (default: raw code points, pure JVM).

    Note: unlike the dynamic mode, the columnar compiler rejects
    *recursive* schemas (a $ref cycle through properties/items) — a flat
    expression DAG cannot express unbounded recursion. Those route to the
    dynamic mode.
    """
    global _NFC_LENGTHS
    refs = refs or {}
    in_progress: set = set()
    _NFC_LENGTHS = nfc_lengths
    # (module-level switch read synchronously during this compile walk;
    # compile is driver-side and single-threaded per call)

    def compile_node(cur_base: str, cur_doc: Any, node: Any) -> ColumnarNode:
        cur_base, cur_doc, node = resolve_ref(refs, cur_base, cur_doc, node)
        if not isinstance(node, dict):
            return ColumnarNode(lambda v, dt, p: _empty_errors())
        key = (cur_base, id(node))
        if key in in_progress:
            raise SchemaCompileError(
                "recursive schema cannot compile to a flat column DAG; "
                "use the dynamic (Arrow-batched) mode"
            )
        in_progress.add(key)
        try:
            keyword_emitters: List[Callable[[Column, T.DataType, Column], Optional[Column]]] = []
            null_rows: List[tuple] = []
            for kw in node:
                e = _compile_keyword(kw, node[kw], node, cur_base, cur_doc, compile_node)
                if e is not None:
                    keyword_emitters.append(e)
                    null_rows += getattr(e, "null_rows", ())
        finally:
            in_progress.discard(key)

        def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
            parts = [em(value, dtype, path) for em in keyword_emitters]
            return _concat_errors([p for p in parts if p is not None])

        return ColumnarNode(emit, null_rows)

    root = compile_node(base, schema, schema)
    return ColumnarPlan(root, schema)


class ColumnarPlan:
    """A compiled constraint plan bound lazily to a DataFrame."""

    def __init__(self, root: ColumnarNode, schema: Any):
        self._root = root
        self.schema = schema
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
            value = F.struct(*[F.col(f.name) for f in df.schema.fields])
            dtype = T.StructType(df.schema.fields)
            errors = self._bound[key] = self._root.emit(
                value, dtype, F.array().cast("array<string>"))
        return errors

    def apply(
        self, df: DataFrame, errors_col: str = "errors", verdict_col: str = "verdict"
    ) -> DataFrame:
        out = df.withColumn(errors_col, self.errors_column(df))
        return out.withColumn(verdict_col, F.size(F.col(errors_col)) == 0)


# ------------------------------------------------------------- keyword emit
# Each returns emit(value, dtype, path) -> errors array (or None to elide).


def _vacuous(_v, _dt, _p) -> Column:
    return _empty_errors()


def _guarded(dtype_pred, build):
    """Static type guard: if the bound dtype doesn't satisfy ``dtype_pred``,
    the keyword is vacuous (compile-time elision of the runtime guard)."""

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not dtype_pred(dtype):
            return _empty_errors()
        return build(value, dtype, path)

    return emit


def _null_pass(value: Column, errors: Column) -> Column:
    """NULL value ≡ absent property -> vacuous pass for non-required checks."""
    return F.when(value.isNull(), _empty_errors()).otherwise(errors)


def _compile_keyword(
    kw: str,
    sch: Any,
    node: dict,
    base: str,
    doc: Any,
    compile_node: Callable,
):
    rec = lambda sub: compile_node(base, doc, sub)  # noqa: E731

    if kw == "type":
        return _ck_type(sch)
    if kw == "enum":
        return _ck_enum(sch)
    if kw == "minimum":
        return _ck_bound(sch, node.get("exclusiveMinimum"), is_min=True)
    if kw == "maximum":
        return _ck_bound(sch, node.get("exclusiveMaximum"), is_min=False)
    if kw == "multipleOf":
        return _ck_multiple_of(sch)
    if kw == "minLength":
        return _ck_length(sch, is_min=True)
    if kw == "maxLength":
        return _ck_length(sch, is_min=False)
    if kw == "pattern":
        return _ck_pattern(sch)
    if kw == "minItems":
        return _ck_items_count(sch, is_min=True)
    if kw == "maxItems":
        return _ck_items_count(sch, is_min=False)
    if kw == "uniqueItems":
        return _ck_unique_items(sch)
    if kw == "minProperties":
        return _ck_props_count(sch, is_min=True)
    if kw == "maxProperties":
        return _ck_props_count(sch, is_min=False)
    if kw == "required":
        return _ck_required(sch)
    if kw == "properties":
        return _ck_properties({k: rec(s) for k, s in sch.items()}, sch)
    if kw == "patternProperties":
        return _ck_pattern_properties([(*_rx(p), rec(s)) for p, s in sch.items()])
    if kw == "additionalProperties":
        props = node.get("properties") or {}
        patterns = [_rx(p) for p in (node.get("patternProperties") or {})]
        sub = rec(sch) if isinstance(sch, dict) else None
        return _ck_additional_properties(sch, sub, props, patterns)
    if kw == "items":
        if isinstance(sch, list):
            add_sch = node.get("additionalItems")
            add_node = rec(add_sch) if isinstance(add_sch, dict) else None
            return _ck_items_tuple([rec(s) for s in sch], add_sch, add_node)
        if isinstance(sch, dict):
            return _ck_items_homogeneous(rec(sch))
        return None
    if kw == "dependencies":
        deps = [(k, d, rec(d) if isinstance(d, dict) else None) for k, d in sch.items()]
        return _ck_dependencies(deps)
    if kw == "allOf":
        return _ck_all_of([rec(s) for s in sch])
    if kw == "anyOf":
        return _ck_any_of([rec(s) for s in sch])
    if kw == "oneOf":
        return _ck_one_of([rec(s) for s in sch])
    if kw == "not":
        return _ck_not(rec(sch))
    return None  # unknown keyword -> vacuous (reference index.js:73)


def _ck_type(sch: Any):
    types = sch if isinstance(sch, list) else [sch]
    expected = " or ".join(str(t) for t in types)
    tset = set(types)

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        actual = json_type_of(dtype)
        ok_static = actual in tset
        if ok_static:
            return _empty_errors()
        if actual == "number":
            if _is_integral(dtype) and "integer" in tset:
                return _empty_errors()
            if "integer" in tset and not _is_integral(dtype):
                # runtime integrality check on a float column
                violated = value.isNotNull() & (value != F.floor(value))
                err = _err_struct(
                    path, "type", F.lit("Invalid type"),
                    F.lit(expected), F.lit("number"),
                )
                return _leaf(violated, err)
        # statically wrong type: every non-null value fails
        err = _err_struct(
            path, "type", F.lit("Invalid type"), F.lit(expected), F.lit(actual)
        )
        return _leaf(value.isNotNull(), err)

    nulls = [] if "null" in tset else [("type", "Invalid type", expected, "null", 0)]
    return _with_null_rows(emit, nulls)


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


def _ck_enum(sch: Any):
    expected = human_list("or", [json_repr(x) for x in sch])

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
        lits = [_typed_literal(x, dtype) for x in sch]
        lits = [c for c in lits if c is not None]
        if not lits:
            ok = F.lit(False)
        elif _contains_map(dtype):
            lit_jsons = F.array(*[F.to_json(_sorted_maps(c, dtype)) for c in lits])
            ok = F.coalesce(
                F.array_contains(lit_jsons, F.to_json(_sorted_maps(value, dtype))),
                F.lit(False),
            )
        else:
            ok = F.lit(False)
            for c in lits:
                ok = ok | value.eqNullSafe(c)
        err = _err_struct(path, "enum", F.lit(""), F.lit(expected), value.cast("string"))
        return _leaf(value.isNotNull() & ~ok, err)

    nulls = [] if None in sch else [("enum", "", expected, "null", 0)]
    return _with_null_rows(emit, nulls)


def _ck_bound(sch: Any, excl: Any, is_min: bool):
    excl = excl if isinstance(excl, bool) else False

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if _is_numeric(dtype):
            bound = F.lit(sch)
        elif isinstance(dtype, (T.TimestampType, T.DateType)):
            bound = F.lit(sch).cast(dtype)  # engine extension
        else:
            return _empty_errors()
        if is_min:
            ok = value > bound if excl else value >= bound
            msg = f"less than {'or equal to ' if excl else ''}{sch}"
            kw = "minimum"
        else:
            ok = value < bound if excl else value <= bound
            msg = f"greater than {'or equal to ' if excl else ''}{sch}"
            kw = "maximum"
        err = _err_struct(path, kw, F.lit(msg))
        return _leaf(value.isNotNull() & ~ok, err)

    return emit


def _ck_multiple_of(sch: Any):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not _is_numeric(dtype):
            return _empty_errors()
        if _is_integral(dtype) and isinstance(sch, int):
            ok = value % F.lit(sch) == 0
        else:
            ok = (value.cast("double") / F.lit(float(sch))) % 1 == 0
        err = _err_struct(path, "multipleOf", F.lit(f"not a multiple of {sch}"))
        return _leaf(value.isNotNull() & ~ok, err)

    return emit


def nfc_length_udf():
    """Vectorized NFC-normalized code-point length (reference
    src/v4/minLength.js:18-22 + src/ulength.js). The ONLY optional Python
    slice in the columnar path — enable via ``nfc_lengths=True`` when a
    corpus can contain decomposed combining sequences; plain ``F.length``
    (raw code points) is the default and identical for NFC-normalized or
    ASCII text."""
    import unicodedata
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    # no type hints: `from __future__ import annotations` stringifies them
    # and pyspark cannot resolve 'pd.Series' from this module's scope
    @pandas_udf("int", PandasUDFType.SCALAR)
    def _nfc_len(s):
        return s.map(
            lambda x: len(unicodedata.normalize("NFC", x)) if x is not None else None
        )

    return _nfc_len


#: module switch consulted by _ck_length; set via compile_columnar kwarg
_NFC_LENGTHS = False


def _ck_length(sch: Any, is_min: bool):
    use_nfc = _NFC_LENGTHS

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not isinstance(dtype, T.StringType):
            return _empty_errors()
        n = nfc_length_udf()(value) if use_nfc else F.length(value)
        if is_min:
            ok, kw, msg = n >= sch, "minLength", f"shorter than {sch} characters"
        else:
            ok, kw, msg = n <= sch, "maxLength", f"longer than {sch} characters"
        err = _err_struct(path, kw, F.lit(msg))
        return _leaf(value.isNotNull() & ~ok, err)

    return emit


def _ck_pattern(sch: Any):
    jp = _jrx(sch)  # dialect-divergent constructs raise at compile time

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not isinstance(dtype, T.StringType):
            return _empty_errors()
        # rlike = java.util.regex find -> unanchored, like JS RegExp.test
        err = _err_struct(path, "pattern", F.lit(f"does not match /{sch}/"))
        return _leaf(value.isNotNull() & ~value.rlike(jp), err)

    return emit


def _ck_items_count(sch: Any, is_min: bool):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not isinstance(dtype, T.ArrayType):
            return _empty_errors()
        n = F.size(value)
        if is_min:
            ok, kw, msg = n >= sch, "minItems", f"less than {sch} items"
        else:
            ok, kw, msg = n <= sch, "maxItems", f"more than {sch} items"
        err = _err_struct(path, kw, F.lit(msg))
        return _leaf(value.isNotNull() & ~ok, err)

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


def _ck_unique_items(sch: Any):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not isinstance(dtype, T.ArrayType) or sch is False:
            return _empty_errors()
        ndup = F.size(value) - F.size(F.array_distinct(_positive_zeros(value, dtype)))
        msg = F.concat(
            F.lit("does not contain unique values: "),
            ndup.cast("string"),
            F.lit(" duplicate"),
            F.when(ndup == 1, F.lit("")).otherwise(F.lit("s")),
            F.lit(" found"),
        )
        err = _err_struct(path, "uniqueItems", msg)
        return _leaf(value.isNotNull() & (ndup > 0), err)

    return emit


def _ck_props_count(sch: Any, is_min: bool):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if isinstance(dtype, T.MapType):
            n = F.size(F.map_keys(value))
        elif isinstance(dtype, T.StructType):
            # present properties = non-null fields (NULL ≡ absent)
            n = sum(
                (F.when(value[f.name].isNotNull(), 1).otherwise(0) for f in dtype.fields),
                start=F.lit(0),
            )
        else:
            return _empty_errors()
        if is_min:
            ok, kw, msg = n >= sch, "minProperties", f"less than {sch} properties"
        else:
            ok, kw, msg = n <= sch, "maxProperties", f"more than {sch} properties"
        err = _err_struct(path, kw, F.lit(msg))
        return _leaf(value.isNotNull() & ~ok, err)

    return emit


def _ck_required(sch: Any):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if isinstance(dtype, T.StructType):
            fields = {f.name for f in dtype.fields}
            parts = []
            for req in sch:
                err = _err_struct(path, "required", F.lit(f"missing {req}"))
                if req not in fields:
                    parts.append(_leaf(value.isNotNull(), err))
                else:
                    parts.append(_leaf(value.isNotNull() & value[req].isNull(), err))
            return _concat_errors(parts)
        if isinstance(dtype, T.MapType):
            parts = [
                _leaf(
                    value.isNotNull() & ~F.map_contains_key(value, req),
                    _err_struct(path, "required", F.lit(f"missing {req}")),
                )
                for req in sch
            ]
            return _concat_errors(parts)
        return _empty_errors()

    return emit


def _ck_properties(subs: Dict[str, ColumnarNode], raw: dict):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if isinstance(dtype, T.StructType):
            fields = {f.name: f.dataType for f in dtype.fields}
            parts = []
            for key, sub in subs.items():
                if key not in fields:
                    continue  # absent property vacuously passes
                child = sub.emit(
                    value[key], fields[key], F.concat(path, F.array(F.lit(key)))
                )
                # a NULL field is an absent property: no keyword runs (a
                # compound like 'not' would otherwise fail on it)
                parts.append(
                    F.when(value.isNull() | value[key].isNull(), _empty_errors())
                    .otherwise(child)
                )
            return _concat_errors(parts)
        if isinstance(dtype, T.MapType):
            parts = []
            for key, sub in subs.items():
                v = value.getItem(key)
                child = _emit_json(
                    sub, v, dtype.valueType, F.concat(path, F.array(F.lit(key)))
                )
                parts.append(
                    F.when(
                        value.isNull() | ~F.map_contains_key(value, key), _empty_errors()
                    ).otherwise(child)
                )
            return _concat_errors(parts)
        return _empty_errors()

    return emit


def _ck_pattern_properties(subs: List[Tuple[str, "re.Pattern", ColumnarNode]]):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if isinstance(dtype, T.StructType):
            fields = {f.name: f.dataType for f in dtype.fields}
            parts = []
            # cross-product regex x static field names, resolved at compile time
            for _raw, rx, sub in subs:
                for name, ftype in fields.items():
                    if rx.search(name):
                        child = sub.emit(
                            value[name], ftype, F.concat(path, F.array(F.lit(name)))
                        )
                        parts.append(
                            F.when(
                                value.isNull() | value[name].isNull(), _empty_errors()
                            ).otherwise(child)
                        )
            return _concat_errors(parts)
        if isinstance(dtype, T.MapType):
            parts = []
            for raw, _rx, sub in subs:
                matched = F.map_filter(value, lambda k, _v: k.rlike(raw))
                entry_errs = F.transform(
                    F.map_entries(matched),
                    lambda e: _emit_json(
                        sub, e["value"], dtype.valueType,
                        F.concat(path, F.array(e["key"])),
                    ),
                )
                parts.append(
                    F.when(value.isNull(), _empty_errors()).otherwise(
                        F.flatten(entry_errs)
                    )
                )
            return _concat_errors(parts)
        return _empty_errors()

    return emit


def _ck_additional_properties(
    sch, sub, props: dict, patterns: List[Tuple[str, "re.Pattern"]]
):
    def is_additional(name: str) -> bool:
        return name not in props and not any(rx.search(name) for _j, rx in patterns)

    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if sch is True:
            return _empty_errors()
        if isinstance(dtype, T.StructType):
            # compile-time column-set difference (zero runtime cost for the
            # 'no additional columns' case — SURVEY.md §2.2 #17)
            add = [f for f in dtype.fields if is_additional(f.name)]
            if not add:
                return _empty_errors()
            if sch is False:
                # present additional props = non-null additional fields
                present = F.array_compact(
                    F.array(
                        *[
                            F.when(value[f.name].isNotNull(), F.lit(f.name))
                            for f in add
                        ]
                    )
                )
                n = F.size(present)
                msg = F.concat(
                    F.lit("additional propert"),
                    F.when(n == 1, F.lit("y")).otherwise(F.lit("ies")),
                    F.lit(" found: "),
                    _human_list_col("and", present),
                )
                err = _err_struct(path, "additionalProperties", msg)
                return _leaf(value.isNotNull() & (n > 0), err)
            # schema form: validate each additional field
            fail_names = []
            child_parts = []
            for f in add:
                child = sub.emit(
                    value[f.name], f.dataType, F.concat(path, F.array(F.lit(f.name)))
                )
                child = F.when(
                    value.isNull() | value[f.name].isNull(), _empty_errors()
                ).otherwise(child)
                child_parts.append(child)
                fail_names.append(F.when(F.size(child) > 0, F.lit(f.name)))
            children = _concat_errors(child_parts)
            failed_props = F.array_compact(F.array(*fail_names))
            nf = F.size(failed_props)
            msg = F.concat(
                F.lit("additional propert"),
                F.when(nf == 1, F.lit("y")).otherwise(F.lit("ies")),
                F.lit(" invalid: "),
                _human_list_col("and", failed_props),
            )
            return _compound(nf > 0, path, "additionalProperties", msg, children)
        if isinstance(dtype, T.MapType):
            addkeys = F.filter(
                F.map_keys(value),
                lambda k: ~k.isin(list(props))
                & ~F.coalesce(
                    F.array_max(F.array(*[k.rlike(j) for j, _rx in patterns]))
                    if patterns
                    else F.lit(False),
                    F.lit(False),
                ),
            )
            n = F.size(addkeys)
            if sch is False:
                msg = F.concat(
                    F.lit("additional propert"),
                    F.when(n == 1, F.lit("y")).otherwise(F.lit("ies")),
                    F.lit(" found: "),
                    _human_list_col("and", addkeys),
                )
                err = _err_struct(path, "additionalProperties", msg)
                return _leaf(value.isNotNull() & (n > 0), err)
            # schema form over map values
            child_arrays = F.transform(
                addkeys,
                lambda k: _emit_json(
                    sub, value[k], dtype.valueType, F.concat(path, F.array(k))
                ),
            )
            children = F.flatten(child_arrays)
            fail_keys = F.filter(
                F.zip_with(addkeys, child_arrays, lambda k, errs: F.when(F.size(errs) > 0, k)),
                lambda x: x.isNotNull(),
            )
            nf = F.size(fail_keys)
            msg = F.concat(
                F.lit("additional propert"),
                F.when(nf == 1, F.lit("y")).otherwise(F.lit("ies")),
                F.lit(" invalid: "),
                _human_list_col("and", fail_keys),
            )
            return F.when(value.isNull(), _empty_errors()).otherwise(
                _compound(nf > 0, path, "additionalProperties", msg, children)
            )
        return _empty_errors()

    return emit


def _ck_items_homogeneous(sub: ColumnarNode):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not isinstance(dtype, T.ArrayType):
            return _empty_errors()
        per_element = F.transform(
            value,
            lambda x, i: _emit_json(
                sub, x, dtype.elementType, F.concat(path, F.array(i.cast("string")))
            ),
        )
        return F.when(value.isNull(), _empty_errors()).otherwise(F.flatten(per_element))

    return emit


def _ck_items_tuple(subs: List[ColumnarNode], add_sch: Any, add_node: Optional[ColumnarNode]):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not isinstance(dtype, T.ArrayType):
            return _empty_errors()
        et = dtype.elementType
        parts = []
        for i, sub in enumerate(subs):
            elem = F.element_at(value, i + 1)
            child = _emit_json(sub, elem, et, F.concat(path, F.array(F.lit(str(i)))))
            parts.append(
                F.when(value.isNull() | (F.size(value) <= i), _empty_errors()).otherwise(
                    child
                )
            )
        k = len(subs)
        if add_sch is False:
            extra = F.when(
                value.isNotNull() & (F.size(value) > k),
                F.transform(
                    F.slice(value, k + 1, F.greatest(F.size(value) - k, F.lit(0))),
                    lambda _x, i: _err_struct(
                        F.concat(path, F.array((i + k).cast("string"))),
                        "items",
                        F.lit("additional item found"),
                    ),
                ),
            ).otherwise(_empty_errors())
            parts.append(extra)
        elif add_node is not None:
            extra = F.when(
                value.isNotNull() & (F.size(value) > k),
                F.flatten(
                    F.transform(
                        F.slice(value, k + 1, F.greatest(F.size(value) - k, F.lit(0))),
                        lambda x, i: _emit_json(
                            add_node, x, et,
                            F.concat(path, F.array((i + k).cast("string"))),
                        ),
                    )
                ),
            ).otherwise(_empty_errors())
            parts.append(extra)
        return _concat_errors(parts)

    return emit


def _ck_dependencies(deps: List[Tuple[str, Any, Optional[ColumnarNode]]]):
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
        parts = []
        for key, dep, sub in deps:
            present = value.isNotNull() & has(key)
            if isinstance(dep, list):
                missing_entries = []
                for d in dep:
                    d_missing = ~has(d)
                    missing_entries.append(
                        F.when(
                            d_missing,
                            _err_struct(
                                path,
                                "dependencies",
                                F.lit(f'Missing "{d}" given "{key}"'),
                            ),
                        )
                    )
                children = F.array_compact(F.array(*missing_entries))
                nm = F.size(children)
                msg = F.concat(
                    F.lit("Missing dependenc"),
                    F.when(nm == 1, F.lit("y ")).otherwise(F.lit("ies ")),
                    F.lit(f'for "{key}"'),
                )
                parts.append(_compound(present & (nm > 0), path, "dependencies", msg, children))
            elif sub is not None:
                children = sub.emit(value, dtype, path)
                parts.append(
                    _compound(
                        present & (F.size(children) > 0),
                        path,
                        "dependencies",
                        F.lit(f'Failed dependency for "{key}"'),
                        children,
                    )
                )
        return _concat_errors(parts)

    return emit


def _ck_all_of(subs: List[ColumnarNode]):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        children = _concat_errors([s.emit(value, dtype, path) for s in subs])
        return _compound(
            F.size(children) > 0, path, "allOf", F.lit("Not all conditions valid"), children
        )

    children = [r for s in subs for r in s.null_rows]
    nulls = [("allOf", "Not all conditions valid", None, None, 0)] if children else []
    return _with_null_rows(emit, nulls + _bump_rows(children))


def _ck_any_of(subs: List[ColumnarNode]):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        if not subs:
            return _empty_errors()
        child_arrays = [s.emit(value, dtype, path) for s in subs]
        n_fail = sum(
            (F.when(F.size(c) > 0, 1).otherwise(0) for c in child_arrays),
            start=F.lit(0),
        )
        children = _concat_errors(child_arrays)
        return _compound(
            n_fail == len(subs), path, "anyOf", F.lit("No conditions valid"), children
        )

    nulls = []
    if subs and all(s.null_rows for s in subs):
        nulls = [("anyOf", "No conditions valid", None, None, 0)]
        nulls += _bump_rows([r for s in subs for r in s.null_rows])
    return _with_null_rows(emit, nulls)


def _ck_one_of(subs: List[ColumnarNode]):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        child_arrays = [s.emit(value, dtype, path) for s in subs]
        n_ok = sum(
            (F.when(F.size(c) == 0, 1).otherwise(0) for c in child_arrays),
            start=F.lit(0),
        )
        fail_children = _concat_errors(child_arrays)
        none_valid = _compound(
            n_ok == 0, path, "oneOf", F.lit("No conditions valid"), fail_children
        )
        too_many = _leaf(
            n_ok > 1,
            _err_struct(path, "oneOf", F.lit("More than one condition valid")),
        )
        return F.concat(none_valid, too_many)

    n_ok = sum(not s.null_rows for s in subs)
    nulls = []
    if n_ok == 0:
        nulls = [("oneOf", "No conditions valid", None, None, 0)]
        nulls += _bump_rows([r for s in subs for r in s.null_rows])
    if n_ok > 1:
        nulls.append(("oneOf", "More than one condition valid", None, None, 0))
    return _with_null_rows(emit, nulls)


def _ck_not(sub: ColumnarNode):
    def emit(value: Column, dtype: T.DataType, path: Column) -> Column:
        child = sub.emit(value, dtype, path)
        return _leaf(
            F.size(child) == 0, _err_struct(path, "not", F.lit("condition valid"))
        )

    nulls = [] if sub.null_rows else [("not", "condition valid", None, None, 0)]
    return _with_null_rows(emit, nulls)


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
