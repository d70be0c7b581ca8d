"""Variant-mode dynamic JSON validation — JVM-side, no Python UDF.

Spark 4's VariantType gives binary-encoded dynamic JSON with expression
access (`parse_json`, `try_variant_get`, `schema_of_variant`). This module
translates the checks of the keyword IR (``compiler/ir.py``, where the
keyword semantics and wording live) into Column expressions over a variant
value — the reference's *dynamic* type dispatch (reference
src/v4/type.js:12 ``typeOf`` at evaluation time) as runtime
`schema_of_variant` dispatch. The Arrow-batched UDF (dynamic.py) remains
the faithful fallback for recursive schemas and deep-equality corners.

Key semantic mappings:
* missing key   -> SQL NULL variant  (try_element_at on the object map)
* JSON null     -> variant with schema_of_variant() == 'VOID'
  — so `required` correctly accepts present-but-null properties
  (reference src/v4/required.js:18-24: `req in value`).
* typeof        -> schema_of_variant prefix: VOID->null, BOOLEAN, STRING,
  ARRAY<>->array, OBJECT<>->object, all numerics->number.
* numbers       -> cast to double: exactly the reference's semantics,
  since JS numbers ARE float64.

Documented approximations (route to dynamic mode if they matter):
* recursive $refs are unrolled to ``max_depth`` (beyond it the subtree
  vacuously passes and the plan's warning lists the nodes cut off);
* enum/uniqueItems deep equality canonicalizes numbers at EVERY nesting
  level down to ``CANON_DEPTH`` (so ``enum: [[1]]`` accepts ``[1.0]``,
  matching the kernel's R.equals semantics, reference src/v4/enum.js:25);
  only below that unroll depth do subtrees compare textually via
  to_json. Schemas whose ENUM literals nest past ``CANON_DEPTH`` are
  AUTO-ROUTED to the Arrow-UDF kernel at compile time; for
  ``uniqueItems`` the depth of the DATA cannot be known at compile time,
  so arrays whose elements nest composites deeper than ``CANON_DEPTH``
  remain the one manual-routing case.

Variant expressions evaluate interpreted (no whole-stage codegen, so no
subexpression elimination), so ``VariantPlan.with_errors`` parses each
JSON document once and materializes its root map/array casts and every
root property's value + runtime type as Generate-barrier attributes (a
naive inline ``parse_json`` re-parses per keyword: measured 3.8x
slower). Prefer this mode when documents are stored as VARIANT at rest,
or the schema is flat-ish or touches a small fraction of large documents
(variant reads only referenced paths; the UDF must json.loads
everything).
"""

from __future__ import annotations

import json
import math
from typing import Any, Callable, Dict, List, Optional

from pyspark.sql import Column, DataFrame, functions as F

from schema_fantasy_spark.compiler import ir
from schema_fantasy_spark.compiler.plan import compile_schema
from schema_fantasy_spark.columnar import (
    _all_of_errors,
    _any_of_errors,
    _at_key,
    _concat_errors,
    _dependency_errors,
    _empty_errors,
    _err_struct,
    _invalid_keys,
    _leaf,
    _not_errors,
    _one_of_errors,
    _required_in_map,
    _say,
    _size_limit,
)
from schema_fantasy_spark.columns import column
from schema_fantasy_spark.dynamic import kernel_udf

#: JSON runtime type of a variant value (NULL for SQL-NULL = absent).
#: Guard ordering matters for cost: is_variant_null / map / array probes
#: are shallow; schema_of_variant (which walks the WHOLE subtree to print
#: a schema) is only reached for scalars, where it is O(1).
#: ``m``/``a`` optionally inject PRE-MATERIALIZED map/array casts of the
#: same value (Generate-barrier attributes): interpreted variant
#: expressions get no CSE, so every inline as_map/as_array reference
#: re-builds the whole cast — the root-level barrier in
#: ``VariantPlan.with_errors`` makes them attribute reads instead.
def vtype(v: Column, m: Optional[Column] = None, a: Optional[Column] = None) -> Column:
    t = F.schema_of_variant(v)  # evaluated only on the scalar branch
    return (
        F.when(v.isNull(), F.lit(None).cast("string"))
        .when(F.is_variant_null(v), F.lit("null"))
        .when(_m(v, m).isNotNull(), F.lit("object"))
        .when(_a(v, a).isNotNull(), F.lit("array"))
        .when(t == "BOOLEAN", F.lit("boolean"))
        .when(t == "STRING", F.lit("string"))
        .otherwise(F.lit("number"))
    )


def _m(v: Column, m: Optional[Column]) -> Column:
    """The map cast of v: the pre-materialized attribute when provided."""
    return m if m is not None else as_map(v)


def _a(v: Column, a: Optional[Column]) -> Column:
    """The array cast of v: the pre-materialized attribute when provided."""
    return a if a is not None else as_array(v)


def _vt(v: Column, m, a, t) -> Column:
    """The runtime type of v: the pre-materialized type string when the
    barrier provides one (interpreted variant exprs re-evaluate every
    inline vtype chain; a materialized depth-1 property type makes all
    of a child node's type dispatches one attribute read)."""
    return t if t is not None else vtype(v, m, a)


def as_double(v: Column) -> Column:
    return F.try_variant_get(v, "$", "double")


def as_string(v: Column) -> Column:
    return F.try_variant_get(v, "$", "string")


def as_array(v: Column) -> Column:
    return F.try_variant_get(v, "$", "array<variant>")


def as_map(v: Column) -> Column:
    return F.try_variant_get(v, "$", "map<string,variant>")


def canonical_str(
    v: Column, m: Optional[Column] = None, a: Optional[Column] = None
) -> Column:
    """Canonical string form for ERROR RENDERING: numbers numerically
    (double -> string), everything else via to_json (variant renders
    objects with sorted keys). Equality uses canonical_json below."""
    return F.when(vtype(v, m, a) == "number", as_double(v).cast("string")).otherwise(
        F.to_json(v)
    )


#: numeric-canonicalization unroll depth for deep equality; composites
#: nested deeper compare textually (documented approximation — route
#: such schemas to dynamic mode)
CANON_DEPTH = 6


def _json_str(k: Column) -> Column:
    """JSON-escaped quoted rendering of a plain string column (object
    keys): to_json of a 1-element array, outer brackets stripped."""
    kj = F.to_json(F.array(k))
    return F.substring(kj, 2, F.length(kj) - 2)


def _const_canonical(values) -> Optional[List[str]]:
    """Evaluate canonical_json for CONSTANT JSON values once, driver-side,
    through Spark itself (a 1-row job) — the number rendering must be
    Spark's own double->string, so Python-side formatting is not an
    option. Returns None when no session is active (caller falls back to
    per-row expressions)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    row = (
        spark.range(1)
        .select(
            *[
                canonical_json(F.parse_json(F.lit(json.dumps(x)))).alias(f"c{i}")
                for i, x in enumerate(values)
            ]
        )
        .collect()[0]
    )
    return [row[f"c{i}"] for i in range(len(values))]


def canonical_json(v: Column, depth: int = CANON_DEPTH) -> Column:
    """Depth-unrolled canonical JSON of a variant for DEEP EQUALITY with
    the reference's R.equals number semantics (src/v4/enum.js:25, the
    kernel's ``canonical`` in compiler/plan.py): numbers render as their
    float64 string at every nesting level (1 and 1.0 coincide), object
    keys sort, strings/booleans/null render as JSON — so the string is
    injective across JSON types (quoted vs bare) and insensitive to
    integer-vs-float encoding."""
    if depth <= 0:
        return F.to_json(v)
    m = as_map(v)
    arr = as_array(v)
    arr_c = F.concat(
        F.lit("["),
        F.array_join(F.transform(arr, lambda x: canonical_json(x, depth - 1)), ","),
        F.lit("]"),
    )
    obj_c = F.concat(
        F.lit("{"),
        F.array_join(
            F.transform(
                F.array_sort(F.map_keys(m)),
                lambda k: F.concat(
                    _json_str(k),
                    F.lit(":"),
                    canonical_json(F.try_element_at(m, k), depth - 1),
                ),
            ),
            ",",
        ),
        F.lit("}"),
    )
    return (
        F.when(vtype(v) == "number", as_double(v).cast("string"))
        .when(vtype(v) == "array", arr_c)
        .when(vtype(v) == "object", obj_c)
        .otherwise(F.to_json(v))
    )


class VariantCompileWarning:
    def __init__(self):
        self.truncated_paths: List[str] = []


def _max_enum_depth(schema: Any, refs: Optional[Dict[str, Any]] = None) -> int:
    """Max literal depth across the enums the schema's validation reaches."""
    return _enum_depth(ir.lower(schema, refs))


def _enum_depth(root: ir.Node) -> int:
    return max((c.depth for node in ir.reachable(root) for c in node.checks
                if isinstance(c, ir.Enum)), default=0)


def compile_variant(
    schema: Any,
    refs: Optional[Dict[str, Any]] = None,
    max_depth: int = 6,
):
    """Compile to a VariantPlan. Recursive schemas unroll ``max_depth``
    levels; deeper subtrees vacuously pass (plan.warning lists the schema
    paths of the nodes cut off). Schemas whose enum literals nest deeper
    than ``CANON_DEPTH`` are routed to the Arrow-UDF kernel at compile
    time (``plan.kernel_routed``): below that depth variant deep equality
    compares subtrees textually, so ``1`` and ``1.0`` would differ
    (reference src/v4/enum.js:24-28 R.equals)."""
    refs = refs or {}
    warning = VariantCompileWarning()
    root = ir.lower(schema, refs)
    if _enum_depth(root) > CANON_DEPTH:
        return VariantPlan(None, warning, kernel_udf(compile_schema(schema, refs=refs)))

    def vacuous(v, p, m=None, a=None, t=None, pm=None):
        return _empty_errors()

    def unroll(node: ir.Node, depth: int) -> Callable:
        """The emitter ``emit(v, path, m, a, t, pm)`` -> errors of ``node``;
        its ``props`` are the names its ``properties`` check reads."""
        if node is ir.ANY:
            return vacuous
        if depth > max_depth:
            warning.truncated_paths.append(node.path)
            return vacuous
        emitters = [_EMITTERS[type(c)](c, lambda sub: unroll(sub, depth + 1))
                    for c in node.checks]
        emitters = [e for e in emitters if e is not None]

        def emit(v: Column, path: Column, m=None, a=None, t=None, pm=None) -> Column:
            return _concat_errors([em(v, path, m, a, t, pm) for em in emitters])

        emit.props = [k for c in node.checks if isinstance(c, ir.Properties) for k, _s in c.entries]
        return emit

    return VariantPlan(unroll(root, 0), warning)


class VariantPlan:
    def __init__(
        self,
        root: Optional[Callable],
        warning: VariantCompileWarning,
        udf=None,
    ):
        self._root = root
        self.warning = warning
        #: the Arrow-UDF kernel when compile_variant routed this schema to
        #: it (enum literals deeper than CANON_DEPTH)
        self._udf = udf
        self.kernel_routed = udf is not None

    def errors_for_variant(
        self, v: Column, m: Optional[Column] = None, a: Optional[Column] = None,
        pm=None,
    ) -> Column:
        """errors for an already-materialized VariantType column (e.g. a
        VARIANT table column at rest — the preferred input). ``m``/``a``
        optionally inject pre-materialized root map/array casts (see
        ``vtype``)."""
        if self.kernel_routed:
            # kernel over the variant's JSON rendering: to_json preserves
            # the stored int-vs-double distinction, json.loads restores
            # it, and the kernel's deep equality is depth-unbounded
            return self._udf(F.to_json(v))
        return self._root(v, F.array().cast("array<string>"), m, a, None, pm)

    def with_errors(self, df: DataFrame, doc_col: str) -> DataFrame:
        """Append the ``errors`` of the JSON-string column ``doc_col``. The
        explode(array(parse_json)) barrier makes the parsed variant a
        Generate output attribute, so the document is parsed ONCE per row
        instead of once per keyword (CollapseProject would otherwise
        inline parse_json into every check expression — measured 3.8x
        slower)."""
        if self.kernel_routed:
            # compile-time auto-route (deep enum literals): the Arrow-UDF
            # kernel IS the faithful semantics, same output contract
            # including the '$parse' quarantine rows
            return df.withColumn("errors", self._udf(column(doc_col)))
        # try_parse_json: a malformed document becomes a '$parse' error
        # row instead of failing the whole job (quarantine semantics; the
        # Arrow-UDF kernel in dynamic.py does the same)
        parse_err = F.array(
            _err_struct(
                F.array().cast("array<string>"),
                "$parse",
                F.concat(F.lit("malformed JSON: "), F.substring(F.col(doc_col), 1, 80)),
                None,
                F.substring(F.col(doc_col), 1, 80),
            )
        )
        # second barrier: the ROOT map/array casts become Generate
        # output attributes too — every root-level keyword references
        # them (guards + member access), and interpreted variant
        # expressions re-evaluate each inline reference (no CSE);
        # measured ~1.4x on the recursion-keyword parity query at sf0.1
        step = df.select(
            "*", F.explode(F.array(F.try_parse_json(doc_col))).alias("__v")
        ).select(
            "*",
            F.explode(
                F.array(
                    F.struct(
                        as_map(F.col("__v")).alias("m"),
                        as_array(F.col("__v")).alias("a"),
                    )
                )
            ).alias("__vx"),
        )
        # third/fourth barriers: the schema's DIRECT root properties are
        # compile-time-known, so project each child variant AND its
        # runtime type out of the document once — every keyword under a
        # property then type-dispatches on one attribute read instead of
        # re-walking the variant per reference (interpreted mode has no
        # CSE). This is the "project out the paths the schema reads"
        # optimization; measured ~2x on the 3-keyword props gate query.
        pm = None
        drop = ["__v", "__vx"]
        props = getattr(self._root, "props", [])
        if props:
            m_attr = F.col("__vx.m")
            step = step.select(
                "*",
                F.explode(
                    F.array(
                        F.struct(
                            *[
                                F.try_element_at(m_attr, F.lit(k)).alias(f"c{i}")
                                for i, k in enumerate(props)
                            ]
                        )
                    )
                ).alias("__vp"),
            ).select(
                "*",
                F.explode(
                    F.array(
                        F.struct(
                            *[
                                vtype(F.col(f"__vp.c{i}")).alias(f"t{i}")
                                for i in range(len(props))
                            ]
                        )
                    )
                ).alias("__vt"),
            )
            pm = {
                k: (F.col(f"__vp.c{i}"), F.col(f"__vt.t{i}"))
                for i, k in enumerate(props)
            }
            drop += ["__vp", "__vt"]
        return step.withColumn(
            "errors",
            F.when(F.col(doc_col).isNull(), _empty_errors())
            .when(F.col("__v").isNull(), parse_err)
            .otherwise(
                self.errors_for_variant(
                    F.col("__v"), F.col("__vx.m"), F.col("__vx.a"), pm
                )
            ),
        ).drop(*drop)


# -------------------------------------------------------------- check emit
# One function per IR check kind: (check, rec) -> emit(v, p, m, a, t, pm)
# -> errors array, or None to elide; ``rec`` unrolls a subschema one
# level deeper.


def _vk_type(c: ir.Type, rec):
    tset = set(c.types)

    def emit(v, p, m=None, a=None, t=None, pm=None):
        actual = _vt(v, m, a, t)
        ok = actual.isin([t for t in tset if t != "integer"])
        if c.integer:
            d = as_double(v)
            ok = ok | ((actual == "number") & d.isNotNull() & (d == F.floor(d)))
        err = _err_struct(p, c.keyword, F.lit(c.message), F.lit(c.expected), actual)
        return _leaf(v.isNotNull() & ~ok, err)

    return emit


def _vk_enum(c: ir.Enum, rec):
    values = c.values
    num_targets = [float(x) for x in values
                   if isinstance(x, (int, float)) and not isinstance(x, bool)]
    str_targets = [x for x in values if isinstance(x, str)]
    bool_targets = [x for x in values if isinstance(x, bool)]
    has_null = any(x is None for x in values)
    composite = [x for x in values if isinstance(x, (list, dict))]

    def emit(v, p, m=None, a=None, t=None, pm=None):
        t = _vt(v, m, a, t)
        ok = F.lit(False)
        if num_targets:
            ok = ok | ((t == "number") & as_double(v).isin(num_targets))
        if str_targets:
            ok = ok | ((t == "string") & as_string(v).isin(str_targets))
        if bool_targets:
            ok = ok | ((t == "boolean") & F.try_variant_get(v, "$", "boolean").isin(bool_targets))
        if has_null:
            ok = ok | (t == "null")
        if composite:
            # canonical deep equality: both the document value and the
            # enum targets render through the same canonical_json walk,
            # so 1 == 1.0 holds at every nesting level and key
            # order/escaping can never diverge. The targets are
            # COMPILE-TIME constants: evaluate them once on a 1-row
            # frame and embed string literals — the per-row fallback
            # (no active session at compile time) re-walks N
            # interpreted depth-6 canonical trees per row
            target_strs = _const_canonical(composite)
            if target_strs is not None:
                targets = F.array(*[F.lit(s) for s in target_strs])
            else:
                targets = F.array(*[canonical_json(F.parse_json(F.lit(json.dumps(x))))
                                    for x in composite])
            ok = ok | (t.isin(["array", "object"]) & F.array_contains(targets, canonical_json(v)))
        err = _err_struct(p, c.keyword, F.lit(c.message), F.lit(c.expected),
                          canonical_str(v, m, a))
        return _leaf(v.isNotNull() & ~ok, err)

    return emit


def _vk_bound(c: ir.Bound, rec):
    def emit(v, p, m=None, a=None, t=None, pm=None):
        d = as_double(v)
        bound = F.lit(float(c.number))
        if math.isnan(c.number):
            ok = F.lit(False)  # Spark orders NaN above every double
        elif c.is_min:
            ok = d > bound if c.exclusive else d >= bound
        else:
            ok = d < bound if c.exclusive else d <= bound
        err = _err_struct(p, c.keyword, F.lit(c.message))
        return _leaf((_vt(v, m, a, t) == "number") & ~ok, err)

    return emit


def _vk_multiple_of(c: ir.MultipleOf, rec):
    def emit(v, p, m=None, a=None, t=None, pm=None):
        d = as_double(v)
        ok = (d / F.lit(float(c.divisor))) % 1 == 0
        err = _err_struct(p, c.keyword, F.lit(c.message))
        return _leaf((_vt(v, m, a, t) == "number") & ~ok, err)

    return emit


def _vk_size(c: ir.Size, rec):
    # arrays and objects are guarded via the cast probe directly
    # (vtype=='array' is equivalent but builds the map probe first; trap:
    # interpreted mode re-evaluates every inline reference)
    def emit(v, p, m=None, a=None, t=None, pm=None):
        if c.guard == "string":
            n, guard = F.length(as_string(v)), _vt(v, m, a, t) == "string"
        elif c.guard == "array":
            arr = _a(v, a)
            n, guard = F.size(arr), arr.isNotNull()
        else:
            mm = _m(v, m)
            n, guard = F.size(F.map_keys(mm)), mm.isNotNull()
        k = _size_limit(c)
        ok = n >= k if c.is_min else n <= k
        err = _err_struct(p, c.keyword, F.lit(c.message))
        return _leaf(guard & ~ok, err)

    return emit


def _vk_pattern(c: ir.Pattern, rec):
    def emit(v, p, m=None, a=None, t=None, pm=None):
        err = _err_struct(p, c.keyword, F.lit(c.message))
        return _leaf((_vt(v, m, a, t) == "string") & ~as_string(v).rlike(c.regex.java), err)

    return emit


def _vk_unique_items(c: ir.UniqueItems, rec):
    def emit(v, p, m=None, a=None, t=None, pm=None):
        if not c.unique:
            return _empty_errors()
        arr = _a(v, a)
        canon = F.transform(arr, lambda x: canonical_json(x))
        ndup = F.size(canon) - F.size(F.array_distinct(canon))
        err = _err_struct(p, c.keyword, _say(c.words, ndup))
        return _leaf(arr.isNotNull() & (ndup > 0), err)

    return emit


def _vk_required(c: ir.Required, rec):
    def emit(v, p, m=None, a=None, t=None, pm=None):
        return _required_in_map(c, _m(v, m), p)

    return emit


def _vk_properties(c: ir.Properties, rec):
    subs = [(key, rec(sub)) for key, sub in c.entries]

    def emit(v, p, m=None, a=None, t=None, pm=None):
        mm = _m(v, m)
        guard = mm.isNotNull()
        parts = []
        for key, sub in subs:
            if pm is not None and key in pm:  # barrier attributes of a root property
                child_v, child_t = pm[key]
            else:
                child_v, child_t = F.try_element_at(mm, F.lit(key)), None
            child = sub(child_v, _at_key(p, key), None, None, child_t)
            parts.append(
                F.when(guard & F.map_contains_key(mm, key), child).otherwise(_empty_errors()))
        return _concat_errors(parts)

    return emit


def _vk_pattern_properties(c: ir.PatternProperties, rec):
    subs = [(regex, rec(sub)) for regex, sub in c.entries]

    def emit(v, p, m=None, a=None, t=None, pm=None):
        mm = _m(v, m)
        return _concat_errors([
            F.when(mm.isNotNull(), F.flatten(F.transform(
                F.filter(F.map_keys(mm), lambda k: k.rlike(regex.java)),
                lambda k: sub(F.try_element_at(mm, k), _at_key(p, k)),
            ))).otherwise(_empty_errors())
            for regex, sub in subs])

    return emit


def _vk_additional_properties(c: ir.AdditionalProperties, rec):
    sub = rec(c.additional) if isinstance(c.additional, ir.Node) else None
    known = list(c.known)

    def is_add(k):
        cond = ~k.isin(known) if known else F.lit(True)
        for rx in c.patterns:
            cond = cond & ~k.rlike(rx.java)
        return cond

    def emit(v, p, m=None, a=None, t=None, pm=None):
        if c.additional is True:
            return _empty_errors()
        mm = _m(v, m)
        guard = mm.isNotNull()
        addkeys = F.filter(F.map_keys(mm), is_add)
        n = F.size(addkeys)
        if c.additional is False:
            err = _err_struct(p, c.keyword, _say(c.found, n, addkeys))
            return _leaf(guard & (n > 0), err)
        invalid = _invalid_keys(
            c, addkeys, lambda k: sub(F.try_element_at(mm, k), _at_key(p, k)), p)
        return F.when(guard, invalid).otherwise(_empty_errors())

    return emit


def _vk_items(c: ir.Items, rec):
    sub = rec(c.node)

    def emit(v, p, m=None, a=None, t=None, pm=None):
        arr = _a(v, a)
        per_elem = F.transform(arr, lambda x, i: sub(x, _at_key(p, i.cast("string"))))
        return F.when(arr.isNotNull(), F.flatten(per_elem)).otherwise(_empty_errors())

    return emit


def _vk_tuple_items(c: ir.TupleItems, rec):
    subs = [rec(sub) for sub in c.nodes]
    add_node = rec(c.additional) if isinstance(c.additional, ir.Node) else None

    # ONE transform over the array instead of one slice/element_at per
    # tuple slot: each extra reference to the array re-evaluates the
    # whole parent chain (root map build -> property get -> array build)
    # in interpreted variant mode — measured ~2x on the tuple-items
    # parity query at sf0.1. Error order is unchanged: each tuple slot
    # touches exactly its own element, so slot order == element order.
    def emit(v, p, m=None, a=None, t=None, pm=None):
        arr = _a(v, a)

        def per_elem(x, i):
            ep = _at_key(p, i.cast("string"))
            w = None
            for j, sub in enumerate(subs):
                child = sub(x, ep)
                w = F.when(i == j, child) if w is None else w.when(i == j, child)
            if c.additional is False:
                extra = F.array(_err_struct(ep, c.keyword, F.lit(c.message)))
            elif add_node is not None:
                extra = add_node(x, ep)
            else:
                extra = _empty_errors()
            return extra if w is None else w.otherwise(extra)

        return F.when(arr.isNotNull(), F.flatten(F.transform(arr, per_elem))).otherwise(
            _empty_errors())

    return emit


def _vk_dependencies(c: ir.Dependencies, rec):
    subs = {dep: rec(dep.node) for dep in c.entries if isinstance(dep, ir.DependentSchema)}

    def emit(v, p, m=None, a=None, t=None, pm=None):
        mm = _m(v, m)
        return _dependency_errors(c, mm.isNotNull(), lambda name: F.map_contains_key(mm, name),
                                  lambda dep: subs[dep](v, p, m, a, t, pm), p)

    return emit


def _vk_all_of(c: ir.AllOf, rec):
    subs = [rec(sub) for sub in c.nodes]

    def emit(v, p, m=None, a=None, t=None, pm=None):
        return _all_of_errors(c, [s(v, p, m, a, t, pm) for s in subs], p)

    return emit


def _vk_any_of(c: ir.AnyOf, rec):
    subs = [rec(sub) for sub in c.nodes]
    if not subs:
        return None

    def emit(v, p, m=None, a=None, t=None, pm=None):
        return _any_of_errors(c, [s(v, p, m, a, t, pm) for s in subs], p)

    return emit


def _vk_one_of(c: ir.OneOf, rec):
    subs = [rec(sub) for sub in c.nodes]

    def emit(v, p, m=None, a=None, t=None, pm=None):
        return _one_of_errors(c, [s(v, p, m, a, t, pm) for s in subs], p)

    return emit


def _vk_not(c: ir.Not, rec):
    sub = rec(c.node)

    def emit(v, p, m=None, a=None, t=None, pm=None):
        return _not_errors(c, sub(v, p, m, a, t, pm), p)

    return emit


#: IR check kind -> the function making its emitter
_EMITTERS: Dict[type, Callable] = {
    ir.Type: _vk_type, ir.Enum: _vk_enum, ir.Bound: _vk_bound,
    ir.MultipleOf: _vk_multiple_of, ir.Size: _vk_size, ir.Pattern: _vk_pattern,
    ir.UniqueItems: _vk_unique_items, ir.Required: _vk_required,
    ir.Properties: _vk_properties, ir.PatternProperties: _vk_pattern_properties,
    ir.AdditionalProperties: _vk_additional_properties, ir.Items: _vk_items,
    ir.TupleItems: _vk_tuple_items, ir.Dependencies: _vk_dependencies,
    ir.AllOf: _vk_all_of, ir.AnyOf: _vk_any_of, ir.OneOf: _vk_one_of, ir.Not: _vk_not,
}
