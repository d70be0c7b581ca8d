"""Variant-mode conformance: the JVM-side dynamic validator must agree
with the fixtures (and therefore with the UDF kernel) on every case."""

import json

import pytest
from pyspark.sql import functions as F

from schema_fantasy_spark import compile_schema
from schema_fantasy_spark.engine import ValidationEngine
from schema_fantasy_spark.variant import compile_variant
from tests.conftest import load_fixture_cases

_BY_FEATURE = {}
for g, feat, case, schema, refs, data, valid in load_fixture_cases():
    _BY_FEATURE.setdefault((g, feat), {"schema": schema, "refs": refs, "cases": []})
    _BY_FEATURE[(g, feat)]["cases"].append((case, data, valid))

FEATURES = sorted(_BY_FEATURE.items(), key=lambda kv: kv[0])
IDS = [f"{g}:{feat}" for (g, feat), _ in FEATURES]


@pytest.mark.parametrize("key,feature", FEATURES, ids=IDS)
def test_variant_conformance(spark, key, feature):
    rows = [(c, json.dumps(d), v) for c, d, v in feature["cases"]]
    df = spark.createDataFrame(rows, "c: string, doc: string, want: boolean")
    plan = compile_variant(feature["schema"], refs=feature["refs"])
    bad = df.transform(lambda d: plan.apply(d, "doc")).filter(
        F.col("verdict") != F.col("want")
    ).select("c", "want", F.to_json("errors").alias("e")).collect()
    assert not bad, f"{key}: {[(r['c'], r['want'], r['e']) for r in bad]}"


def test_recursion_unrolls_and_truncates(spark):
    rec = {
        "definitions": {"node": {"properties": {"kid": {"$ref": "#/definitions/node"},
                                                "v": {"type": "integer"}}}},
        "$ref": "#/definitions/node",
    }
    plan = compile_variant(rec, max_depth=3)
    assert plan.warning.truncated_paths  # truncation recorded
    doc_ok = {"v": 1, "kid": {"v": 2, "kid": {"v": 3}}}
    doc_bad = {"v": 1, "kid": {"v": "x"}}
    deep_bad = {"kid": {"kid": {"kid": {"kid": {"v": "x"}}}}}  # beyond depth
    df = spark.createDataFrame(
        [(json.dumps(doc_ok),), (json.dumps(doc_bad),), (json.dumps(deep_bad),)],
        "doc: string",
    )
    got = [r["verdict"] for r in plan.apply(df, "doc").collect()]
    assert got == [True, False, True]  # deep violation vacuously passes (documented)


def test_variant_agrees_with_udf_on_events(spark):
    from __spark_entry__ import PROPS_SCHEMA

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    v = compile_variant(PROPS_SCHEMA).apply(ev, "props")
    u = ValidationEngine(PROPS_SCHEMA, mode="dynamic").apply(ev, doc_col="props")
    va = {(r["event_id"], r["verdict"]) for r in v.select("event_id", "verdict").collect()}
    ua = {(r["event_id"], r["verdict"]) for r in u.select("event_id", "verdict").collect()}
    assert va == ua


def test_variant_agrees_with_columnar_on_typed_corpus(spark):
    """Three-mode consistency: the same 840-row corpus validated (a)
    columnar over typed columns and (b) variant over the JSON-serialized
    documents must yield identical (path, keyword, depth) multisets."""
    from schema_fantasy_spark.columnar import compile_columnar
    from tests.test_columnar import (
        FULL_SCHEMA, TYPED_SCHEMA, _mk_rows, _row_to_json_value,
    )

    df = spark.createDataFrame(_mk_rows(), TYPED_SCHEMA)
    col_plan = compile_columnar(FULL_SCHEMA)
    got_col = {
        r["rid"]: sorted(("/".join(e["path"]), e["keyword"], e["depth"]) for e in r["errors"])
        for r in col_plan.apply(df).select("rid", "errors").collect()
    }

    docs = []
    for raw in df.collect():
        d = raw.asDict(recursive=False)
        rid = d.pop("rid")
        value = _row_to_json_value(d)
        value["rid"] = rid
        docs.append((rid, json.dumps(value)))
    jdf = spark.createDataFrame(docs, "rid: long, doc: string")
    var_plan = compile_variant(FULL_SCHEMA)
    got_var = {
        r["rid"]: sorted(("/".join(e["path"]), e["keyword"], e["depth"]) for e in r["errors"])
        for r in var_plan.apply(jdf, "doc").select("rid", "errors").collect()
    }
    mismatches = [(k, got_col[k], got_var[k]) for k in got_col if got_col[k] != got_var[k]]
    assert not mismatches, f"{len(mismatches)} rows disagree; first: {mismatches[0]}"


def test_variant_malformed_json_quarantined(spark):
    """try_parse_json + null-variant guard: malformed docs become '$parse'
    violation rows; the job never dies on one bad document."""
    plan = compile_variant({"required": ["a"]})
    df = spark.createDataFrame(
        [(1, '{"a": 1}'), (2, '{"a": '), (3, None)], "id: long, doc: string"
    )
    out = {r["id"]: r for r in plan.apply(df, "doc").collect()}
    assert out[1]["verdict"] is True
    assert out[2]["verdict"] is False
    assert out[2]["errors"][0]["keyword"] == "$parse"
    assert out[3]["verdict"] is False or out[3]["errors"] == []
    # $parse rows are identical across modes (they share driver oracles)
    dyn = {r["id"]: r for r in ValidationEngine({"required": ["a"]}, mode="dynamic")
           .apply(df, doc_col="doc").collect()}
    assert dyn[2]["errors"][0]["message"] == out[2]["errors"][0]["message"]


def test_variant_kernel_agreement_on_random_composite_enums(spark):
    """Deep-equality fuzz (seeded): for random composite enum targets the
    variant plan must agree with the Python kernel on the target itself,
    a numerically-equivalent re-encoding (every int re-encoded as float —
    must ACCEPT), and structural near-misses (must REJECT)."""
    import random

    rng = random.Random(7)

    def rand_value(depth=0):
        r = rng.random()
        if depth >= 3 or r < 0.35:
            return rng.choice(
                [rng.randint(-5, 5), round(rng.uniform(-2, 2), 3),
                 f"s{rng.randint(0, 3)}", True, False, None]
            )
        if r < 0.7:
            return [rand_value(depth + 1) for _ in range(rng.randint(0, 3))]
        return {f"k{i}": rand_value(depth + 1) for i in range(rng.randint(0, 3))}

    def float_encode(v):
        if isinstance(v, bool):
            return v
        if isinstance(v, int):
            return float(v)
        if isinstance(v, list):
            return [float_encode(x) for x in v]
        if isinstance(v, dict):
            return {k: float_encode(x) for k, x in v.items()}
        return v

    for _ in range(8):
        target = rand_value()
        if not isinstance(target, (list, dict)):
            target = [target, {"a": target}]
        schema = {"enum": [target]}
        kernel = compile_schema(schema)
        cands = [
            target,
            float_encode(target),        # numeric re-encoding: equal
            [target, "extra-sentinel"],  # structural near-miss
            {"wrapped": target},
        ]
        rows = [(i, json.dumps(c)) for i, c in enumerate(cands)]
        df = spark.createDataFrame(rows, "i: long, doc: string")
        plan = compile_variant(schema)
        got = {
            r["i"]: r["verdict"]
            for r in plan.apply(df, "doc").select("i", "verdict").collect()
        }
        want = {i: kernel.is_valid(c) for i, c in enumerate(cands)}
        assert got == want, (target, got, want)
        assert want[0] and want[1]  # the re-encoding must be accepted


def test_deep_enum_auto_routes_to_kernel(spark):
    """enum literals nested past CANON_DEPTH auto-route the whole plan to
    the Arrow-UDF kernel at compile time: ``enum: [[[[[[[1]]]]]]]`` must
    accept the float re-encoding ``[[[[[[[1.0]]]]]]]`` (reference R.equals
    number semantics, src/v4/enum.js:24-28) — below the unroll depth the
    pure variant expressions would compare '1' vs '1.0' textually."""
    from schema_fantasy_spark.variant import CANON_DEPTH, _max_enum_depth

    target = 1
    for _ in range(CANON_DEPTH + 1):
        target = [target]
    schema = {"enum": [target]}
    assert _max_enum_depth(schema) == CANON_DEPTH + 1

    def reencode(v):
        return [reencode(x) for x in v] if isinstance(v, list) else float(v)

    plan = compile_variant(schema)
    assert plan.kernel_routed
    cands = [target, reencode(target), [target], "nope"]
    df = spark.createDataFrame(
        [(i, json.dumps(c)) for i, c in enumerate(cands)], "i: long, doc: string"
    )
    got = {r["i"]: r["verdict"]
           for r in plan.apply(df, "doc").select("i", "verdict").collect()}
    kernel = {r["i"]: r["verdict"]
              for r in ValidationEngine(schema, mode="dynamic").apply(df, doc_col="doc")
              .select("i", "verdict").collect()}
    assert got == kernel == {0: True, 1: True, 2: False, 3: False}

    # errors_for_variant routes too (variant column at rest)
    vdf = df.select("i", F.parse_json("doc").alias("v"))
    ec = plan.errors_for_variant(F.col("v"))
    got_v = {r["i"]: r["n"] == 0
             for r in vdf.select("i", F.size(ec).alias("n")).collect()}
    assert got_v == {0: True, 1: True, 2: False, 3: False}

    # a depth-6 enum still compiles to pure variant expressions
    shallow = {"enum": [[[1]]]}
    assert not compile_variant(shallow).kernel_routed


def test_deep_enum_route_generates_kernel_once(spark, monkeypatch):
    """A kernel-routed variant plan generates its kernel at compile time;
    every apply and errors_for_variant reuses it."""
    from schema_fantasy_spark.compiler import plan
    from schema_fantasy_spark.variant import CANON_DEPTH

    calls = []
    generate = plan.generate_source
    monkeypatch.setattr(plan, "generate_source",
                        lambda *a, **kw: calls.append(a) or generate(*a, **kw))
    target = 1
    for _ in range(CANON_DEPTH + 1):
        target = [target]
    routed = compile_variant({"enum": [target]})
    df = spark.createDataFrame([(0, json.dumps(target)), (1, "2")], "i: long, doc: string")
    for _ in range(2):
        got = {r["i"]: r["verdict"] for r in routed.apply(df, "doc").collect()}
        assert got == {0: True, 1: False}
    vdf = df.select("i", F.parse_json("doc").alias("v"))
    assert vdf.select(F.size(routed.errors_for_variant(F.col("v")))).count() == 2
    assert len(calls) == 1
