"""Seeded ``$ref`` fuzz against jsonschema's Draft4Validator, in plain
Python (no Spark).

Each seed builds a draft-4 schema whose subschemas may be a ``$ref`` to
the root or to one of its ``definitions``, under combinators,
``properties``, ``patternProperties``, ``items``, ``additionalProperties``
and schema ``dependencies``, and documents that follow the schema's
shape but put a value of the wrong type at keyword sites. Then:

* a schema on which Draft4Validator recurses without end must fail to
  compile with ``CyclicRefError``;
* otherwise the kernel's verdict equals Draft4Validator's on every
  document, and the kernel never raises.

Left out, as in ``test_property_jsonschema.py``: ``pattern`` (regex
dialects differ; the property patterns here are plain literals),
integral floats (the reference cannot tell 1.0 from 1), and
``uniqueItems``.
"""

import random

import jsonschema
import pytest

from schema_fantasy_spark import CyclicRefError, compile_schema

BLOCKS = 24
SEEDS_PER_BLOCK = 40
DOCS_PER_SCHEMA = 14

TYPES = ("null", "boolean", "integer", "number", "string", "array", "object")
KEYS = ("a", "b", "c")
LEAVES = ("type", "enum", "minimum", "maximum", "multipleOf", "minLength", "maxLength",
          "minItems", "maxItems", "minProperties", "maxProperties", "required")
BRANCHES = ("properties", "patternProperties", "items", "tuple", "additionalProperties",
            "allOf", "anyOf", "oneOf", "not", "dependencies")


def _value(rng: random.Random, t: str, depth: int = 1):
    """A value of JSON type ``t``; containers hold up to two scalars
    (or shallower containers while ``depth`` lasts)."""
    if t in ("array", "object") and depth > 0:
        kids = [_value(rng, rng.choice(TYPES), depth - 1) for _ in range(rng.randint(0, 2))]
        return kids if t == "array" else dict(zip(rng.sample(KEYS + ("z",), len(kids)), kids))
    return {"null": None, "boolean": rng.random() < 0.5, "integer": rng.choice((-7, 0, 3, 12)),
            "number": rng.choice((-2.5, 0.5, 7.25)), "string": rng.choice(("", "ab", "xyz")),
            "array": [], "object": {}}[t]


class _Case:
    """One seed's schema and documents."""

    def __init__(self, seed: int):
        self.rng = rng = random.Random(seed)
        self.targets = ["#"] + [f"#/definitions/d{i}" for i in range(rng.randint(0, 3))]
        defs = {t.rsplit("/", 1)[1]: self.schema(2) for t in self.targets[1:]}
        self.root = self.schema(3, ref=False)
        if defs:
            self.root["definitions"] = defs
        self.docs = [self.doc(self.root, 4) for _ in range(DOCS_PER_SCHEMA)]

    # ---------------------------------------------------------- schemas

    def schema(self, depth: int, ref: bool = True) -> dict:
        rng = self.rng
        if ref and rng.random() < 0.3:
            return {"$ref": rng.choice(self.targets)}
        out: dict = {}
        for _ in range(rng.randint(1, 3)):
            kw = rng.choice(LEAVES + BRANCHES if depth > 0 else LEAVES)
            out.update(self.keyword(kw, depth - 1))
        return out

    def keyword(self, kw: str, depth: int) -> dict:
        rng, sub = self.rng, lambda: self.schema(depth)
        if kw == "type":
            ts = rng.sample(TYPES, rng.randint(1, 2))
            return {"type": ts[0] if len(ts) == 1 else ts}
        if kw == "enum":
            return {"enum": [_value(rng, rng.choice(TYPES), 0) for _ in range(rng.randint(1, 3))]}
        if kw in ("minimum", "maximum"):
            return {kw: rng.randint(-5, 10), "exclusiveM" + kw[1:]: rng.random() < 0.5}
        if kw == "multipleOf":
            return {kw: rng.choice((2, 3))}
        if kw.startswith(("min", "max")):
            return {kw: rng.randint(0, 3)}
        if kw == "required":
            return {kw: rng.sample(KEYS, rng.randint(1, 2))}
        if kw == "properties":
            return {kw: {k: sub() for k in rng.sample(KEYS, rng.randint(1, 2))}}
        if kw == "patternProperties":
            return {kw: {f"^{rng.choice(KEYS)}": sub()}}
        if kw == "items":
            return {kw: sub()}
        if kw == "tuple":
            extra = rng.choice((True, False, None))
            return {"items": [sub() for _ in range(rng.randint(1, 2))],
                    **({} if extra is None else {"additionalItems": extra or sub()})}
        if kw == "additionalProperties":
            return {kw: sub() if rng.random() < 0.6 else rng.random() < 0.5}
        if kw in ("allOf", "anyOf", "oneOf"):
            return {kw: [sub() for _ in range(rng.randint(1, 3))]}
        if kw == "not":
            return {kw: sub()}
        return {kw: {k: sub() if rng.random() < 0.6 else rng.sample(KEYS, 1)
                     for k in rng.sample(KEYS, rng.randint(1, 2))}}

    # -------------------------------------------------------- documents

    def resolve(self, schema):
        """``schema`` with its ``$ref`` chain followed (None for a chain
        that does not end)."""
        for _ in range(8):
            if not isinstance(schema, dict) or "$ref" not in schema:
                return schema
            ref = schema["$ref"]
            schema = self.root if ref == "#" else self.root["definitions"][ref.rsplit("/", 1)[1]]
        return None

    def doc(self, schema, depth: int):
        """A value shaped by ``schema``: the type its keywords look at,
        or (now and then) a wrong type at that site."""
        rng, schema = self.rng, self.resolve(schema)
        if not isinstance(schema, dict) or depth <= 0 or rng.random() < 0.1:
            return _value(rng, rng.choice(TYPES))
        branches = [s for kw in ("allOf", "anyOf", "oneOf") for s in schema.get(kw, ())]
        if branches and rng.random() < 0.4:
            return self.doc(rng.choice(branches), depth)
        if any(k in schema for k in ("properties", "patternProperties", "required",
                                     "additionalProperties", "dependencies")):
            want = "object"
        elif "items" in schema:
            want = "array"
        else:
            t = schema.get("type", rng.choice(TYPES))
            want = rng.choice(t) if isinstance(t, list) else t
        if rng.random() < 0.25:  # the wrong type at this keyword's site
            want = rng.choice([t for t in TYPES if t != want])
        if want == "object":
            return self.object(schema, depth)
        if want == "array":
            items = schema.get("items", {})
            extra = schema.get("additionalItems", {})
            return [self.doc(items if isinstance(items, dict) else
                             items[i] if i < len(items) else extra, depth - 1)
                    for i in range(rng.randint(0, 3))]
        return _value(rng, want)

    def object(self, schema, depth: int) -> dict:
        rng, props = self.rng, schema.get("properties", {})
        keys = set(props) | set(schema.get("required", ())) | set(schema.get("dependencies", ()))
        keys = [k for k in sorted(keys) if rng.random() < 0.7] + rng.sample(("b", "z"), 1)
        extra = schema.get("additionalProperties", {})
        return {k: self.doc(props.get(k, extra if isinstance(extra, dict) else {}), depth - 1)
                for k in keys}


def _draft4_valid(validator, doc):
    """Draft4Validator's verdict, or None when it recurses without end."""
    try:
        return not list(validator.iter_errors(doc))
    except BaseException as e:
        # deep enough, the RecursionError may surface from inside the rpds
        # maps of ``referencing`` as pyo3's PanicException (a BaseException)
        if isinstance(e, RecursionError) or type(e).__name__ == "PanicException":
            return None
        raise


@pytest.mark.parametrize("block", range(BLOCKS))
def test_ref_verdicts_agree_with_draft4(block):
    n_valid = n_invalid = 0
    for seed in range(block * SEEDS_PER_BLOCK, (block + 1) * SEEDS_PER_BLOCK):
        case = _Case(seed)
        try:
            compiled = compile_schema(case.root)
        except CyclicRefError:
            continue
        validator = jsonschema.Draft4Validator(case.root)
        for doc in case.docs:
            want = _draft4_valid(validator, doc)
            assert want is not None, (seed, case.root, doc, "Draft4Validator recursed without end")
            assert compiled.is_valid(doc) == want, (seed, case.root, doc)
            n_valid, n_invalid = n_valid + want, n_invalid + (not want)
    assert n_valid and n_invalid  # the block checks both verdicts
