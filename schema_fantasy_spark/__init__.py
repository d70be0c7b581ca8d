"""schema_fantasy_spark — a PySpark-native schema + constraint validation engine.

Built from scratch (NOT a port) with the query semantics of the reference
JSON-Schema draft-4 validator at /root/reference (ericgj/schema-fantasy).
The reference is a recursive per-value interpreter with applicative
error accumulation (reference index.js:56-63); this engine re-expresses
those semantics two ways:

* ``columnar`` — compile a JSON-Schema document once on the driver into a
  flat DAG of Spark ``Column`` expressions over a typed DataFrame (the
  100 TB path: whole-stage codegen, no Python in the hot loop).
* ``dynamic``  — a vectorized Arrow-batched validator for fully dynamic
  JSON documents (conformance parity with the reference's test suite).

Plus ENGINE-NEW table-scope checks (column stats, uniqueness, referential
integrity, distribution drift) and checkpoint/resume manifests.
"""

from schema_fantasy_spark.errors import Err, render_error
from schema_fantasy_spark.compiler.plan import compile_schema, SchemaCompileError
from schema_fantasy_spark.compiler.linker import link, refs_in, CyclicRefError, UnknownResourceError

__version__ = "0.1.0"

__all__ = [
    "Err",
    "render_error",
    "compile_schema",
    "SchemaCompileError",
    "link",
    "refs_in",
    "CyclicRefError",
    "UnknownResourceError",
]
