"""Iceberg table access WITHOUT the iceberg runtime jar: a pure-metadata
implementation of the public Apache Iceberg table spec (v2 layout,
including row-level deletes; v1 tables read unchanged), built on the
pure-Python Avro codec in ``avro_lite``.

Why this exists: the north rule reads "Iceberg tables of Common-Crawl
pages ... resumable, incremental across snapshots", and this container
ships no iceberg-spark-runtime. Iceberg's data plane IS parquet — the
table format is ~KBs of driver-side metadata (a JSON pointer tree plus
Avro manifest files). So the reader resolves snapshots from
``metadata/*.metadata.json``, walks the manifest list -> manifests ->
live data files, and hands the file list to ``spark.read.parquet`` —
planning cost is O(metadata), the scan is the same columnar parquet
scan as any other source, and snapshot time travel / incremental reads
become pure metadata operations. ``sources/iceberg.py`` remains the
catalog-based path for real clusters with the runtime jar.

Row-level deletes (spec v2) — the shape production tables actually
have (reference analogue: the linker must resolve EVERY reachable ref
or error, src/linker.js:96-103; here a snapshot's closure includes its
delete files, and skipping them would silently resurrect rows):

* POSITIONAL deletes — parquet files of ``(file_path, pos)`` — are
  applied distributed: the data scan projects the hidden parquet
  metadata columns ``_metadata.file_path`` / ``_metadata.row_index``
  (computed by the vectorized reader, no Python) and LEFT-ANTI joins
  the delete set on (file, pos) with the spec's sequence-number gate
  ``data_seq <= delete_seq``. The delete side is NOT unconditionally
  broadcast — at 10^12 rows a table can carry billions of delete rows,
  so the join is a plain equi anti join and AQE broadcasts it only
  when its runtime size allows.
* EQUALITY deletes — parquet files of values for ``equality_ids``
  columns — anti-join on null-safe equality (``<=>``; spec: null
  matches null) gated ``data_seq < delete_seq`` (strict, per spec:
  an equality delete never applies to files of its own commit).
* Sequence numbers follow v2 inheritance: an entry without an explicit
  ``sequence_number`` inherits its manifest-list row's; v1 metadata
  (no sequence numbers anywhere) reads as sequence 0 everywhere,
  which preserves the old all-deletes-apply-to-nothing behavior
  (v1 tables cannot carry delete files).

Partitioning (the north rule's "explicit partition pruning"): the
writer takes ``partition_by=["days(warc_ts)", "lang", ...]`` —
Iceberg's ``day`` transform (days since 1970-01-01, result type
``int``) plus ``identity`` over int/long/string columns. Per the spec:

* each manifest ENTRY records the file's partition tuple (the
  ``data_file.partition`` record, field names from the spec);
* each manifest-LIST row records per-field summaries
  (``partitions``: contains_null + lower/upper bounds, bounds in the
  spec's Appendix-D single-value binary serialization — ``<i``/``<q``
  little-endian ints, UTF-8 strings);
* the planner prunes BOTH levels: manifests whose summary range
  cannot match the filter are never opened, then surviving entries
  are filtered on their partition values — so at 10^12 docs a
  one-day scan touches one day's manifests and hands
  ``spark.read.parquet`` only that day's files. Pruned data files
  are NEVER opened (tests delete them from disk to prove it).

``partition_filter`` is ``{field_name: value}`` for equality or
``{field_name: (lo, hi)}`` for an inclusive range, ANDed across
fields. Data files land in Hive-style ``<name>=<value>`` directories
(readable layout; the manifests, not the paths, are authoritative —
the reader never parses paths).

Supported: snapshot listing, current/by-id resolution,
live-file listing (ADDED + EXISTING, DELETED dropped), positional +
equality delete application, partition pruning at manifest-list and
manifest-entry level, incremental file diffs between snapshots,
and a writer producing spec-layout v2 append / overwrite /
row-level-delete snapshots (local filesystem).
Malformed mixes (a delete file listed in a data manifest or vice
versa, unknown manifest content) raise rather than misread.
"""

from __future__ import annotations

import glob
import json
import os
import re
import struct
import urllib.parse
import uuid
from typing import Any, Dict, List, Optional, Tuple

from schema_fantasy_spark.sources.avro_lite import read_container, write_container


class IcebergLiteError(RuntimeError):
    pass


# --------------------------------------------------------------- reading


def _metadata_path(table_path: str) -> str:
    mdir = os.path.join(table_path, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.isfile(hint):
        v = open(hint).read().strip()
        cand = os.path.join(mdir, f"v{v}.metadata.json")
        if os.path.isfile(cand):
            return cand
    cands = glob.glob(os.path.join(mdir, "*.metadata.json"))
    if not cands:
        raise IcebergLiteError(f"no metadata json under {mdir}")

    def version_of(p: str) -> int:
        m = re.match(r"v(\d+)\.metadata\.json$", os.path.basename(p))
        return int(m.group(1)) if m else -1

    return max(cands, key=lambda p: (version_of(p), p))


def table_metadata(table_path: str) -> Dict[str, Any]:
    with open(_metadata_path(table_path)) as fh:
        return json.load(fh)


def snapshots(table_path: str) -> List[Dict[str, Any]]:
    return list(table_metadata(table_path).get("snapshots") or [])


def _resolve_snapshot(md: Dict[str, Any], snapshot_id: Optional[int] = None) -> Dict[str, Any]:
    snaps = md.get("snapshots") or []
    if not snaps:
        raise IcebergLiteError("table has no snapshots")
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise IcebergLiteError(f"snapshot {snapshot_id} not found")
    cur = md.get("current-snapshot-id")
    for s in snaps:
        if s["snapshot-id"] == cur:
            return s
    return snaps[-1]


def _local(path: str) -> str:
    # `file:///x`, `file://x`, and Spark's `file:/x` all normalize to /x
    return re.sub(r"^file:/*", "/", path) if path.startswith("file:") else path


# ----------------------------------------------------- partition specs

#: spark simpleString -> iceberg primitive for identity partitioning
_ICE_PRIM = {"int": "int", "bigint": "long", "long": "long", "string": "string"}


def _ice_prim(spark_type: str) -> str:
    t = _ICE_PRIM.get(spark_type)
    if t is None:
        raise IcebergLiteError(
            f"identity partitioning over {spark_type!r} not supported "
            "(int/long/string only)"
        )
    return t


def _parse_partition_by(
    partition_by: List[str], ice_schema: Dict[str, Any]
) -> List[Dict[str, Any]]:
    """``["days(warc_ts)", "lang"]`` -> spec field dicts. Iceberg's
    ``day`` transform yields days since 1970-01-01 (type ``int``);
    bare names are ``identity``. Field ids follow the spec's
    1000-based partition-field numbering."""
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    out = []
    for i, spec in enumerate(partition_by):
        m = re.fullmatch(r"days?\((\w+)\)", spec)
        if m:
            src = m.group(1)
            if src not in by_name:
                raise IcebergLiteError(f"partition source column {src!r} not in schema")
            out.append({
                "name": f"{src}_day", "transform": "day",
                "source-id": by_name[src]["id"], "field-id": 1000 + i,
                "source": src, "ice_type": "int",
            })
        elif re.fullmatch(r"\w+", spec):
            if spec not in by_name:
                raise IcebergLiteError(f"partition source column {spec!r} not in schema")
            out.append({
                "name": spec, "transform": "identity",
                "source-id": by_name[spec]["id"], "field-id": 1000 + i,
                "source": spec, "ice_type": _ice_prim(by_name[spec]["type"]),
            })
        else:
            raise IcebergLiteError(f"unsupported partition transform: {spec!r}")
    return out


def _spec_fields_of_md(md: Dict[str, Any]) -> List[Dict[str, Any]]:
    """The table's default partition-spec fields with their iceberg
    value types resolved (day -> int; identity -> source field type)."""
    specs = md.get("partition-specs") or []
    default_id = md.get("default-spec-id", 0)
    spec = next((s for s in specs if s.get("spec-id") == default_id), None)
    fields = (spec or {}).get("fields") or []
    if not fields:
        return []
    schema = md.get("schema") or {}
    schemas = md.get("schemas")
    if schemas:
        cur = md.get("current-schema-id")
        schema = next((s for s in schemas if s.get("schema-id") == cur), schemas[-1])
    types = {int(f["id"]): f["type"] for f in schema.get("fields", [])}
    out = []
    for f in fields:
        t = f["transform"]
        if t in ("day", "days"):
            ice = "int"
        elif t == "identity":
            ice = _ice_prim(types[int(f["source-id"])])
        else:
            raise IcebergLiteError(f"unsupported partition transform {t!r}")
        out.append({**f, "ice_type": ice})
    return out


def _ser_bound(ice_type: str, v: Any) -> Optional[bytes]:
    """Iceberg Appendix-D single-value serialization for bounds."""
    if v is None:
        return None
    if ice_type == "int":
        return struct.pack("<i", int(v))
    if ice_type == "long":
        return struct.pack("<q", int(v))
    return str(v).encode("utf-8")


def _deser_bound(ice_type: str, b: Optional[bytes]) -> Any:
    if b is None:
        return None
    if ice_type == "int":
        return struct.unpack("<i", bytes(b))[0]
    if ice_type == "long":
        return struct.unpack("<q", bytes(b))[0]
    return bytes(b).decode("utf-8")


def _filter_overlaps(filt_v: Any, lo: Any, hi: Any) -> bool:
    """Can any value in [lo, hi] satisfy the filter? (None bound =
    unknown -> cannot prune on that side.)"""
    if isinstance(filt_v, tuple):
        flo, fhi = filt_v
        if lo is not None and fhi < lo:
            return False
        if hi is not None and flo > hi:
            return False
        return True
    if lo is not None and filt_v < lo:
        return False
    if hi is not None and filt_v > hi:
        return False
    return True


def _entry_matches(partition_filter: Dict[str, Any], pvals: Dict[str, Any]) -> bool:
    for name, filt_v in partition_filter.items():
        v = pvals.get(name)
        if isinstance(filt_v, tuple):
            lo, hi = filt_v
            if v is None or not (lo <= v <= hi):
                return False
        elif v != filt_v:
            return False
    return True


def _check_filter_names(
    partition_filter: Optional[Dict[str, Any]], spec: List[Dict[str, Any]]
) -> None:
    if not partition_filter:
        return
    known = {f["name"] for f in spec}
    unknown = set(partition_filter) - known
    if unknown:
        raise IcebergLiteError(
            f"partition_filter names {sorted(unknown)} not in the table's "
            f"partition spec {sorted(known)}"
        )


def _entry_seq(entry: Dict[str, Any], mrow: Dict[str, Any]) -> int:
    """v2 sequence-number inheritance: explicit entry value, else the
    manifest-list row's; v1 metadata (neither present) -> 0."""
    s = entry.get("sequence_number")
    if s is None:
        s = mrow.get("sequence_number")
    return int(s) if s is not None else 0


def _scan_plan(
    md: Dict[str, Any],
    snap: Dict[str, Any],
    partition_filter: Optional[Dict[str, Any]] = None,
) -> Dict[str, Any]:
    """The snapshot's full file closure: live data files, positional
    delete files, and equality delete files, each with its data
    sequence number. O(metadata) — nothing here touches the data
    plane.

    With ``partition_filter``, pruning happens at BOTH metadata
    levels: a data manifest whose ``partitions`` summary range cannot
    overlap the filter is never even opened, and surviving entries
    drop when their partition tuple fails it. Delete manifests are
    never pruned (a positional/equality delete for a pruned file is a
    no-op in the anti join — correct, merely unpruned)."""
    spec = _spec_fields_of_md(md)
    _check_filter_names(partition_filter, spec)
    mlist_path = _local(snap["manifest-list"])
    _, manifest_rows = read_container(open(mlist_path, "rb").read())
    data: List[Tuple[str, int]] = []
    pos_del: List[Tuple[str, int]] = []
    eq_del: List[Tuple[str, int, Tuple[int, ...]]] = []
    for mrow in manifest_rows:
        mcontent = int(mrow.get("content") or 0)
        if mcontent not in (0, 1):
            raise IcebergLiteError(f"unknown manifest content {mcontent}")
        if partition_filter and mcontent == 0:
            summ = mrow.get("partitions")
            if summ and len(summ) == len(spec):
                skip = False
                for i, f in enumerate(spec):
                    if f["name"] not in partition_filter:
                        continue
                    lo = _deser_bound(f["ice_type"], summ[i].get("lower_bound"))
                    hi = _deser_bound(f["ice_type"], summ[i].get("upper_bound"))
                    if not _filter_overlaps(partition_filter[f["name"]], lo, hi):
                        skip = True
                        break
                if skip:
                    continue  # manifest pruned: its entries are never read
        _, entries = read_container(open(_local(mrow["manifest_path"]), "rb").read())
        for e in entries:
            if e.get("status") == 2:  # DELETED manifest entry
                continue
            dfile = e["data_file"]
            fcontent = int(dfile.get("content") or 0)
            seq = _entry_seq(e, mrow)
            path = _local(dfile["file_path"])
            if mcontent == 0:
                if fcontent != 0:
                    raise IcebergLiteError(
                        f"delete file (content={fcontent}) listed in a DATA manifest"
                    )
                if partition_filter and not _entry_matches(
                    partition_filter, dfile.get("partition") or {}
                ):
                    continue  # file pruned on its manifest partition tuple
                data.append((path, seq))
            elif fcontent == 1:
                pos_del.append((path, seq))
            elif fcontent == 2:
                ids = dfile.get("equality_ids") or []
                if not ids:
                    raise IcebergLiteError("equality delete file without equality_ids")
                eq_del.append((path, seq, tuple(int(i) for i in ids)))
            else:
                raise IcebergLiteError(
                    f"data file (content={fcontent}) listed in a DELETE manifest"
                )
    return {
        "data": sorted(set(data)),
        "pos": sorted(set(pos_del)),
        "eq": sorted(set(eq_del)),
    }


def _field_names_by_id(md: Dict[str, Any]) -> Dict[int, str]:
    """Current iceberg schema's field-id -> name map (equality_ids are
    FIELD IDS, not names)."""
    schema = None
    schemas = md.get("schemas")
    if schemas:
        cur = md.get("current-schema-id")
        schema = next(
            (s for s in schemas if s.get("schema-id") == cur), schemas[-1]
        )
    if schema is None:
        schema = md.get("schema")
    if not schema:
        raise IcebergLiteError("table metadata has no schema")
    return {int(f["id"]): f["name"] for f in schema["fields"]}


def snapshot_files(
    table_path: str,
    snapshot_id: Optional[int] = None,
    partition_filter: Optional[Dict[str, Any]] = None,
) -> List[str]:
    """Live DATA-file paths of a snapshot (ADDED + EXISTING entries
    across its data manifests; DELETED entries dropped), optionally
    partition-pruned (see ``_scan_plan``). Delete files are part of
    the scan plan, not of this list — use ``read_snapshot`` for
    delete-applied rows."""
    md = table_metadata(table_path)
    snap = _resolve_snapshot(md, snapshot_id)
    return [p for p, _ in _scan_plan(md, snap, partition_filter)["data"]]


def read_snapshot(
    spark,
    table_path: str,
    snapshot_id: Optional[int] = None,
    partition_filter: Optional[Dict[str, Any]] = None,
):
    """DataFrame over a snapshot's live rows — time travel is a pure
    metadata operation; the scan is a plain pruned parquet scan, and
    v2 row-level deletes are applied as distributed anti joins (see
    module docstring for the join shapes). ``partition_filter``
    ({name: value} or {name: (lo, hi)}) prunes manifests and files
    from the METADATA — pruned data files are never opened."""
    md = table_metadata(table_path)
    snap = _resolve_snapshot(md, snapshot_id)
    plan = _scan_plan(md, snap, partition_filter)
    if not plan["data"]:
        raise IcebergLiteError("snapshot has no data files (after pruning)"
                               if partition_filter else "snapshot has no data files")
    return _read_plan(spark, md, plan)


def _read_plan(spark, md: Dict[str, Any], plan: Dict[str, Any]):
    """Live rows of a scan plan's data files, with its delete files
    applied (the one reader behind ``read_snapshot`` and
    ``read_incremental``)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(*[p for p, _ in plan["data"]])
    if not plan["pos"] and not plan["eq"]:
        return df  # fast path: no metadata columns materialized

    out_cols = df.columns
    norm = lambda c: F.regexp_replace(c, "^file:/*", "/")  # noqa: E731
    d = df.select(
        "*",
        norm(F.col("_metadata.file_path")).alias("__sfs_file"),
        F.col("_metadata.row_index").alias("__sfs_pos"),
    )
    # per-FILE sequence numbers: one row per data file — metadata-sized
    # (the driver already holds this list), so broadcasting is safe
    seq_df = spark.createDataFrame(
        list(plan["data"]), "__sfs_file string, __sfs_seq long"
    )
    d = d.join(F.broadcast(seq_df), "__sfs_file", "left")

    if plan["pos"]:
        # one read per delete COMMIT (files sharing a sequence number),
        # not per file — bounds the union width by commit count
        by_seq: Dict[int, List[str]] = {}
        for p, s in plan["pos"]:
            by_seq.setdefault(s, []).append(p)
        parts = [
            spark.read.parquet(*paths).select(
                norm(F.col("file_path")).alias("__del_file"),
                F.col("pos").cast("long").alias("__del_pos"),
                F.lit(s).cast("long").alias("__del_seq"),
            )
            for s, paths in sorted(by_seq.items())
        ]
        dels = parts[0]
        for p in parts[1:]:
            dels = dels.unionAll(p)
        # plain anti join (equi on file+pos, seq gate as a filter):
        # the delete side is unbounded at scale, so no forced broadcast
        d = d.join(
            dels,
            (F.col("__sfs_file") == F.col("__del_file"))
            & (F.col("__sfs_pos") == F.col("__del_pos"))
            & (F.col("__sfs_seq") <= F.col("__del_seq")),
            "left_anti",
        )

    if plan["eq"]:
        names = _field_names_by_id(md)
        groups: Dict[Tuple[int, Tuple[int, ...]], List[str]] = {}
        for p, s, ids in plan["eq"]:
            groups.setdefault((s, ids), []).append(p)
        for (s, ids), paths in sorted(groups.items()):
            try:
                eq_cols = [names[i] for i in ids]
            except KeyError as exc:
                raise IcebergLiteError(
                    f"equality_ids {ids} not in the table schema"
                ) from exc
            dels = (
                spark.read.parquet(*paths)
                .select(*[F.col(c).alias(f"__eq_{c}") for c in eq_cols])
                .distinct()
            )
            cond = F.col("__sfs_seq") < F.lit(s).cast("long")  # STRICT, per spec
            for c in eq_cols:
                # <=> is an equi-join key for Spark, so this stays a
                # hash anti join, not a nested-loop join
                cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
            d = d.join(dels, cond, "left_anti")

    return d.select(*out_cols)


def read_incremental(spark, table_path: str, from_snapshot_id: int,
                     to_snapshot_id: int,
                     partition_filter: Optional[Dict[str, Any]] = None):
    """Live rows of the DATA files present in ``to`` but not in ``from`` —
    the append delta an incremental validation run scans
    (resume-from-snapshot), optionally partition-pruned. Every delete
    file of ``to`` applies, as in ``read_snapshot``, so a row deleted
    after its append is not read. The FROM side lists unfiltered (a
    file pruned from 'from' must not masquerade as newly appended). A
    backwards range or a delete-only commit appends no data files and
    raises."""
    md = table_metadata(table_path)
    before = _scan_plan(md, _resolve_snapshot(md, from_snapshot_id))["data"]
    before_paths = {p for p, _ in before}
    plan = _scan_plan(md, _resolve_snapshot(md, to_snapshot_id), partition_filter)
    plan["data"] = [f for f in plan["data"] if f[0] not in before_paths]
    if not plan["data"]:
        raise IcebergLiteError("no appended files between the snapshots")
    return _read_plan(spark, md, plan)


# --------------------------------------------------------------- writing

_MANIFEST_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "data_file", "type": {"type": "record", "name": "r2", "fields": [
            {"name": "content", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
            {"name": "partition", "type": {
                "type": "record", "name": "r102", "fields": []}},
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"},
            {"name": "equality_ids",
             "type": ["null", {"type": "array", "items": "int"}]},
        ]}},
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
        # spec field_summary per partition field (bounds in Appendix-D
        # single-value binary serialization) — the manifest-level
        # pruning input
        {"name": "partitions", "type": ["null", {"type": "array", "items": {
            "type": "record", "name": "r508", "fields": [
                {"name": "contains_null", "type": "boolean"},
                {"name": "lower_bound", "type": ["null", "bytes"]},
                {"name": "upper_bound", "type": ["null", "bytes"]},
            ]}}]},
    ],
}


def _manifest_schema(spec_fields: List[Dict[str, Any]]) -> Dict[str, Any]:
    """The manifest-entry schema with the partition record's fields
    generated from the table's partition spec (empty record when
    unpartitioned — byte-compatible with the pre-partitioning writer)."""
    import copy

    avro_t = {"int": "int", "long": "long", "string": "string"}
    s = copy.deepcopy(_MANIFEST_SCHEMA)
    dfile = next(fd for fd in s["fields"] if fd["name"] == "data_file")
    part = next(fd for fd in dfile["type"]["fields"] if fd["name"] == "partition")
    part["type"]["fields"] = [
        {"name": f["name"], "type": ["null", avro_t[f["ice_type"]]]}
        for f in spec_fields
    ]
    return s


def _partition_of_path(
    fpath: str, spec_fields: List[Dict[str, Any]]
) -> Dict[str, Any]:
    """Partition values of a just-written file, parsed from its
    Hive-style ``__pt_<name>=<value>`` directory segments (write-side
    only: the READER never parses paths — the manifests are
    authoritative)."""
    raw: Dict[str, str] = {}
    for seg in fpath.split(os.sep):
        k, eq, v = seg.partition("=")
        if eq and k.startswith("__pt_"):
            raw[k[len("__pt_"):]] = v
    out: Dict[str, Any] = {}
    for f in spec_fields:
        v = raw.get(f["name"])
        if v is None or v == "__HIVE_DEFAULT_PARTITION__":
            out[f["name"]] = None
        elif f["ice_type"] in ("int", "long"):
            out[f["name"]] = int(v)
        else:
            out[f["name"]] = urllib.parse.unquote(v)
    return out


def _spark_schema_to_iceberg(schema) -> Dict[str, Any]:
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        fields.append({
            "id": i, "name": f.name, "required": False,
            "type": str(f.dataType.simpleString()),
        })
    return {"type": "struct", "schema-id": 0, "fields": fields}


def _norm_mrow(r: Dict[str, Any]) -> Dict[str, Any]:
    """Fill v2 manifest-list fields when carrying forward rows written
    by the older v1 writer (logical clock: snapshot id == sequence
    number, so added_snapshot_id is the correct backfill)."""
    seq = r.get("sequence_number")
    if seq is None:
        seq = r.get("added_snapshot_id") or 0
    return {
        "manifest_path": r["manifest_path"],
        "manifest_length": r["manifest_length"],
        "partition_spec_id": int(r.get("partition_spec_id") or 0),
        "content": int(r.get("content") or 0),
        "sequence_number": int(seq),
        "min_sequence_number": int(r.get("min_sequence_number") or seq),
        "added_snapshot_id": r.get("added_snapshot_id"),
        "partitions": r.get("partitions"),
    }


def _load_state(table_path: str):
    try:
        md = table_metadata(table_path)
        version = max(
            int(re.match(r"v(\d+)\.metadata\.json$", os.path.basename(p)).group(1))
            for p in glob.glob(os.path.join(table_path, "metadata", "v*.metadata.json"))
        )
    except IcebergLiteError:
        md, version = None, 0
    prior = (md.get("snapshots") or []) if md else []
    snap_id = max((s["snapshot-id"] for s in prior), default=0) + 1
    return md, version, prior, snap_id


def _count_written(spark, data_dir: str) -> Dict[str, int]:
    from pyspark.sql import functions as F

    if not glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True):
        return {}  # empty write (e.g. a delete predicate matching 0 rows)
    return {
        _local(r["f"]): r["n"]
        for r in spark.read.parquet(data_dir)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _write_manifest(
    spark, table_path: str, snap_id: int, data_dir: str,
    content: int, equality_ids: Optional[List[int]] = None,
    spec_fields: Optional[List[Dict[str, Any]]] = None,
) -> Dict[str, Any]:
    """Write one manifest over the parquet files just produced under
    ``data_dir``; returns its manifest-list row (with per-field
    partition summaries when the table is partitioned)."""
    spec_fields = spec_fields or []
    entries = []
    pvals_all: List[Dict[str, Any]] = []
    for fpath, n in sorted(_count_written(spark, data_dir).items()):
        pvals = _partition_of_path(fpath, spec_fields) if spec_fields else {}
        pvals_all.append(pvals)
        entries.append({
            "status": 1, "snapshot_id": snap_id, "sequence_number": snap_id,
            "data_file": {
                "content": content, "file_path": fpath,
                "file_format": "PARQUET", "partition": pvals,
                "record_count": n, "file_size_in_bytes": os.path.getsize(fpath),
                "equality_ids": equality_ids,
            },
        })
    tag = "manifest" if content == 0 else f"manifest-del{content}"
    manifest_path = os.path.join(
        table_path, "metadata", f"{tag}-{snap_id}.avro"
    )
    with open(manifest_path, "wb") as fh:
        fh.write(write_container(_manifest_schema(spec_fields), entries))
    partitions = None
    if spec_fields and pvals_all:
        partitions = []
        for f in spec_fields:
            vs = [p[f["name"]] for p in pvals_all]
            nn = [v for v in vs if v is not None]
            partitions.append({
                "contains_null": any(v is None for v in vs),
                "lower_bound": _ser_bound(f["ice_type"], min(nn) if nn else None),
                "upper_bound": _ser_bound(f["ice_type"], max(nn) if nn else None),
            })
    return {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": 0,
        "content": 0 if content == 0 else 1,
        "sequence_number": snap_id,
        "min_sequence_number": snap_id,
        "added_snapshot_id": snap_id,
        "partitions": partitions,
    }


def _finish_commit(
    table_path: str, md, version: int, prior: List[Dict[str, Any]],
    snap_id: int, mrows: List[Dict[str, Any]], operation: str,
    schema: Dict[str, Any], n_fields: int,
    spec_fields: Optional[List[Dict[str, Any]]] = None,
) -> int:
    spec_json = {
        "spec-id": 0,
        "fields": [
            {"name": f["name"], "transform": f["transform"],
             "source-id": f["source-id"], "field-id": f["field-id"]}
            for f in (spec_fields or [])
        ],
    }
    mlist_path = os.path.join(table_path, "metadata", f"snap-{snap_id}.avro")
    with open(mlist_path, "wb") as fh:
        fh.write(write_container(_MANIFEST_LIST_SCHEMA, mrows))
    new_md = {
        "format-version": 2,
        "table-uuid": (md or {}).get("table-uuid") or str(uuid.uuid5(
            uuid.NAMESPACE_URL, table_path)),
        "location": table_path,
        # deterministic logical clock (documented): real writers stamp
        # wall-clock ms; the harness needs reproducible metadata bytes
        "last-updated-ms": snap_id,
        "last-sequence-number": snap_id,
        "last-column-id": n_fields,
        "schema": schema,
        "schemas": [schema],
        "current-schema-id": schema.get("schema-id", 0),
        "partition-spec": spec_json["fields"],
        "partition-specs": [spec_json],
        "default-spec-id": 0,
        "snapshots": prior + [{
            "snapshot-id": snap_id,
            "sequence-number": snap_id,
            "timestamp-ms": snap_id,
            "manifest-list": mlist_path,
            "summary": {"operation": operation},
        }],
        "current-snapshot-id": snap_id,
    }
    with open(os.path.join(table_path, "metadata",
                           f"v{version + 1}.metadata.json"), "w") as fh:
        json.dump(new_md, fh, indent=1)
    with open(os.path.join(table_path, "metadata", "version-hint.text"), "w") as fh:
        fh.write(str(version + 1))
    return snap_id


def _prior_mrows(md) -> List[Dict[str, Any]]:
    cur = _resolve_snapshot(md)
    _, rows = read_container(open(_local(cur["manifest-list"]), "rb").read())
    return [_norm_mrow(r) for r in rows]


def _transform_col(f: Dict[str, Any]):
    from pyspark.sql import functions as F

    src = F.col(f["source"])
    if f["transform"] == "day":
        # iceberg day transform: days since 1970-01-01 as int
        return F.datediff(src.cast("date"), F.to_date(F.lit("1970-01-01"))).cast("int")
    return src


def _commit(
    spark, df, table_path: str, operation: str,
    partition_by: Optional[List[str]] = None,
) -> int:
    os.makedirs(os.path.join(table_path, "metadata"), exist_ok=True)
    md, version, prior, snap_id = _load_state(table_path)
    schema = _spark_schema_to_iceberg(df.schema)
    spec_fields = (
        _parse_partition_by(list(partition_by), schema) if partition_by else []
    )
    if md is not None:
        existing = [(f["name"], f["transform"]) for f in _spec_fields_of_md(md)]
        if existing != [(f["name"], f["transform"]) for f in spec_fields]:
            raise IcebergLiteError(
                f"partition_by {[f'{n}:{t}' for n, t in existing] or 'none'} is the "
                "table's existing spec; a commit must use the same one"
            )
    data_dir = os.path.join(table_path, "data", f"snap-{snap_id}")
    if spec_fields:
        # derived __pt_ columns drive the Hive directory layout and are
        # consumed by partitionBy — the SOURCE columns stay in the data
        # files, so explicit-file-list reads see the full schema
        df2 = df
        ptcols = []
        for f in spec_fields:
            c = "__pt_" + f["name"]
            df2 = df2.withColumn(c, _transform_col(f))
            ptcols.append(c)
        df2.write.mode("overwrite").partitionBy(*ptcols).parquet(data_dir)
    else:
        df.write.mode("overwrite").parquet(data_dir)
    mrows = [_write_manifest(spark, table_path, snap_id, data_dir, content=0,
                             spec_fields=spec_fields)]
    if operation == "append" and prior:
        mrows = _prior_mrows(md) + mrows
    return _finish_commit(table_path, md, version, prior, snap_id, mrows,
                          operation, schema, len(df.schema.fields),
                          spec_fields=spec_fields)


def append(spark, df, table_path: str,
           partition_by: Optional[List[str]] = None) -> int:
    """Commit a new snapshot whose file set = prior live set + df's
    files (prior DELETE manifests carry forward; their sequence
    numbers are below the new data's, so they do not apply to it).
    ``partition_by`` (e.g. ``["days(warc_ts)", "lang"]``) must match
    the table's existing spec on every subsequent commit.
    Returns the new snapshot id."""
    return _commit(spark, df, table_path, "append", partition_by)


def overwrite(spark, df, table_path: str,
              partition_by: Optional[List[str]] = None) -> int:
    """Commit a new snapshot whose file set REPLACES the prior one
    (prior delete files drop with the data they applied to)."""
    return _commit(spark, df, table_path, "overwrite", partition_by)


def delete_where(spark, table_path: str, condition) -> int:
    """Commit a POSITIONAL-delete snapshot (spec v2): rows of the
    current snapshot matching ``condition`` (a boolean Column over the
    table's columns) are marked deleted as (file_path, pos) parquet
    rows — no data file is rewritten. The position scan projects the
    parquet metadata columns and never collects rows to the driver."""
    from pyspark.sql import functions as F

    md, version, prior, snap_id = _load_state(table_path)
    if md is None:
        raise IcebergLiteError("cannot delete from a table with no snapshots")
    snap = _resolve_snapshot(md)
    plan = _scan_plan(md, snap)
    if not plan["data"]:
        raise IcebergLiteError("snapshot has no data files")
    norm = lambda c: F.regexp_replace(c, "^file:/*", "/")  # noqa: E731
    # raw scan (existing deletes NOT re-applied: a duplicate positional
    # delete of an already-dead row is a spec-legal no-op)
    pos_rows = (
        spark.read.parquet(*[p for p, _ in plan["data"]])
        .where(condition)
        .select(
            norm(F.col("_metadata.file_path")).alias("file_path"),
            F.col("_metadata.row_index").cast("long").alias("pos"),
        )
        # spec: positional delete files are sorted by (file_path, pos)
        .sortWithinPartitions("file_path", "pos")
    )
    data_dir = os.path.join(table_path, "data", f"delete-{snap_id}")
    pos_rows.write.mode("overwrite").parquet(data_dir)
    mrows = _prior_mrows(md) + [
        _write_manifest(spark, table_path, snap_id, data_dir, content=1)
    ]
    schema = (md or {}).get("schema") or _spark_schema_to_iceberg(
        spark.read.parquet(plan["data"][0][0]).schema
    )
    return _finish_commit(table_path, md, version, prior, snap_id, mrows,
                          "delete", schema, len(schema.get("fields", [])),
                          spec_fields=_spec_fields_of_md(md))


def delete_equality(spark, table_path: str, values_df, eq_cols: List[str]) -> int:
    """Commit an EQUALITY-delete snapshot (spec v2): every current or
    FUTURE-until-rewritten row whose ``eq_cols`` values match a row of
    ``values_df`` is deleted (null-safe equality, strict sequence
    gate — it applies only to data committed BEFORE this snapshot)."""
    md, version, prior, snap_id = _load_state(table_path)
    if md is None:
        raise IcebergLiteError("cannot delete from a table with no snapshots")
    names = _field_names_by_id(md)
    by_name = {v: k for k, v in names.items()}
    try:
        eq_ids = [by_name[c] for c in eq_cols]
    except KeyError as exc:
        raise IcebergLiteError(f"equality column not in table schema: {exc}")
    data_dir = os.path.join(table_path, "data", f"delete-{snap_id}")
    values_df.select(*eq_cols).distinct().write.mode("overwrite").parquet(data_dir)
    mrows = _prior_mrows(md) + [
        _write_manifest(spark, table_path, snap_id, data_dir,
                        content=2, equality_ids=eq_ids)
    ]
    schema = md.get("schema")
    return _finish_commit(table_path, md, version, prior, snap_id, mrows,
                          "delete", schema, len(schema.get("fields", [])),
                          spec_fields=_spec_fields_of_md(md))
