"""sources/avro_lite + sources/iceberg_lite — the no-jar Iceberg path:
Avro container round trips, snapshot semantics, time travel,
incremental reads, unsupported-feature rejections."""

import json
import os
import zlib

import pytest
from pyspark.sql import functions as F

from schema_fantasy_spark.sources import avro_lite as al
from schema_fantasy_spark.sources import iceberg_lite as il


SCHEMA = {
    "type": "record", "name": "e", "fields": [
        {"name": "status", "type": "int"},
        {"name": "sid", "type": ["null", "long"]},
        {"name": "f", "type": {"type": "record", "name": "df", "fields": [
            {"name": "path", "type": "string"},
            {"name": "n", "type": "long"},
            {"name": "tags", "type": {"type": "map", "values": "string"}},
            {"name": "ids", "type": {"type": "array", "items": "long"}},
        ]}},
    ],
}


def test_avro_container_roundtrip():
    recs = [
        {"status": 1, "sid": 9007199254740993, "f": {
            "path": "a/b.parquet", "n": 42, "tags": {"k": "v", "u": "w"},
            "ids": [0, -1, 1, 2 ** 62, -(2 ** 62)]}},
        {"status": 0, "sid": None, "f": {
            "path": "", "n": 0, "tags": {}, "ids": []}},
    ]
    blob = al.write_container(SCHEMA, recs)
    schema, got = al.read_container(blob)
    assert got == recs
    assert schema["name"] == "e"
    # determinism: identical bytes on re-serialization
    assert al.write_container(SCHEMA, recs) == blob


def test_avro_deflate_and_errors():
    recs = [{"status": 2, "sid": 7, "f": {"path": "x", "n": 1, "tags": {},
                                          "ids": [5]}}]
    # rebuild the container with a deflate-compressed block
    import io

    body = io.BytesIO()
    for r in recs:
        al._encode(body, SCHEMA, r)
    block = body.getvalue()
    c = zlib.compressobj(9, zlib.DEFLATED, -15)
    comp = c.compress(block) + c.flush()
    meta = {"avro.schema": json.dumps(SCHEMA).encode(), "avro.codec": b"deflate"}
    out = io.BytesIO()
    out.write(al.MAGIC)
    al._encode(out, {"type": "map", "values": "bytes"}, meta)
    out.write(b"S" * 16)
    out.write(al._zigzag(1) + al._zigzag(len(comp)) + comp + b"S" * 16)
    _, got = al.read_container(out.getvalue())
    assert got == recs
    with pytest.raises(ValueError):
        al.read_container(b"not avro at all......")


def test_iceberg_lite_snapshots(spark, tmp_path):
    tp = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(F.col("id").alias("doc_id"),
                                    (F.col("id") % 5).alias("v"))
    s1 = il.append(spark, df.filter(F.col("doc_id") < 40), tp)
    s2 = il.append(spark, df.filter((F.col("doc_id") >= 40)
                                    & (F.col("doc_id") < 70)), tp)
    s3 = il.overwrite(spark, df.filter(F.col("doc_id") >= 70), tp)
    assert [s["snapshot-id"] for s in il.snapshots(tp)] == [s1, s2, s3]
    # append accumulates, overwrite replaces
    assert il.read_snapshot(spark, tp, snapshot_id=s1).count() == 40
    assert il.read_snapshot(spark, tp, snapshot_id=s2).count() == 70
    assert il.read_snapshot(spark, tp).count() == 30          # current = s3
    # incremental read = the appended delta only
    inc = il.read_incremental(spark, tp, s1, s2)
    assert inc.count() == 30
    assert inc.agg(F.min("doc_id")).first()[0] == 40
    # content equality against the source, not just counts
    got = sorted(r["doc_id"] for r in il.read_snapshot(spark, tp, snapshot_id=s2).collect())
    assert got == list(range(70))
    with pytest.raises(il.IcebergLiteError):
        il.read_snapshot(spark, tp, snapshot_id=999)
    with pytest.raises(il.IcebergLiteError):
        il.read_incremental(spark, tp, s2, s1)  # no delta backwards


def test_iceberg_lite_deleted_entries(spark, tmp_path):
    tp = str(tmp_path / "tbl2")
    df = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    s1 = il.append(spark, df, tp)
    files = il.snapshot_files(tp, s1)
    assert files and all(os.path.isfile(f) for f in files)
    # hand-edit the manifest: mark every entry DELETED -> no live files
    mpath = os.path.join(tp, "metadata", f"manifest-{s1}.avro")
    schema, entries = al.read_container(open(mpath, "rb").read())
    for e in entries:
        e["status"] = 2
    open(mpath, "wb").write(al.write_container(il._MANIFEST_SCHEMA, entries))
    assert il.snapshot_files(tp, s1) == []


def test_iceberg_lite_positional_delete(spark, tmp_path):
    tp = str(tmp_path / "tblp")
    df = spark.range(0, 100).select(F.col("id").alias("doc_id"),
                                    (F.col("id") % 7).alias("v"))
    s1 = il.append(spark, df, tp)
    s2 = il.delete_where(spark, tp, F.col("doc_id") % 10 == 0)
    # current snapshot: multiples of 10 gone, everything else intact
    got = sorted(r["doc_id"] for r in il.read_snapshot(spark, tp).collect())
    assert got == [i for i in range(100) if i % 10 != 0]
    # delete files are part of the closure but NOT of the data-file list
    assert il.snapshot_files(tp, s2) == il.snapshot_files(tp, s1)
    # time travel BEFORE the delete still sees all rows
    assert il.read_snapshot(spark, tp, snapshot_id=s1).count() == 100
    # second delete stacks (including a re-delete of dead rows: no-op)
    il.delete_where(spark, tp, F.col("doc_id") < 25)
    got = sorted(r["doc_id"] for r in il.read_snapshot(spark, tp).collect())
    assert got == [i for i in range(25, 100) if i % 10 != 0]
    # sequence gate: data appended AFTER a delete is untouched by it
    s4 = il.append(spark, spark.range(0, 5).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("v")), tp)
    got = sorted(r["doc_id"] for r in il.read_snapshot(spark, tp, snapshot_id=s4).collect())
    assert got == [0, 1, 2, 3, 4] + [i for i in range(25, 100) if i % 10 != 0]
    # a delete-only commit appends no data files
    with pytest.raises(il.IcebergLiteError):
        il.read_incremental(spark, tp, s1, s2)


def test_iceberg_lite_incremental_applies_deletes(spark, tmp_path):
    """The append delta is read through the snapshot's delete files: a
    row deleted after its append does not come back. Positional deletes
    (``delete_where``) and equality deletes both apply."""
    tp = str(tmp_path / "tbli")
    ids = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("lang"))
    s1 = il.append(spark, ids(0, 10), tp)
    il.append(spark, ids(10, 20), tp)
    s3 = il.delete_where(spark, tp, F.col("doc_id") >= 15)
    got = sorted(r["doc_id"] for r in il.read_incremental(spark, tp, s1, s3).collect())
    assert got == list(range(10, 15))
    assert sorted(r["doc_id"] for r in il.read_snapshot(spark, tp, snapshot_id=s3).collect()) == list(
        range(15))
    s4 = il.delete_equality(spark, tp, spark.createDataFrame([("1",)], "lang string"), ["lang"])
    got = sorted(r["doc_id"] for r in il.read_incremental(spark, tp, s1, s4).collect())
    assert got == [i for i in range(10, 15) if i % 3 != 1]


def test_iceberg_lite_equality_delete(spark, tmp_path):
    tp = str(tmp_path / "tble")
    rows = [(0, "en"), (1, "xx"), (2, None), (3, "de"), (4, "xx"), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    il.append(spark, df, tp)
    il.delete_equality(
        spark, tp, spark.createDataFrame([("xx",)], "lang string"), ["lang"])
    # 'xx' rows gone; NULL does not match 'xx'
    got = sorted(r["doc_id"] for r in il.read_snapshot(spark, tp).collect())
    assert got == [0, 2, 3, 5]
    # null-safe equality: a NULL delete value matches NULL rows
    il.delete_equality(
        spark, tp, spark.createDataFrame([(None,)], "lang string"), ["lang"])
    got = sorted(r["doc_id"] for r in il.read_snapshot(spark, tp).collect())
    assert got == [0, 3]
    # STRICT sequence gate: 'xx' rows appended after the delete survive
    il.append(spark, spark.createDataFrame([(9, "xx")], "doc_id long, lang string"), tp)
    got = sorted(r["doc_id"] for r in il.read_snapshot(spark, tp).collect())
    assert got == [0, 3, 9]
    # multi-column equality ids resolve by FIELD ID through the schema
    il.delete_equality(
        spark, tp,
        spark.createDataFrame([(0, "en")], "doc_id long, lang string"),
        ["doc_id", "lang"])
    got = sorted(r["doc_id"] for r in il.read_snapshot(spark, tp).collect())
    assert got == [3, 9]
    with pytest.raises(il.IcebergLiteError):
        il.delete_equality(
            spark, tp, spark.createDataFrame([(1,)], "nope long"), ["nope"])


def test_iceberg_lite_malformed_content_mixes(spark, tmp_path):
    tp = str(tmp_path / "tblm")
    s1 = il.append(spark, spark.range(0, 10).select(F.col("id").alias("doc_id")), tp)
    s2 = il.delete_where(spark, tp, F.col("doc_id") == 3)
    assert il.read_snapshot(spark, tp).count() == 9
    # a delete file listed in a DATA manifest must raise, not misread
    mpath = os.path.join(tp, "metadata", f"manifest-{s1}.avro")
    _, entries = al.read_container(open(mpath, "rb").read())
    for e in entries:
        e["data_file"]["content"] = 1
    open(mpath, "wb").write(al.write_container(il._MANIFEST_SCHEMA, entries))
    with pytest.raises(il.IcebergLiteError):
        il.snapshot_files(tp, s2)
    for e in entries:
        e["data_file"]["content"] = 0
    open(mpath, "wb").write(al.write_container(il._MANIFEST_SCHEMA, entries))
    # a data file listed in a DELETE manifest must raise too
    dpath = os.path.join(tp, "metadata", f"manifest-del1-{s2}.avro")
    _, dentries = al.read_container(open(dpath, "rb").read())
    for e in dentries:
        e["data_file"]["content"] = 0
    open(dpath, "wb").write(al.write_container(il._MANIFEST_SCHEMA, dentries))
    with pytest.raises(il.IcebergLiteError):
        il.snapshot_files(tp, s2)


def _days(d: str) -> int:
    import datetime
    return (datetime.date.fromisoformat(d) - datetime.date(1970, 1, 1)).days


def test_iceberg_lite_partitioned_write_and_prune(spark, tmp_path):
    """days(warc_ts) + identity(lang) partitioning end to end: the spec
    lands in metadata, manifests carry per-file partition tuples and
    per-field summaries, and a partition_filter read PRUNES FROM THE
    METADATA — proven by deleting the pruned parquet files from disk
    before the filtered read (an opened file would explode)."""
    t = str(tmp_path / "pt")
    df = spark.createDataFrame(
        [(i,
          f"2026-02-{(i % 3) + 1:02d} 0{i % 10}:00:00",
          ["en", "de", "fr"][i % 3],
          float(i))
         for i in range(60)],
        "doc_id long, warc_ts string, lang string, score double",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp_ntz"))
    il.append(spark, df, t, partition_by=["days(warc_ts)", "lang"])

    md = il.table_metadata(t)
    spec = md["partition-specs"][0]["fields"]
    assert [(f["name"], f["transform"]) for f in spec] == [
        ("warc_ts_day", "day"), ("lang", "identity")]

    # full read returns everything, with source columns intact
    assert il.read_snapshot(spark, t).count() == 60
    all_files = il.snapshot_files(t)
    d1 = _days("2026-02-01")

    # metadata-level pruning: day equality, day range, identity, combined
    f_day = il.snapshot_files(t, partition_filter={"warc_ts_day": d1})
    assert f_day and set(f_day) < set(all_files)
    got = il.read_snapshot(spark, t, partition_filter={"warc_ts_day": d1})
    assert got.count() == 20 and set(
        r["lang"] for r in got.collect()) == {"en"}
    rng = il.read_snapshot(
        spark, t, partition_filter={"warc_ts_day": (d1, d1 + 1)})
    assert rng.count() == 40
    both = il.read_snapshot(
        spark, t, partition_filter={"warc_ts_day": (d1, d1 + 1), "lang": "de"})
    assert both.count() == 20

    # pruned files are NEVER OPENED: delete everything outside day 1
    for p in set(all_files) - set(f_day):
        os.remove(p)
    again = il.read_snapshot(spark, t, partition_filter={"warc_ts_day": d1})
    assert again.count() == 20

    # unknown partition-filter names raise (typo safety)
    with pytest.raises(il.IcebergLiteError):
        il.snapshot_files(t, partition_filter={"nope": 1})


def test_iceberg_lite_partitioned_append_delete_and_spec_guard(spark, tmp_path):
    """Appends must re-state the table's spec; positional deletes work
    over a partitioned table and the spec survives the delete commit;
    manifest-LEVEL pruning skips whole manifests (the appended
    manifest's summary range excludes the filtered day, so its
    manifest file itself is never read)."""
    t = str(tmp_path / "pt2")
    mk = lambda day, base: spark.createDataFrame(  # noqa: E731
        [(base + i, f"2026-03-{day:02d} 00:00:00") for i in range(10)],
        "doc_id long, warc_ts string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp_ntz"))
    il.append(spark, mk(1, 0), t, partition_by=["days(warc_ts)"])
    with pytest.raises(il.IcebergLiteError):
        il.append(spark, mk(2, 100), t)  # spec not re-stated
    with pytest.raises(il.IcebergLiteError):
        il.append(spark, mk(2, 100), t, partition_by=["doc_id"])  # wrong spec
    il.append(spark, mk(2, 100), t, partition_by=["days(warc_ts)"])

    d1, d2 = _days("2026-03-01"), _days("2026-03-02")
    assert il.read_snapshot(spark, t).count() == 20
    assert il.read_snapshot(
        spark, t, partition_filter={"warc_ts_day": d2}).count() == 10

    # corrupt the day-1 MANIFEST file on disk: a day-2 filtered scan
    # must still plan (its summary excludes day 1 -> manifest pruned)
    md = il.table_metadata(t)
    snap = il._resolve_snapshot(md)
    _, mrows = al.read_container(open(il._local(snap["manifest-list"]), "rb").read())
    day1_manifests = []
    for mr in mrows:
        summ = mr.get("partitions")
        lo = il._deser_bound("int", summ[0]["lower_bound"])
        if lo == d1:
            day1_manifests.append(il._local(mr["manifest_path"]))
    assert day1_manifests
    for p in day1_manifests:
        open(p, "wb").write(b"not avro at all")
    assert il.read_snapshot(
        spark, t, partition_filter={"warc_ts_day": d2}).count() == 10
    # positional delete on the partitioned table (day-2 rows only),
    # spec survives the delete commit
    t2 = str(tmp_path / "pt3")
    il.append(spark, mk(1, 0), t2, partition_by=["days(warc_ts)"])
    il.append(spark, mk(2, 100), t2, partition_by=["days(warc_ts)"])
    il.delete_where(spark, t2, F.col("doc_id") % 2 == 0)
    assert il.read_snapshot(spark, t2).count() == 10
    assert il.read_snapshot(
        spark, t2, partition_filter={"warc_ts_day": _days("2026-03-02")}
    ).count() == 5
    md2 = il.table_metadata(t2)
    assert md2["partition-specs"][0]["fields"], "spec must survive deletes"


def test_validate_job_partition_filter_end_to_end(
    spark, tmp_path, capsys, monkeypatch
):
    """The north-rule job path: validate ONE day of a
    days(warc_ts)-partitioned iceberg_lite table via
    `validate_job --partition-filter warc_ts_day=D` — pruning is
    metadata-level (the other days' parquet files are DELETED from
    disk before the run, so a non-pruning read cannot pass), and the
    summary shows exactly the filtered day processed."""
    import sys as _sys

    from jobs.validate_job import main
    from schema_fantasy_spark.sources.pages import pages

    t = str(tmp_path / "pt")
    df = pages(spark, 400, n_days=3)  # warc_ts spread over 3 days
    il.append(spark, df, t, partition_by=["days(warc_ts)"])
    days = sorted(
        int(os.path.basename(os.path.dirname(p)).split("=")[1])
        for p in il.snapshot_files(t)
    )
    pick = days[len(days) // 2]
    keep = il.snapshot_files(t, partition_filter={"warc_ts_day": pick})
    for p in set(il.snapshot_files(t)) - set(keep):
        os.remove(p)

    argv = ["validate_job", "--input", t,
            "--partition-filter", f"warc_ts_day={pick}",
            "--manifest-dir", str(tmp_path / "m"),
            "--violations-dir", str(tmp_path / "v"),
            "--derive-day-from", "warc_ts",
            "--host-verdicts-out", str(tmp_path / "hosts")]
    monkeypatch.setattr(_sys, "argv", argv)
    assert main() == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    import datetime
    exp_day = (datetime.date(1970, 1, 1)
               + datetime.timedelta(days=pick)).isoformat()
    assert summary["processed"] == [exp_day]
    # per-host verdicts carry partition_verdicts' columns and its totals
    hosts = spark.read.parquet(str(tmp_path / "hosts"))
    assert hosts.columns == ["host", "n_rows", "n_valid", "n_invalid", "n_errors", "pass"]
    totals = hosts.agg(F.sum("n_rows"), F.sum("n_invalid")).first()
    assert tuple(totals) == (summary["n_rows"], summary["n_invalid"])

    # range + filter error forms
    with pytest.raises(il.IcebergLiteError):
        il.snapshot_files(t, partition_filter={"typo": 1})


def test_read_pages_catalog_path_reads_the_delta(monkeypatch):
    """On a catalog table, ``from_snapshot_id`` selects the incremental
    append-scan between the two snapshots; without it the (time-traveled)
    table is read whole. Driver-only: the readers are stubbed."""
    from schema_fantasy_spark.sources import iceberg

    calls = []
    monkeypatch.setattr(iceberg, "iceberg_available", lambda spark: True)
    monkeypatch.setattr(iceberg, "read_table",
                        lambda *a, **kw: calls.append(("table", a, kw)))
    monkeypatch.setattr(iceberg, "read_incremental",
                        lambda *a, **kw: calls.append(("incremental", a, kw)))
    iceberg.read_pages(None, "cc.web.pages", snapshot_id=9, from_snapshot_id=4)
    iceberg.read_pages(None, "cc.web.pages", from_snapshot_id=4)
    iceberg.read_pages(None, "cc.web.pages", snapshot_id=9)
    assert calls == [
        ("incremental", (None, "cc.web.pages", 4, 9), {}),
        ("incremental", (None, "cc.web.pages", 4, None), {}),
        ("table", (None, "cc.web.pages"), {"snapshot_id": 9}),
    ]
