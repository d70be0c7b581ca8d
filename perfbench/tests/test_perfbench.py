"""Tests of the benchmark's own code: span arithmetic, seeded inputs,
metric names, and the correctness gate catching wrong outputs.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import shutil
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

from perfbench import inputs, run  # noqa: E402
from perfbench.trace import Span, Tracer, covered, self_times  # noqa: E402


# ------------------------------------------------------------ span arithmetic

def test_covered_merges_overlaps_and_clips_to_window():
    assert covered(0.0, 10.0, []) == 0.0
    assert covered(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == pytest.approx(3.0)
    assert covered(0.0, 10.0, [(1.0, 2.0), (5.0, 7.0)]) == pytest.approx(3.0)
    assert covered(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0)]) == pytest.approx(2.0)
    assert covered(0.0, 1.0, [(2.0, 3.0)]) == 0.0


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "t"),
        Span(1, "a", 1.0, 4.0, 0, "t"),
        Span(2, "a.inner", 2.0, 3.0, 1, "t"),
        Span(3, "b", 5.0, 6.5, 0, "t"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 1.5)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.5)
    assert sum(st.values()) == pytest.approx(spans[0].duration)


def test_tracer_nests_and_discards():
    tr = Tracer()
    tr.trace_id = "op-1"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        dropped = tr.begin("tail")
        tr.discard(dropped)
    names = {s.name: s for s in tr.spans}
    assert set(names) == {"outer", "inner"}
    assert names["inner"].parent == names["outer"].span_id
    assert names["outer"].parent is None
    assert all(s.trace_id == "op-1" for s in tr.spans)
    off = Tracer(enabled=False)
    with off.span("x"):
        assert off.begin("y") is None
    assert off.spans == []


def test_tracer_rejects_out_of_order_end():
    tr = Tracer()
    a = tr.begin("a")
    tr.begin("b")
    with pytest.raises(RuntimeError):
        tr.end(a)


# --------------------------------------------------------------- metric names

def test_metric_names_and_units_are_valid_and_match_benchmark_json():
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert len(names) == len(set(names))
    for name in names:
        assert run.METRIC_NAME.match(name), name
    for u in list(run.END_TO_END.values()) + list(run.PER_LAYER.values()):
        assert unit.match(u), u
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from perfbench.workloads import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


# --------------------------------------------------------- closed-form inputs

def test_expected_docs_matches_brute_force():
    n = 1234
    exp = inputs.expected_docs(n)
    invalid = [i for i in range(n) if i % inputs.DOC_MOD in inputs.DOC_INJECTIONS]
    assert exp["n_invalid"] == len(invalid)
    assert exp["n_errors"] == sum(len(inputs.DOC_INJECTIONS[i % inputs.DOC_MOD]) for i in invalid)
    assert inputs.expected_docs(3000)["n_invalid"] == 1000  # exactly one third


def test_expected_snapshot_counts():
    exp = inputs.expected_snapshot(3000, 4)
    assert exp["n_rows"] == 3000 + 150 - len(range(0, 3000, inputs.SNAPSHOT_DROP_MOD))
    assert exp["n_orphans"] == 150
    assert exp["n_partitions"] == 5
    with pytest.raises(ValueError):
        inputs.snapshot_pair(None, 1500, 1, 4)


# ------------------------------------------------------- Spark-backed checks

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from schema_fantasy_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cores=2, shuffle_partitions=4,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_same_seed_same_inputs(spark):
    a = [r["doc"] for r in inputs.json_docs(spark, 300, 5).orderBy("id").collect()]
    b = [r["doc"] for r in inputs.json_docs(spark, 300, 5).orderBy("id").collect()]
    c = [r["doc"] for r in inputs.json_docs(spark, 300, 6).orderBy("id").collect()]
    assert a == b and a != c
    for doc in a:
        json.loads(doc)  # every document is well-formed JSON
    h = "bit_xor(xxhash64(url, text, lang))"
    p1 = inputs.pages(spark, 2000, 5, 7).selectExpr(f"{h} as h").first()["h"]
    p2 = inputs.pages(spark, 2000, 5, 7).selectExpr(f"{h} as h").first()["h"]
    assert p1 == p2


def test_gate_catches_wrong_counts(spark, tmp_path):
    from perfbench.workloads import PagesScan

    class SmallPages(PagesScan):
        size = 3000
        snapshot_size = 3000

    wl = SmallPages(spark, 3, str(tmp_path / "work"), Tracer(enabled=False))
    wl.setup()
    ok = wl.op(1)
    assert (ok.attempted, ok.failed) == (1, 0)
    assert wl.gate().failed == 0

    # a pass whose expected invalid count is off by one fails its check
    wl.exp = dict(wl.exp, n_invalid=wl.exp["n_invalid"] + 1)
    assert wl.op(2).failed == 1
    wl.exp = inputs.expected_pages(wl.size)

    # the gate notices one violation row missing from the written output
    viol = spark.read.parquet(wl.viol_dir)
    short = viol.filter(viol.id != wl.exp["by_kind"][("enum", "lang")][0])
    moved = str(tmp_path / "short")
    short.write.parquet(moved)
    shutil.rmtree(wl.viol_dir)
    shutil.move(moved, wl.viol_dir)
    assert wl.gate().failed == 1
