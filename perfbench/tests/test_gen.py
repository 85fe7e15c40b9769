"""Tests of the benchmark itself: the seeded generator, the expected
outputs it derives, the checks that compare against them, and the
event-log parser. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import spantrace  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _files(d) -> list[str]:
    """Every file under ``d``, as a path relative to it."""
    return sorted(
        os.path.relpath(os.path.join(root, f), d)
        for root, _, names in os.walk(d) for f in names
        if not f.startswith(".")
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_same_bytes_and_expected(workload, tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    rec_a = gen.generate(workload, 7, str(a))
    rec_b = gen.generate(workload, 7, str(b))
    assert _files(a) == _files(b)
    for f in _files(a):
        assert filecmp.cmp(a / f, b / f, shallow=False), f
    assert rec_a == rec_b


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_other_seed_moves_inputs(workload, tmp_path):
    rec_a = gen.generate(workload, 7, str(tmp_path / "a"))
    rec_b = gen.generate(workload, 8, str(tmp_path / "b"))
    assert rec_a["expected"] != rec_b["expected"]


def test_other_seed_moves_the_defects(tmp_path):
    rec_a = gen.generate("validate_csv_dirty", 7, str(tmp_path / "a"))
    rec_b = gen.generate("validate_csv_dirty", 8, str(tmp_path / "b"))
    rows_a = {(d["table"], d["field"], d["kind"]): d["rows"]
              for d in rec_a["defects"]}
    rows_b = {(d["table"], d["field"], d["kind"]): d["rows"]
              for d in rec_b["defects"]}
    assert rows_a.keys() == rows_b.keys()
    assert all(rows_a[k] != rows_b[k] for k in rows_a)


def test_expected_report_follows_the_defects(tmp_path):
    rec = gen.generate("validate_csv_dirty", 3, str(tmp_path))
    by_kind = {d["kind"] for d in rec["defects"]}
    assert by_kind == {
        "duplicate", "orphan", "bad number", "bad date", "outside enum",
        "NA in required field", "NA in optional field",
    }
    # NA in an optional field is a missing value: no report row
    reported = {(d["table"], d["field"]) for d in rec["defects"]
                if d["code"] is not None}
    assert ("orders", "o_custkey") not in reported
    assert len(rec["expected"]) == len(reported)
    # no row carries two defects
    for table in ("orders", "lineitem"):
        rows = [r for d in rec["defects"] if d["table"] == table
                for r in d["rows"]]
        assert len(rows) == len(set(rows))


def test_csv_cells_hold_the_injected_defects(tmp_path):
    rec = gen.generate("validate_csv_dirty", 5, str(tmp_path))
    with open(tmp_path / "orders.csv") as fh:
        header = fh.readline().strip().split(",")
        lines = [ln.rstrip("\n").split(",") for ln in fh]
    col = {n: i for i, n in enumerate(header)}
    n_orders = gen.N_ORDERS
    for d in rec["defects"]:
        if d["table"] != "orders":
            continue
        for r in d["rows"]:
            v = lines[r][col[d["field"]]]
            if d["kind"] == "outside enum":
                assert v == "X"
            elif d["kind"].startswith("NA"):
                assert v == "NA"
            elif d["kind"] == "duplicate":
                assert lines[r] in lines[n_orders:]
    assert len(lines) == rec["row_counts"]["orders"]


def test_validation_check_accepts_expected_and_flags_corruption(tmp_path):
    rec = gen.generate("validate_csv_dirty", 4, str(tmp_path))
    wl = WORKLOADS["validate_csv_dirty"](rec, str(tmp_path))
    by_table: dict[str, list] = {}
    for table, code, field, count in rec["expected"]:
        by_table.setdefault(table, []).append(
            {"code": code, "field": field, "count": count})
    report = {"tables": [
        {"source": t, "row-count": rec["row_counts"][t],
         "errors": by_table.get(t, [])}
        for t in ("orders", "lineitem")
    ]}
    assert wl.check(report) == []
    report["tables"][0]["errors"][0]["count"] += 1
    assert wl.check(report)
    # a corrupted expected report makes a correct output fail
    report["tables"][0]["errors"][0]["count"] -= 1
    rec["expected"][0][3] += 1
    assert wl.check(report)


def test_release_check_accepts_expected_and_flags_corruption(tmp_path):
    rec = gen.generate("release_increment", 4, str(tmp_path))
    wl = WORKLOADS["release_increment"](rec, str(tmp_path))
    rev = 3
    got = {s: [n, q + (n * rev if s == "R" else 0), k]
           for s, (n, q, k) in rec["expected"]["splits"].items()}
    manifest = {"incremental": {"rewritten": ["R"], "reused": ["A", "N"]}}
    assert wl.check((rev, manifest, got)) == []
    assert wl.check((rev + 1, manifest, got))
    bad = {"incremental": {"rewritten": ["A", "R"], "reused": ["N"]}}
    assert wl.check((rev, bad, got))


def test_dedup_check_accepts_expected_and_flags_corruption(tmp_path):
    rec = gen.generate("release_increment", 4, str(tmp_path))
    wl = WORKLOADS["release_increment"](rec, str(tmp_path))
    exp = rec["dedup"]
    assert len(exp["kept"]) + len(exp["dropped"]) == exp["docs"]
    assert exp["clusters"] > 0
    assert wl.check_dedup(list(reversed(exp["kept"]))) == []
    assert wl.check_dedup(exp["kept"][1:])
    assert wl.check_dedup(exp["kept"] + [exp["dropped"][0][0]])


def test_dropped_documents_are_near_copies_and_singletons_are_not(tmp_path):
    import pyarrow.parquet as pq

    rec = gen.generate("release_increment", 5, str(tmp_path))
    exp = rec["dedup"]
    t = pq.read_table(str(tmp_path / exp["documents"])).to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))
    assert sorted(text) == list(range(1, exp["docs"] + 1))
    for gone, rep in exp["dropped"]:
        assert rep < gone and gen.jaccard(text[gone], text[rep]) >= 0.8
    kept = exp["kept"][:200]
    assert max(gen.jaccard(text[a], text[b])
               for a, b in zip(kept, kept[1:])) < 0.1


def test_plan_root_skips_the_adaptive_wrapper():
    plan = ("== Physical Plan ==\nAdaptiveSparkPlan isFinalPlan=false\n"
            "+- CollectLimit 20\n   +- Filter (x#1 > 0)\n")
    assert spantrace.plan_root(plan) == "CollectLimit"
    assert spantrace.plan_root(
        "== Physical Plan ==\n*(1) HashAggregate(keys=[])\n") == (
        "HashAggregate")
    assert spantrace.plan_root(
        "== Physical Plan ==\n* Project (2)\n+- CollectLimit (1)\n") == (
        "Project")


def test_event_log_jobs_fall_into_spans(tmp_path):
    events = [
        {"Event": spantrace.SQL_START, "executionId": 3,
         "physicalPlanDescription":
             "== Physical Plan ==\nCollectLimit 20\n+- Scan\n"},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1_000_500, "Stage IDs": [0, 1],
         "Properties": {"spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 1_002_500, "Stage IDs": [2]},
    ]
    for stage, cpu_ns in ((0, 2e9), (1, 1e9), (2, 5e8)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor CPU Time": cpu_ns,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 20},
                "Input Metrics": {"Bytes Read": 2 << 20, "Records Read": 10},
                "Output Metrics": {"Bytes Written": 0},
            },
        })
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    (log_dir / "local-1").write_text("\n".join(json.dumps(e) for e in events))
    jobs = spantrace.read_event_log(str(log_dir))
    first = spantrace.Span("a", 1000.0, 1001.0)
    got = spantrace.span_metrics(first, jobs)
    assert got["jobs"] == 1 and got["tasks"] == 2
    assert got["cpu_s"] == pytest.approx(3.0)
    assert got["shuffle_write_mb"] == pytest.approx(2.0)
    assert got["input_rows"] == 20
    assert got["collect_limit_jobs"] == 1
    second = spantrace.Span("b", 1002.0, 1003.0)
    got = spantrace.span_metrics(second, jobs)
    assert got["cpu_s"] == pytest.approx(0.5)
    assert got["collect_limit_jobs"] == 0


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == (
        run.per_layer_units())
