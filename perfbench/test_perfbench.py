"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd
import pytest

from perfbench import compare, run
from perfbench.inputs import generate
from perfbench.oracle import summarize
from perfbench.trace import Span, self_times
from perfbench.workloads import (
    EXPORT_QUERY,
    WORKLOADS,
    OpResult,
    OpSpec,
    Runner,
    plan_passes,
)

KEYS = list(range(40))


def _digests(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _inputs(tmp_path, seed: int, tag: str) -> dict[str, str]:
    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents")
    return _digests(generate(str(tmp_path / tag), 0.001, seed, tables))


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a, b, c = _inputs(tmp_path, 7, "a"), _inputs(tmp_path, 7, "b"), _inputs(tmp_path, 8, "c")
    assert a == b
    # the fixed-size dimension tables do not depend on the seed
    changed = {name for name in a if a[name] != c[name]}
    assert changed == set(a) - {"region.parquet", "nation.parquet"}


def test_documents_follow_the_testdata_profile(tmp_path):
    import pyarrow.parquet as pq

    from perfbench.inputs import VOCAB

    for sf, rows in ((0.001, 500), (0.01, 500), (0.05, 2500)):
        path = generate(str(tmp_path / str(sf)), sf, 5, ("documents",))
        docs = pq.read_table(os.path.join(path, "documents.parquet")).to_pandas()
        assert len(docs) == rows
        words = docs["text"].str.split()
        near = docs["text"].str.endswith(" dup")
        assert near.sum() == rows // 20
        assert words[~near].map(len).between(10, 99).all()
        assert set(w for ws in words[~near] for w in ws) == set(VOCAB)
        assert (docs["n_chars"] == docs["text"].str.len()).all()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_same_op_sequence(workload):
    assert plan_passes(workload, 3, 5, KEYS) == plan_passes(workload, 3, 5, KEYS)


@pytest.mark.parametrize("workload", ["query_mix", "keyed_export"])
def test_other_seed_other_op_sequence(workload):
    assert plan_passes(workload, 3, 5, KEYS) != plan_passes(workload, 4, 5, KEYS)


def test_keyed_export_pass_shape():
    (ops,) = plan_passes("keyed_export", 1, 1, KEYS)
    assert ops[0] == OpSpec("full_write", "write", ())
    kinds = sorted(op.kind for op in ops[1:])
    assert kinds == ["read", "read", "write"]
    update = next(op for op in ops[1:] if op.kind == "write")
    assert len(update.arg) == 4 and set(update.arg) <= set(KEYS)


def _declared():
    return run.declared_metrics()


def _fake_result(names) -> dict:
    return {
        "correct": True,
        "attempted": 3,
        "failed": 0,
        "metrics": {n: 1.5 for n in names},
    }


def test_every_end_to_end_metric_is_declared_with_a_unit():
    declared = _declared()
    passes = [
        {"wall": 2.0, "ops": [("query", 1.0, 10), ("read", 0.5, 1)], "traced": False},
        {"wall": 3.0, "ops": [("query", 2.0, 10), ("read", 0.7, 1)], "traced": False},
    ]
    e2e = run.end_to_end_metrics(1.2, passes, 100.0)
    assert set(e2e) == set(declared["end_to_end"])
    line = run.result_line(_fake_result(e2e), declared, trace=False)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    for name, m in line["metrics"].items():
        assert m["unit"] == declared["end_to_end"][name] and m["unit"]


def test_every_per_layer_metric_is_declared_with_a_unit():
    declared = _declared()
    spans = [Span(0, "q", "plans", "q", None, 0.0, 1.0)]
    passes = [
        {"wall": 2.0, "ops": [("write", 1.0, 5), ("read", 0.5, 1)], "traced": True, "gc_s": 0.1},
        {"wall": 2.5, "ops": [("write", 1.5, 5), ("read", 0.7, 1)], "traced": False, "gc_s": 0.1},
    ]
    setup = {"get_spark_s": 7.0, "registry_s": 0.3, "warm_op_s": 9.0}
    tally = run.Tally()
    tally.record("x", None)
    names = set(run.layer_metrics(spans, 1, 10, 1.0, 4))
    names |= set(run.trace_extra_metrics(setup, passes, (3, 8192, 100)))
    names |= set(run.workload_metrics(passes, (3, 8192, 100), tally))
    assert names == set(declared["per_layer"])
    line = run.result_line(_fake_result(names), declared, trace=True)
    assert all(m["unit"] for m in line["metrics"].values())


def test_undeclared_or_missing_metric_is_refused():
    declared = _declared()
    with pytest.raises(KeyError):
        run.result_line(_fake_result(["setup_s"]), declared, trace=False)


def test_benchmark_json_contract():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _runner_with_expected(frame: pd.DataFrame) -> Runner:
    r = Runner(WORKLOADS["query_mix"], "", "", None)
    r.expected["q1_pricing_summary"] = summarize(frame)
    return r


def test_wrong_expected_hash_counts_as_failed_op():
    frame = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    runner = _runner_with_expected(frame)
    op = OpSpec("q1_pricing_summary", "query", ("q1_pricing_summary",))
    tally = run.Tally()
    run.settle(tally, runner, op, OpResult(2, frame), None)
    assert (tally.attempted, tally.failed) == (1, 0)

    exp = runner.expected["q1_pricing_summary"]
    runner.expected["q1_pricing_summary"] = type(exp)(exp.columns, exp.rows, "0" * 64)
    run.settle(tally, runner, op, OpResult(2, frame), None)
    assert (tally.attempted, tally.failed) == (2, 1)
    assert "value hash" in tally.errors[0]


def test_exception_counts_as_failed_op():
    runner = _runner_with_expected(pd.DataFrame({"k": [1]}))
    op = OpSpec("q1_pricing_summary", "query", ("q1_pricing_summary",))
    tally = run.Tally()
    res, err = run._attempt(lambda: 1 / 0)
    run.settle(tally, runner, op, res, err)
    assert (tally.attempted, tally.failed) == (1, 1)


def test_value_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
    b = pd.DataFrame({"v": ["y", "x"], "k": [2, 1]})
    assert summarize(a) == summarize(b)
    assert summarize(a) != summarize(pd.DataFrame({"k": [1, 2], "v": ["x", "z"]}))


def test_self_time_of_synthetic_span_tree():
    #  root [0, 10]
    #    a [1, 4]        (child c [2, 3])
    #    b [3.5, 6]      (overlaps a by 0.5)
    #    d [9, 12]       (runs past root's end: only [9, 10] is covered)
    spans = [
        Span(0, "root", "plans", "op", None, 0.0, 10.0),
        Span(1, "a", "catalog", "op", 0, 1.0, 4.0),
        Span(2, "c", "cache", "op", 1, 2.0, 3.0),
        Span(3, "b", "sinks", "op", 0, 3.5, 6.0),
        Span(4, "d", "exec", "op", 0, 9.0, 12.0),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(1.0)
    assert own[3] == pytest.approx(2.5)
    assert own[4] == pytest.approx(3.0)


def test_timing_reports_tail_only_with_ten_samples_beyond():
    assert run.timing([1.0] * 10)["tail_pct"] is None
    t = run.timing([float(i) for i in range(100)])
    assert t["median"] == pytest.approx(49.5)
    assert t["tail_pct"] == 90 and t["n"] == 100


def test_write_atomic_leaves_no_temp_file(tmp_path):
    path = str(tmp_path / "r" / "x.json")
    run.write_atomic(path, {"a": 1})
    run.write_atomic(path, {"a": 2})
    assert json.load(open(path)) == {"a": 2}
    assert os.listdir(tmp_path / "r") == ["x.json"]


def _stamped(**kw) -> dict:
    stamp = {"bench_version": 1, "workload": "query_mix", "cpus": 4, "sf": 0.01, "traced": False}
    stamp.update(kw)
    return {"stamp": stamp, "metrics": {"run_s": 1.0}}


def test_comparator_refuses_other_cpus_or_sf():
    compare.check_comparable([_stamped(), _stamped()])
    for field, value in (("cpus", 8), ("sf", 0.1), ("bench_version", 2), ("traced", True)):
        with pytest.raises(ValueError, match=field):
            compare.check_comparable([_stamped(), _stamped(**{field: value})])


def test_keyed_check_compares_write_report():
    from pac_spark.sources.sinks import WriteReport

    runner = Runner(WORKLOADS["keyed_export"], "", "", None)
    frame = pd.DataFrame({"company_id": [1, 2, 3], "n": [1, 1, 1]})
    runner.expected[EXPORT_QUERY] = summarize(frame)
    runner.expected_by_key = {k: summarize(g) for k, g in frame.groupby("company_id")}
    op = OpSpec("update0", "write", (1, 2))
    good = WriteReport("p", 2, 2, 3, 3, True, False)
    short = WriteReport("p", 1, 1, 3, 3, True, False)
    assert runner.check(op, OpResult(2, good)) is None
    assert "want 2" in runner.check(op, OpResult(1, short))
