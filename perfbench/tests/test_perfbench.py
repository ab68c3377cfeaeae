"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The fast tests cover input generation and the layer arithmetic. The slow
ones run the benchmark itself (about four minutes on four cores): one
traced run per workload and one untraced run, checking the printed
metric names against BENCHMARK.json, that every layer the benchmark
expects on a workload recorded work there, that each op's layers add up
to its wall time and that every Spark job was attributed to an op.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen, workloads as W  # noqa: E402
from perfbench.trace import union_length  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a = gen.write_parts(gen.events(5_000, 7), str(tmp_path / "a"), 4)
    b = gen.write_parts(gen.events(5_000, 7), str(tmp_path / "b"), 4)
    c = gen.write_parts(gen.events(5_000, 8), str(tmp_path / "c"), 4)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    # stream_replay's later passes: later events, other dedup keys
    p0, p1 = gen.events(1_000, 7, 0), gen.events(1_000, 7, 1)
    assert p1.column("ts").to_numpy().min() > p0.column("ts").to_numpy().max()
    assert not set(p0.column("props").to_pylist()) \
        & set(p1.column("props").to_pylist())
    # query_mix: the seed is the order the queries are issued in
    names = list(W.QUERY_MIX)

    def orders(seed):
        rng = random.Random(seed)
        return [rng.sample(names, len(names)) for _ in range(4)]
    assert orders(7) == orders(7)
    assert orders(7) != orders(8)


def test_generated_events_have_the_promised_shape():
    df = gen.events(20_000, 3).to_pandas()
    assert df["ts"].is_monotonic_increasing
    for col in ("user_id", "event_type", "value"):
        assert 0.01 < df[col].isna().mean() < 0.06
    assert {"", "  ", "42", "3.5"} <= set(df["event_type"].dropna())
    assert df["props"].notna().all()
    assert (df["props"].value_counts() == 2).all()
    pairs = df["props"].to_numpy().reshape(-1, 2)
    assert (pairs[:, 0] == pairs[:, 1]).all()


def test_compare_is_order_insensitive_and_type_tolerant():
    want = pd.DataFrame({"n": [1.0, float("nan")], "s": ["b", "a"],
                         "t": pd.to_datetime(["2024-01-01", "2024-01-02"])})
    got = [("a", None, dt.datetime(2024, 1, 2)),
           ("b", 1, dt.datetime(2024, 1, 1))]
    assert check.compare(["s", "n", "t"], got, want) == []
    bad = [("a", None, dt.datetime(2024, 1, 2)),
           ("b", 2, dt.datetime(2024, 1, 1))]
    assert check.compare(["s", "n", "t"], bad, want)
    assert check.compare(["s", "n"], got, want)


def test_union_length():
    assert union_length([(0, 2), (1, 3)], 0, 10) == 3
    assert union_length([(0, 2), (5, 6)], 1, 5.5) == 1.5
    assert union_length([(0, 4)], 0, 10, minus=[(1, 2), (3, 9)]) == 2


def _op():
    return W.Op("q", wall=10.0, traced=True, t0=100.0, t1=104.0, t2=110.0,
                phases={"analysis": (100.5, 101.0),
                        "optimization": (104.0, 105.0),
                        "planning": (105.0, 105.5)})


def test_batch_layers_split_the_wall_time():
    op = _op()
    jobs = [{"submissionTime": 102_000, "completionTime": 103_000},
            {"submissionTime": 105_200, "completionTime": 108_000}]
    W.batch_layers(op, jobs)
    L = op.layers
    assert L["jobs"] == pytest.approx(3.8)
    assert L["catalyst"] == pytest.approx(0.5 + 1.0 + 0.2)
    assert L["build"] == pytest.approx(4.0 - 1.0 - 0.5)
    assert L["tail"] == pytest.approx(2.0)
    assert sum(L.values()) == pytest.approx(op.wall)


def test_batch_layers_show_spark_time_outside_the_op():
    # a job of the op's group that Spark reports as running past the op's
    # end (a mis-attributed job, or clocks that disagree) makes the
    # layers add up to more than the wall time
    op = _op()
    W.batch_layers(op, [{"submissionTime": 109_000,
                         "completionTime": 112_000}])
    assert op.layers["jobs"] == pytest.approx(3.0)
    assert sum(op.layers.values()) == pytest.approx(op.wall + 2.0)


def test_metrics_cover_the_first_timed_passes_only():
    walls = [4.0, 5.0, 5.0, 4.0, 1.0, 1.0]     # two extra, fast passes
    res = W.Result(ref_s=[W.REF_NOMINAL_S] * W.REF_REPS * len(walls))
    for i, w in enumerate(walls):
        res.passes.append(W.Pass(w, traced=i % 4 in (1, 2),
                                 window=(i, i + 1)))
        res.ops.append(W.Op("q", w, traced=i % 4 in (1, 2), rows=10,
                            pass_no=i))
    assert W.counted(res) == [0, 1, 2, 3]
    assert W.counted(res, True) == [1, 2]
    e2e = W.end_to_end(res, None)
    assert e2e["pass_s"] == pytest.approx(4.5)
    assert e2e["ops"] == W.TIMED_PASSES
    assert W.overhead_ratio(res) == pytest.approx(0.25)
    # a host twice as slow (reference job twice as long) reads the same
    res.ref_s = [2 * x for x in res.ref_s]
    res.passes = [W.Pass(2 * p.wall, p.traced, p.window)
                  for p in res.passes]
    for o in res.ops:
        o.wall *= 2
    assert W.end_to_end(res, None)["pass_s"] == pytest.approx(4.5)


def test_benchmark_json_names_match_the_registries():
    assert [w["name"] for w in BENCH["workloads"]] == sorted(W.RUNNERS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} \
        == W.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} \
        == W.PER_LAYER


def test_refuses_to_run_outside_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(BENCH["command"] + [
        "--workload", BENCH["workloads"][0]["name"], "--seed", "1",
        "--seconds", "1", "--trace", "0"], cwd=tmp_path,
        capture_output=True, text=True, timeout=120)
    assert r.returncode != 0
    assert not r.stdout.strip()


def _run(workload: str, trace: int, *extra) -> dict:
    r = subprocess.run(BENCH["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), *extra], cwd=ROOT, capture_output=True,
        text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, r.stderr[-3000:]
    return out


@pytest.fixture(scope="module")
def traced():
    return {w: _run(w, 1)["metrics"] for w in W.RUNNERS}


#: layers each workload must reach (the others may read 0 there)
EXPECTED = {
    "query_mix": ["sources.load_calls", "operators.build_s",
                  "catalyst.optimization_ms", "catalyst.planning_ms",
                  "jobs.count", "jobs.executor_run_s", "driver.tail_s",
                  "report.jb_report_s", "memo.agg_row.calls",
                  "memo.agg_row.hit_ratio", "memo.exprs.calls",
                  "spread.calls", "spread.applied_ratio", "overlap.calls",
                  "overlap.thunks"],
    "stream_replay": ["jobs.count", "stream.triggers", "stream.addBatch_ms",
                      "stream.walCommit_ms", "stream.commitOffsets_ms",
                      "stream.state_rows_peak"],
}


@pytest.mark.parametrize("workload", sorted(W.RUNNERS))
def test_traced_run(traced, workload):
    m = traced[workload]
    assert list(m) == [x["name"] for x in BENCH["per_layer"]]
    for name in EXPECTED[workload]:
        assert m[name]["value"] > 0, name
    assert m["session.start_s"]["value"] > 0
    assert m["jobs.unattributed"]["value"] == 0
    assert m["layers.sum_error"]["value"] <= 0.05


def test_untraced_run_prints_every_end_to_end_metric():
    m = _run("query_mix", 0)["metrics"]
    assert list(m) == [x["name"] for x in BENCH["end_to_end"]]
    for name, v in m.items():
        assert v["value"] > 0 and v["unit"] == W.END_TO_END[name]


def test_one_query_split():
    r = subprocess.run(BENCH["command"] + [
        "--workload", "query_mix", "--seed", "3", "--seconds", "1",
        "--trace", "1", "--queries", "check_constraints_lineitem"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    rows = [ln.split() for ln in r.stdout.splitlines()
            if ln.startswith("check_constraints_lineitem")]
    assert rows
    for _, wall, *layers in rows:
        assert sum(map(float, layers)) == pytest.approx(float(wall),
                                                        rel=0.05)
