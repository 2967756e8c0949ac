"""BENCHMARK.json against the benchmark's contract, and the result line and
artifact against BENCHMARK.json."""

import json
import os
import re

import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_follows_the_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(b["paths"]) <= 16
    for p in b["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and ".." not in p
        assert os.path.isdir(os.path.join(ROOT, p))
    assert len(b["command"]) <= 32 and all(len(c) <= 200 for c in b["command"])
    assert not any(c.startswith("/") or ".." in c for c in b["command"])
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"] and len(w["why"]) <= 200
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in b[k]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    assert all(UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
               for k in ("end_to_end", "per_layer") for m in b[k])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert len(json.dumps(b)) <= 64 * 1024


def test_workloads_and_metrics_match_the_code():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    assert list(run.WORKLOAD_NAMES) == list(workloads.WORKLOADS)
    assert [m["name"] for m in b["per_layer"]] == workloads.per_layer_names()


def _fake_result():
    return workloads.Result(setup_s=12.5, pass_s=3.25, cpu_s=1.5, passes=[3.5, 3.25],
                            attempted=4, failed=0, details={},
                            layers={"plans.distill.jobs": 6.0, "trace.overhead_s": 0.4})


def test_result_metrics_have_every_metric_with_its_unit():
    b = _bench()
    res = _fake_result()
    e2e = run.result_metrics(res, False, 9.0, workloads.per_layer_names())
    assert {n: v["unit"] for n, v in e2e.items()} == {m["name"]: m["unit"] for m in b["end_to_end"]}
    layered = run.result_metrics(res, True, 9.0, workloads.per_layer_names())
    assert {n: v["unit"] for n, v in layered.items()} == {m["name"]: m["unit"] for m in b["per_layer"]}
    assert layered["session.start_s"]["value"] == 9.0
    assert layered["plans.distill.jobs"]["value"] == 6.0
    assert all(isinstance(v["value"], float) for v in {**e2e, **layered}.values())
    line = json.dumps({"correct": True, "attempted": res.attempted, "failed": res.failed,
                       "metrics": e2e})
    assert set(json.loads(line)) == {"correct", "attempted", "failed", "metrics"}


def test_layer_map_covers_every_per_layer_metric():
    with open(os.path.join(ROOT, "fbbench", "layers.json")) as f:
        doc = json.load(f)
    covered = [n for p in doc["predictions"] for n in p["metrics"]]
    workload_names = set(workloads.WORKLOADS)
    e2e = {m["name"] for m in _bench()["end_to_end"]}
    for p in doc["predictions"]:
        for key in ("moves", "no_change"):
            for metric, wls in p.get(key, {}).items():
                assert metric in e2e and set(wls) <= workload_names
    for name in workloads.per_layer_names():
        prefix = name.split(".")[0]
        generic = name.replace(name.split(".")[1], "<query>", 1) if prefix == "q" else name
        assert (name in covered or generic in covered
                or f"{name.rsplit('.', 1)[0]}.*" in covered), name


def test_ops_counts_a_failed_check_once_per_operation():
    ops = workloads.Ops()
    ops.run("two bad checks", lambda: (ops.check(False, "a"), ops.check(False, "b")))
    ops.run("fine", lambda: ops.check(True, "c"))
    ops.run("raises", lambda: 1 / 0)
    ops.check(False, "outside an operation")
    assert (ops.attempted, ops.failed) == (4, 3)
