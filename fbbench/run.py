"""Benchmark entry point.

    python3 fbbench/run.py --workload fireball_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs from
``--seed`` under ``.fbbench_work/``, starts a Spark session with the package's
``session.get_spark``, runs the workload, checks its outputs, and prints as its
last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer counters of one traced pass. The line
before it (``fbbench-detail ...``) and the artifact file it names carry the
workload's own figures, the environment record and, when traced, the spans.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


WORKLOAD_NAMES = ("fireball_batch", "catalog_sf0.1")


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _loadavg() -> float:
    return os.getloadavg()[0]


def _cpu_jiffies() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if len(delta) > 7 and total else None


def _start_session(work: str):
    """Start the session (and with it the JVM); returns it and the time taken."""
    from fireball_data_processing_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name="fbbench", extra_conf=conf)
    spark.range(1).count()  # the context is usable
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - still running: kill and reap it
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="fireball-spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec("fireball_data_processing_spark") is None:
        print("fbbench: run from the repository root; package "
              "fireball_data_processing_spark not found", file=sys.stderr)
        return 3

    nproc = len(os.sched_getaffinity(0))
    cpus = min(nproc, 4)
    base = os.path.join(root, ".fbbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(os.path.join(base, "artifacts"), exist_ok=True)
    # everything Spark, Python and the JVM write stays inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # session.py reads the core count when it is imported
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    import workloads  # noqa: E402 - after the environment is set
    from counters import StatusReader

    load_start, jiffies_start = _loadavg(), _cpu_jiffies()
    spark, start_s = _start_session(work)
    try:
        reader = StatusReader(spark)
        ctx = workloads.Ctx(spark=spark, reader=reader, work=work, seed=args.seed,
                            seconds=args.seconds, trace=bool(args.trace), start_s=start_s)
        try:
            res = workloads.WORKLOADS[args.workload](ctx)
        except Exception:  # noqa: BLE001 - a broken program still gets a result line
            traceback.print_exc()
            res = None
        from pyspark import SparkContext

        rss = _vm_hwm_mb("self") + _vm_hwm_mb(SparkContext._gateway.proc.pid)
        env = {
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "nproc": nproc, "spark_graft_cpus": cpus,
            "loadavg_start": load_start, "loadavg_end": _loadavg(),
            "steal_share": _steal_share(jiffies_start, _cpu_jiffies()),
            "input": ctx.size,
            "peak_rss_mb": rss,
            "python": sys.version.split()[0],
        }
    finally:
        _stop(spark)

    if res is None:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    metrics = result_metrics(res, bool(args.trace), start_s, workloads.per_layer_names())
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "session_start_s": start_s,
        "setup_s": res.setup_s, "pass_s": res.pass_s, "executor_cpu_s": res.cpu_s,
        "passes_s": res.passes,
        "details": res.details, "missing_counters": sorted(reader.missing),
        "attempted": res.attempted, "failed": res.failed,
        "error_rate": res.failed / max(res.attempted, 1),
        "metrics": metrics, "spans": res.spans,
    }
    path = os.path.join(base, "artifacts",
                        f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print("fbbench-detail " + json.dumps({
        "artifact": os.path.relpath(path, root), "env": env, "details": res.details,
        "error_rate": artifact["error_rate"], "missing_counters": artifact["missing_counters"],
    }, default=str))
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted, "failed": res.failed, "metrics": metrics,
    }))
    return 0


def result_metrics(res, trace: bool, start_s: float, per_layer: list[str]) -> dict:
    """The result line's metrics: the end-to-end ones, or with ``trace``
    every per-layer counter (zero where the workload does not use the layer)."""
    if not trace:
        return {
            "setup_s": {"value": res.setup_s, "unit": "s"},
            "pass_s": {"value": res.pass_s, "unit": "s"},
            "executor_cpu_s": {"value": res.cpu_s, "unit": "s"},
        }
    layers = {n: 0.0 for n in per_layer}
    layers.update(res.layers)
    layers["session.start_s"] = start_s
    return {n: {"value": float(v), "unit": _unit(n)} for n, v in layers.items()}


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_s"):
        return "s"
    if last.endswith("_bytes"):
        return "bytes"
    if last in ("lookup_read_amplification", "memo_hit_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
