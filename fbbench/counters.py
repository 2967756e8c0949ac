"""Layer counters read from Spark's status stores, and the span tracer.

Everything here reaches Spark through py4j calls into classes that are not
public API (``AppStatusStore``, the SQL status store, ``LiveListenerBus``).
Each probe is fail-safe: when a call raises, the counter it feeds is recorded
in ``StatusReader.missing`` and reads as absent, and the run goes on.

The reader is incremental. It remembers the last job and SQL execution it
has seen and only fetches newer ones, so reading after every span keeps it
ahead of Spark's retained-job and retained-stage limits.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

LISTING_PREFIX = "Listing leaf files and directories"

STAGE_FIELDS = {
    # name in this module: (StageData accessor, scale)
    "run_ms": ("executorRunTime", 1.0),
    "cpu_ms": ("executorCpuTime", 1e-6),  # ns
    "input_bytes": ("inputBytes", 1.0),
    "input_records": ("inputRecords", 1.0),
    "output_bytes": ("outputBytes", 1.0),
    "shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "memory_spill_bytes": ("memoryBytesSpilled", 1.0),
    "disk_spill_bytes": ("diskBytesSpilled", 1.0),
    "gc_ms": ("jvmGcTime", 1.0),
    "tasks": ("numCompleteTasks", 1.0),
}


def _opt(o):
    """A Scala ``Option`` as a Python value or None."""
    return None if o.isEmpty() else o.get()


class StatusReader:
    """Incremental, fail-safe reader of jobs, stages and SQL file counts."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.missing: set[str] = set()
        self._gw = self.sc._gateway
        self._store = self._try("app_status_store", lambda: self.sc._jsc.sc().statusStore())
        self._sql = self._try(
            "sql_status_store", lambda: spark._jsparkSession.sharedState().statusStore())
        self._last_job = self._try("job_cursor", self._max_job_id, -1)
        self._last_exec = self._try("sql_cursor", self._max_exec_id, -1)
        self._seen_stages: set[tuple[int, int]] = set()

    def _try(self, name, fn, default=None):
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a private-API probe fails safe
            self.missing.add(name)
            return default

    # -- cursors ---------------------------------------------------------
    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _max_exec_id(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def skip(self) -> None:
        """Move past every job and SQL execution so far without reading them."""
        self.drain()
        self._last_job = self._try("job_cursor", self._max_job_id, self._last_job)
        self._last_exec = self._try("sql_cursor", self._max_exec_id, self._last_exec)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        if self._try("listener_bus", lambda: self.sc._jsc.sc().listenerBus().waitUntilEmpty(),
                     False) is False:
            time.sleep(0.2)

    # -- jobs and stages -------------------------------------------------
    def _stage(self, stage_id: int) -> dict:
        jvm = self._gw.jvm
        attempts = self._store.stageData(
            stage_id, False, jvm.java.util.ArrayList(), False,
            self._gw.new_array(jvm.double, 0))
        out = {k: 0.0 for k in STAGE_FIELDS}
        for i in range(attempts.size()):
            s = attempts.apply(i)
            key = (stage_id, s.attemptId())
            if key in self._seen_stages:
                continue
            self._seen_stages.add(key)
            for k, (acc, scale) in STAGE_FIELDS.items():
                out[k] += getattr(s, acc)() * scale
        out["spill_bytes"] = out.pop("memory_spill_bytes") + out.pop("disk_spill_bytes")
        return out

    def _job(self, j) -> dict:
        desc = _opt(j.description()) or ""
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        ids = j.stageIds()
        stages = [self._try("stage_data", lambda sid=ids.apply(i): self._stage(sid), None)
                  for i in range(ids.size())]
        return {
            "id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "listing": desc.startswith(LISTING_PREFIX),
            "tasks": j.numTasks(),
            "wall_ms": (done.getTime() - sub.getTime()) if sub and done else 0,
            "stages": [s for s in stages if s is not None and s["tasks"] > 0],
        }

    def new_jobs(self) -> list[dict]:
        """Jobs that started since the last call, oldest first."""
        if self._store is None:
            return []

        def read():
            jobs = self._store.jobsList(None)  # newest first
            fresh = []
            for i in range(jobs.size()):
                j = jobs.apply(i)
                if j.jobId() <= self._last_job:
                    break
                fresh.append(j)
            done = []
            for j in sorted(fresh, key=lambda j: j.jobId()):
                if str(j.status()) == "RUNNING":  # its stages are not final yet
                    break
                done.append(j)
            if done:
                self._last_job = done[-1].jobId()
            return [self._job(j) for j in done]

        return self._try("jobs_list", read, [])

    def new_files_read(self) -> int | None:
        """Sum of the scans' "number of files read" SQL metric over SQL
        executions that started since the last call."""
        if self._sql is None:
            return None

        def read():
            total = 0
            while True:
                e = _opt(self._sql.execution(self._last_exec + 1))
                if e is None:
                    # ids can have gaps: look a few ahead before stopping
                    ahead = next((k for k in range(self._last_exec + 2, self._last_exec + 9)
                                  if _opt(self._sql.execution(k)) is not None), None)
                    if ahead is None:
                        return total
                    self._last_exec = ahead - 1
                    continue
                if not e.completionTime().isDefined():
                    return total
                self._last_exec += 1
                # one call for the whole metric list, then one per match
                accs = set(re.findall(r"SQLPlanMetric\(number of files read,(\d+),",
                                      e.metrics().toString()))
                values = self._sql.executionMetrics(self._last_exec)
                for acc in accs:
                    v = _opt(values.get(int(acc)))
                    if v is not None:
                        total += int(str(v).replace(",", ""))

        return self._try("sql_files_read", read, None)

    def jvm_gc_ms(self) -> float | None:
        """Collection time summed over the JVM's garbage collectors."""
        def read():
            beans = self._gw.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
            return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))

        return self._try("jvm_gc", read, None)


def make_progress_listener(spark):
    """A ``StreamingQueryListener`` that keeps every progress event's phase
    durations, registered on ``spark``; None when registration fails."""
    try:
        from pyspark.sql.streaming import StreamingQueryListener

        class Progress(StreamingQueryListener):
            def __init__(self) -> None:
                self.epochs: list[dict] = []

            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                self.epochs.append({"batch": p.batchId, **dict(p.durationMs)})

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        listener = Progress()
        spark.streams.addListener(listener)
        return listener
    except Exception:  # noqa: BLE001 - a private-API probe fails safe
        return None


class Tracer:
    """Spans around calls into the package, each tagging its Spark work
    with ``setJobGroup(<span id>)`` and collecting the jobs that ran inside
    it. Spans stay in memory until ``dump``.

    A disabled tracer times nothing and reads no counters, so untraced runs
    pay only a context-manager call per span.
    """

    def __init__(self, reader: StatusReader | None, run_id: str, enabled: bool) -> None:
        self.reader = reader
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _tag(self, span: dict | None) -> None:
        sc = self.reader.sc
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span["id"], span["name"], False)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": f"{self.run_id}.{len(self.spans)}", "name": name, "layer": layer,
            "parent": parent["id"] if parent else None, "run": self.run_id,
            "jobs": [], "files_read": 0, **attrs,
        }
        self.spans.append(span)
        self._stack.append(span)
        self._tag(span)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self.reader.drain()
            span["jobs"] = self.reader.new_jobs()
            span["files_read"] = self.reader.new_files_read() or 0
            self._stack.pop()
            self._tag(parent)

    def instrument(self, module, attr: str, name: str, layer: str, on_result=None):
        """Wrap ``module.attr`` so each call opens a span; returns an undo
        callable. ``on_result`` sees each return value."""
        original = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(name, layer):
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        setattr(module, attr, wrapped)
        return lambda: setattr(module, attr, original)

    # -- aggregation -----------------------------------------------------
    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        covered = sum(c["end"] - c["start"] for c in self.children(span))
        return (span["end"] - span["start"]) - covered

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [{
            **{k: v for k, v in s.items() if k not in ("start", "end")},
            "start_s": s["start"] - t0, "end_s": s["end"] - t0,
            "self_s": self.self_time(s),
        } for s in self.spans]


def job_totals(jobs: list[dict]) -> dict:
    """jobs, stages, tasks and summed stage metrics over ``jobs``."""
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0,
           "shuffle_read_bytes": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0,
           "gc_ms": 0.0}
    for j in jobs:
        for s in j["stages"]:
            out["stages"] += 1
            for k in ("tasks", "run_ms", "cpu_ms", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes", "gc_ms"):
                out[k] += s[k]
    return out


def source_totals(jobs: list[dict]) -> dict:
    """The ``sources`` layer's share of ``jobs``, by what a stage does: the
    file-listing jobs, the stages that read input files and the stages that
    write output files."""
    out = {"list_ms": 0.0, "list_tasks": 0.0, "scan_ms": 0.0, "scan_cpu_ms": 0.0,
           "input_bytes": 0.0, "input_records": 0.0, "write_ms": 0.0, "output_bytes": 0.0}
    for j in jobs:
        if j["listing"]:
            out["list_ms"] += j["wall_ms"]
            out["list_tasks"] += j["tasks"]
            continue
        for s in j["stages"]:
            if s["input_bytes"] > 0:
                out["scan_ms"] += s["run_ms"]
                out["scan_cpu_ms"] += s["cpu_ms"]
                out["input_bytes"] += s["input_bytes"]
                out["input_records"] += s["input_records"]
            if s["output_bytes"] > 0:
                out["write_ms"] += s["run_ms"]
                out["output_bytes"] += s["output_bytes"]
    return out
