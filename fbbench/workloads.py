"""The benchmark's workloads.

Each workload gets a started ``Ctx`` and returns a ``Result``. It runs a
warm-up pass (part of ``setup_s``), then a fixed number of timed passes with
tracing off, sized to fill about ``ctx.seconds``, then, when ``ctx.trace`` is
set, one traced pass that yields the per-layer metrics. Correctness is
checked on every pass, outside the timed region.
"""

from __future__ import annotations

import csv
import glob
import gzip
import hashlib
import json
import math
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import corpus as corpus_gen
import catalog as catalog_gen
from counters import StatusReader, Tracer, job_totals, make_progress_listener, source_totals
from stats import latency_summary

BUILD_RUN = ("build_ms", "jobs", "stages", "tasks", "run_ms", "cpu_ms",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
STREAM_PHASES = ("addBatch", "walCommit", "latestOffset", "queryPlanning",
                 "commitOffsets", "triggerExecution")


def per_layer_names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    names = ["session.start_s"]
    names += [f"sources.{k}" for k in (
        "list_ms", "list_tasks", "scan_ms", "scan_cpu_ms", "input_bytes", "input_records",
        "files_read", "checksum_ms", "write_ms", "output_bytes")]
    for layer in ("plans.heuristics", "plans.distill", "functions.pairs"):
        names += [f"{layer}.{k}" for k in BUILD_RUN]
    for q in catalog_gen.MEMBERS:
        names += [f"q.{q}.build_ms", f"q.{q}.jobs", f"q.{q}.cpu_ms"]
    names += ["catalog.jobs", "catalog.tasks", "catalog.shuffle_bytes", "catalog.spill_bytes"]
    names += ["streaming.epochs"] + [f"streaming.{p}_ms" for p in STREAM_PHASES]
    names += ["dataset.lookup_read_amplification", "dataset.lookup_jobs",
              "dataset.memo_hit_ratio", "jvm.gc_ms", "trace.overhead_s"]
    return names


@dataclass
class Ctx:
    spark: object
    reader: StatusReader
    work: str
    seed: int
    seconds: float
    trace: bool
    start_s: float
    size: dict = field(default_factory=dict)


@dataclass
class Result:
    """``pass_s`` is the workload's timed figure, built from its fastest
    timed runs (the ones least disturbed by JIT warm-up and host noise;
    fbbench/layers.json says how per workload). ``cpu_s`` is the least
    executor CPU of a timed pass. ``passes`` keeps every timed pass's wall
    seconds."""

    setup_s: float
    pass_s: float
    cpu_s: float
    passes: list[float]
    attempted: int
    failed: int
    details: dict
    layers: dict[str, float] = field(default_factory=dict)
    spans: list[dict] = field(default_factory=list)


class Ops:
    """Counts operations attempted and failed. An operation fails when it
    raises or when a check of its output fails; a check made outside any
    operation counts as an operation of its own. Reasons go to stderr."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self._bad: bool | None = None

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            print(f"fbbench: check failed: {what}", file=sys.stderr)
        if self._bad is None:
            self.attempted += 1
            self.failed += not ok
        elif not ok:
            self._bad = True
        return ok

    def run(self, what: str, fn):
        """Call ``fn`` as one operation; returns None when it raises."""
        outer, self._bad = self._bad, False
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - the loop records the failure and goes on
            self._bad = True
            print(f"fbbench: {what} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        finally:
            self.failed += self._bad
            self._bad = outer


def _cpu_s(jobs: list[dict]) -> float:
    return job_totals(jobs)["cpu_ms"] / 1000.0


def _layer_totals(tracer: Tracer, layer: str) -> dict:
    """Build time and the job counters of every span tagged ``layer``."""
    spans = [s for s in tracer.spans if s["layer"] == layer]
    out = job_totals([j for s in spans for j in s["jobs"]])
    out["build_ms"] = sum((s["end"] - s["start"]) * 1000 for s in spans
                          if s["name"].endswith(".build"))
    return {f"{layer}.{k}": float(out[k]) for k in BUILD_RUN}


def _sources(tracer: Tracer) -> dict:
    jobs = [j for s in tracer.spans for j in s["jobs"]]
    out = {f"sources.{k}": v for k, v in source_totals(jobs).items()}
    out["sources.files_read"] = float(sum(s["files_read"] for s in tracer.spans))
    out["sources.checksum_ms"] = sum((s["end"] - s["start"]) * 1000 for s in tracer.spans
                                     if s["name"] == "sources.checksum")
    return out


def _timed_passes(ctx: Ctx, one_pass, pass_s: float) -> list:
    """Run ``one_pass`` as many times as fill ``ctx.seconds`` at ``pass_s``
    seconds a pass, and at least twice. The count depends only on
    ``--seconds``, so a faster and a slower commit measure the same work."""
    return [one_pass(i) for i in range(max(2, round(ctx.seconds / pass_s)))]


# ----------------------------------------------------------------------
# fireball_batch
# ----------------------------------------------------------------------

def _stream_schema():
    from fireball_data_processing_spark.schema import FIREBALL_STREAM, StreamSchema

    return StreamSchema(instance_col="instance_id", seq_col="seq",
                        ts_col=FIREBALL_STREAM.ts_col, type_col=FIREBALL_STREAM.type_col)


def distill(events):
    """distill1-2: triples around command anchors, utterances kept only when
    written by the command's author or the instance's DM."""
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.plans.distill import assemble_triples, author_filter

    is_cmd = F.col("event_type") == "command"
    triples = assemble_triples(
        events.withColumn("payload", F.struct("author_id", "content")),
        _stream_schema(),
        utterance_predicate=(F.col("event_type") == "message")
        & ~F.coalesce(F.col("author_bot"), F.lit(False)),
        anchor_predicate=is_cmd,
        payload_col="payload",
        order_expr=F.col("timestamp"),
    )
    anchors = events.filter(is_cmd).select(
        "instance_id", F.col("seq").alias("anchor_id"), F.col("author_id").alias("cmd_author"),
        F.col("content").alias("cmd_content"), F.col("prefix").alias("cmd_prefix"))
    dms = (events.filter(F.col("event_type") == "combat_state_update")
           .groupBy("instance_id").agg(F.max("data.dm").cast("string").alias("dm")))
    triples = triples.join(anchors, ["instance_id", "anchor_id"]).join(dms, "instance_id", "left")
    return author_filter(triples, F.array(F.col("cmd_author"), F.col("dm")))


def training_pairs(triples):
    """distill3a + prompt assembly: one (prompt, completion) pair per triple."""
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.functions.game import assemble_prompt
    from fireball_data_processing_spark.functions.text import (
        normalize_emoji, normalize_prefix, strip_mentions)
    from fireball_data_processing_spark.plans.distill import ic_regex_stage

    key = ["instance_id", "anchor_id"]
    sides = triples.select(*key, F.explode(F.array(
        F.struct(F.lit(0).alias("side"), F.col("before_payloads").alias("msgs")),
        F.struct(F.lit(1).alias("side"), F.col("after_payloads").alias("msgs")),
    )).alias("s"))
    utts = sides.select(*key, F.col("s.side").alias("side"),
                        F.posexplode("s.msgs").alias("pos", "m"))
    utts = utts.select(*key, "side", "pos", F.col("m.content").alias("content"))
    utts = ic_regex_stage(utts, "content").withColumn(
        "content", normalize_emoji(strip_mentions(F.col("content"))))

    def joined(side: int):
        picked = F.when(F.col("side") == side, F.struct("pos", "content"))
        return F.array_join(F.transform(F.sort_array(F.collect_list(picked)),
                                        lambda x: x["content"]), "\n")

    texts = utts.groupBy(*key).agg(joined(0).alias("before"), joined(1).alias("after"))
    command = normalize_prefix(F.col("cmd_content"), F.coalesce(F.col("cmd_prefix"), F.lit("!")))
    return (triples.select(*key, "cmd_content", "cmd_prefix").join(texts, key, "left")
            .select(*key,
                    assemble_prompt(F.col("before"), command).alias("prompt"),
                    F.coalesce(F.col("after"), F.lit("")).alias("completion")))


def _read_csv_dir(path: str) -> list[dict]:
    rows = []
    for p in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(p, newline="") as f:
            rows.extend(csv.DictReader(f))
    return rows


def _read_jsonl_gz_dir(path: str) -> list[str]:
    lines = []
    for p in sorted(glob.glob(os.path.join(path, "part-*.json.gz"))):
        with gzip.open(p, "rt") as f:
            lines.extend(line.rstrip("\n") for line in f if line.strip())
    return lines


class Fireball:
    """The FIREBALL product over one live corpus: new instances arrive, the
    pipeline rebuilds the heuristics table, triples and training pairs, and
    the explorer API serves the result to one closed-loop client."""

    #: the probe corpus had 1,500 instances; a fifth of them keeps a run
    #: within the benchmark's time budget (corpus.py keeps the probe's shape)
    INSTANCES = 300
    SERVE = ("lookup",) * 3 + ("index", "drain")

    def __init__(self, ctx: Ctx, ops: Ops) -> None:
        self.ctx, self.ops = ctx, ops
        self.root = os.path.join(ctx.work, "corpus")
        self.results = os.path.join(ctx.work, "results")
        gen = corpus_gen.generate(self.root, ctx.seed, self.INSTANCES)
        ctx.size.update(gen["size"])
        self.truth = gen["instances"]
        self.base = sorted(self.truth)  # instances present from the start
        self.rng = random.Random(ctx.seed)
        self.arrivals = 0
        self.digest: str | None = None
        self.lat: dict[str, list[float]] = {"lookup": [], "index": [], "drain": []}
        self.memo: list[bool] = []  # sinks.memoized results seen while tracing

    # -- the client's operations ---------------------------------------
    def pick(self) -> str:
        """An original instance, Zipf-distributed over their size rank."""
        return self.rng.choices(self.base, [1.0 / (r + 1) for r in range(len(self.base))])[0]

    def lookup(self, ds, cid: str) -> int:
        rows = ds.events(cid).select("event_type", "timestamp", "seq").collect()
        t = self.truth[cid]
        self.ops.check(len(rows) == t["events"], f"lookup {cid} returns its events")
        self.ops.check([r["seq"] for r in rows] == list(range(1, len(rows) + 1))
                       and corpus_gen.order_digest(
                           [{"event_type": r["event_type"], "timestamp": r["timestamp"]}
                            for r in rows]) == t["order"], f"lookup {cid} is in seq order")
        return len(rows)

    def index(self, ds) -> None:
        rows = ds.index().select("instance_id", "event_count").collect()
        got = {r["instance_id"]: int(r["event_count"]) for r in rows}
        self.ops.check(got == {c: t["events"] for c, t in self.truth.items()},
                       "index has every instance, the newest too, with its event count")

    def drain(self, ds, cid: str) -> None:
        n = sum(chunk.count("\n") for chunk in ds.stream_events(cid))
        self.ops.check(n == self.truth[cid]["events"], f"stream of {cid} has its events")

    # -- one pass ------------------------------------------------------
    def arrive(self) -> None:
        """A new combat instance lands in the corpus (not timed)."""
        cid = f"new{self.arrivals:04d}"
        self.arrivals += 1
        self.truth[cid] = corpus_gen.add_instance(self.root, cid, self.ctx.seed)

    def one_pass(self, tag: str, tracer: Tracer) -> dict:
        from fireball_data_processing_spark.dataset import FireballDataset
        from fireball_data_processing_spark.sources import sinks

        spark = self.ctx.spark
        out = os.path.join(self.ctx.work, f"out-{tag}")
        self.arrive()
        t0 = time.perf_counter()
        with tracer.span("pass", "pass"):
            ds = FireballDataset(spark, self.root, results_dir=self.results)
            # the corpus changed: checksum, memo miss, recompute, CSV write
            with tracer.span("dataset.heuristics", "dataset"):
                ds.heuristics()
            heuristics_s = time.perf_counter() - t0
            with tracer.span("plans.distill.build", "plans.distill"):
                triples = distill(ds.events_df())
            with tracer.span("plans.distill.write", "plans.distill"):
                triples.write.mode("overwrite").parquet(os.path.join(out, "triples"))
            with tracer.span("functions.pairs.build", "functions.pairs"):
                pairs = training_pairs(spark.read.parquet(os.path.join(out, "triples")))
            with tracer.span("functions.pairs.write", "functions.pairs"):
                sinks.write_jsonl(pairs, os.path.join(out, "pairs"))
            build_s = time.perf_counter() - t0
            for op in self.SERVE:
                # lookups follow popularity; a drain streams any instance
                cid = self.pick() if op == "lookup" else self.rng.choice(self.base)
                t = time.perf_counter()
                failed_before = self.ops.failed
                with tracer.span(f"dataset.{op}", "dataset", instance=cid) as span:
                    if op == "lookup":
                        n = self.ops.run("lookup", lambda: self.lookup(ds, cid))
                        if span is not None:
                            span["rows"] = n or 0
                    elif op == "index":
                        self.ops.run("index", lambda: self.index(ds))
                    else:
                        self.ops.run("stream drain", lambda: self.drain(ds, cid))
                # a failed operation misses every latency limit
                self.lat[op].append(time.perf_counter() - t if self.ops.failed == failed_before
                                    else math.inf)
        wall = time.perf_counter() - t0
        self.ctx.reader.drain()
        jobs = self.ctx.reader.new_jobs() + [j for s in tracer.spans for j in s["jobs"]]
        self.check_outputs(out)
        shutil.rmtree(out, ignore_errors=True)
        return {"wall": wall, "heuristics_s": heuristics_s, "build_s": build_s,
                "cpu": _cpu_s(jobs), "events": sum(t["events"] for t in self.truth.values())}

    def check_outputs(self, out: str) -> None:
        """The heuristics table, triples and pairs against the generator's
        truth; the pairs of the original instances must not change."""
        import pyarrow.parquet as pq

        inst, ops = self.truth, self.ops
        heur = {r["instance_id"]: r for r in _read_csv_dir(os.path.join(self.results, "heuristics"))}
        ops.check(set(heur) == set(inst), "heuristics table has every instance")
        bad = [c for c, t in inst.items() if c in heur and (
            int(heur[c]["event_count"]), int(heur[c]["message_count"]),
            int(heur[c]["command_count"])) != (t["events"], t["messages"], t["commands"])]
        ops.check(not bad, f"heuristics counts match truth (wrong: {bad[:3]})")

        want = {c: t["triples"] for c, t in inst.items() if t["triples"]}
        got: dict[str, int] = {}
        for c in pq.read_table(os.path.join(out, "triples"), columns=["instance_id"]).column(0).to_pylist():
            got[c] = got.get(c, 0) + 1
        ops.check(got == want, "triple counts match truth")

        lines = _read_jsonl_gz_dir(os.path.join(out, "pairs"))
        per: dict[str, int] = {}
        base = set(self.base)
        kept = []
        for line in lines:
            c = json.loads(line)["instance_id"]
            per[c] = per.get(c, 0) + 1
            if c in base:
                kept.append(line)
        ops.check(per == want, "one training pair per triple")
        digest = hashlib.md5("\n".join(sorted(kept)).encode()).hexdigest()
        ops.check(self.digest in (None, digest), "training pairs of unchanged instances are stable")
        self.digest = digest


def fireball_batch(ctx: Ctx) -> Result:
    from fireball_data_processing_spark import dataset as dataset_mod
    from fireball_data_processing_spark.sources import sinks

    ops = Ops()
    fb = Fireball(ctx, ops)
    off = Tracer(ctx.reader, "off", enabled=False)
    t = time.perf_counter()
    ops.run("warm-up pass", lambda: fb.one_pass("warm", off))
    setup_s = ctx.start_s + time.perf_counter() - t
    for v in fb.lat.values():
        v.clear()

    def timed(i: int) -> dict:
        t0 = time.perf_counter()
        p = ops.run("timed pass", lambda: fb.one_pass(f"t{i}", off))
        if p is None:  # failed: its time and CPU up to the failure
            ctx.reader.drain()
            p = {"wall": time.perf_counter() - t0, "cpu": _cpu_s(ctx.reader.new_jobs())}
        return p

    passes = _timed_passes(ctx, timed, pass_s=10.0)
    done = [p for p in passes if "build_s" in p]
    res = Result(
        setup_s=setup_s, pass_s=min(p["wall"] for p in passes),
        cpu_s=min(p["cpu"] for p in passes), passes=[p["wall"] for p in passes],
        attempted=0, failed=0, details={
            "passes": len(passes),
            # each pass's corpus (it grows by one instance a pass) over its own
            # rebuild time, at the fastest pass
            "events_per_s": max((p["events"] / p["build_s"] for p in done), default=None),
            "heuristics_s": min((p["heuristics_s"] for p in done), default=None),
            "lookup_ms": latency_summary([x * 1000 for x in fb.lat["lookup"]]),
            "index_ms": latency_summary([x * 1000 for x in fb.lat["index"]]),
            "drain_ms": latency_summary([x * 1000 for x in fb.lat["drain"]]),
            "pairs_digest": fb.digest,
        })
    if ctx.trace:
        tracer = Tracer(ctx.reader, f"batch-{ctx.seed}", enabled=True)
        undo = [
            tracer.instrument(dataset_mod, "dataset_checksum", "sources.checksum", "sources"),
            tracer.instrument(dataset_mod, "load_event_stream", "sources.load_event_stream",
                              "sources"),
            tracer.instrument(dataset_mod, "heuristics_matrix", "plans.heuristics.build",
                              "plans.heuristics"),
            tracer.instrument(sinks, "write_results_csv", "plans.heuristics.write",
                              "plans.heuristics"),
            tracer.instrument(sinks, "memoized", "sources.memoized", "sources",
                              on_result=fb.memo.append),
        ]
        try:
            ctx.reader.skip()
            gc0 = ctx.reader.jvm_gc_ms()
            traced = ops.run("traced pass", lambda: fb.one_pass("traced", tracer))
            gc1 = ctx.reader.jvm_gc_ms()
        finally:
            for u in undo:
                u()
        layers = _sources(tracer)
        for layer in ("plans.heuristics", "plans.distill", "functions.pairs"):
            layers.update(_layer_totals(tracer, layer))
        lookups = [s for s in tracer.spans if s["name"] == "dataset.lookup"]
        lk_jobs = [j for s in lookups for j in s["jobs"]]
        returned = sum(s.get("rows", 0) for s in lookups)
        layers["dataset.lookup_read_amplification"] = (
            source_totals(lk_jobs)["input_records"] / returned if returned else 0.0)
        layers["dataset.lookup_jobs"] = len(lk_jobs) / len(lookups) if lookups else 0.0
        layers["dataset.memo_hit_ratio"] = sum(fb.memo) / len(fb.memo) if fb.memo else 0.0
        if gc0 is not None and gc1 is not None:
            layers["jvm.gc_ms"] = gc1 - gc0
        if traced:
            layers["trace.overhead_s"] = traced["wall"] - res.pass_s
        res.layers, res.spans = layers, tracer.dump()
    res.attempted, res.failed = ops.attempted, ops.failed
    return res


# ----------------------------------------------------------------------
# catalog_sf0.1
# ----------------------------------------------------------------------

def catalog_sf01(ctx: Ctx) -> Result:
    from fireball_data_processing_spark import queries as catalog

    spark = ctx.spark
    data = os.path.join(ctx.work, "sf0.1")
    ctx.size.update(catalog_gen.generate(data, ctx.seed, 0.1))
    ops = Ops()
    listener = make_progress_listener(spark) if ctx.trace else None

    def run_query(name: str, tracer: Tracer, collect: bool):
        with tracer.span(f"q.{name}", "queries", query=name):
            with tracer.span(f"q.{name}.build", "queries"):
                df = catalog.REGISTRY[name].fn(spark, data)
            with tracer.span(f"q.{name}.run", "queries"):
                if collect:
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()
                return True

    def one_pass(tracer: Tracer, collect: bool = False) -> dict:
        """Each member's wall time (up to its failure, when it fails) and,
        for those that succeed, its result."""
        times, results, jobs = {}, {}, []
        for name in catalog_gen.MEMBERS:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            out = ops.run(f"query {name}", lambda: run_query(name, tracer, collect))
            times[name] = time.perf_counter() - t0
            if out is not None:
                results[name] = out
            ctx.reader.drain()
            jobs += ctx.reader.new_jobs()
        jobs += [j for s in tracer.spans for j in s["jobs"]]
        return {"times": times, "results": results, "cpu": _cpu_s(jobs),
                "wall": sum(times.values())}

    off = Tracer(ctx.reader, "off", enabled=False)
    t = time.perf_counter()
    warm = one_pass(off, collect=True)
    setup_s = ctx.start_s + time.perf_counter() - t
    # every member against its DuckDB oracle, once, outside the timed passes
    bad = ops.run("oracle check", lambda: catalog_gen.check_oracles(warm["results"], data))
    bad = {"*": "oracle check raised"} if bad is None else bad
    for name in warm["results"]:
        ops.check(name not in bad, f"{name} matches its oracle ({bad.get(name)})")
    passes = _timed_passes(ctx, lambda i: one_pass(off), pass_s=7.5)
    # each query's fastest run over the timed passes; a failed run counts
    # as an operation failed
    query_s = {q: min(p["times"][q] for p in passes) for q in catalog_gen.MEMBERS}

    def group_s(group) -> float:
        return sum(query_s[q] for q in group)

    res = Result(setup_s=setup_s, pass_s=group_s(catalog_gen.MEMBERS),
                 cpu_s=min(p["cpu"] for p in passes), passes=[p["wall"] for p in passes],
                 attempted=0, failed=0, details={
                     "passes": len(passes),
                     "headline_s": group_s(catalog_gen.HEADLINE),
                     "capstone_s": group_s(catalog_gen.CAPSTONE),
                     "hotpath_s": group_s(catalog_gen.HOTPATH),
                     "query_s": query_s,
                     "oracle_mismatches": bad,
                 })
    if ctx.trace:
        tracer = Tracer(ctx.reader, f"catalog-{ctx.seed}", enabled=True)
        ctx.reader.skip()
        gc0 = ctx.reader.jvm_gc_ms()
        n_epochs0 = len(listener.epochs) if listener else 0
        traced = one_pass(tracer)
        gc1 = ctx.reader.jvm_gc_ms()
        layers = _sources(tracer)
        all_jobs = []
        for q in catalog_gen.MEMBERS:
            spans = [s for s in tracer.spans if s["name"].startswith(f"q.{q}")]
            jobs = [j for s in spans for j in s["jobs"]]
            all_jobs += jobs
            tot = job_totals(jobs)
            build = [s for s in spans if s["name"] == f"q.{q}.build"]
            layers[f"q.{q}.build_ms"] = sum((s["end"] - s["start"]) * 1000 for s in build)
            layers[f"q.{q}.jobs"] = float(tot["jobs"])
            layers[f"q.{q}.cpu_ms"] = tot["cpu_ms"]
        tot = job_totals(all_jobs)
        layers.update({
            "catalog.jobs": float(tot["jobs"]), "catalog.tasks": tot["tasks"],
            "catalog.shuffle_bytes": tot["shuffle_read_bytes"] + tot["shuffle_write_bytes"],
            "catalog.spill_bytes": tot["spill_bytes"],
        })
        if listener is not None:
            ctx.reader.drain()
            epochs = listener.epochs[n_epochs0:]
            layers["streaming.epochs"] = float(len(epochs))
            for p in STREAM_PHASES:
                layers[f"streaming.{p}_ms"] = float(sum(e.get(p, 0) for e in epochs))
        if gc0 is not None and gc1 is not None:
            layers["jvm.gc_ms"] = gc1 - gc0
        layers["trace.overhead_s"] = traced["wall"] - res.pass_s
        res.layers, res.spans = layers, tracer.dump()
    res.attempted, res.failed = ops.attempted, ops.failed
    return res


WORKLOADS = {
    "fireball_batch": fireball_batch,
    "catalog_sf0.1": catalog_sf01,
}
