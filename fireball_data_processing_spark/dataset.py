"""User-facing dataset API — the reference's ``Dataset`` + explorer surface
(``dataset/dataset.py``, ``explorer_server.py``) on Spark.

A user of the reference drives four things: the heuristics table, raw
per-instance event streams, CSV export, and the distill outputs. This class
exposes the same surface over the engine:

    ds = FireballDataset(spark, "/data/fireball")
    ds.instances()                  # instance ids (S4)
    ds.events_df()                  # every event, from the snapshot
    ds.heuristics()                 # wide matrix, memoized (S6/S8/S9)
    ds.events("combat_123")         # ordered raw stream (explorer /events)
    ds.export_heuristics_csv(path)  # S11
    ds.index()                      # explorer /index payload shape

Each instance is decoded once. ``results_dir/snapshot`` holds a parquet
**event snapshot** (the decoded events, ``instance_id`` and ``seq``
included) and an **instance-grain heuristics memo** (each instance's
heuristics row), both split into a few generation directories, and a JSON
**manifest** that names every generation's files and maps each instance
to its generation and to the ``dataset_checksum`` of its listed chunk
files. The first ``events_df()`` or ``heuristics()`` of a dataset
refreshes the snapshot: only new or changed instances are decoded (and
get a heuristics row), as a new generation; a generation that held a
changed or deleted instance is rewritten into it without that instance,
and so is every generation no larger than all newer ones together, which
keeps the generation count logarithmic in the snapshot's bytes. Instance
ids are a data column, so the file count follows bytes, not instances
(one directory per instance read slower; CHANGES.md has the A/B). The
manifest is written last, so a refresh that dies before it leaves the
previous snapshot in force. This is the reference's skip-if-unchanged memo
(``heuristic_worker.py:95-110``) at instance grain; every heuristic is a
``groupBy(instance)`` aggregate, so a row depends on its instance alone.

``results_dir/heuristics`` keeps the whole matrix as CSV with its
``_checksum`` sidecar (corpus checksum and heuristic set); it is rewritten
when that key changes. ``events(id)`` and ``stream_events(id)`` read the
instance's own chunk files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fireball_data_processing_spark.plans.heuristics import (
    HEURISTICS,
    heuristics_matrix,
)
from fireball_data_processing_spark.schema import (
    EVENT_SCHEMA,
    FIREBALL_STREAM,
    StreamSchema,
)
from fireball_data_processing_spark.session import conf_bytes
from fireball_data_processing_spark.sources.checksum import File, dataset_checksum
from fireball_data_processing_spark.sources.events import (
    chunk_files,
    instance_of,
    listed_read,
    load_event_stream,
)
from fireball_data_processing_spark.sources import sinks

# rows per chunk the streaming endpoints yield
_CHUNK_ROWS = 1000

# one refresh at a time per snapshot directory in this process
_REFRESH_LOCKS: dict[str, threading.Lock] = {}
_REFRESH_LOCKS_LOCK = threading.Lock()


def _refresh_lock(snap: str) -> threading.Lock:
    with _REFRESH_LOCKS_LOCK:
        return _REFRESH_LOCKS.setdefault(os.path.abspath(snap), threading.Lock())


def _empty_manifest() -> dict:
    """The manifest of a snapshot that holds nothing. A stored manifest
    whose formats differ (another event schema or heuristic set) reads as
    this one, so the next refresh rebuilds everything."""
    return {"event_schema": EVENT_SCHEMA.json(), "heuristic_names": list(HEURISTICS),
            "schemas": {}, "generations": {}, "instances": {}}


def _read_manifest(snap: str) -> dict:
    try:
        with open(os.path.join(snap, "manifest.json")) as f:
            stored = json.load(f)
    except FileNotFoundError:
        return _empty_manifest()
    empty = _empty_manifest()
    same = all(stored.get(k) == empty[k] for k in ("event_schema", "heuristic_names"))
    return stored if same else empty


def _write_manifest(snap: str, manifest: dict) -> None:
    tmp = os.path.join(snap, "_manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(snap, "manifest.json"))


class FireballDataset:
    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        results_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.results_dir = results_dir or os.path.join(data_dir, "_results")
        self.stream = StreamSchema(
            instance_col="instance_id",
            seq_col=FIREBALL_STREAM.seq_col,
            ts_col=FIREBALL_STREAM.ts_col,
            type_col=FIREBALL_STREAM.type_col,
        )
        self._files: list[File] | None = None
        self._files_lock = threading.Lock()
        self._manifest: dict | None = None

    # -- the corpus listing -------------------------------------------
    def files(self) -> list[File]:
        """The corpus listing, taken once: everything below reads this snapshot."""
        with self._files_lock:
            if self._files is None:
                self._files = chunk_files(self.data_dir)
        return self._files

    def checksum(self) -> str:
        return dataset_checksum(self.files())

    def instances(self) -> list[str]:
        """The listed directory names, sorted; all-corrupt instances too."""
        return sorted({instance_of(path) for path, _, _ in self.files()})

    # -- the event snapshot and the heuristics memo -------------------
    def _snapshot(self) -> dict:
        """The manifest after refreshing the snapshot to this listing, once."""
        snap = os.path.join(self.results_dir, "snapshot")
        with _refresh_lock(snap):
            if self._manifest is None:
                self._manifest = self._refresh(snap)
        return self._manifest

    def _refresh(self, snap: str) -> dict:
        old = _read_manifest(snap)
        have, gens = old["instances"], old["generations"]
        by_inst: dict[str, list[File]] = {}
        for f in self.files():
            by_inst.setdefault(instance_of(f[0]), []).append(f)
        listed = {i: {"checksum": dataset_checksum(fs), "bytes": sum(f[1] for f in fs)}
                  for i, fs in by_inst.items()}
        changed = sorted(i for i, e in listed.items()
                         if have.get(i, {}).get("checksum") != e["checksum"])
        stale = sorted(i for i in have if i not in listed or i in changed)
        if not changed and not stale:
            return old

        # rewrite every generation holding a stale row; then, newest first,
        # absorb each one no larger than everything newer than it. A kept
        # generation outweighs all newer ones, so the count stays
        # logarithmic in the snapshot's bytes.
        size = dict.fromkeys(gens, 0)
        for e in have.values():
            size[e["generation"]] += e["bytes"]
        rewrite = {have[i]["generation"] for i in stale}
        total = (sum(listed[i]["bytes"] for i in changed)
                 + sum(size[g] for g in rewrite) - sum(have[i]["bytes"] for i in stale))
        for g in sorted(set(gens) - rewrite, reverse=True):
            if size[g] <= total:
                rewrite.add(g)
            total += size[g]
        name = f"g{int(max(gens, default='g0')[1:]) + 1:06d}"
        gen_dir = os.path.join(snap, name)

        def carried(kind: str) -> DataFrame:
            """The kept rows of the rewritten generations, in as many
            partitions as their bytes fill scan splits: a generation's file
            count follows its bytes, not the refreshes it absorbed."""
            df = self._read({**old, "generations": {g: gens[g] for g in rewrite}}, kind)
            if stale:
                gone = self.spark.createDataFrame([(i,) for i in stale], "instance_id string")
                df = df.join(gone, "instance_id", "left_anti")
            split = conf_bytes(self.spark, "spark.sql.files.maxPartitionBytes", "128MB")
            held = sum(os.path.getsize(os.path.join(snap, p))
                       for g in rewrite for p in gens[g][kind])
            return df.coalesce(max(1, -(-held // split)))

        # the decoded instances first, alone, so their heuristics read
        # exactly their own files; the carried events are appended after.
        # A refresh that died may have left files under this name.
        shutil.rmtree(gen_dir, ignore_errors=True)
        schemas, gen = dict(old["schemas"]), {}
        rows = None
        if changed:
            decoded = load_event_stream(self.spark, [f for i in changed for f in by_inst[i]])
            decoded.write.parquet(os.path.join(gen_dir, "events"))
            schemas["events"] = decoded.schema.json()
            gen["events"] = _part_files(snap, name, "events")
            fresh = self._read({"schemas": schemas, "generations": {name: gen}}, "events")
            rows = heuristics_matrix(fresh, self.stream)
            schemas["heuristics"] = rows.schema.json()
        if rewrite:
            kept = carried("heuristics")
            rows = kept if rows is None else rows.unionByName(kept).coalesce(1)
        rows.write.parquet(os.path.join(gen_dir, "heuristics"))
        gen["heuristics"] = _part_files(snap, name, "heuristics")
        if rewrite:
            carried("events").write.mode("append").parquet(os.path.join(gen_dir, "events"))
            gen["events"] = _part_files(snap, name, "events")

        instances = {i: {**e, "generation": name} if e["generation"] in rewrite else e
                     for i, e in have.items() if i not in stale}
        instances.update({i: {**listed[i], "generation": name} for i in changed})
        manifest = {**_empty_manifest(), "schemas": schemas, "instances": instances,
                    "generations": {**{g: v for g, v in gens.items() if g not in rewrite},
                                    name: gen}}
        _write_manifest(snap, manifest)
        # the replaced generations, and any a refresh that died left behind
        for entry in os.listdir(snap):
            if entry.startswith("g") and entry not in manifest["generations"]:
                shutil.rmtree(os.path.join(snap, entry), ignore_errors=True)
        return manifest

    def _read(self, manifest: dict, kind: str) -> DataFrame:
        """The ``kind`` ("events" or "heuristics") rows of the manifest's
        generations: their files with the declared schema, so Spark neither
        lists nor infers."""
        snap = os.path.join(self.results_dir, "snapshot")
        paths = [os.path.join(snap, p) for g in sorted(manifest["generations"])
                 for p in manifest["generations"][g][kind]]
        schema = manifest["schemas"].get(kind)
        if not paths or schema is None:
            empty = load_event_stream(self.spark, [])
            return empty if kind == "events" else heuristics_matrix(empty, self.stream)
        reader = self.spark.read.schema(StructType.fromJson(json.loads(schema)))
        with listed_read(self.spark, len(paths)):
            return reader.parquet(*paths)

    def events_df(self) -> DataFrame:
        """Every decoded event, ``instance_id`` and ``seq`` included."""
        return self._read(self._snapshot(), "events")

    def heuristics(self) -> DataFrame:
        """The matrix, one row per instance with events: the memo's rows.
        The CSV copy is rewritten when the corpus or heuristic set changed."""
        rows = self._read(self._snapshot(), "heuristics")
        out = os.path.join(self.results_dir, "heuristics")
        cs = self.heuristics_checksum()
        if not sinks.memoized(out, cs):
            sinks.write_results_csv(rows, out, checksum=cs)
        return rows

    def heuristics_checksum(self) -> str:
        """The key every heuristics CSV is stamped with. It covers the
        heuristic set, not just the corpus: a matrix written for another
        set must not satisfy a request for this one."""
        return hashlib.md5((self.checksum() + "|" + ",".join(HEURISTICS)).encode()).hexdigest()

    # -- explorer endpoints -------------------------------------------
    def events(self, instance_id: str) -> DataFrame:
        """`/events/{id}`: one instance's stream in canonical order, from its files.

        An instance of at most ``spark.sql.adaptive.coalescePartitions.
        minPartitionSize`` listed chunk bytes (1 MB by default) reads in one
        task with no exchange: a lookup is one job. A larger one keeps the
        hash exchange for ``seq`` and a range exchange for the order, whose
        partitions bound what ``stream_events`` pulls at a time."""
        files = [f for f in self.files() if instance_of(f[0]) == instance_id]
        return load_event_stream(self.spark, files).orderBy("seq")

    def index(self) -> DataFrame:
        """`/index`: instance ids + their heuristic scores."""
        return self.heuristics()

    def stream_events(self, instance_id: str):
        """S12 (reference ``explorer_server.py:79-88``): one instance's
        events as an incremental JSONL stream — the generator a
        ``StreamingResponse`` would wrap.

        The reference streams because "big instances can be 250MB+, don't
        consume entire iterator"; the engine analog is ``toLocalIterator``,
        which pulls ONE partition of ``events(id)`` at a time to the driver,
        over a scan of only that instance's files. A pull is bounded by the
        gate of ``events``: an instance under it is one partition of at most
        ``minPartitionSize`` listed (compressed) bytes; a larger one is
        range-partitioned on ``seq``, one AQE-sized partition per pull,
        never the whole instance.

        Raises ``KeyError`` for an unknown instance (the endpoint's 404) —
        EAGERLY, from the listing and before any chunk is produced, so an
        HTTP wrapper can still send an error status.
        """
        if instance_id not in self.instances():
            raise KeyError(instance_id)

        def gen():
            buf: list[str] = []
            lines = self.events(instance_id).select(F.to_json(F.struct("*")))
            for (line,) in lines.toLocalIterator():
                buf.append(line)
                if len(buf) >= _CHUNK_ROWS:
                    yield "\n".join(buf) + "\n"
                    buf = []
            if buf:
                yield "\n".join(buf) + "\n"

        return gen()

    def stream_heuristics_csv(self):
        """`/heuristics/csv` as an incremental stream (reference
        ``explorer_server.py:60-77``): header first, then CSV rows in
        bounded chunks via ``toLocalIterator`` — the full matrix is never
        resident on the driver."""
        import csv
        import io

        h = self.heuristics()
        cols = h.columns

        def render(rows: list) -> str:
            out = io.StringIO()
            w = csv.writer(out)
            w.writerows(rows)
            return out.getvalue()

        yield render([cols])
        buf: list = []
        for r in h.toLocalIterator():
            buf.append([r[c] for c in cols])
            if len(buf) >= _CHUNK_ROWS:
                yield render(buf)
                buf = []
        if buf:
            yield render(buf)

    def export_heuristics_csv(self, path: str) -> None:
        """`/heuristics/csv` (S11).

        The export is written UNSORTED (no global orderBy): the frame is
        the instance-grain pivoted heuristics matrix — one row per
        instance, bounded by the corpus's instance count — and the
        reference's CSV consumer re-indexes by instance id anyway. A
        consumer that needs a totally-ordered export of an UNBOUNDED
        frame should rank through
        ``operators.windows.two_phase_global_rank`` (quantile-bucketed
        exact global rank, no single-partition window) rather than
        ``orderBy``, as `heuristics_long_sorted` does."""
        sinks.write_results_csv(
            self.heuristics(), path, checksum=self.heuristics_checksum()
        )


def _part_files(snap: str, gen: str, kind: str) -> list[str]:
    """A written generation's data files, relative to the snapshot."""
    d = os.path.join(gen, kind)
    return sorted(os.path.join(d, f) for f in os.listdir(os.path.join(snap, d))
                  if f.startswith("part-"))
