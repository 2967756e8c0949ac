"""User-facing dataset API — the reference's ``Dataset`` + explorer surface
(``dataset/dataset.py``, ``explorer_server.py``) on Spark.

A user of the reference drives four things: the heuristics table, raw
per-instance event streams, CSV export, and the distill outputs. This class
exposes the same surface over the engine:

    ds = FireballDataset(spark, "/data/fireball")
    ds.instances()                  # instance ids (S4)
    ds.heuristics()                 # wide matrix, memoized (S6/S8/S9)
    ds.events("combat_123")         # ordered raw stream (explorer /events)
    ds.export_heuristics_csv(path)  # S11
    ds.index()                      # explorer /index payload shape

Heuristic results are memoized under ``results_dir`` keyed by the dataset
checksum, mirroring the reference's skip-if-unchanged flow
(``heuristic_worker.py:95-110``) — recompute happens only when the corpus
listing changes.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

from fireball_data_processing_spark.plans.heuristics import (
    HEURISTICS,
    heuristics_matrix,
)
from fireball_data_processing_spark.schema import FIREBALL_STREAM, StreamSchema
from fireball_data_processing_spark.sources.checksum import File, dataset_checksum
from fireball_data_processing_spark.sources.events import (
    chunk_files,
    instance_of,
    load_event_stream,
)
from fireball_data_processing_spark.sources import sinks

# rows per chunk the streaming endpoints yield
_CHUNK_ROWS = 1000


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
        self._events: DataFrame | None = None

    # -- the corpus listing and its scans ------------------------------
    def files(self) -> list[File]:
        """The corpus listing, taken once: everything below reads this snapshot."""
        with self._files_lock:
            if self._files is None:
                self._files = chunk_files(self.data_dir)
        return self._files

    def events_df(self) -> DataFrame:
        if self._events is None:
            self._events = load_event_stream(self.spark, self.files())
        return self._events

    def checksum(self) -> str:
        return dataset_checksum(self.files())

    def instances(self) -> list[str]:
        """The listed directory names, sorted; all-corrupt instances too."""
        return sorted({instance_of(path) for path, _, _ in self.files()})

    # -- heuristics (memoized) ----------------------------------------
    def heuristics(self) -> DataFrame:
        out = os.path.join(self.results_dir, "heuristics")
        # the memo key covers the heuristic set, not just the corpus: a
        # matrix cached for another set must not satisfy this request
        import hashlib

        cs = hashlib.md5(
            (self.checksum() + "|" + ",".join(HEURISTICS)).encode()
        ).hexdigest()
        if sinks.memoized(out, cs):
            # read with a fresh compute's column types, taken from the plan
            # over no files: no job, no scan (a file read makes every column
            # nullable, so only the nullability differs)
            empty = load_event_stream(self.spark, [])
            schema = heuristics_matrix(empty, self.stream).schema
            return self.spark.read.options(header=True).schema(schema).csv(out)
        matrix = heuristics_matrix(self.events_df(), self.stream)
        sinks.write_results_csv(matrix, out, checksum=cs)
        return matrix

    # -- explorer endpoints -------------------------------------------
    def events(self, instance_id: str) -> DataFrame:
        """`/events/{id}`: one instance's stream in canonical order, from its files."""
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
        which pulls ONE partition at a time to the driver (never the whole
        instance), over a scan of only that instance's files.

        Raises ``KeyError`` for an unknown instance (the endpoint's 404) —
        EAGERLY, from the listing and before any chunk is produced, so an
        HTTP wrapper can still send an error status.
        """
        if instance_id not in self.instances():
            raise KeyError(instance_id)

        def gen():
            buf: list[str] = []
            for line in self.events(instance_id).toJSON().toLocalIterator():
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
        sinks.write_results_csv(self.heuristics(), path, checksum=self.checksum())
