"""End-to-end ingestion tests on a real instance-dir corpus: gzipped JSONL
chunk files under per-instance directories, exactly the reference's layout
(dataset/utils.py:38-61), including a corrupt chunk."""

from __future__ import annotations

import gzip
import json
import os
import tempfile

import pytest

from pyspark.sql import functions as F

from fireball_data_processing_spark.schema import EVENT_SCHEMA
from fireball_data_processing_spark.sources.checksum import dataset_checksum
from fireball_data_processing_spark.sources.events import (
    chunk_files,
    load_event_stream,
    with_instance_and_seq,
)
from fireball_data_processing_spark.sources import sinks


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("fireball_corpus")
    instances = {
        "inst_a": [
            [
                {"combat_id": "inst_a", "event_type": "message", "timestamp": 1.0,
                 "author_id": "u1", "content": "hello there"},
                {"combat_id": "inst_a", "event_type": "command", "timestamp": 2.0,
                 "author_id": "u1", "content": "!attack", "command_name": "attack"},
            ],
            [
                {"combat_id": "inst_a", "event_type": "message", "timestamp": 3.0,
                 "author_id": "u2", "content": "later chunk"},
            ],
        ],
        "inst_b": [
            [
                {"combat_id": "inst_b", "event_type": "combat_state_update",
                 "timestamp": 9.5, "human_readable": "round 1"},
            ],
        ],
    }
    for inst, chunks in instances.items():
        d = root / inst
        d.mkdir()
        for i, chunk in enumerate(chunks):
            with gzip.open(d / f"chunk-{i:03d}.jsonl.gz", "wt") as f:
                for ev in chunk:
                    f.write(json.dumps(ev) + "\n")
    # a corrupt gz chunk the loader must tolerate (reference skips
    # BadGzipFile with a warning, dataset/utils.py:22-27)
    with open(root / "inst_b" / "chunk-999.jsonl.gz", "wb") as f:
        f.write(b"this is not gzip data")
    return str(root)


def test_load_event_stream_layout(spark, corpus):
    df = load_event_stream(spark, chunk_files(corpus))
    rows = df.orderBy("instance_id", "seq").collect()
    by_inst = {}
    for r in rows:
        by_inst.setdefault(r["instance_id"], []).append(r)
    assert set(by_inst) == {"inst_a", "inst_b"}
    a = by_inst["inst_a"]
    # file order then line order -> canonical seq
    assert [r["seq"] for r in a] == [1, 2, 3]
    assert a[0]["content"] == "hello there"
    assert a[2]["content"] == "later chunk"
    assert a[1]["command_name"] == "attack"
    # typed schema: absent columns are null, not missing
    assert a[0]["command_name"] is None
    assert by_inst["inst_b"][0]["human_readable"] == "round 1"


def test_corrupt_chunk_tolerated(spark, corpus):
    df = load_event_stream(spark, chunk_files(corpus))
    assert df.count() == 4  # corrupt chunk skipped, good rows intact


def test_checksum_memoization_roundtrip(spark, corpus):
    cs1 = dataset_checksum(chunk_files(corpus))
    cs2 = dataset_checksum(chunk_files(corpus))
    assert cs1 == cs2 and len(cs1) == 32

    out = os.path.join(tempfile.mkdtemp(), "result")
    df = load_event_stream(spark, chunk_files(corpus))
    res = df.groupBy("instance_id").count()
    sinks.write_results_csv(res, out, checksum=cs1)
    assert sinks.memoized(out, cs1)
    assert not sinks.memoized(out, "different")

    back = spark.read.option("header", True).csv(out)
    assert back.count() == 2


def test_jsonl_gz_roundtrip(spark, corpus):
    df = load_event_stream(spark, chunk_files(corpus))
    out = os.path.join(tempfile.mkdtemp(), "events_out")
    sinks.write_jsonl(df.select("instance_id", "seq", "event_type", "content"), out)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert parts and all(f.endswith(".json.gz") for f in parts)
    back = spark.read.json(out)
    assert back.count() == 4
    assert set(back.columns) >= {"instance_id", "seq", "event_type"}


def test_fireball_dataset_api(spark, corpus, tmp_path, monkeypatch):
    from fireball_data_processing_spark.dataset import FireballDataset

    ds = FireballDataset(spark, corpus, results_dir=str(tmp_path / "res"))
    assert sorted(ds.instances()) == ["inst_a", "inst_b"]
    assert len(ds.checksum()) == 32

    m1 = ds.heuristics()
    assert m1.count() == 2
    # a memo hit (here and in a new dataset over the unchanged corpus)
    # reads the memo's typed rows: no heuristics_matrix call, no Spark
    # job, a fresh compute's column types (a file read makes every column
    # nullable, so dtypes, not schema)
    from fireball_data_processing_spark import dataset
    from fireball_data_processing_spark.plans.heuristics import heuristics_matrix

    fresh = heuristics_matrix(load_event_stream(spark, chunk_files(corpus)), ds.stream)
    calls = []
    monkeypatch.setattr(dataset, "heuristics_matrix", lambda *a: calls.append(a))
    assert _jobs_started(spark, ds.heuristics) == 0
    again = FireballDataset(spark, corpus, results_dir=str(tmp_path / "res"))
    assert _jobs_started(spark, again.heuristics) == 0
    assert calls == []
    m2 = again.heuristics()
    assert m2.dtypes == m1.dtypes == fresh.dtypes
    assert m2.count() == 2
    assert {r["instance_id"] for r in m2.collect()} == {"inst_a", "inst_b"}

    ev = ds.events("inst_a").collect()
    assert [r["seq"] for r in ev] == [1, 2, 3]

    out = str(tmp_path / "export")
    ds.export_heuristics_csv(out)
    import os

    assert os.path.exists(os.path.join(out, "_checksum"))
    # one memo key: an export stamped with the bare corpus checksum would
    # stay "valid" after the heuristic set changed
    memo = sinks.read_result_checksum(str(tmp_path / "res" / "heuristics"))
    assert memo is not None
    assert sinks.read_result_checksum(out) == memo


def test_stream_events_jsonl_chunks(spark, corpus, tmp_path, monkeypatch):
    # S12: the explorer /events/{id} generator — ordered JSONL, bounded
    # chunks, 404 (KeyError) for unknown instances
    import json

    from fireball_data_processing_spark import dataset
    from fireball_data_processing_spark.dataset import FireballDataset

    monkeypatch.setattr(dataset, "_CHUNK_ROWS", 2)
    ds = FireballDataset(spark, corpus, results_dir=str(tmp_path / "res"))
    chunks = list(ds.stream_events("inst_a"))
    assert len(chunks) == 2  # 3 events -> chunk of 2 + chunk of 1
    events = [json.loads(l) for c in chunks for l in c.strip().splitlines()]
    assert [e["seq"] for e in events] == [1, 2, 3]
    assert all(e["instance_id"] == "inst_a" for e in events)

    import pytest as _pytest

    with _pytest.raises(KeyError):
        next(ds.stream_events("nope"))


def test_stream_heuristics_csv(spark, corpus, tmp_path, monkeypatch):
    import csv
    import io

    from fireball_data_processing_spark import dataset
    from fireball_data_processing_spark.dataset import FireballDataset

    monkeypatch.setattr(dataset, "_CHUNK_ROWS", 1)
    ds = FireballDataset(spark, corpus, results_dir=str(tmp_path / "res"))
    body = "".join(ds.stream_heuristics_csv())
    rows = list(csv.reader(io.StringIO(body)))
    header, data = rows[0], rows[1:]
    assert header[0] == "instance_id"
    assert {r[0] for r in data} == {"inst_a", "inst_b"}
    assert len(data) == 2


def test_embeddings_load_attaches_dim_metadata(spark, sf_dir):
    """load_table attaches {"dim": N} column metadata to the embeddings
    table (memoized one-row peek per path), so _infer_dim — and every
    ANN operator behind it — never pays a per-query driver job."""
    from fireball_data_processing_spark.operators.similarity import (
        _infer_dim,
    )
    from fireball_data_processing_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    meta = e.schema["embedding"].metadata
    assert meta.get("dim") == 64
    # the metadata value must agree with the data
    true_dim = e.selectExpr("size(embedding) as d").first()["d"]
    assert meta["dim"] == true_dim
    assert _infer_dim(e, "embedding") == true_dim
    # second load serves from the memo and carries the same metadata
    e2 = load_table(spark, sf_dir, "embeddings")
    assert e2.schema["embedding"].metadata.get("dim") == true_dim


def test_load_table_memoized_per_application(spark, sf_dir):
    """Repeat loads of the same (app, path) return the SAME DataFrame —
    file listing + footer reads paid once per application, the
    metastore-CatalogFileIndex shape."""
    from fireball_data_processing_spark.sources.tables import load_table

    a = load_table(spark, sf_dir, "lineitem")
    b = load_table(spark, sf_dir, "lineitem")
    assert a is b


# -- the corpus listing ---------------------------------------------------
# FireballDataset lists its chunk files once, on the driver; the checksum,
# the instance ids, the 404 check and every scan read that listing. The
# oracles below are the Spark-side computations the listing replaced.


def _write_chunk(path, events):
    path.parent.mkdir(parents=True, exist_ok=True)
    with gzip.open(path, "wt") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def _msg(cid, ts):
    return {"combat_id": cid, "event_type": "message", "timestamp": float(ts),
            "author_id": "u1", "content": f"{cid} says {ts}"}


def _wide_corpus(root, n_instances=8, n_chunks=5):
    """n_instances x n_chunks chunk files: 40 by default, above Spark's
    parallel-listing threshold of 32."""
    for i in range(n_instances):
        for c in range(n_chunks):
            _write_chunk(root / f"inst{i:02d}" / f"chunk-{c:03d}.jsonl.gz",
                         [_msg(f"inst{i:02d}", c * 10 + k) for k in range(3)])
    return root


@pytest.fixture(scope="module")
def hidden_corpus(tmp_path_factory):
    """Directories named ``_x`` and ``.x`` (Spark's ``*`` matches them),
    chunk files named ``_y``/``.z`` (Spark leaves them out), a corrupt
    chunk next to a good one, and an instance whose only chunk is
    corrupt."""
    root = tmp_path_factory.mktemp("hidden_corpus")
    _write_chunk(root / "a" / "chunk-000.jsonl.gz", [_msg("a", 1), _msg("a", 2)])
    _write_chunk(root / "a" / "chunk-001.jsonl.gz", [_msg("a", 3)])
    _write_chunk(root / "a" / "_y.jsonl.gz", [_msg("a", 9)])
    _write_chunk(root / "a" / ".z.jsonl.gz", [_msg("a", 8)])
    _write_chunk(root / "_x" / "chunk-000.jsonl.gz", [_msg("_x", 1)])
    _write_chunk(root / ".x" / "chunk-000.jsonl.gz", [_msg(".x", 1), _msg(".x", 2)])
    _write_chunk(root / "b" / "chunk-000.jsonl.gz", [_msg("b", 1)])
    (root / "b" / "chunk-001.jsonl.gz").write_bytes(b"not gzip")
    (root / "c").mkdir()
    (root / "c" / "chunk-000.jsonl.gz").write_bytes(b"not gzip")
    return str(root)


def _binaryfile_listing_and_checksum(spark, root):
    """The listing and checksum as the binaryFile scan computed them."""
    files = (spark.read.format("binaryFile").option("pathGlobFilter", "*")
             .load(f"{root}/*/*.jsonl.gz"))
    listing = sorted(
        (r["path"], r["length"], r["ms"]) for r in files.select(
            "path", "length",
            (F.unix_micros("modificationTime") / 1000).cast("long").alias("ms"),
        ).collect())
    per_file = files.select(
        "path",
        F.md5(F.concat_ws(
            "|", "path", F.col("length").cast("string"),
            F.unix_micros("modificationTime").cast("string"))).alias("h"))
    checksum = per_file.agg(F.md5(F.array_join(F.transform(
        F.sort_array(F.collect_list(F.struct("path", "h"))), lambda x: x["h"]),
        "")).alias("c")).collect()[0]["c"]
    return listing, checksum


def _full_scan_events(spark, root, instance_id):
    """One instance's events as the full-corpus glob scan gave them."""
    df = (spark.read.schema(EVENT_SCHEMA).option("ignoreCorruptFiles", "true")
          .json(f"{root}/*/*.jsonl.gz"))
    return (with_instance_and_seq(df)
            .filter(F.col("instance_id") == instance_id).orderBy("seq").collect())


def _jobs_started(spark, fn):
    """Spark jobs that ``fn`` starts. A sentinel job in its own group runs
    after ``fn``: listener events arrive in order, so once the status store
    shows the sentinel it has seen every job ``fn`` started."""
    import time
    import uuid

    sc = spark.sparkContext
    group, sentinel = f"jobs-{uuid.uuid4().hex}", f"sentinel-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(sentinel, sentinel)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never reached the status store"
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_listing_runs_no_spark_job(spark, tmp_path):
    """The checksum, the instance ids, the 404 check, building the scan and
    reading an up-to-date snapshot start no Spark job, on more files than
    the parallel-listing threshold."""
    from fireball_data_processing_spark.dataset import FireballDataset

    root = str(_wide_corpus(tmp_path / "corpus"))
    ds = FireballDataset(spark, root, results_dir=str(tmp_path / "res"))
    assert _jobs_started(spark, ds.checksum) == 0
    assert _jobs_started(spark, ds.instances) == 0
    assert len(ds.instances()) == 8 and len(ds.files()) == 40

    def missing():
        with pytest.raises(KeyError):
            ds.stream_events("nope")  # eager: raises before the first chunk

    assert _jobs_started(spark, missing) == 0
    assert _jobs_started(spark, lambda: load_event_stream(spark, ds.files())) == 0
    assert _jobs_started(spark, lambda: ds.events("inst03")) == 0
    # the first events_df() decodes into the snapshot (the counter does see
    # jobs); over an unchanged corpus the snapshot is read without one
    assert _jobs_started(spark, ds.events_df) >= 1
    again = FireballDataset(spark, root, results_dir=str(tmp_path / "res"))
    assert _jobs_started(spark, again.events_df) == 0


def test_listing_is_one_snapshot(spark, tmp_path):
    """After first use a dataset keeps its listing: a late chunk in an
    existing instance and a new instance directory show up in neither its
    checksum, its ids nor its scans. A new dataset sees both."""
    from fireball_data_processing_spark.dataset import FireballDataset

    root = _wide_corpus(tmp_path / "corpus", n_instances=3, n_chunks=2)
    ds = FireballDataset(spark, str(root), results_dir=str(tmp_path / "res"))
    cs = ds.checksum()  # first use takes the listing; nothing is read yet

    _write_chunk(root / "inst01" / "chunk-009.jsonl.gz", [_msg("inst01", 99)])
    _write_chunk(root / "late" / "chunk-000.jsonl.gz", [_msg("late", 1)])
    ids, n = ds.instances(), ds.events_df().count()
    assert (ids, n) == (["inst00", "inst01", "inst02"], 18)
    assert ds.checksum() == cs
    assert len(ds.events("inst01").collect()) == 6
    with pytest.raises(KeyError):
        ds.stream_events("late")

    fresh = FireballDataset(spark, str(root), results_dir=str(tmp_path / "res"))
    assert fresh.checksum() != cs
    assert fresh.instances() == ids + ["late"]
    assert fresh.events_df().count() == n + 2
    assert len(fresh.events("inst01").collect()) == 7


def test_listing_and_checksum_match_binaryfile(spark, hidden_corpus):
    """The driver-side listing is Spark's file set with Spark's path
    strings and millisecond mtimes, and the checksum over it is the
    binaryFile formula byte for byte, so memo keys written before stay
    valid. Hidden directories are listed; hidden file names are not."""
    from fireball_data_processing_spark.dataset import FireballDataset

    listing, checksum = _binaryfile_listing_and_checksum(spark, hidden_corpus)
    ds = FireballDataset(spark, hidden_corpus, results_dir=hidden_corpus + "/_results")
    assert ds.files() == listing
    assert ds.checksum() == checksum
    names = [p.rsplit("/", 2)[-2:] for p, _, _ in listing]
    assert [".x", "chunk-000.jsonl.gz"] in names and ["_x", "chunk-000.jsonl.gz"] in names
    assert not [n for n in names if n[1].startswith(("_", "."))]
    assert all(p.startswith("file:/") for p, _, _ in listing)


def test_instance_lookup_matches_full_scan(spark, hidden_corpus):
    """events(id) reads only that instance's files and gives the rows and
    seq the full-corpus scan gave, for every instance, the one with a
    corrupt chunk included."""
    from fireball_data_processing_spark.dataset import FireballDataset

    ds = FireballDataset(spark, hidden_corpus, results_dir=hidden_corpus + "/_results")
    sizes = {}
    for cid in ds.instances():
        got = ds.events(cid).collect()
        assert got == _full_scan_events(spark, hidden_corpus, cid), cid
        sizes[cid] = len(got)
    assert sizes == {".x": 2, "_x": 1, "a": 3, "b": 1, "c": 0}


def test_all_corrupt_instance_is_listed_and_streams_nothing(spark, hidden_corpus):
    """The one behaviour the listing changes: an instance whose every chunk
    is corrupt was absent from the decoded ids (and 404'd); it is now
    listed, like the reference lists directories, and streams zero
    events."""
    from fireball_data_processing_spark.dataset import FireballDataset

    ds = FireballDataset(spark, hidden_corpus, results_dir=hidden_corpus + "/_results")
    assert "c" in ds.instances()
    assert list(ds.stream_events("c")) == []
    decoded = {r[0] for r in ds.events_df().select("instance_id").distinct().collect()}
    assert decoded == set(ds.instances()) - {"c"}


def test_escaped_instance_names_keep_one_id(spark, tmp_path):
    """Spark reports file paths URI-encoded (``has%20space``, ``pct%2541``);
    the listing, the event rows and the heuristics rows still carry the
    directory's own name. ``a+b`` rules out form-decoding '+' to a space."""
    from fireball_data_processing_spark.dataset import FireballDataset

    names = ["a+b", "has space", "pct%41"]
    for name in names:
        _write_chunk(tmp_path / "corpus" / name / "chunk-000.jsonl.gz",
                     [_msg(name, 1), _msg(name, 2)])
    ds = FireballDataset(spark, str(tmp_path / "corpus"),
                         results_dir=str(tmp_path / "res"))
    assert ds.instances() == names
    for name in names:
        assert {r["instance_id"] for r in ds.events(name).collect()} == {name}
    assert sorted(r["instance_id"] for r in ds.heuristics().collect()) == names


_NON_ASCII_CHILD = """
import sys
from fireball_data_processing_spark.dataset import FireballDataset
from fireball_data_processing_spark.session import get_spark

spark = get_spark(master="local[1]")
jvm = spark.sparkContext._jvm
ds = FireballDataset(spark, sys.argv[1], results_dir=sys.argv[2])
print(jvm.java.lang.System.getProperty("sun.jnu.encoding"))
print(ds.events("caf\u00e9").count())
print(sorted((r["instance_id"], r["event_count"]) for r in ds.heuristics().collect()))
print(ds.events_df().filter("instance_id = 'caf\u00e9'").count())
spark.stop()
"""


def test_non_ascii_instance_is_read(tmp_path):
    """A chunk under a non-ASCII directory name is decoded: its events,
    its heuristics row and its snapshot rows all appear. The JVM encodes
    file names by its locale; under none it used ASCII, and Spark could
    not open that chunk (a lookup failed; a tolerant scan read no rows).
    The session this suite shares may have been started under a locale,
    so the check runs in a fresh process whose environment sets none (nor
    lets Python set one)."""
    import subprocess
    import sys

    root = tmp_path / "corpus"
    _write_chunk(root / "café" / "chunk-000.jsonl.gz", [_msg("café", 1), _msg("café", 2)])
    _write_chunk(root / "plain" / "chunk-000.jsonl.gz", [_msg("plain", 1)])
    env = {k: v for k, v in os.environ.items() if k not in ("LC_ALL", "LC_CTYPE", "LANG")}
    env["PYTHONCOERCECLOCALE"] = "0"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = os.pathsep.join([repo] + env.get("PYTHONPATH", "").split(os.pathsep))
    out = subprocess.run(
        [sys.executable, "-c", _NON_ASCII_CHILD, str(root), str(tmp_path / "res")],
        env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.splitlines()[-4:] == [
        "UTF-8", "2", "[('café', 2), ('plain', 1)]", "2"]


# -- the event snapshot ----------------------------------------------------
# A refresh decodes only new or changed instances. Each case below spies on
# the decode and checks the snapshot against the whole-corpus path on the
# same corpus.


def _refresh(spark, monkeypatch, root, res):
    """A new dataset's events, heuristics and ids, and the chunk files each
    of its decodes read (decodes of no file left out)."""
    from fireball_data_processing_spark import dataset
    from fireball_data_processing_spark.dataset import FireballDataset

    decoded = []

    def spy(spark_, files):
        if files:
            decoded.append(sorted(p.rsplit("/", 2)[-2] + "/" + p.rsplit("/", 1)[-1]
                                  for p, _, _ in files))
        return load_event_stream(spark_, files)

    monkeypatch.setattr(dataset, "load_event_stream", spy)
    ds = FireballDataset(spark, str(root), results_dir=str(res))
    events = ds.events_df().collect()
    heur = ds.heuristics().collect()
    monkeypatch.undo()
    return decoded, events, heur, ds.instances()


def _assert_matches_whole_corpus(spark, root, events, heur, ids):
    """The snapshot's rows equal the whole-corpus decode and matrix."""
    from fireball_data_processing_spark.dataset import FireballDataset
    from fireball_data_processing_spark.plans.heuristics import heuristics_matrix

    whole = load_event_stream(spark, chunk_files(str(root)))
    stream = FireballDataset(spark, str(root)).stream

    def rows(rs):
        return sorted((tuple(r) for r in rs), key=repr)

    assert rows(events) == rows(whole.collect())
    assert rows(heur) == rows(heuristics_matrix(whole, stream).collect())
    assert ids == sorted({p.rsplit("/", 2)[-2] for p, _, _ in chunk_files(str(root))})


def _chunks(root, inst):
    return sorted(f"{inst}/{n}" for n in os.listdir(root / inst))


def _snapshot_case(spark, monkeypatch, tmp_path, mutate):
    """Build the snapshot of inst00..inst03 (two chunks each), ``mutate``
    the corpus, refresh; returns what the refresh decoded after checking
    its rows."""
    root, res = _wide_corpus(tmp_path / "corpus", n_instances=4, n_chunks=2), tmp_path / "res"
    decoded, *_ = _refresh(spark, monkeypatch, root, res)
    assert decoded == [sorted(f"inst{i:02d}/chunk-{c:03d}.jsonl.gz"
                              for i in range(4) for c in range(2))]
    mutate(root)
    decoded, events, heur, ids = _refresh(spark, monkeypatch, root, res)
    _assert_matches_whole_corpus(spark, root, events, heur, ids)
    return decoded


def test_snapshot_refresh_decodes_a_new_instance_only(spark, tmp_path, monkeypatch):
    def add(root):
        _write_chunk(root / "inst09" / "chunk-000.jsonl.gz", [_msg("inst09", 1)])

    assert _snapshot_case(spark, monkeypatch, tmp_path, add) == [["inst09/chunk-000.jsonl.gz"]]


def test_snapshot_refresh_redecodes_an_instance_with_a_late_chunk(spark, tmp_path, monkeypatch):
    def late(root):
        _write_chunk(root / "inst01" / "chunk-007.jsonl.gz", [_msg("inst01", 70)])

    decoded = _snapshot_case(spark, monkeypatch, tmp_path, late)
    assert decoded == [_chunks(tmp_path / "corpus", "inst01")]
    assert len(decoded[0]) == 3


def test_snapshot_refresh_drops_a_deleted_instance(spark, tmp_path, monkeypatch):
    import shutil

    decoded = _snapshot_case(spark, monkeypatch, tmp_path,
                             lambda root: shutil.rmtree(root / "inst02"))
    assert decoded == []


def test_snapshot_refresh_follows_a_corrupt_then_replaced_chunk(spark, tmp_path, monkeypatch):
    bad = "chunk-005.jsonl.gz"
    decoded = _snapshot_case(spark, monkeypatch, tmp_path,
                             lambda root: (root / "inst03" / bad).write_bytes(b"not gzip"))
    root = tmp_path / "corpus"
    assert decoded == [_chunks(root, "inst03")]
    _write_chunk(root / "inst03" / bad, [_msg("inst03", 50), _msg("inst03", 51)])
    decoded, events, heur, ids = _refresh(spark, monkeypatch, root, tmp_path / "res")
    assert decoded == [_chunks(root, "inst03")]
    _assert_matches_whole_corpus(spark, root, events, heur, ids)
    assert sum(r["instance_id"] == "inst03" for r in events) == 8


def test_snapshot_refresh_survives_a_crash_before_its_manifest(spark, tmp_path, monkeypatch):
    """A refresh that dies after writing its data and before its manifest
    leaves the previous snapshot in force: the next refresh decodes the
    same instances again and removes the dead refresh's files."""
    from fireball_data_processing_spark import dataset
    from fireball_data_processing_spark.dataset import FireballDataset

    def crash(root):
        _write_chunk(root / "inst09" / "chunk-000.jsonl.gz", [_msg("inst09", 1)])

        def die(snap, manifest):
            raise RuntimeError("killed before the manifest")

        with monkeypatch.context() as m:
            m.setattr(dataset, "_write_manifest", die)
            with pytest.raises(RuntimeError):
                FireballDataset(spark, str(root), results_dir=str(tmp_path / "res")).events_df()
        snap = tmp_path / "res" / "snapshot"
        with open(snap / "manifest.json") as f:
            assert "inst09" not in json.load(f)["instances"]

    assert _snapshot_case(spark, monkeypatch, tmp_path, crash) == [["inst09/chunk-000.jsonl.gz"]]
    snap = tmp_path / "res" / "snapshot"
    with open(snap / "manifest.json") as f:
        gens = set(json.load(f)["generations"])
    assert {d for d in os.listdir(snap) if d.startswith("g")} == gens


def test_snapshot_generations_stay_few(spark, tmp_path):
    """One instance arriving per refresh: each new generation absorbs every
    older one no larger than itself, so the count grows like a binary
    counter's set bits, not with the refreshes."""
    from fireball_data_processing_spark.dataset import FireballDataset

    root, res = tmp_path / "corpus", tmp_path / "res"
    for i in range(8):
        _write_chunk(root / f"inst{i:02d}" / "chunk-000.jsonl.gz", [_msg(f"inst{i:02d}", 1)])
        FireballDataset(spark, str(root), results_dir=str(res)).events_df()
    with open(res / "snapshot" / "manifest.json") as f:
        manifest = json.load(f)
    assert len(manifest["generations"]) <= 4  # log2(8) + 1, not 8
    assert sorted(manifest["instances"]) == [f"inst{i:02d}" for i in range(8)]
    ds = FireballDataset(spark, str(root), results_dir=str(res))
    assert ds.events_df().count() == 8 and ds.heuristics().count() == 8


def test_snapshot_refreshes_of_one_results_dir_serialize(spark, tmp_path):
    """Datasets on more threads than cores refresh one results_dir at
    once: one refresh decodes, the others find the snapshot current, and
    every thread reads the whole corpus."""
    import sys
    import threading

    from fireball_data_processing_spark.dataset import FireballDataset

    root = _wide_corpus(tmp_path / "corpus", n_instances=3, n_chunks=2)
    counts, errors = [], []

    def work():
        try:
            ds = FireballDataset(spark, str(root), results_dir=str(tmp_path / "res"))
            counts.append(ds.events_df().count())
        except Exception as e:  # noqa: BLE001 - reported by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=work) for _ in range(len(os.sched_getaffinity(0)) + 2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=240)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and counts == [18] * len(threads)
    with open(tmp_path / "res" / "snapshot" / "manifest.json") as f:
        assert len(json.load(f)["generations"]) == 1


# -- the one-task instance read ----------------------------------------------
_GATE = "spark.sql.adaptive.coalescePartitions.minPartitionSize"


@pytest.fixture()
def multi_chunk_corpus(tmp_path):
    """Instance ``m``: three good chunks around a corrupt one; instance
    ``big``: 4,000 events in 4 chunks."""
    root = tmp_path / "corpus"
    for c in (0, 2, 3):
        _write_chunk(root / "m" / f"chunk-{c:03d}.jsonl.gz",
                     [_msg("m", c * 10 + k) for k in range(3)])
    (root / "m" / "chunk-001.jsonl.gz").write_bytes(b"not gzip")
    for c in range(4):
        _write_chunk(root / "big" / f"chunk-{c:03d}.jsonl.gz",
                     [_msg("big", c * 1000 + k) for k in range(1000)])
    return str(root)


def _exchanges(df):
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def test_small_lookup_reads_in_one_task(spark, multi_chunk_corpus, tmp_path):
    """An instance under the gate plans no exchange and its lookup runs at
    most 2 jobs; seq is still 1..n in file-then-line order across the
    corrupt chunk."""
    from fireball_data_processing_spark.dataset import FireballDataset

    ds = FireballDataset(spark, multi_chunk_corpus, results_dir=str(tmp_path / "res"))
    assert _exchanges(ds.events("m")) == 0
    rows = []
    assert _jobs_started(spark, lambda: rows.extend(ds.events("m").collect())) <= 2
    assert [r["seq"] for r in rows] == list(range(1, 10))
    assert [r["timestamp"] for r in rows] == [float(c * 10 + k) for c in (0, 2, 3)
                                              for k in range(3)]
    assert _jobs_started(spark, lambda: list(ds.stream_events("m"))) <= 2


def test_lookup_above_gate_keeps_range_plan(spark, multi_chunk_corpus, tmp_path):
    """With the gate below the instance's bytes, the hash and range
    exchanges return; the stream is line-for-line the one-task stream, and
    the large instance is pulled in more than one partition."""
    from fireball_data_processing_spark.dataset import FireballDataset

    ds = FireballDataset(spark, multi_chunk_corpus, results_dir=str(tmp_path / "res"))
    one_task = {cid: "".join(ds.stream_events(cid)) for cid in ("m", "big")}
    assert _exchanges(ds.events("big")) == 0
    prev = spark.conf.get(_GATE)
    spark.conf.set(_GATE, "1b")
    try:
        assert _exchanges(ds.events("big")) == 2
        assert ds.events("big").rdd.getNumPartitions() > 1
        for cid in ("m", "big"):
            assert "".join(ds.stream_events(cid)) == one_task[cid]
        assert ds.events("m").collect() == _full_scan_events(spark, multi_chunk_corpus, "m")
    finally:
        spark.conf.set(_GATE, prev)
    lines = one_task["big"].splitlines()
    assert [json.loads(line)["seq"] for line in lines] == list(range(1, 4001))
