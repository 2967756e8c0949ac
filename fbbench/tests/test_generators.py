import gzip
import json
import os

import pyarrow.parquet as pq
import pytest

import catalog
import corpus


def _gen(tmp_path, name, seed):
    out = tmp_path / name
    info = corpus.generate(str(out), seed, n_instances=40)
    return out, info


def test_same_seed_gives_identical_files(tmp_path):
    a, _ = _gen(tmp_path, "a", 7)
    b, _ = _gen(tmp_path, "b", 7)
    c, _ = _gen(tmp_path, "c", 8)
    assert corpus.file_digests(str(a)) == corpus.file_digests(str(b))
    assert corpus.file_digests(str(a)) != corpus.file_digests(str(c))


def test_truth_counts_the_readable_chunks(tmp_path):
    out, info = _gen(tmp_path, "t", 3)
    events, corrupt = [], 0
    for inst in sorted(os.listdir(out)):
        kept = []
        for name in sorted(os.listdir(out / inst)):
            try:
                with gzip.open(out / inst / name, "rt") as f:
                    kept += [json.loads(line) for line in f]
            except OSError:
                corrupt += 1
        assert corpus.summarize(kept) == info["instances"][inst]
        events += kept
    assert corrupt == info["size"]["corrupt_files"] >= 2
    assert len(events) == info["size"]["events"]
    # the FIXTURES.md section 1 constraints
    assert any(e.get("message_id", 0) > 2**53 for e in events)
    assert any(e.get("author_id") == corpus.AVRAE_ID for e in events)
    assert any("(" in (e.get("content") or "") for e in events)
    assert any((e.get("content") or "").startswith("OOC") for e in events)
    corr = {e["message_id"] for e in events if e["event_type"] == "command"}
    assert any(e.get("interaction_id") in corr for e in events)
    assert any(e.get("probable_interaction_id") in corr for e in events)
    sizes = sorted(t["events"] for t in info["instances"].values())
    assert sizes[-1] > 4 * sizes[len(sizes) // 2]  # skewed
    assert any(t["commands"] == 0 for t in info["instances"].values())
    assert any(t["messages"] == 0 for t in info["instances"].values())
    assert max(len(os.listdir(out / i)) for i in os.listdir(out)) > 1  # multi-chunk


def test_add_instance_is_deterministic(tmp_path):
    a = corpus.add_instance(str(tmp_path / "a"), "new0000", 5)
    b = corpus.add_instance(str(tmp_path / "b"), "new0000", 5)
    assert a == b and a["events"] > 0
    assert corpus.file_digests(str(tmp_path / "a")) == corpus.file_digests(str(tmp_path / "b"))


def test_catalog_tables_are_seeded(tmp_path):
    a = catalog.tables(11, 0.001)
    b = catalog.tables(11, 0.001)
    assert tuple(a) == catalog.TABLES
    assert all(a[t].equals(b[t]) for t in catalog.TABLES)
    assert not a["documents"].equals(catalog.tables(12, 0.001)["documents"])
    info = catalog.generate(str(tmp_path), 11, 0.001)
    assert info["files"] == 3 and info["rows"] == sum(t.num_rows for t in a.values())
    assert pq.read_table(tmp_path / "events.parquet").equals(a["events"])


@pytest.mark.parametrize("name", catalog.MEMBERS)
def test_members_have_oracles(name):
    from fireball_data_processing_spark import queries

    assert name in queries.oracle_sql()
