"""Streaming ingest gates: the near-duplicate gate agrees with the batch
LSH pipeline."""

from __future__ import annotations

import pytest

from fireball_data_processing_spark.sources.tables import load_table

pytestmark = pytest.mark.slow  # driver-budget split (r13): long
# end-to-end runs excluded from the default suite; run with -m slow

SMOKE = "/root/testdata/sf0.001"


def test_near_new_documents_matches_batch_lsh(spark):
    # NEAR-dup gate parity: gating sf0.01 docs against the sf0.001 corpus
    # band index must keep exactly the docs that lsh_candidate_pairs
    # finds NO cross partner for (same bands)
    import pyspark.sql.functions as F

    from fireball_data_processing_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )
    from fireball_data_processing_spark.streaming.dedup_stream import (
        content_hash,
        corpus_band_index,
        near_new_documents,
    )

    corpus = load_table(spark, SMOKE, "documents")
    idx = corpus_band_index(minhash_signature(corpus), num_hashes=8, band_size=2)
    incoming = load_table(spark, "/root/testdata/sf0.01", "documents")
    got = {
        r["h"]
        for r in near_new_documents(incoming, idx)
        .select(content_hash().alias("h"))
        .distinct()
        .collect()
    }

    # independent expectation via the batch LSH pipeline: union corpus +
    # incoming with tagged ids; incoming docs with any cross candidate pair
    # are near-dups, the rest are near-new
    tagged = corpus.select(
        F.concat(F.lit("c"), F.col("doc_id")).alias("doc_id"), "text"
    ).unionByName(
        incoming.select(
            F.concat(F.lit("i"), F.col("doc_id")).alias("doc_id"), "text"
        )
    )
    sigs = minhash_signature(tagged)
    pairs = lsh_candidate_pairs(sigs, num_hashes=8, band_size=2)
    cross_dup_ids = {
        uid
        for r in pairs.collect()
        for uid in (r["id_a"], r["id_b"])
        if uid.startswith("i")
        and (r["id_a"].startswith("c") != r["id_b"].startswith("c"))
    }
    want_lsh = {
        r["h"]
        for r in incoming.filter(
            ~F.concat(F.lit("i"), F.col("doc_id")).isin(cross_dup_ids)
        )
        .select(content_hash().alias("h"))
        .distinct()
        .collect()
    }
    assert got == want_lsh
    # the gate actually gates: some docs pass, some are stopped
    n_in = incoming.select(content_hash()).distinct().count()
    assert 0 < len(got) < n_in
