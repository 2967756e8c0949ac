"""Deterministic global shuffle + fixed-shard export for training corpora.

Training jobs consume a corpus as N equal-ish shards in a pseudo-random
document order (so each data-parallel rank streams its shard sequentially
— no shuffle at train time). The classic single-node form is
``random.shuffle`` + ``np.array_split``; neither survives distribution.
The distributed form used here:

- **order key** = ``md5(salt || key)`` — a deterministic pseudo-random
  permutation that is stable under repartitioning, retries and cluster
  resizes, and reproducible by any engine (DuckDB-oracle-checkable). The
  reference's seeded ``random.seed(42); random.shuffle`` intent
  (``finetune_prep.py:174-186``), re-expressed scale-first.
- **shard id** = the top bits of the same hash modulo ``n_shards`` —
  uniform, independent of the within-shard order (distinct hash regions),
  and requiring no global count / no total sort. ``repartition`` on the
  shard id then writes each shard as its own file set; within-shard order
  is recovered by ``sortWithinPartitions`` on the order key, which sorts
  locally — the one exchange in the whole plan is the shard repartition.

At 100 TB: no global orderBy (a total sort would be a full-corpus range
shuffle), no driver-side index, and adding executors changes nothing
about the output contents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shard_key(key: Column, salt: str = "") -> Column:
    """Full md5 hex of salt||key: the pseudo-random permutation key."""
    return F.md5(F.concat(F.lit(salt), key.cast("string")))


def shard_id(key: Column, n_shards: int, salt: str = "") -> Column:
    """Uniform shard in [0, n_shards): first 8 hex digits of the shard key
    (independent high bits) mod n_shards. DuckDB equivalent:
    ``('0x' || substr(md5(salt || key), 1, 8))::BIGINT % n_shards``."""
    bits = F.conv(F.substring(shard_key(key, salt), 1, 8), 16, 10).cast("bigint")
    return F.pmod(bits, F.lit(n_shards)).cast("int")


def shuffle_shards(
    df: DataFrame,
    key: Column,
    n_shards: int,
    salt: str = "",
) -> DataFrame:
    """Assign every row a shard id and a within-shard order key.

    Lazy column-only transform (no exchange); a writer repartitions on
    ``shard`` and sorts within partitions by ``shard_order`` to
    materialize the layout.
    """
    return df.withColumn("shard", shard_id(key, n_shards, salt)).withColumn(
        "shard_order", shard_key(key, salt)
    )
