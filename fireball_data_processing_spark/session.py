"""SparkSession factory with scale-oriented defaults.

The reference parallelizes with a per-instance process pool on one node
(``heuristic_worker.py:113``); here the equivalent knobs are Spark conf.
Defaults are tuned so the same plans that pass correctness at sf0.01 keep
working on a large cluster:

- AQE on (runtime coalescing, skew-join splitting) — the synthetic corpus and
  the real FIREBALL corpus are both instance-skewed (a few 250MB+ instances,
  ``explorer_server.py:85``).
- shuffle partitions sized for local runs (2 per core) but overridable via
  ``extra_conf``; on a real cluster AQE coalesces, so a high static number
  is safe.
- Arrow enabled for every pandas_udf / applyInPandas edge.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# local[$SPARK_GRAFT_CPUS] when set, else every core this process may run on.
_DEFAULT_CPUS = os.environ.get(
    "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
)

# Catalyst propagates an unknown size as a huge product (local relations
# under explode/aggregate multiply out to ~2^65); file sources always carry
# real byte counts, so anything above ~1 EiB is treated as unknown.
_UNKNOWN_SIZE = 1 << 60

# the variables a process takes its character encoding from
_LOCALE_VARS = ("LC_ALL", "LC_CTYPE", "LANG")


def get_spark(
    app_name: str = "fireball-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    master = master or f"local[{_DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: runtime coalesce + skew handling -------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---------------------------------------------
        .config("spark.sql.shuffle.partitions", str(int(_DEFAULT_CPUS) * 2))
        # --- scan split sizing: explicit so the 100-TB math is visible —
        #     128 MiB splits keep a task's working set inside executor
        #     memory even with wide rows; raise for many-small-columns
        #     tables, lower for mega-document corpora (the reference's
        #     250 MB instances would otherwise pin single tasks)
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- Arrow for all pandas UDF edges ------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan robustness: reference skips BadGzipFile chunks
        #     (dataset/utils.py:22-27); the Spark analog is per-file
        #     corruption tolerance, opt-in at the loader, not globally.
        # --- broadcast threshold: dims (nation/region/labels) are tiny ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # timestamps in the synthetic corpus are naive; keep them NTZ-like
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # --- generated-class cache (static: read only at session start) ---
        #     Spark's default keeps 100 compiled classes. An LRU cache
        #     smaller than a cyclic working set misses on every lookup, so a
        #     repeated pass would recompile all of its classes (~1 s of
        #     Janino) and never run warm JIT code. Distinct classes, counted
        #     with an unbounded cache: 142 over a fireball_batch run, 162
        #     over catalog_sf0.1, 3,249 for one scan of the whole catalog at
        #     sf0.01 (+114 new on a second scan). 8192 covers the catalog
        #     with 2x headroom, and the cap bounds metaspace: after two
        #     catalog scans it held 222.7 MB with every class kept, 197.1 MB
        #     under the default (9,971 compiles, most unloaded again), i.e.
        #     ~8 KB per kept class.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # The JVM encodes file names by its locale (sun.jnu.encoding): under
    # none it is ASCII, and Spark then cannot open a file whose path is not
    # ASCII (a tolerant scan reads no rows from it). A locale the
    # environment sets is kept.
    if any(os.environ.get(k) for k in _LOCALE_VARS):
        return builder.getOrCreate()
    os.environ["LC_ALL"] = "C.UTF-8"
    try:
        return builder.getOrCreate()
    finally:
        del os.environ["LC_ALL"]


def conf_bytes(spark: SparkSession, key: str, default: str) -> int:
    """A byte-size conf (``"128MB"``, ``"10485760b"``, ``"-1"``) in bytes,
    parsed the way Spark parses it; a negative value (``-1`` = disabled)
    stays negative."""
    raw = spark.conf.get(key, default).strip()
    sign = -1 if raw.startswith("-") else 1
    util = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    return sign * int(util.byteStringAsBytes(raw.lstrip("-")))


def estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan ``sizeInBytes`` for ``df``: driver-side
    plan metadata, no job runs (``localCheckpoint`` keeps the origin
    plan's stats, so a pinned frame still reports its true estimate).

    ``None`` when the size is not known: a streaming frame, a propagated
    unknown, or a failing probe (it goes through a private API). Every
    size gate treats ``None`` as "decline" and keeps the distributed
    plan, so a broken probe costs speed at small scale, never a
    serialized or broadcast corpus at large scale."""
    if df.isStreaming:
        return None
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 - private API: fail safe, never raise
        return None
    return est if est < _UNKNOWN_SIZE else None
