"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` in one JVM; the config below is chosen so
the same logical plans survive a 1000-executor cluster:

- AQE on (runtime coalesce, skew-join splitting, dynamic join selection).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalesce makes the initial number mostly irrelevant.
- Session timezone pinned to UTC so results hash identically against the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas-UDF / toPandas boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Entries in the JVM-wide generated-code cache (a static conf, so it only
# takes effect in the session that starts the JVM).  Spark's default of
# 100 is below the engine's working set: one curate_corpus plus one
# dedup_clusters compile 123 distinct entries, so with 100 each op evicts
# the other's and every warm op compiles (and JITs) its code again; one
# pass over bench.py's 46 headline rows compiles 792-824.  The size is
# that pass with about 2.4x headroom, and a constant rather than a knob
# because it bounds memory, not behaviour.  Per entry (measured, 4 cores):
# about 2.2 generated classes of 2.4-2.8 KB bytecode each, and about
# 20 KB of JVM memory once retained (metaspace plus JIT code), measured
# over about 690 entries; about 40 MB for a full cache is that figure
# extrapolated, not measured.  A warm search request compiles one
# class that no later request reuses, at 100 entries and at 2000 alike,
# so in a serving process the larger cache retains memory and saves no
# compile.
CODEGEN_CACHE_ENTRIES = 2000


def env_int(name: str, default: int) -> int:
    """Integer value of the environment variable ``name``, or ``default``
    when it is unset or empty.  A value that is not an integer raises
    ``ValueError`` naming the variable and the value, so a typo in a
    knob fails where it is read instead of as an anonymous ``int()``
    error."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"environment variable {name}={raw!r} is not an integer"
        ) from None


def cpu_count() -> int:
    return env_int("SPARK_GRAFT_CPUS", 0) or os.cpu_count() or 4


def get_spark(app_name: str = "readwise_vector_db_spark", cores: int | None = None) -> SparkSession:
    cores = cores or cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesce knobs, env-overridable for cluster tuning (round
        # 12): flipping parallelismFirst=false (honor the advisory byte
        # target when coalescing) was A/B-measured both ways — it helps
        # exchange-heavy scheduling-bound rows (−14 % fold-min over six
        # such rows) but consistently HURTS CPU-dense small-byte stages
        # (dedup_lsh_embedding's bucket-similarity compute coalesces to
        # too few tasks: 2.7 → 3.8 s in a 2×-repeated interleaved A/B),
        # because the byte-size heuristic cannot see per-row CPU cost.
        # Local default therefore stays Spark's parallelism-first; a
        # 100 TB deployment whose post-shuffle partitions are genuinely
        # byte-bound should set SPARK_GRAFT_AQE_PARALLELISM_FIRST=false
        # and size SPARK_GRAFT_AQE_ADVISORY_BYTES to its reducers.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_AQE_ADVISORY_BYTES", "64m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark has no nanos
        # timestamp type, so read the raw int64 and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # FAIR job scheduling: concurrent serving clients (api servers,
        # the bench's concurrent warm loop) interleave instead of
        # queueing behind each other's jobs — measured 6-user warm P95
        # 0.49 → 0.44 s, QPS 13.9 → 15.4; sequential batch work is
        # unaffected (one job at a time either way).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
