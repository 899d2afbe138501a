"""Upstream-parallelism guard for row-multiplying narrow stages.

An explode/mapInPandas stage runs with the parallelism of its INPUT: a
corpus read from one small parquet file (the local fixture, or one
unsplittable object at the edge of a cluster ingest) executes the whole
expansion on a single task no matter how many cores exist downstream —
shuffle stages after it recover parallelism, but the expensive expansion
itself does not. ``spread`` repartitions the narrow pre-expansion rows up
to the session's expansion parallelism; on a real multi-file 100 TB table
(input splits >= that) it is a no-op by construction.

The target count is the LARGER of the core count and the session's
current ``spark.sql.shuffle.partitions`` — which ``session.
autosize_shuffle_partitions`` already sizes to the dataset (64 MiB of
input parquet per partition, core-count floor). One task per core is the
right floor for small inputs, but it is a straggler trap once tasks get
fat: at sf100 the lm model-build map ran as 32 tasks of ~24s median with
a 73s max — the stage waits on its slowest single task with zero
re-balancing, and the measured wall was 2.4x the CPU ideal (r13 stage
profiles, PLANS.md). Spreading the same stage over the data-proportional
count (266 at sf100) caps the tail at one small task and leaves sf0.001
through sf10 plans byte-identical (autosize floors at the core count
there, so the target is unchanged).

Scale levers are picked the same way, inside the operator and from data
it can see: ``plan_bytes`` reads Catalyst's size estimate of the input's
optimized plan (no job starts), and ``is_large`` compares it with
``LARGE_INPUT_BYTES``, the one third-decade line shared by the ANN tiers
and the heavy-hitter exact pass. No caller flag or row count is involved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Plan size estimate from which an input counts as third-decade scale:
#: about 1M 64-dim embedding rows, or 3.4M documents. The estimate reads
#: 387-399 B per embedding row on the sf0.01/sf0.1 fixtures (500 and 2k
#: vectors) and 262 B on a tools/make_sf.py sf1 (20k), so sf10 (200k
#: vectors, 52-80 MB) stays below and sf100 (2M, 0.52-0.8 GB) crosses;
#: documents read about 117 B per row, so sf10 (about 59 MB) stays below
#: and sf100 (about 586 MB) crosses. Users: brute force and PQ take the
#: Arrow tier past it (similarity.py; sf100 brute force 53.2s -> 2.0s,
#: PQ 93.6s -> 11.4s, PLANS.md), and token_heavy_hitters runs its
#: survivor-prefilter exact pass (the full-domain groupBy is the sf100
#: cost; the prefilter loses below it, 2.62 -> 4.09 CPU s at sf0.01).
LARGE_INPUT_BYTES = 384 << 20


def plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df``'s optimized plan; starts no job."""
    return int(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )


def is_large(df: DataFrame) -> bool:
    """Whether ``df``'s plan estimate reaches ``LARGE_INPUT_BYTES``."""
    return plan_bytes(df) >= LARGE_INPUT_BYTES


def expansion_parallelism(df: DataFrame) -> int:
    """max(core count, current shuffle partitions) — the target task count
    for a data-expanding map stage (see module docstring)."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        par = max(par, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        pass
    return par


def spread(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition up to the expansion parallelism if (and only if) the
    input has fewer partitions; key-hash when a key is given, round-robin
    otherwise."""
    par = expansion_parallelism(df)
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, key) if key else df.repartition(par)
