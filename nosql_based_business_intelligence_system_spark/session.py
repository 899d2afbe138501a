"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same config block is what
we would ship to a multi-executor cluster (AQE on, skew-join handling,
broadcast threshold, non-ANSI casts for pandas-parity coerce semantics — see
SURVEY.md §2.10(b), reference Project.py:41-49).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

#: Config that matters at 100 TB as much as it does locally.
SCALE_CONF: dict[str, str] = {
    # Adaptive execution: runtime re-planning, partition coalescing, skew splits.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/customer/supplier/part at fixture scale,
    # the fiscal-calendar dim always) should broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # pandas `errors="coerce"` parity: cast failures yield NULL, not errors
    # (Spark 4 defaults ANSI on; the reference's ingest semantics are non-ANSI).
    "spark.sql.ansi.enabled": "false",
    # Deterministic date/timestamp semantics against the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any toPandas/pandas_udf boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Readable file splits; at cluster scale this is tuned to executor memory.
    "spark.sql.files.maxPartitionBytes": "128m",
    # events.parquet carries TIMESTAMP(NANOS); read as long + convert
    # (sources.tables._normalize_event_ts) instead of failing the scan.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Cached plans keep AQE partition re-planning (r13, r12 advisory 7):
    # with the default `false`, a .cache()/.persist() materializes at its
    # plan's raw shuffle-partition count and AQE CANNOT coalesce inside
    # the cached subtree — the multires-rollup finest grain (a few
    # thousand rows) pinned 32 near-empty partitions and every coarser
    # re-aggregation paid 32-way scheduling overhead, measurably ANTI-
    # scaling with cores (events_multires_rollup best-of-7 at sf0.1:
    # 0.648s on 32 cores vs 0.357s on 8; with this conf 0.378s on 32 —
    # the 8-vs-32 inversion is gone). Partitioning only; values are
    # partition-count-invariant (config-fuzz gate).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Janino class cache (STATIC conf — first JVM only): the 100-entry
    # default LRU-thrashes once a session cycles through the registry's
    # query mix (each query compiles several codegen stages), re-paying
    # ~100-300ms compiles per stage per pass. A generated class is a few
    # KB; 2000 entries is megabytes, not a memory risk, and on a long-
    # lived cluster session it is the difference between compile-once
    # and compile-per-run for a repeated dashboard workload.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def physical_ram_bytes() -> int:
    """This host's physical RAM (``os.sysconf``); 0 where the platform
    does not report it."""
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return 0


def ram_share_gib(ram_bytes: int, share: float, cap_gib: int | None = None) -> int:
    """``share`` of ``ram_bytes`` in whole GiB (rounded down), at least 1
    and at most ``cap_gib`` — so a default sized from the box never
    exceeds the box."""
    gib = max(1, int(ram_bytes * share) >> 30)
    return gib if cap_gib is None else min(gib, cap_gib)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


#: Target on-disk parquet bytes per shuffle partition for auto-sizing.
#: Calibrated on the sf ladder (PLANS.md round-7 notes): 64 MiB keeps
#: sf0.1 (17 MB) and sf10 (1.7 GB) at the core count — the setting every
#: prior round's numbers were measured at — while sf100 (17 GB) lands at
#: ~266, matching the measured spill-elimination point (regional_revenue
#: 62.6s @32 -> 31.3s @256). Compressed parquet expands ~3-5x in memory,
#: so 64 MiB disk ~ 200-300 MB of rows per task — comfortably inside an
#: executor task's working memory with AQE coalescing the small side.
AUTO_PARTITION_BYTES = 64 << 20

#: Ceiling for auto-sizing. A real 1000-executor deployment sizes shuffle
#: partitions to ~2-3x total executor cores instead; this bound only says
#: "never explode the task count on a single box because the input is
#: huge" (AQE's skew split still subdivides pathological partitions).
MAX_AUTO_SHUFFLE_PARTITIONS = 4096

#: sf_dir -> total fixture bytes, memoized per process (one os.walk each).
_SF_BYTES: dict[str, int] = {}


def autosize_shuffle_partitions(spark: SparkSession, sf_dir: str) -> int | None:
    """Set ``spark.sql.shuffle.partitions`` proportionally to the input.

    The r7 sf100 rehearsal proved partition sizing is first-order at the
    third decade (1 GB+/partition through fact-fact exchanges spills), but
    raising the SESSION default 4x regresses checkpoint-bearing queries
    ~2x at sf0.1 — ``localCheckpoint``'d frames materialize at the current
    count and AQE cannot coalesce an already-materialized checkpoint. So
    the count is a function of the DATASET, set at table-load time (the
    one choke point every query passes through): small fixtures keep the
    core count, sf100 gets ~266 without any env knob. An explicit
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` still wins (deployment override).

    Runtime-settable conf: the value is read at query execution, so the
    last load before an action decides — sessions interleaving sf_dirs
    within one uncollected plan are out of contract (same catalog-snapshot
    stance as the table-handle cache).
    """
    if os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        return None
    total = _SF_BYTES.get(sf_dir)
    if total is None:
        total = 0
        try:
            for root, _dirs, files in os.walk(sf_dir):
                for fname in files:
                    with contextlib.suppress(OSError):
                        total += os.path.getsize(os.path.join(root, fname))
        except OSError:
            total = 0
        # Memoize only non-empty walks: a not-yet-generated sf_dir (or a
        # transient walk error) must not pin the dir to the core count for
        # the process lifetime — fixtures generated later in the same
        # process re-walk and get the proportional sizing (ADVICE r8).
        if total:
            _SF_BYTES[sf_dir] = total
    n = max(
        default_parallelism(),
        min(MAX_AUTO_SHUFFLE_PARTITIONS, total // AUTO_PARTITION_BYTES),
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n


def get_spark(
    app_name: str = "nosql-bi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to the local core count; on a real cluster
    you would size this to ~2-3x total executor cores (AQE coalesces down).
    """
    cores = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    )
    conf = dict(SCALE_CONF)
    # In local mode the driver JVM IS the whole cluster; the 1g default
    # heap cannot hold a 64 MB broadcast build + 32 task threads once the
    # data passes ~sf1 (observed: broadcast OOM at 6M-row lineitem). On a
    # real cluster this is executor/driver sizing; locally it's one knob.
    # Static conf: only effective for the process's FIRST JVM launch —
    # harness-owned sessions keep their own sizing. Default: half the
    # physical RAM, at most the 16g the sf1-sf10 ladder ran on (bigger
    # decades set SPARK_GRAFT_DRIVER_MEM); the other half is left to the
    # Python workers, off-heap buffers and a DuckDB oracle on the box.
    conf.setdefault(
        "spark.driver.memory",
        os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM",
            f"{ram_share_gib(physical_ram_bytes(), 0.5, 16)}g",
        ),
    )
    # Initial shuffle partitions: local-core count. Measured across the
    # sf ladder (PLANS.md round-7 notes): at sf100 a 600M-row fact-fact
    # shuffle prefers ~4x more (69s vs 80s on the flagship join), but at
    # sf0.1 the same 4x REGRESSES checkpoint/cache-bearing queries ~2x
    # (checkpointed RDDs materialize at the inflated count; task overhead
    # dominates, and AQE coalescing cannot shrink an already-materialized
    # checkpoint). Data-proportional sizing is a deployment knob —
    # SPARK_GRAFT_SHUFFLE_PARTITIONS, or ~2-3x total cores on a cluster.
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions
        or int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores))
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Settings that must hold even when reusing an existing session.
    for k in ("spark.sql.ansi.enabled", "spark.sql.session.timeZone"):
        spark.conf.set(k, conf[k])
    _ship_package(spark)
    return spark


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable parity conf to an externally provided session.

    The driver harness owns its own SparkSession; ``entry``/``queries`` call
    this so oracle-parity semantics (non-ANSI casts, UTC) hold regardless of
    who built the session.
    """
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # static conf on some builds; events loader copes via schema check
    _ship_package(spark)
    return spark


#: Spark applicationIds the package zip has been shipped to. Keyed by
#: applicationId, not ``id(sc)`` — id() values recycle after a context is
#: GC'd, which could silently skip shipping to a fresh context.
_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Python workers via ``addPyFile``.

    A harness may import the repo from an arbitrary cwd; driver-side
    ``sys.path`` tweaks don't reach executor Python workers, so any
    Arrow-boundary closure that references package modules (multimodal
    decode, similarity kernels) dies with ModuleNotFoundError there. The
    cluster-correct fix is shipping the code with the job — the same
    ``--py-files`` mechanism a real deployment uses, built once per
    process into the temp dir.
    """
    import tempfile
    import zipfile

    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fname in files:
            if fname.endswith(".py"):
                sources.append(os.path.join(root, fname))
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    # Rebuild whenever any source is newer than the zip — a recycled pid
    # (or an edited source in a long-lived process) must not ship stale
    # code to executors. Write-then-rename keeps the publish atomic so a
    # concurrent session never addPyFiles a half-written zip.
    newest_src = max(os.path.getmtime(p) for p in sources)
    stale = (
        not os.path.exists(zpath)
        or os.path.getmtime(zpath) <= newest_src
    )
    if stale:
        fd, tmp = tempfile.mkstemp(
            suffix=".zip", dir=tempfile.gettempdir()
        )
        os.close(fd)
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full in sorted(sources):
                rel = os.path.join(
                    pkg_name, os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
        os.replace(tmp, zpath)
    sc.addPyFile(zpath)
    _SHIPPED.add(app_id)
