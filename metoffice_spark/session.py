"""SparkSession factory + runtime tuning.

Scale design (100 TB north star): AQE on for runtime re-planning
(skew joins, partition coalescing), broadcast threshold left at the
default 10 MB so dim tables (region/nation/part at any realistic SF)
broadcast, session timezone pinned to UTC so day-boundary logic
(MWC:206-222) is deterministic across engines, Arrow enabled for the
few pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs. The registry applies them (via :func:`tune`)
# before every builder, because the driver may hand over a session this
# package did not configure.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark's vectorized reader rejects parquet TIMESTAMP(NANOS); read
    # such a column as LongType and let io.load adapt it. Set for the
    # whole session, so a table's schema never depends on which tables
    # were loaded before it.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The driver tables ship as ONE parquet file each (2-11 MB at
    # sf0.1). The default openCostInBytes=4 MB floors the split size
    # at 4 MB, so every scan runs as 1-3 tasks whatever the core count.
    # 128 KB lets scan parallelism follow
    # spark.sql.files.minPartitionNum (= the core count). At the
    # 100 TB design point files are 128 MB-1 GB, so maxPartitionBytes
    # governs the split and this knob only affects the small-file
    # tail, packing fewer tiny files per task.
    "spark.sql.files.openCostInBytes": "131072",
    # The post-shuffle twin of openCostInBytes. With parallelismFirst
    # (the default) AQE coalesces a shuffle toward defaultParallelism
    # partitions, but never below minPartitionSize (default 1 MB) each.
    # The WOW payload stage reads a 1.5-3.3 MB shuffle, so it ran as
    # 1-2 tasks and left the other cores idle. At 64 KB it runs one
    # task per core, and tiny shuffles (the day-total aggregate) still
    # collapse to one partition. At the 100 TB design point shuffle
    # partitions are far above 1 MB, so this knob only affects small
    # shuffles.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "65536",
    # HotSpot never JIT-compiles a method over 8,000 bytes of bytecode
    # (-XX:+DontCompileHugeMethods), so a fused whole-stage method past
    # that size runs in the bytecode interpreter on every row. The WOW
    # payload stage (q_sink_http_form: the rain windows, the derived
    # values and 8 fixed_str_sql roundings) fuses into one 11,317-byte
    # method, q_negative_sample's largest subtree into 8,218 bytes. At
    # this limit Spark runs such a stage unfused, with its projections
    # split into small compiled methods. Publishing 50,000 rows on a
    # 4-vCPU host, the payload stage ran ~3x faster unfused than
    # interpreted. Plans and rows are unchanged.
    "spark.sql.codegen.hugeMethodLimit": "8000",
}


# Persisted intermediates, grouped per query-build SCOPE. One session
# runs ~290 queries, so persists must be released or they accumulate.
# Each builder's ``scoped_persist`` calls form one scope. :func:`tune`,
# which the registry runs before every builder, closes the current
# scope into a retention queue and unpersists only what falls off the
# end of it (scopes older than the newest ``_RETAIN_SCOPES``).
#   - A driver may build the next query before executing the previous
#     frame: that frame's cache is still retained.
#   - Memory stays bounded: at most ``_RETAIN_SCOPES`` executed
#     queries' intermediates are cached at once (persist() is lazy, so
#     a scope that was built but never executed holds no blocks), and
#     MEMORY_AND_DISK eviction backstops pressure.
#   - A released scope may uncache a plan that a newer build of the
#     SAME query still references; that frame then recomputes, which
#     is correct, merely slower.
# Depth 1 measured the same as depth 0 on the bench (sf0.1, local[32]),
# while depth 4 was ~5 % slower: extra caches squeeze execution memory.
_RETAIN_SCOPES = 1
_SCOPES: list[list] = []   # retention queue, oldest first
_CURRENT: list = []        # persists of the currently building query


def scoped_persist(df):
    """``df.persist()`` scoped to the building query.

    The cache lives until ``_RETAIN_SCOPES`` newer persist-bearing
    builders have started, then is unpersisted. A builder with no
    scoped persists adds no scope, so it does not age the queue."""
    df = df.persist()
    _CURRENT.append(df)
    return df


def _rotate_scope() -> None:
    """Close the current scope into the retention queue; release only
    the queue overflow. Empty scopes are not pushed (see
    :func:`scoped_persist`)."""
    global _CURRENT
    if _CURRENT:
        _SCOPES.append(_CURRENT)
        _CURRENT = []
    while len(_SCOPES) > _RETAIN_SCOPES:
        for df in _SCOPES.pop(0):
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped; nothing to release


def release_scoped_persists() -> None:
    """Full flush — every retained scope AND the in-progress one."""
    _rotate_scope()
    while _SCOPES:
        for df in _SCOPES.pop():
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped; nothing to release


def tune(spark: SparkSession) -> SparkSession:
    """Apply the runtime confs to ``spark`` and start a new query scope.

    The registry wraps every builder so this runs once before it
    (``registry._collect``); ``get_spark`` and the driver's ``entry``
    call it for sessions that bypass the registry. Starting a scope
    rotates the previous builder's scoped persists into the retention
    queue (see the scope comment above)."""
    _rotate_scope()
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked down; proceed with session defaults
    return spark


def get_spark(app_name: str = "metoffice-spark") -> SparkSession:
    """Build (or reuse) a local session sized for this container.

    ``local[$SPARK_GRAFT_CPUS]`` (default 32) mirrors the driver's
    bench environment; shuffle partitions match core count so every
    shuffle round-trip uses all threads without tiny-partition
    overhead at test scale. The driver heap is ``$SPARK_DRIVER_MEM``,
    else a quarter of the host's memory and at most 12g, so a few
    sessions side by side still fit the host.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    heap_mb = min(os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 4 // 2**20, 12 * 1024)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", f"{heap_mb}m"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/metoffice-spark-warehouse")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
