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
# which the registry runs before every builder, unpersists the previous
# scope and makes the current one the previous. So builder k's caches
# live until builder k+2 starts:
#   - A driver may build the next query before executing the previous
#     frame: that frame's cache is still held.
#   - Memory stays bounded: at most two builders' intermediates are
#     cached at once (persist() is lazy, so a scope that was built but
#     never executed holds no blocks), and MEMORY_AND_DISK eviction
#     backstops pressure.
#   - A released scope may uncache a plan that a newer build of the
#     SAME query still references; that frame then recomputes, which
#     is correct, merely slower.
# Every call site has a ``# kept:`` line quoting the persist A/B
# under artifacts/: the plain plan against the persisted one, 5
# alternating pairs of tools/measure.py at sf0.1.
# Keeping one previous scope measured the same as keeping none on the
# bench (sf0.1, local[32]), while keeping four was ~5 % slower: extra
# caches squeeze execution memory.
_PREVIOUS: list = []  # persists of the previous persist-bearing builder
_CURRENT: list = []   # persists of the currently building query


def scoped_persist(df):
    """``df.persist()`` scoped to the building query.

    The cache lives until the second persist-bearing builder after this
    one starts, then is unpersisted. A builder with no scoped persists
    does not rotate the scopes."""
    df = df.persist()
    _CURRENT.append(df)
    return df


def _unpersist(dfs: list) -> None:
    for df in dfs:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped; nothing to release


def _rotate_scope() -> None:
    """Release the previous scope and make the current one previous.
    An empty current scope rotates nothing (see :func:`scoped_persist`)."""
    global _PREVIOUS, _CURRENT
    if _CURRENT:
        _unpersist(_PREVIOUS)
        _PREVIOUS, _CURRENT = _CURRENT, []


def release_scoped_persists() -> None:
    """Full flush: the previous scope AND the in-progress one."""
    global _PREVIOUS, _CURRENT
    _unpersist(_PREVIOUS + _CURRENT)
    _PREVIOUS, _CURRENT = [], []


def tune(spark: SparkSession) -> SparkSession:
    """Apply the runtime confs to ``spark`` and start a new query scope.

    The registry wraps every builder so this runs once before it
    (``registry._collect``); ``get_spark`` and the driver's ``entry``
    call it for sessions that bypass the registry. Starting a scope
    releases the persists of the builder before the previous one (see
    the scope comment above)."""
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
