"""Distributed global-order primitives (prefix sums / ranks / ntiles).

A ``Window.orderBy(...)`` with no ``partitionBy`` funnels EVERY row
through one task ("WindowExec: No Partition Defined") — fine over a
bounded intermediate (a decile table, a sketch, per-partition
offsets), a scale-killer over anything that grows with the data
(per-customer, per-part, per-document aggregates: linear in SF, ~1e8
rows at the 100 TB design point).

These helpers compute the SAME total-order statistics with the
classic two-phase distributed prefix pattern:

1. ``repartitionByRange`` on the sort key — partition p holds keys
   ordered before partition p+1's (one wide shuffle, the same data
   movement the single-partition sort would have needed anyway);
2. a PARTITIONED window per range-partition id computes the local
   statistic (row_number / running sum / prefix min) in parallel;
3. per-partition totals — at most ``spark.sql.shuffle.partitions``
   rows — are turned into cumulative offsets with a global window
   over that BOUNDED table and broadcast back.

The two branches share the range exchange (ReusedExchange). Cost
shape: TWO distributed full-data exchanges (the range shuffle that
discovers boundaries, plus the hash-by-partition-id clustering the
local window demands — Spark cannot be told the range output is
already clustered by ``spark_partition_id``), one tiny agg, one
broadcast join. Two parallel passes over the wire versus a
single-task sort that simply cannot finish at 1e8+ rows.
``global_order_stats`` computes a row number plus any number of
running sums in that one pipeline.

REQUIREMENT: ``order_cols`` must be a deterministic TOTAL order
(include a tiebreaker). Rows comparing equal may straddle a range
boundary, so only a total order makes the assigned rank/prefix
reproducible — the same requirement oracle parity already imposes on
every call site. (``global_strict_prefix_min`` is the exception: it
keys on ONE column and relies on range partitioning never splitting
equal keys across partitions.)

CORRECTNESS BARRIER: the partitioned frame is ``scoped_persist``-ed
before the offsets branch reads it. Without the barrier the two
branches plan two SEPARATE range exchanges (column pruning makes the
subtrees non-identical, defeating exchange reuse), and
``RangePartitioner`` samples each with a different seed — on data
larger than its sample the two exchanges can pick DIFFERENT
boundaries, silently misaligning offsets with partition ids. The
persist pins one materialization (and runs the local window once).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metoffice_spark.session import scoped_persist

_PID = "__gpid"
_TOT = "__gtot"


def _ranged(df: DataFrame, order_cols: list[Column]) -> DataFrame:
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartitionByRange(parts, *order_cols).withColumn(
        _PID, F.spark_partition_id()
    )


def global_order_stats(
    df: DataFrame,
    order_cols: list[Column],
    rn: str | None = None,
    running: dict[str, Column] | None = None,
    total: str | None = None,
    grand: dict[str, Column] | None = None,
) -> DataFrame:
    """Row number (``rn``) and/or inclusive running sums (``running``:
    out-name → value column) over one global total order, in ONE range
    shuffle. ``total`` optionally adds the grand ROW COUNT and
    ``grand`` (out-name → value column) grand SUMS — both read off the
    same bounded offsets table, never a second global window.

    Caller columns must not start with a double underscore — all
    ``__``-prefixed names are reserved scratch (dropped or shadowed
    internally)."""
    running = running or {}
    grand = grand or {}
    d = _ranged(df, order_cols)
    w_local = Window.partitionBy(_PID).orderBy(*order_cols)
    w_run = w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    if rn is not None:
        d = d.withColumn("__l_rn", F.row_number().over(w_local).cast("bigint"))
    for out, val in running.items():
        vc = f"__v_{out}"
        d = d.withColumn(vc, val.cast("bigint"))
        # local running sum AND local non-null count: SQL running sums
        # are NULL while the prefix holds no non-null value, so the
        # recombination below must know whether any non-null exists in
        # the preceding partitions + local frame (a bare
        # "NULL + offset" or a blanket coalesce both diverge from the
        # single-partition window on NULL-leading data)
        d = d.withColumn(f"__l_{out}", F.sum(vc).over(w_run).cast("bigint"))
        d = d.withColumn(f"__c_{out}", F.count(vc).over(w_run).cast("bigint"))
    for out, val in grand.items():
        d = d.withColumn(f"__g_{out}", val.cast("bigint"))
    # persist barrier: ONE materialization of the ranged+windowed
    # frame feeds both the offsets aggregate and the final join (see
    # module docstring — two range exchanges may sample different
    # boundaries)
    # kept: correctness barrier, pins one RangePartitioner sample
    d = scoped_persist(d)
    # bounded offsets table: one row per range partition
    per_aggs = []
    if rn is not None:
        per_aggs.append(F.count(F.lit(1)).cast("bigint").alias(f"__n_{rn}"))
    for out in running:
        per_aggs.append(
            F.sum(f"__v_{out}").cast("bigint").alias(f"__n_{out}")
        )
        per_aggs.append(
            F.count(f"__v_{out}").cast("bigint").alias(f"__k_{out}")
        )
    per_aggs += [
        F.sum(f"__g_{out}").cast("bigint").alias(f"__s_{out}") for out in grand
    ]
    per_aggs.append(F.count(F.lit(1)).cast("bigint").alias("__n_rows"))
    per = d.groupBy(_PID).agg(*per_aggs)
    w_off = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()  # bounded: ≤ shuffle-partitions rows
    off_cols = [_PID]
    if rn is not None:
        off_cols.append(
            F.coalesce(F.sum(f"__n_{rn}").over(w_off), F.lit(0))
            .cast("bigint")
            .alias(f"__o_{rn}")
        )
    for out in running:
        # preceding-partition sum stays NULL-aware (F.sum skips NULLs,
        # returns NULL only when every preceding value is NULL); the
        # non-null count decides the final NULL
        off_cols.append(F.sum(f"__n_{out}").over(w_off).alias(f"__o_{out}"))
        off_cols.append(
            F.coalesce(F.sum(f"__k_{out}").over(w_off), F.lit(0))
            .cast("bigint")
            .alias(f"__ok_{out}")
        )
    if total is not None:
        off_cols.append(
            F.sum("__n_rows").over(w_all).cast("bigint").alias(_TOT)
        )
    off_cols += [
        F.sum(f"__s_{out}").over(w_all).cast("bigint").alias(f"__t_{out}")
        for out in grand
    ]
    off = per.select(*off_cols)
    res = d.join(F.broadcast(off), _PID)
    drop = [_PID]
    if rn is not None:
        res = res.withColumn(
            rn, (F.col("__l_rn") + F.col(f"__o_{rn}")).cast("bigint")
        )
        drop += ["__l_rn", f"__o_{rn}"]
    for out in running:
        lc, cc, oc, okc = f"__l_{out}", f"__c_{out}", f"__o_{out}", f"__ok_{out}"
        res = res.withColumn(
            out,
            F.when(
                (F.col(cc) + F.col(okc)) == 0, F.lit(None).cast("bigint")
            ).otherwise(
                (F.coalesce(F.col(lc), F.lit(0)) + F.coalesce(F.col(oc), F.lit(0)))
                .cast("bigint")
            ),
        )
        drop += [lc, cc, oc, okc]
    drop += [c for c in res.columns if c.startswith(("__v_", "__g_"))]
    if total is not None:
        res = res.withColumn(total, F.col(_TOT))
        drop.append(_TOT)
    for out in grand:
        res = res.withColumn(out, F.col(f"__t_{out}"))
        drop.append(f"__t_{out}")
    return res.drop(*drop)


def global_row_number(
    df: DataFrame, order_cols: list[Column], out: str = "rn"
) -> DataFrame:
    """``row_number() OVER (ORDER BY order_cols)`` without a global
    single-partition window. ``order_cols`` must be a total order."""
    return global_order_stats(df, order_cols, rn=out)


def global_ntile(
    df: DataFrame, order_cols: list[Column], n: int, out: str = "tile"
) -> DataFrame:
    """``ntile(n) OVER (ORDER BY order_cols)`` distributed: derived
    from the global row number and total count with the ANSI bucket
    rule (first ``cnt % n`` buckets get ``cnt div n + 1`` rows)."""
    d = global_order_stats(df, order_cols, rn="__nt_rn", total="__nt_cnt")
    rn, cnt = F.col("__nt_rn"), F.col("__nt_cnt")
    small = F.floor(cnt / n)  # rows per small bucket
    big = (cnt % n) * (small + 1)  # rows covered by big buckets
    tile = F.when(cnt < n, rn).otherwise(
        F.when(rn <= big, F.ceil(rn / (small + 1))).otherwise(
            (cnt % n) + F.ceil((rn - big) / small)
        )
    )
    return d.withColumn(out, tile.cast("int")).drop("__nt_rn", "__nt_cnt")


def global_running_sum(
    df: DataFrame,
    order_cols: list[Column],
    val: Column,
    out: str = "cum",
    with_total: str | None = None,
) -> DataFrame:
    """``sum(val) OVER (ORDER BY order_cols ROWS UNBOUNDED PRECEDING
    TO CURRENT ROW)`` distributed; optionally also the grand SUM of
    ``val`` (``with_total``) from the same bounded offsets table
    instead of a second global window."""
    grand = {with_total: val} if with_total is not None else {}
    return global_order_stats(df, order_cols, running={out: val}, grand=grand)


def global_strict_prefix_min(
    df: DataFrame, key: Column, val: Column, out: str
) -> DataFrame:
    """``min(val) OVER (ORDER BY key RANGE UNBOUNDED PRECEDING TO 1
    PRECEDING)`` — the minimum of ``val`` over all rows whose ``key``
    is STRICTLY smaller — distributed. Range partitioning never
    splits equal keys across partitions, so the strict frame composes:
    global = least(local strict-prefix min, min over all preceding
    partitions). NULL when no strictly-smaller row exists."""
    d = _ranged(df, [key.asc()]).withColumn("__gv", val.cast("bigint"))
    w_local = (
        Window.partitionBy(_PID)
        .orderBy(key.asc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    # same persist barrier as global_order_stats (module docstring)
    # kept: correctness barrier, pins one RangePartitioner sample
    d = scoped_persist(d.withColumn("__l_min", F.min("__gv").over(w_local)))
    per = d.groupBy(_PID).agg(F.min("__gv").alias("__p_min"))
    w_off = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    off = per.select(_PID, F.min("__p_min").over(w_off).alias("__o_min"))
    return (
        d.join(F.broadcast(off), _PID)
        .withColumn(out, F.least("__l_min", "__o_min"))
        .drop(_PID, "__gv", "__l_min", "__o_min")
    )
