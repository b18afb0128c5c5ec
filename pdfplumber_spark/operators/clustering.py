"""Tolerance clustering as a Spark window plan (SURVEY.md §2.4).

The reference's ``cluster_objects`` (``utils/clustering.py:42-66``) clusters
the *distinct* key values with a chained gap rule, then maps objects to
clusters. Distributed shape:

1. distinct (partition-local pre-agg, then shuffle on the partition keys);
2. ``lag`` + gap flag + running ``sum`` over (partition keys, value order) —
   identical to gap-based sessionization, applied to space instead of time;
3. broadcast-or-shuffle join back to the rows.

For page-local clustering the partition keys are (url, page_number) and AQE
turns the join into a local one; the same plan works corpus-wide for global
keys (e.g. clustering event values per user).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def _global_cluster_ids(
    rows: DataFrame, value_col: str, tolerance: float, out_col: str
) -> DataFrame:
    """Chained-gap cluster ids over globally-ordered values WITHOUT a
    single-task global window: range-partition the values, cluster locally
    per partition, then fix up partition boundaries with a tiny per-partition
    stats table (N_partitions rows). Scales to corpus-wide clustering —
    every heavy stage is fully parallel; only the stats fix-up (one row per
    partition) runs on one task.

    Round-8: operates on the RAW rows, not a pre-distinct'd table — the
    chained gap rule is duplicate-invariant (an equal neighbour is never a
    gap, so each row gets exactly the id its distinct value would get; a
    tie-run split across a range boundary is healed by the existing
    ``_minv <= _prevmax + tol`` merge rule). Dropping the distinct removes
    one full shuffle + aggregation, and the caller no longer needs the
    value-equality join back to the rows (two more exchanges gone)."""
    d = rows.repartitionByRange(F.col(value_col)).withColumn(
        "_part", F.spark_partition_id()
    )
    wloc = Window.partitionBy("_part").orderBy(value_col)
    # add-first operand order matches the reference's ``x <= last + tol``
    # (``utils/clustering.py:18``) — NOT float-equivalent to ``x - last > tol``
    gap = (
        F.col(value_col) > (F.lag(value_col).over(wloc) + F.lit(tolerance))
    ).cast("long")
    local = d.withColumn("_lid", F.sum(F.coalesce(gap, F.lit(0))).over(wloc))
    # tiny: one row per non-empty range partition
    stats = local.groupBy("_part").agg(
        F.min(value_col).alias("_minv"),
        F.max(value_col).alias("_maxv"),
        (F.max("_lid") + 1).alias("_k"),
    )
    ws = Window.orderBy("_part")
    stats = (
        stats.withColumn("_prevmax", F.lag("_maxv").over(ws))
        .withColumn(
            "_merge",
            F.when(
                F.col("_minv") <= (F.col("_prevmax") + F.lit(tolerance)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_base",
            F.coalesce(
                F.sum(F.col("_k") - F.col("_merge")).over(
                    ws.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_part", "_merge", "_base")
    )
    return local.join(F.broadcast(stats), "_part").select(
        *rows.columns,
        (F.col("_base") + F.col("_lid") - F.col("_merge")).alias(out_col),
    )


def with_cluster_id(
    df: DataFrame,
    value_col: str,
    tolerance: float,
    partition_cols: Sequence[str] = (),
    out_col: str = "cluster_id",
) -> DataFrame:
    """Add a dense cluster id per (partition_cols, chained gaps on value_col).

    tolerance == 0 gives one cluster per distinct value (reference
    ``cluster_list`` fast path, ``clustering.py:10-11``).

    With partition_cols the window is hash-partitioned (fully parallel);
    without them the ids come from the range-partitioned two-pass plan
    (``_global_cluster_ids``) — never a single-task global window.

    Round-8 plan shape: the gap window runs DIRECTLY over the rows — the
    chained rule is duplicate-invariant (a tied neighbour contributes gap
    0, so every row receives exactly the id its distinct value gets from
    the reference's distinct-then-map formulation). The previous
    distinct -> window -> equality-join-back shape paid three extra
    exchanges for the same ids."""
    pcols = list(partition_cols)
    if not pcols:
        return _global_cluster_ids(df, value_col, tolerance, out_col)
    w = Window.partitionBy(*pcols).orderBy(value_col)
    gap = (
        F.col(value_col) > (F.lag(value_col).over(w) + F.lit(tolerance))
    ).cast("long")
    return df.withColumn(out_col, F.sum(F.coalesce(gap, F.lit(0))).over(w))


def snap_to_cluster_mean(
    df: DataFrame,
    value_col: str,
    tolerance: float,
    partition_cols: Sequence[str] = (),
    out_col: str = None,
) -> DataFrame:
    """Distributed ``snap_objects`` (``utils/geometry.py:150-159``): move each
    row's value to its cluster's row-weighted mean."""
    out_col = out_col or value_col
    pcols = list(partition_cols)
    cl = with_cluster_id(df, value_col, tolerance, pcols, out_col="_cid")
    w = Window.partitionBy(*(pcols + ["_cid"]))
    return cl.withColumn(out_col, F.avg(value_col).over(w)).drop("_cid")


def _global_interval_merge(
    df: DataFrame, start_col: str, end_col: str, tolerance: float
) -> DataFrame:
    """Interval union without a single-task global window: range-partition
    by (start, end), merge locally with the running-max rule, then collapse
    the leading local segments of each partition into the incoming open
    segment when the previous partitions' reach (global running max end)
    covers their start. Exact same output as the global-window form."""
    d = df.repartitionByRange(F.col(start_col), F.col(end_col)).withColumn(
        "_part", F.spark_partition_id()
    )
    wloc = Window.partitionBy("_part").orderBy(start_col, end_col)
    run_max = F.max(end_col).over(
        wloc.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_seg = (
        F.when(run_max.isNull(), F.lit(1))
        .when(F.col(start_col) > run_max + F.lit(tolerance), F.lit(1))
        .otherwise(F.lit(0))
    )
    local = d.withColumn("_seg", F.sum(new_seg).over(wloc))
    segs = local.groupBy("_part", "_seg").agg(
        F.min(start_col).alias("_sstart"),
        F.max(end_col).alias("_send"),
        F.count("*").alias("_n"),
    )
    # tiny per-partition stats: reach of previous partitions + id bases
    pstats = segs.groupBy("_part").agg(
        F.max("_send").alias("_pmax"), F.max("_seg").alias("_k")
    )
    ws = Window.orderBy("_part")
    pstats = pstats.withColumn(
        "_reach",
        F.max("_pmax").over(ws.rowsBetween(Window.unboundedPreceding, -1)),
    )
    flagged = segs.join(
        F.broadcast(pstats.select("_part", "_reach")), "_part"
    ).withColumn(
        "_merged",
        F.when(
            F.col("_sstart") <= F.col("_reach") + F.lit(tolerance), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    m = flagged.groupBy("_part").agg(F.sum("_merged").alias("_m"))
    pstats = pstats.join(m, "_part").withColumn(
        "_base",
        F.coalesce(
            F.sum(F.col("_k") - F.col("_m")).over(
                ws.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    gid = F.when(F.col("_merged") == 1, F.col("_base") - 1).otherwise(
        F.col("_base") + F.col("_seg") - 1 - F.col("_m")
    )
    return (
        flagged.join(F.broadcast(pstats.select("_part", "_base", "_m")), "_part")
        .withColumn("_gid", gid)
        .groupBy("_gid")
        .agg(
            F.min("_sstart").alias(start_col),
            F.max("_send").alias(end_col),
            F.sum("_n").alias("n_merged"),
        )
        .drop("_gid")
    )


def interval_merge(
    df: DataFrame,
    start_col: str,
    end_col: str,
    tolerance: float,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Distributed ``join_edge_group`` (``table.py:39-65``): union of
    intervals along a line — running-max + gap flag + cumsum segment id,
    then min(start)/max(end) per segment.

    With partition_cols the window is hash-partitioned; without them the
    range-partitioned two-pass plan runs (``_global_interval_merge``) —
    never a single-task global window.
    """
    pcols = list(partition_cols)
    if not pcols:
        return _global_interval_merge(df, start_col, end_col, tolerance)
    w = Window.partitionBy(*pcols).orderBy(start_col, end_col)
    run_max = F.max(end_col).over(w.rowsBetween(Window.unboundedPreceding, -1))
    new_seg = (
        F.when(run_max.isNull(), F.lit(1))
        .when(F.col(start_col) > run_max + F.lit(tolerance), F.lit(1))
        .otherwise(F.lit(0))
    )
    seg = df.withColumn("_seg", F.sum(new_seg).over(w))
    return seg.groupBy(*pcols, "_seg").agg(
        F.min(start_col).alias(start_col),
        F.max(end_col).alias(end_col),
        F.count("*").alias("n_merged"),
    ).drop("_seg")
