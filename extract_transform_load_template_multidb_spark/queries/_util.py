"""Shared helpers for oracle-checked queries."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# Exact, order-independent aggregation of doubles: route through
# DECIMAL(38,6). The fixture money/measure columns carry ≤2 true decimal
# digits, so any 2- or 3-factor product has ≤6 — every value lands exactly
# ON the scale-6 grid (never midway), making the double→decimal cast
# tie-free and identical across Spark and DuckDB. The decimal sum is then
# associative/exact and the final decimal→double cast bit-identical, so the
# value hash matches no matter how partitions combine. (Scale 4 was not
# enough: a triple product has 6 true decimals, and values sitting exactly
# at the 5th-decimal tie rounded differently per engine.)
DEC = "decimal(38,6)"


def dsum(col: Column, alias: str) -> Column:
    return F.sum(col.cast(DEC)).cast("double").alias(alias)


def davg(col: Column, alias: str) -> Column:
    return (F.sum(col.cast(DEC)).cast("double") / F.count(col)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


def daily_revenue(orders: DataFrame, alias: str) -> DataFrame:
    """``(day, <alias>)``: each order date's exact (decimal-routed)
    ``o_totalprice`` sum, as double."""
    return orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(dsum(F.col("o_totalprice"), alias))


def session_seq() -> Column:
    """Per-user session number of each ``events`` row under the 30-minute
    gap rule: gaps-and-islands over ``(ts, event_id)`` order, where a
    user's first event and every event at least 30 minutes after the
    previous one start a new session (numbered from 1). Batch only: a
    ``lag`` window cannot run on a stream (``streaming.windows`` has the
    streaming ``session_window`` form)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = F.when(
        prev.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev) >= 1800 * 1_000_000),
        1,
    ).otherwise(0)
    return F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def exact_percentiles(df, group_cols, value_col, ps, extras=None):
    """Distributed exact interpolated percentiles (percentile_cont).

    Scale-safe replacement for ``F.percentile`` on ungrouped or
    low-group-cardinality frames: Spark's exact percentile aggregate
    buffers every distinct (value, count) pair in ONE final reducer's
    memory per group — fine at sf0.1, OOM-shaped on a 100 TB global
    group. This uses the same running-count selection as
    ``agg_weighted_median``/``window_moving_median``, which is fully
    distributed:

    1. collapse rows to distinct values map-side (partial-aggregable
       groupBy count — the only full-data shuffle, combiner-reduced);
    2. one window sort per group for running counts (Spark external
       sort — spills, never holds the group in memory);
    3. select the two bracketing values per percentile with conditional
       MIN aggregates and interpolate exactly as percentile_cont does:
       ``pos = p*(n-1); v_lo*(ceil(pos)-pos) + v_hi*(pos-floor(pos))``
       — the formula Spark's Percentile.getPercentile and DuckDB's
       quantile_cont both implement, so results stay bit-comparable.

    Args:
        df: input frame (value_col NULLs are ignored, as F.percentile does).
        group_cols: list of grouping column names ([] for a global result).
        value_col: numeric column name; cast to double for interpolation.
        ps: mapping of output alias -> fraction in [0, 1].

    Args (cont.):
        extras: optional mapping of output alias -> one of
            ``"n" | "min" | "max" | "sum"`` — cheap companion stats
            computed from the same collapsed value counts, so callers
            that also need count/min/max/mean make ONE pass over the
            fact table instead of two. ``sum`` is decimal-routed
            (order-independent, see DEC above); ``mean = sum/n`` is the
            caller's division.

    Returns a frame with ``group_cols + list(ps) + list(extras)``
    columns (one row total when group_cols is empty) for the caller to
    join/crossJoin back.
    """
    v = F.col(value_col).cast("double")
    vc = (
        df.where(v.isNotNull())
        .groupBy(*group_cols, v.alias("_pc_v"))
        .agg(F.count(F.lit(1)).alias("_pc_cnt"))
    )
    return exact_percentiles_from_counts(
        vc, group_cols, "_pc_v", "_pc_cnt", ps, extras
    )


def exact_percentiles_from_counts(
    vc, group_cols, value_col, count_col, ps, extras=None
):
    """Core of :func:`exact_percentiles`, for callers that already hold
    a (group, distinct value, count) frame — e.g. an aggregation that
    needs both conditional counts and percentiles from one fact pass.
    ``value_col`` must be double and null-free; ``count_col`` a positive
    integer weight (this is therefore also the exact WEIGHTED
    percentile selector)."""
    from pyspark.sql import Window as W

    wp = W.partitionBy(*group_cols) if group_cols else W.partitionBy()
    cum = vc.select(
        *group_cols,
        F.col(value_col).alias("_pc_v"),
        F.col(count_col).alias("_pc_cnt"),
        F.sum(count_col)
        .over(
            wp.orderBy(value_col).rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        )
        .alias("_pc_cum"),
        F.sum(count_col).over(wp).alias("_pc_n"),
    )
    aggs = [F.any_value("_pc_n").alias("_pc_n")]
    for alias, kind in (extras or {}).items():
        if kind == "n":
            continue  # derived from _pc_n below
        elif kind == "min":
            aggs.append(F.min("_pc_v").alias(alias))
        elif kind == "max":
            aggs.append(F.max("_pc_v").alias(alias))
        elif kind == "sum":
            aggs.append(
                F.sum(
                    (F.col("_pc_v") * F.col("_pc_cnt")).cast(DEC)
                )
                .cast("double")
                .alias(alias)
            )
        else:
            raise ValueError(f"unknown extra stat: {kind!r}")
    for alias, p in ps.items():
        pos = F.lit(float(p)) * (F.col("_pc_n") - F.lit(1)).cast("double")
        aggs.append(
            F.min(
                F.when(F.col("_pc_cum") > F.floor(pos), F.col("_pc_v"))
            ).alias(f"_pc_lo_{alias}")
        )
        aggs.append(
            F.min(
                F.when(F.col("_pc_cum") > F.ceil(pos), F.col("_pc_v"))
            ).alias(f"_pc_hi_{alias}")
        )
    grouped = cum.groupBy(*group_cols).agg(*aggs)
    out = list(group_cols)
    for alias, p in ps.items():
        pos = F.lit(float(p)) * (F.col("_pc_n") - F.lit(1)).cast("double")
        lo, hi = F.floor(pos).cast("double"), F.ceil(pos).cast("double")
        vlo, vhi = F.col(f"_pc_lo_{alias}"), F.col(f"_pc_hi_{alias}")
        out.append(
            F.when(lo == hi, vlo)
            .otherwise(vlo * (hi - pos) + vhi * (pos - lo))
            .alias(alias)
        )
    for alias, kind in (extras or {}).items():
        if kind == "n":
            out.append(F.col("_pc_n").cast("long").alias(alias))
        else:
            out.append(F.col(alias))
    return grouped.select(*out)
