"""Window table-valued functions (reference §2.4 window TVFs).

Reference: TUMBLE/HOP/CUMULATE window table functions
(flink-table-planner/.../functions/sql/SqlTumbleTableFunction.java:37,
SqlHopTableFunction.java:38, SqlCumulateTableFunction.java:37; runtime slice
sharing in flink-table-runtime/.../operators/window/slicing/SliceAssigners.java:44)
and DataStream session windows
(flink-streaming-java/.../windowing/assigners/EventTimeSessionWindows.java).

Semantics (identical to the reference):
- window_start inclusive, window_end exclusive;
- TUMBLE(t, size): start = floor(t / size) * size;
- HOP(t, slide, size): every row lands in size/slide windows;
- CUMULATE(t, step, max): growing windows [start, start+step),
  [start, start+2*step) ... [start, start+max), all sharing
  start = floor(t / max) * max;
- SESSION(t, gap): windows merge while the gap between consecutive events
  is < gap; window_end = last_ts + gap.

Spark construction: tumble/hop map to the built-in ``window()``;
cumulate explodes each row into its covering slices (a deterministic
row-local computation — no shuffle added beyond the downstream groupBy);
session maps to the built-in ``session_window()`` (batch + streaming).
Each helper returns the input plus ``window_start`` / ``window_end``
columns, mirroring the TVF's appended columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_psl_spark.grouped import grouped_map


def _flatten(df: DataFrame, wcol: str = "__w") -> DataFrame:
    return (
        df.withColumn("window_start", F.col(f"{wcol}.start"))
        .withColumn("window_end", F.col(f"{wcol}.end"))
        .drop(wcol)
    )


def tumble(
    df: DataFrame, time_col: str, size: str, *, offset: str | None = None
) -> DataFrame:
    """TUMBLE(data, DESCRIPTOR(t), INTERVAL size [, INTERVAL offset]).

    ``offset`` shifts window alignment (reference: the window TVFs' optional
    offset argument, e.g. day windows starting at 08:00) — maps to Spark
    ``window``'s startTime."""
    w = (
        F.window(F.col(time_col), size)
        if offset is None
        else F.window(F.col(time_col), size, size, offset)
    )
    return _flatten(df.withColumn("__w", w))


def hop(
    df: DataFrame,
    time_col: str,
    slide: str,
    size: str,
    *,
    offset: str | None = None,
) -> DataFrame:
    """HOP(data, DESCRIPTOR(t), INTERVAL slide, INTERVAL size [, offset]).

    Spark's window(t, size, slide[, startTime]) assigns every covering
    window — exactly the HOP TVF's row multiplication.
    """
    return _flatten(
        df.withColumn("__w", F.window(F.col(time_col), size, slide, offset))
    )


def cumulate(df: DataFrame, time_col: str, step: str, max_size: str) -> DataFrame:
    """CUMULATE(data, DESCRIPTOR(t), INTERVAL step, INTERVAL max_size).

    No Spark primitive — built by exploding each row into its covering
    growing windows. A row at offset o inside its max_size window belongs to
    windows ending at ceil((o+1)/step)*step ... max_size, i.e.
    (max/step - floor(o/step)) windows. Row-local explode: stays in the
    scan stage, no extra shuffle; the multiplication factor is max/step
    (bounded, chosen by the query author) — same state/output cost the
    reference pays in SliceAssigners (one slice per step).
    """
    step_us = F.lit(_interval_us(step))
    max_us = F.lit(_interval_us(max_size))
    t_us = F.unix_micros(F.col(time_col))
    # all-integer arithmetic: float division on epoch-µs loses precision
    off = t_us % max_us
    start_us = t_us - off  # floor to the max-size window
    first_end = (F.floor(off / step_us).cast("long") + 1) * step_us
    ends = F.sequence(start_us + first_end, start_us + max_us, step_us)
    return (
        df.withColumn("__ends", ends)
        .withColumn("__end", F.explode("__ends"))
        .withColumn("window_start", F.timestamp_micros(start_us))
        .withColumn("window_end", F.timestamp_micros(F.col("__end")))
        .drop("__ends", "__end")
    )


def session(
    df: DataFrame, time_col: str, gap: str, partition_by: str | list[str] | None = None
) -> DataFrame:
    """SESSION windows (gap-merged). Returns per-row session start/end.

    Uses Spark's built-in ``session_window`` under a groupBy when an
    aggregation follows; this helper instead annotates rows (TVF semantics)
    via the gaps-and-islands construction so downstream ops can group by
    (keys, window_start). One shuffle on the partition keys.
    """
    from pyspark.sql.window import Window

    keys = (
        []
        if partition_by is None
        else [partition_by] if isinstance(partition_by, str) else list(partition_by)
    )
    w = Window.partitionBy(*keys).orderBy(F.col(time_col))
    gap_us = _interval_us(gap)
    t_us = F.unix_micros(F.col(time_col))
    prev = F.lag(t_us).over(w)
    new_session = F.when(
        prev.isNull() | ((t_us - prev) >= gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    sess_id = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    annotated = df.withColumn("__sess", sess_id)
    w2 = Window.partitionBy(*keys, "__sess")
    return (
        annotated.withColumn("window_start", F.min(F.col(time_col)).over(w2))
        .withColumn(
            "window_end",
            F.timestamp_micros(F.max(t_us).over(w2) + F.lit(gap_us)),
        )
        .drop("__sess")
    )


_UNIT_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60 * 1_000_000,
    "hour": 3_600 * 1_000_000,
    "day": 86_400 * 1_000_000,
}


def _interval_us(spec: str) -> int:
    """Parse '10 minutes' / '1 hour' into microseconds."""
    parts = spec.strip().split()
    if len(parts) != 2:
        raise ValueError(f"interval spec must be '<n> <unit>', got {spec!r}")
    n, unit = parts
    unit = unit.lower().rstrip("s")
    if unit not in _UNIT_US:
        raise ValueError(f"unsupported interval unit {unit!r} in {spec!r}")
    return int(n) * _UNIT_US[unit]


def gap_fill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    bucket: str = "hour",
    step_expr: str = "interval 1 hour",
    tiebreak_col: str | None = None,
    mode: str = "locf",
) -> DataFrame:
    """Time-series gap filling with last-observation-carried-forward —
    the resampling primitive every metrics/feature pipeline needs and
    neither engine ships whole: produce one row per ``bucket`` per key
    from the key's first to last observation, carrying the latest value
    across empty buckets (``filled`` marks carried rows).

    Plan shape: per-key bucket grids come from ``sequence()`` over a
    per-key min/max aggregate (grid size = time span / step, never
    corpus-sized); actual observations reduce to one row per (key,
    bucket) by a rank-1 window (latest by ts, then ``tiebreak_col``);
    LOCF is one ``last(ignorenulls)`` running window per key — all
    shuffles key-bounded, no driver involvement.

    ``mode="linear"`` interpolates interior gaps between the two
    surrounding observations instead of carrying (trailing gaps still
    carry — there is no right endpoint); one extra mirrored
    first(ignorenulls) window, same cost class.
    """
    from pyspark.sql import Window

    b = F.date_trunc(bucket, F.col(ts_col))
    order = [F.col(ts_col).desc()] + (
        [F.col(tiebreak_col).desc()] if tiebreak_col else []
    )
    w_rank = Window.partitionBy(key_col, "__bucket").orderBy(*order)
    obs = (
        df.withColumn("__bucket", b)
        .withColumn("__rn", F.row_number().over(w_rank))
        .where(F.col("__rn") == 1)
        .select(key_col, "__bucket", F.col(value_col).alias("__v"))
    )
    span = df.groupBy(key_col).agg(
        F.date_trunc(bucket, F.min(ts_col)).alias("__lo"),
        F.date_trunc(bucket, F.max(ts_col)).alias("__hi"),
    )
    grid = span.select(
        key_col,
        F.explode(
            F.expr(f"sequence(__lo, __hi, {step_expr})")
        ).alias("__bucket"),
    )
    w_fill = (
        Window.partitionBy(key_col)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = grid.join(obs, on=[key_col, "__bucket"], how="left")
    prev_v = F.last("__v", ignorenulls=True).over(w_fill)
    if mode == "locf":
        return joined.select(
            key_col,
            F.col("__bucket").alias("bucket"),
            prev_v.alias(value_col),
            F.col("__v").isNull().alias("filled"),
        )
    if mode != "linear":
        raise ValueError(f"unknown gap-fill mode: {mode!r}")
    w_fwd = (
        Window.partitionBy(key_col)
        .orderBy("__bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_seq = Window.partitionBy(key_col).orderBy("__bucket")
    pos = F.row_number().over(w_seq).cast("double")
    with_ends = joined.select(
        key_col,
        "__bucket",
        "__v",
        prev_v.alias("__pv"),
        F.first("__v", ignorenulls=True).over(w_fwd).alias("__nv"),
        (pos - F.last(F.when(F.col("__v").isNotNull(), pos),
                      ignorenulls=True).over(w_fill)).alias("__dl"),
        (F.first(F.when(F.col("__v").isNotNull(), pos),
                 ignorenulls=True).over(w_fwd) - pos).alias("__dr"),
    )
    interp = F.when(
        F.col("__v").isNotNull(), F.col("__v")
    ).when(
        F.col("__nv").isNull(), F.col("__pv")  # trailing gap → carry
    ).otherwise(
        F.col("__pv")
        + (F.col("__nv") - F.col("__pv"))
        * (F.col("__dl") / (F.col("__dl") + F.col("__dr")))
    )
    return with_ends.select(
        key_col,
        F.col("__bucket").alias("bucket"),
        interp.alias(value_col),
        F.col("__v").isNull().alias("filled"),
    )


def ewma_anomaly(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    bucket: str = "hour",
    alpha: float = 0.25,
    threshold: float,
) -> DataFrame:
    """Exponentially-weighted smoothing + residual anomaly flags over a
    per-key time series — the sequential-recurrence operator
    (``s_t = alpha*x_t + (1-alpha)*s_{t-1}``) the engine's window
    functions cannot express (each output depends on the previous
    OUTPUT, not a frame of inputs).

    The recurrence runs in one :func:`grouped_map` call per key: each
    key's bucketed series arrives in bucket order and replays the
    recurrence in plain float64. The grouped map shuffles on the key
    after the bucket aggregate's own shuffle. Series length per key =
    time span / bucket (a bounded grid, not the event count), so state
    per task stays small at any corpus scale.

    Determinism: the bucketed input ``x`` is an exact DECIMAL(18,2) sum
    (order-proof) cast back to double, and every recurrence step is the
    same fixed IEEE op order any engine replays bit-identically (use an
    ``alpha`` with an exact binary representation — 0.25, 0.5 — when a
    cross-engine replica must match exactly).

    Output: (key, bucket_ts, x, smoothed, residual, anomaly) where
    ``residual = x_t - s_{t-1}`` (0.0 for the first bucket) and
    ``anomaly = |residual| > threshold``.
    """
    import pandas as pd

    xagg = (
        df.groupBy(
            F.col(key_col).alias("__k"),
            F.date_trunc(bucket, F.col(ts_col)).alias("__b"),
        )
        .agg(
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("__x")
        )
    )
    a = float(alpha)
    thr = float(threshold)

    def replay(pdf):
        s_prev = None
        sm, res, flag = [], [], []
        for x in pdf["__x"]:
            if s_prev is None:
                s, r = x, 0.0
            else:
                s = a * x + (1 - a) * s_prev
                r = x - s_prev
            sm.append(s)
            res.append(r)
            flag.append(abs(r) > thr)
            s_prev = s
        pdf["__s"] = sm
        pdf["__r"] = res
        pdf["__f"] = flag
        return pdf

    schema = f"__k {dict(df.dtypes)[key_col]}, __b timestamp, __x double, "
    schema += "__s double, __r double, __f boolean"
    order = [F.col("__b").asc_nulls_last()]
    out = grouped_map(xagg, "__k", replay, schema, order)
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__b").alias("bucket_ts"),
        F.round("__x", 2).alias("x"),
        F.round("__s", 6).alias("smoothed"),
        F.round("__r", 6).alias("residual"),
        F.col("__f").alias("anomaly"),
    )
