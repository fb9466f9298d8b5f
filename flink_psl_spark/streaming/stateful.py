"""Custom stateful streaming operators (reference §2.9 keyed state + timers).

Built on ``applyInPandasWithState`` (GroupState + timeouts) — the Spark
analogue of the reference's KeyedProcessFunction with ValueState/ListState
and timers (flink-core/.../api/common/state/, KeyedStream.process).

``keyed_top_n`` is the streaming Top-N operator (reference:
StreamExecRank.java:83, AppendOnlyTopNFunction.java:52): it maintains a
bounded per-key buffer of the current top-n rows and emits the full refreshed
top-n of every key that changed in a micro-batch — an upsert stream keyed by
(key, rank), the same contract the reference's retract/upsert rank emits.

State size is O(keys × n × payload) — bounded by construction (the buffer
never exceeds n rows/key), which is what makes it safe at 100 TB key
cardinalities; the state store (RocksDB) spills to disk.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_psl_spark.streaming.state import RowState


def keyed_top_n(
    events: DataFrame,
    key_col: str,
    order_col: str,
    n: int,
    *,
    payload_cols: list[str] | None = None,
    descending: bool = True,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming Top-N per key over an append stream.

    Returns an update stream with schema
    (key, rank, order_value, *payload) — each micro-batch re-emits the
    refreshed top-n for keys whose top-n changed.

    ``tiebreak_cols`` (a subset of ``payload_cols``, sorted ascending) make
    equal ``order_col`` values rank deterministically instead of by arrival
    order — required for cross-engine comparison of the final top-n.
    """
    payload_cols = payload_cols or []
    tiebreak_cols = tiebreak_cols or []
    if not set(tiebreak_cols) <= set(payload_cols):
        raise ValueError("tiebreak_cols must be a subset of payload_cols")
    in_cols = [key_col, order_col, *payload_cols]
    src = events.select(*in_cols)

    out_fields = ", ".join(
        [f"{key_col} {_dt(src, key_col)}", "rank int",
         f"{order_col} {_dt(src, order_col)}"]
        + [f"{c} {_dt(src, c)}" for c in payload_cols]
    )
    rows = RowState(src, [order_col, *payload_cols])

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        buf = rows.load(state)
        new = rows.extend(buf, batches).sort_values(
            [order_col, *tiebreak_cols],
            ascending=[not descending] + [True] * len(tiebreak_cols),
            kind="mergesort",
        ).head(n)
        changed = len(new) != len(buf) or not new.reset_index(drop=True).equals(
            buf.reset_index(drop=True)
        )
        rows.save(state, new)
        if changed:
            out = new.reset_index(drop=True)
            out.insert(0, "rank", range(1, len(out) + 1))
            out.insert(0, key_col, key[0])
            yield out

    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_fields,
        stateStructType=rows.schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _dt(df: DataFrame, col: str) -> str:
    return dict(df.dtypes)[col]


def keyed_running_agg(
    events: DataFrame,
    key_col: str,
    value_col: str,
    *,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Per-key running aggregate (cnt, sum, min, max) as an update stream —
    the reference's streaming group aggregation (StreamExecGroupAggregate
    .java:81, GroupAggFunction.java) with idle-state retention
    (``table.exec.state.ttl`` ≈ ``ttl_ms``, StateTtlConfig).

    ``cnt`` is COUNT(*); ``total``, ``min_v`` and ``max_v`` fold only the
    non-NULL values, as SQL's SUM/MIN/MAX do (NULL while a key has seen
    none), so no NaN ever reaches state.

    TTL is expire-on-read: the state keeps the processing time of the
    key's last update, and when ``ttl_ms`` is set and a batch finds
    ``getCurrentProcessingTimeMs() - last_ms >= ttl_ms``, the key's
    previous values are treated as absent before the batch is folded in
    (Flink's default ``NeverReturnExpired`` visibility, measured in
    processing time as StateTtlConfig measures it). No timeout is
    registered, so an idle key's state is not cleaned up; it is only
    never read again.
    """
    src = events.select(key_col, value_col)
    out_schema = (
        f"{key_col} {_dt(src, key_col)}, cnt bigint, total double, "
        "min_v double, max_v double"
    )

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        now = state.getCurrentProcessingTimeMs()
        cnt, total, mn, mx = 0, None, None, None
        if state.exists:
            *agg, last_ms = state.get
            if ttl_ms is None or now - last_ms < ttl_ms:
                cnt, total, mn, mx = agg
        for pdf in batches:
            cnt += len(pdf)
            v = pdf[value_col].dropna()
            if len(v):
                add, lo, hi = float(v.sum()), float(v.min()), float(v.max())
                total = add if total is None else total + add
                mn = lo if mn is None else min(mn, lo)
                mx = hi if mx is None else max(mx, hi)
        state.update((cnt, total, mn, mx, now))
        yield pd.DataFrame(
            {key_col: [key[0]], "cnt": [cnt], "total": [total],
             "min_v": [mn], "max_v": [mx]}
        )

    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=(
            "cnt bigint, total double, min_v double, max_v double, "
            "last_ms bigint"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def connect_keyed(
    data: DataFrame,
    control: DataFrame,
    key_col: str,
    order_col: str,
    process: "Callable[[object, pd.DataFrame, dict], tuple[pd.DataFrame | None, dict]]",
    out_schema: str,
    state_schema: str = "state_json string",
) -> DataFrame:
    """connect / CoProcessFunction (reference: DataStream.connect:253,
    ConnectedStreams + broadcast state pattern; SURVEY §2.9 — Spark has no
    two-input operator, so the two streams are unioned with a discriminator
    column and processed by one stateful op).

    ``data`` and ``control`` must share ``key_col`` and ``order_col``; their
    remaining columns are carried in a JSON payload (schema-agnostic glue —
    typed fast paths should write a dedicated applyInPandasWithState op).

    ``process(key, rows, state_dict) -> (emit_df | None, new_state_dict)``
    sees each micro-batch's rows for one key, ordered by (order_col, side)
    with control rows first at equal timestamps — the reference's
    recommended control-priority convention. ``state_dict`` is an arbitrary
    JSON-serializable dict (≈ ValueState).

    The output depends on how the input splits into micro-batches:
    ``process`` orders rows within one batch only, so a control row that
    arrives a batch after an earlier-timestamped data row does not gate
    it.
    """
    import json as _json

    d = data.select(
        F.col(key_col).alias("__k"),
        F.col(order_col).alias("__o"),
        F.lit(1).alias("__side"),
        F.to_json(F.struct(*[c for c in data.columns])).alias("__payload"),
    )
    c = control.select(
        F.col(key_col).alias("__k"),
        F.col(order_col).alias("__o"),
        F.lit(0).alias("__side"),
        F.to_json(F.struct(*[c for c in control.columns])).alias("__payload"),
    )
    unioned = d.unionByName(c)

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        st = _json.loads(state.get[0]) if state.exists else {}
        for b in batches:
            b = b.sort_values(["__o", "__side"], kind="mergesort")
            rows = pd.DataFrame(
                {
                    "side": b["__side"].map({0: "control", 1: "data"}),
                    "order": b["__o"],
                    "payload": [_json.loads(p) for p in b["__payload"]],
                }
            )
            emit, st = process(key[0], rows, st)
            if emit is not None and len(emit):
                yield emit
        state.update((_json.dumps(st),))

    return unioned.groupBy("__k").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def keyed_count_window(
    events: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    size: int,
    *,
    evictor: tuple | None = None,
) -> DataFrame:
    """Count-based tumbling windows (reference:
    flink-streaming-java/.../windowing/assigners — countWindow(size) on
    KeyedStream; no Spark primitive, SURVEY §2.9 'count windows').

    Buffers rows per key; every ``size`` rows (in ``order_col`` order within
    the buffered prefix) emits one aggregate row (n, sum, min, max) and
    drops them from state. Incomplete tails stay in state across batches —
    state is bounded at ``size - 1`` rows per key.

    ``evictor`` applies the reference's pre-aggregation eviction inside
    each fired window (windowing/evictors/):

    - ``("count", m)`` — CountEvictor.of(m): keep only the LAST m elements;
    - ``("delta", thr)`` — DeltaEvictor.of(thr, delta): evict elements
      whose |value - last element's value| > thr.

    The window still fires on ``size`` buffered rows; eviction only shapes
    what the aggregate sees — exactly the reference contract (evictors run
    between trigger firing and the window function).

    Ordering contract: rows are processed in (arrival batch, order_col)
    order — the reference's processing-time count window; with a
    single-batch bounded replay this equals global event-time order.
    """
    if evictor is not None and evictor[0] not in ("count", "delta"):
        raise ValueError(f"unknown evictor {evictor[0]!r}")
    src = events.select(key_col, order_col, value_col)
    k_dt = _dt(src, key_col)
    out_fields = (
        f"{key_col} {k_dt}, window_seq bigint, n int, "
        f"sum_v double, min_v double, max_v double"
    )
    rows = RowState(src, [order_col, value_col], scalars="seq bigint")

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        buf, seq = rows.load(state, 0)
        outs = []
        for b in batches:
            b = b.sort_values(order_col, kind="mergesort")
            buf = rows.extend(buf, [b])
            while len(buf) >= size:
                win, buf = buf.iloc[:size], buf.iloc[size:]
                if evictor is not None:
                    kind, arg = evictor
                    if kind == "count":
                        win = win.iloc[-int(arg):]
                    else:  # delta vs the window's last element
                        last = win[value_col].iloc[-1]
                        win = win[(win[value_col] - last).abs() <= arg]
                outs.append(
                    {
                        key_col: key[0],
                        "window_seq": seq,
                        "n": len(win),
                        "sum_v": float(win[value_col].sum()),
                        "min_v": float(win[value_col].min()),
                        "max_v": float(win[value_col].max()),
                    }
                )
                seq += 1
        rows.save(state, buf, seq)
        if outs:
            yield pd.DataFrame(outs)

    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_fields,
        stateStructType=rows.schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_rows_over(
    events: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    preceding: int,
    *,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming OVER aggregate, ROWS BETWEEN ``preceding`` PRECEDING AND
    CURRENT ROW (reference: StreamExecOverAggregate.java:91,
    ProcTimeRowsBoundedPrecedingFunction.java — Spark has no streaming
    OVER; SURVEY §2.5).

    Emits one row per input row with running (sum, avg, cnt) over the last
    ``preceding``+1 rows of the same key. State is exactly the last
    ``preceding`` (order, value) pairs per key — bounded by construction.

    Ordering contract: same as ``keyed_count_window`` (processing order
    within key; event-time order under single-batch replay — the
    reference's proc-time variant semantics).
    """
    payload_cols = payload_cols or []
    src = events.select(key_col, order_col, value_col, *payload_cols)
    k_dt, o_dt, v_dt = (_dt(src, c) for c in (key_col, order_col, value_col))
    pay_out = "".join(
        f", {c} {_dt(src, c)}" for c in payload_cols
    )
    out_fields = (
        f"{key_col} {k_dt}, {order_col} {o_dt}, {value_col} {v_dt}{pay_out}, "
        f"run_sum double, run_avg double, run_cnt int"
    )
    rows = RowState(src, [order_col, value_col])

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        tail = rows.load(state)
        for b in batches:
            b = b.sort_values(order_col, kind="mergesort").reset_index(drop=True)
            hist = rows.extend(tail, [b])
            n_tail = len(tail)
            out = b.copy()
            sums, avgs, cnts = [], [], []
            vals_np = hist[value_col].to_numpy()
            for i in range(len(b)):
                hi = n_tail + i + 1
                lo = max(0, hi - (preceding + 1))
                w = vals_np[lo:hi]
                sums.append(float(w.sum()))
                avgs.append(float(w.mean()))
                cnts.append(len(w))
            out["run_sum"] = sums
            out["run_avg"] = avgs
            out["run_cnt"] = cnts
            tail = hist.iloc[max(0, len(hist) - preceding):]
            yield out
        rows.save(state, tail)

    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_fields,
        stateStructType=rows.schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_range_over(
    events: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    preceding: str,
    *,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming OVER aggregate, RANGE BETWEEN INTERVAL ``preceding``
    PRECEDING AND CURRENT ROW (reference: StreamExecOverAggregate.java:91,
    RowTimeRangeBoundedPrecedingFunction.java:55).

    Value-based frame: each output row aggregates every row of the same key
    whose ``order_col`` lies in [t - preceding, t] — including equal-time
    peers, matching SQL RANGE semantics (the reference fires per timestamp,
    emitting all peers together). State is the (order, value) tail within
    the trailing interval of the newest row — bounded by the time span ×
    per-key rate, exactly the reference's retained-rows contract.

    Ordering contract: same as ``streaming_rows_over`` (event-time order
    under single-batch replay; peers split across micro-batches join only
    forward).
    """
    payload_cols = payload_cols or []
    src = events.select(key_col, order_col, value_col, *payload_cols)
    k_dt, o_dt, v_dt = (_dt(src, c) for c in (key_col, order_col, value_col))
    pay_out = "".join(f", {c} {_dt(src, c)}" for c in payload_cols)
    out_fields = (
        f"{key_col} {k_dt}, {order_col} {o_dt}, {value_col} {v_dt}{pay_out}, "
        f"run_sum double, run_avg double, run_cnt int"
    )
    rows = RowState(src, [order_col, value_col])
    delta = pd.Timedelta(preceding)

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        import numpy as np

        tail = rows.load(state)
        for b in batches:
            b = b.sort_values(order_col, kind="mergesort").reset_index(drop=True)
            hist = (
                rows.extend(tail, [b])
                .sort_values(order_col, kind="mergesort")
                .reset_index(drop=True)
            )
            ords_np = hist[order_col].to_numpy()
            vals_np = hist[value_col].to_numpy()
            out = b.copy()
            sums, avgs, cnts = [], [], []
            b_ords = b[order_col].to_numpy()
            np_delta = np.timedelta64(delta)
            for t in b_ords:
                lo = np.searchsorted(ords_np, t - np_delta, side="left")
                hi = np.searchsorted(ords_np, t, side="right")
                w = vals_np[lo:hi]
                sums.append(float(w.sum()))
                avgs.append(float(w.mean()))
                cnts.append(int(hi - lo))
            out["run_sum"] = sums
            out["run_avg"] = avgs
            out["run_cnt"] = cnts
            cutoff = ords_np[-1] - np_delta if len(ords_np) else None
            tail = (
                hist[hist[order_col] >= cutoff]
                if cutoff is not None
                else hist
            )
            yield out
        rows.save(state, tail)

    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_fields,
        stateStructType=rows.schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_event_time_sort(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    payload_cols: list[str] | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Event-time streaming sort (reference StreamExecTemporalSort.java:64,
    RowTimeSortOperator.java): buffer per key, emit rows in (ts, tiebreak)
    order once the watermark finalizes them — late rows can no longer land
    inside an emitted prefix. ``emit_seq`` numbers the emission order per
    key, making orderedness value-checkable downstream (an order-insensitive
    result compare still proves the sort via the sequence column).

    Input must be watermarked on ``ts_col``. State holds only unfinalized
    rows; event-time timeouts wake keys when the watermark passes their
    oldest buffered row (same trigger pattern as streaming CEP).
    """
    payload_cols = payload_cols or []
    sort_cols = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    src = events.select(
        key_col, ts_col, *dict.fromkeys(payload_cols + ([tiebreak_col] if tiebreak_col else []))
    )
    k_dt = _dt(src, key_col)
    pay_cols = list(dict.fromkeys(payload_cols + ([tiebreak_col] if tiebreak_col else [])))
    pay_out = "".join(f", {c} {_dt(src, c)}" for c in pay_cols)
    out_fields = f"{key_col} {k_dt}, emit_seq bigint, {ts_col} {_dt(src, ts_col)}{pay_out}"
    out_names = [key_col, "emit_seq", ts_col, *pay_cols]
    # MICROsecond epoch in state: events carry sub-ms timestamps, a ms
    # cast would truncate emitted values
    rows = RowState(
        src, [ts_col, *pay_cols], scalars="seq bigint", epoch=ts_col
    )

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        buf, seq = rows.load(state, 0)
        buf = rows.extend(buf, batches)
        wm_us = state.getCurrentWatermarkMs() * 1000
        emitted = None
        if len(buf):
            buf = buf.sort_values(sort_cols, kind="mergesort").reset_index(
                drop=True
            )
            final = buf[buf[ts_col] <= wm_us]
            if len(final):
                emitted = final.copy()
                emitted[key_col] = key[0]
                emitted["emit_seq"] = range(seq, seq + len(final))
                emitted[ts_col] = pd.to_datetime(emitted[ts_col], unit="us")
                seq += len(final)
                buf = buf[buf[ts_col] > wm_us]
        rows.save(state, buf, seq)
        if len(buf):
            state.setTimeoutTimestamp(_timer_ms(int(buf[ts_col].min()), wm_us))
        if emitted is not None:
            yield emitted[out_names]

    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_fields,
        stateStructType=rows.schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def with_current_watermark(
    events: DataFrame,
    ts_col: str,
    delay: str,
    key_col: str,
    *,
    wm_col: str = "current_watermark",
) -> DataFrame:
    """CURRENT_WATERMARK() parity (reference
    BuiltInFunctionDefinitions.java:1754 — SQL ``CURRENT_WATERMARK(rowtime)``
    annotates rows with the operator's watermark at processing time).

    Spark exposes no expression-level watermark, but the stateful-processing
    API does (``GroupState.getCurrentWatermarkMs``) — so the annotation runs
    as a pass-through ``applyInPandasWithState`` op: rows stream through
    unchanged plus a ``wm_col`` timestamp column (NULL while the watermark
    is still unset, exactly the reference's nullable CURRENT_WATERMARK).
    ``key_col`` only sets the parallelism of the pass-through (the watermark
    is global per query, as in Spark's model; Flink's is per-operator).
    Typical uses carried over from the reference: routing late-but-accepted
    rows, debugging watermark lag, gating emission in custom operators.
    The annotation is the watermark of the micro-batch a row arrives in,
    so it depends on how the input splits into batches.
    """
    cols = list(events.columns)
    out_fields = ", ".join(f"{c} {t}" for c, t in events.dtypes)
    out_schema = f"{out_fields}, {wm_col} timestamp"

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        wm_ms = state.getCurrentWatermarkMs()
        # state must be touched for the engine to track the group; store the
        # last seen watermark (useful for debugging, not read back)
        state.update((int(wm_ms),))
        wm = (
            pd.Timestamp(wm_ms, unit="ms")
            if wm_ms > 0
            else pd.NaT  # unset watermark -> NULL, as in the reference
        )
        for pdf in batches:
            out = pdf[cols].copy()
            out[wm_col] = wm
            yield out

    return (
        events.withWatermark(ts_col, delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType="wm_ms bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _interval_ms(s: str) -> int:
    """'10 minutes' / '1 day' / '500 milliseconds' → milliseconds.

    Delegates to operators.windows._interval_us so every operator
    documented as interval-equivalent parses the same unit table
    (singular/plural, millisecond..day) and raises the same descriptive
    ValueError on junk."""
    from flink_psl_spark.operators.windows import _interval_us

    return _interval_us(s) // 1000


def _timer_ms(due_us: int, wm_us: int | None = None) -> int:
    """Event-time timer (epoch ms) for the finalization point ``due_us``,
    armed 1 ms EARLY: Spark fires event-time timeouts only when the
    watermark STRICTLY exceeds the set timestamp, while Flink's onTimer
    fires at wm >= t — arming at due-1ms keeps the boundary case (the
    watermark landing exactly on ``due_us``) firing, and an early fire is
    harmless because every caller's flush predicate re-checks due <= wm
    and re-arms. GroupState rejects a timestamp that is not beyond the
    current watermark: pass ``wm_us`` to keep the timer past it."""
    early = due_us // 1000 - 1
    return early if wm_us is None else max(early, wm_us // 1000 + 1)


def timer_session_agg(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    gap: str = "10 minutes",
    delay: str = "10 minutes",
) -> DataFrame:
    """Event-time session aggregation driven by REGISTERED TIMERS — the
    reference's KeyedProcessFunction pattern (buffer rows in keyed state,
    ``registerEventTimeTimer(last_ts + gap)``, finalize in ``onTimer``
    when the watermark passes; reference: KeyedProcessFunction.java
    onTimer / InternalTimerServiceImpl, and the session merging of
    EventTimeSessionWindows + EventTimeTrigger). The Spark counterpart of
    registerEventTimeTimer/onTimer is ``setTimeoutTimestamp`` +
    ``hasTimedOut`` under ``GroupStateTimeout.EventTimeTimeout`` — one
    event-time timer per key, fired by watermark passage.

    Distinct from the native ``session_window`` agg (stream_session_agg):
    this is the TIMER machinery itself — out-of-order rows buffer in
    typed-array state; each batch re-arms the key's timer at the earliest
    pending finalization point; firing sorts the buffer, splits on
    >= gap inactivity, emits every session whose (last + gap) the
    watermark has passed, retains the rest and re-arms. Emits
    (key, session_start, session_end, n, total) — session_end =
    last + gap, exactly session_window's bound; ``n`` counts every row
    and ``total`` sums the non-NULL values (NULL when all are NULL), as
    the batch COUNT(*) and SUM do.

    State per key = the un-finalized tail (bounded by the watermark: rows
    older than wm - gap always finalize on the next firing), plus one
    timer. Scale-safe at high key cardinality: RocksDB-backed state.
    """
    gap_us = _interval_ms(gap) * 1000  # µs state: events carry sub-ms ts
    src = events.select(
        key_col, ts_col, F.col(value_col).cast("double").alias(value_col)
    ).withWatermark(ts_col, delay)
    rows = RowState(src, [ts_col, value_col], epoch=ts_col)

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        frame = rows.extend(rows.load(state), batches)
        # (start, last, n, total) per session: a gap >= ``gap`` splits,
        # as session_window merges; n counts every row (COUNT(*)), total
        # folds the non-NULL values (SUM: None while it has seen none)
        sessions: list[tuple[int, int, int, float | None]] = []
        for t, v in sorted(zip(frame[ts_col], frame[value_col])):
            v = None if pd.isna(v) else v
            if sessions and t - sessions[-1][1] < gap_us:
                start, _, n, total = sessions[-1]
                if v is not None:
                    total = v if total is None else total + v
                sessions[-1] = (start, t, n + 1, total)
            else:
                sessions.append((t, t, 1, v))
        # "onTimer": the watermark passed last + gap. Sessions end in
        # start order, so the pending ones are a suffix.
        wm_us = state.getCurrentWatermarkMs() * 1000
        done = [d for d in sessions if d[1] + gap_us <= wm_us]
        pending = sessions[len(done):]
        if pending:
            rows.save(state, frame[frame[ts_col] >= pending[0][0]])
            # re-arm at the earliest pending finalization point
            # (registerEventTimeTimer)
            state.setTimeoutTimestamp(
                _timer_ms(pending[0][1] + gap_us, wm_us)
            )
        else:
            state.remove()
        if done:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(done),
                    "session_start": pd.to_datetime(
                        [d[0] for d in done], unit="us"
                    ),
                    "session_end": pd.to_datetime(
                        [d[1] + gap_us for d in done], unit="us"
                    ),
                    "n": [d[2] for d in done],
                    "total": [d[3] for d in done],
                }
            )

    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=(
            f"{key_col} {_dt(src, key_col)}, session_start timestamp, "
            "session_end timestamp, n bigint, total double"
        ),
        stateStructType=rows.schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _keyed_sessions(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    turn_col: str,
    order_col: str,
    gap: str,
    delay: str,
    out_schema: str,
    emit: Callable[[Any, int, list], Iterator[pd.DataFrame]],
) -> DataFrame:
    """Session machinery of :func:`session_transcripts` and
    :func:`stream_sft_loss_mask`: rows buffer per key as (ts, order,
    turn); each call finalizes every gap-split session whose ``last +
    gap`` the watermark has passed and hands them, each a (ts, order)-
    sorted list of ``(ts_us, order, turn)`` rows, to ``emit(key, n_done,
    done)`` — ``n_done`` counts the key's sessions finalized before.
    Sessions finalize in start-time order per key (an earlier session's
    end always passes the watermark first), so ``n_done + i + 1`` equals
    the batch formulation's running-sum session id.

    State per key = the un-finalized tail + the ordinal counter + one
    timer — watermark-bounded exactly as timer_session_agg.
    """
    gap_us = _interval_ms(gap) * 1000
    src = events.select(key_col, ts_col, order_col, turn_col).withWatermark(
        ts_col, delay
    )
    rows = RowState(
        src, [ts_col, order_col, turn_col], scalars="n_done bigint",
        epoch=ts_col,
    )

    def _split(buf: list[tuple[int, int, str]]):
        """Sorted buffer → list of sessions (each a list of rows)."""
        out: list[list[tuple[int, int, str]]] = []
        for row in sorted(buf):
            if out and row[0] - out[-1][-1][0] <= gap_us:
                out[-1].append(row)
            else:
                out.append([row])
        return out

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        frame, n_done = rows.load(state, 0)
        frame = rows.extend(frame, batches)
        buf = [
            (int(t), int(o), str(v))
            for t, o, v in zip(
                frame[ts_col], frame[order_col], frame[turn_col]
            )
        ]
        wm_us = state.getCurrentWatermarkMs() * 1000
        done, pending = [], []
        for sess in _split(buf):
            (done if sess[-1][0] + gap_us <= wm_us else pending).append(sess)
        if pending or done:
            # a key may still receive rows later: keep the ordinal counter
            tail = [row for sess in pending for row in sess]
            rows.save(
                state, pd.DataFrame(tail, columns=rows.cols),
                n_done + len(done),
            )
            state.setTimeoutTimestamp(
                _timer_ms(min(s[-1][0] + gap_us for s in pending), wm_us)
                if pending
                else wm_us // 1000 + 3_600_000
            )
        if done:
            yield from emit(key[0], n_done, done)

    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=rows.schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def session_transcripts(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    turn_col: str,
    order_col: str,
    *,
    gap: str = "30 minutes",
    delay: str = "10 minutes",
    max_turns: int = 64,
) -> DataFrame:
    """STREAMING conversation assembly: the event-time-timer session
    machinery of :func:`timer_session_agg`, emitting ordered TRANSCRIPTS
    instead of numeric aggregates — the continuous-ingest counterpart of
    ``llm.assemble_conversations`` (chat-log → training-document at
    arrival time).

    Rows buffer as (ts, order, turn) in keyed state; watermark passage
    finalizes every gap-split session whose ``last + gap`` it has
    passed, emitting ``(key, session_n, n_turns, first_ts, last_ts,
    transcript)`` with turns concatenated in (ts, order) order and
    capped at ``max_turns``. ``session_n`` is a per-key ordinal carried
    in state: sessions finalize in start-time order per key (an earlier
    session's end always passes the watermark first), so the numbering
    equals the batch formulation's running-sum session id.

    State per key = the un-finalized tail + one counter + one timer —
    watermark-bounded exactly as timer_session_agg.
    """
    out_schema = (
        f"{key_col} {_dt(events, key_col)}, session_n bigint, n_turns bigint, "
        "first_ts timestamp, last_ts timestamp, transcript string"
    )

    def emit(key, n_done, done):
        yield pd.DataFrame(
            {
                key_col: [key] * len(done),
                "session_n": [n_done + i + 1 for i in range(len(done))],
                "n_turns": [len(s) for s in done],
                "first_ts": pd.to_datetime([s[0][0] for s in done], unit="us"),
                "last_ts": pd.to_datetime([s[-1][0] for s in done], unit="us"),
                "transcript": [
                    " ".join(v for _, _, v in s[:max_turns]) for s in done
                ],
            }
        )

    return _keyed_sessions(
        events, key_col, ts_col, turn_col, order_col, gap, delay,
        out_schema, emit,
    )


def stream_gap_fill(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    bucket_ms: int = 3_600_000,
    delay: str = "1 second",
) -> DataFrame:
    """STREAMING last-observation-carried-forward resampling — the
    continuous form of operators.windows.gap_fill: per key, emit one
    append-mode row per ``bucket_ms`` bucket as soon as the watermark
    finalizes it (bucket end <= wm), carrying the latest value across
    empty buckets and marking carried rows ``filled``. A bucket's
    observation is its latest row; when that row's value is NULL the
    bucket is ``filled`` with the carried value, as the batch operator's
    ``last(ignorenulls)`` does.

    Unlike the batch operator (whose grid stops at the last
    observation), the stream keeps emitting carried buckets while the
    watermark advances — a live metric stays defined between samples,
    which is exactly why pipelines run the streaming form.

    State per key: the carry value, the last emitted bucket, and the
    not-yet-finalized observation tail (watermark-bounded). Event-time
    timers re-arm at the next bucket end (1 ms early, the repo's timer
    boundary rule) so carried buckets flush even when the key itself
    receives no further data.
    """
    gap_us = bucket_ms * 1000
    src = events.select(
        key_col, ts_col, F.col(value_col).cast("double").alias(value_col)
    ).withWatermark(ts_col, delay)
    k_dt = _dt(src, key_col)
    out_schema = (
        f"{key_col} {k_dt}, bucket timestamp, "
        f"{value_col} double, filled boolean"
    )
    rows = RowState(
        src, [ts_col, value_col],
        scalars="last_bucket_us bigint, carry double", epoch=ts_col,
    )

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        frame, last_us, carry = rows.load(state, -1, None)
        frame = rows.extend(frame, batches)
        buf = sorted(zip(frame[ts_col], frame[value_col]))
        wm_us = state.getCurrentWatermarkMs() * 1000
        out = []
        if buf or last_us >= 0:
            start = (
                last_us + gap_us
                if last_us >= 0
                else (buf[0][0] // gap_us) * gap_us
            )
            b = start
            i = 0
            while b + gap_us <= wm_us:
                # the bucket's observation is its latest row, as in the
                # batch operator; a NULL one leaves the bucket filled
                # with the carried value (last(ignorenulls))
                latest = None
                while i < len(buf) and buf[i][0] < b + gap_us:
                    if buf[i][0] >= b:
                        latest = buf[i][1]
                    i += 1
                observed = not pd.isna(latest)
                if observed:
                    carry = latest
                out.append((b, carry, not observed))
                last_us = b
                b += gap_us
            buf = buf[i:]
        rows.save(state, pd.DataFrame(buf, columns=rows.cols), last_us, carry)
        if last_us >= 0 or buf:
            nxt = (last_us + 2 * gap_us) if last_us >= 0 else (
                (buf[0][0] // gap_us) * gap_us + gap_us
            )
            state.setTimeoutTimestamp(_timer_ms(nxt, wm_us))
        if out:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(out),
                    "bucket": pd.to_datetime(
                        [r[0] for r in out], unit="us"
                    ),
                    value_col: [r[1] for r in out],
                    "filled": [r[2] for r in out],
                }
            )

    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=rows.schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_ewma_anomaly(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    bucket_ms: int = 86_400_000,
    alpha: float = 0.25,
    threshold: float,
    delay: str = "1 second",
) -> DataFrame:
    """STREAMING EWMA smoothing + anomaly flags — the continuous form of
    operators.windows.ewma_anomaly: per key, bucket sums accumulate in
    state and the recurrence ``s_t = alpha*x_t + (1-alpha)*s_{t-1}``
    advances over each bucket AS THE WATERMARK FINALIZES IT (bucket end
    <= wm), emitting one append-mode row per observed bucket. The
    previous smoothed value is the only carried scalar, so this is the
    online metrics-monitoring loop: state per key = one double + the
    un-finalized bucket tail.

    Determinism: bucket sums accumulate as integer cents (exact,
    order-proof — equal to the batch DECIMAL(18,2) sum) and the
    recurrence uses the same fixed IEEE op order as the batch kernel,
    so finalized rows match the batch operator bit-for-bit. A NULL value
    adds nothing to its bucket, as the batch ``SUM`` ignores it; a bucket
    whose values are all NULL emits no row (the batch operator gives it
    a NULL ``x``).

    Event-time timers re-arm at the next pending bucket's end (1 ms
    early, the repo's timer boundary rule) so buffered buckets flush
    even when the key receives no further data.
    """
    bucket_us = bucket_ms * 1000
    a = float(alpha)
    thr = float(threshold)
    src = events.select(key_col, ts_col, value_col).withWatermark(
        ts_col, delay
    )
    k_dt = _dt(src, key_col)
    out_schema = (
        f"{key_col} {k_dt}, bucket_ts timestamp, x double, "
        "smoothed double, residual double, anomaly boolean"
    )
    state_fields = (
        "has_s boolean, s double, b_us array<bigint>, cents array<bigint>"
    )

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            has_s, s_prev, b_list, c_list = state.get
            pend = dict(zip(b_list, c_list))
        else:
            has_s, s_prev, pend = False, 0.0, {}
        for pdf in batches:
            pdf = pdf.dropna(subset=[value_col])  # SUM ignores NULL
            us = pdf[ts_col].values.astype("datetime64[us]").astype("int64")
            for t, v in zip(us, pdf[value_col]):
                b = (int(t) // bucket_us) * bucket_us
                pend[b] = pend.get(b, 0) + int(round(float(v) * 100))
        wm_us = state.getCurrentWatermarkMs() * 1000
        rows = []
        for b in sorted(k for k in pend if k + bucket_us <= wm_us):
            x = pend.pop(b) / 100.0
            if not has_s:
                s, res = x, 0.0
                has_s = True
            else:
                s = a * x + (1 - a) * s_prev
                res = x - s_prev
            rows.append((b, x, s, res, abs(res) > thr))
            s_prev = s
        state.update(
            (has_s, s_prev, list(pend.keys()), list(pend.values()))
        )
        if pend:
            state.setTimeoutTimestamp(
                _timer_ms(min(pend) + bucket_us, wm_us)
            )
        if rows:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(rows),
                    "bucket_ts": pd.to_datetime(
                        [r[0] for r in rows], unit="us"
                    ),
                    "x": [r[1] for r in rows],
                    # raw doubles — the caller rounds via F.round so the
                    # rounding path matches the batch operator's exactly
                    "smoothed": [r[2] for r in rows],
                    "residual": [r[3] for r in rows],
                    "anomaly": [r[4] for r in rows],
                }
            )

    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_fields,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_sft_loss_mask(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    turn_col: str,
    order_col: str,
    *,
    gap: str = "30 minutes",
    delay: str = "10 minutes",
    user_tag: str = "<u>",
    assistant_tag: str = "<a>",
) -> DataFrame:
    """STREAMING SFT loss-mask layout — the continuous-ingest counterpart
    of ``llm.sft_loss_mask``: the session machinery of
    :func:`session_transcripts`, emitting each watermark-finalized
    session's ASSISTANT-segment character spans (odd turns = user, even
    = assistant; tag + content rendering, render never materialized).

    Spans are plain integer arithmetic over the finalized session's
    ordered turns, so finalized rows equal the batch operator's exactly.
    State per key = the un-finalized tail + one ordinal + one timer.
    """
    u_len, a_len = len(user_tag), len(assistant_tag)
    out_schema = (
        f"{key_col} {_dt(events, key_col)}, session_n bigint, turn_idx int, "
        "mask_start bigint, mask_end bigint, render_len bigint"
    )

    def emit(key, n_done, done):
        rows = []
        for i, sess in enumerate(done):
            render_len = sum(
                (u_len if j % 2 == 0 else a_len) + len(v)
                for j, (_, _, v) in enumerate(sess)
            )
            cum = 0
            for j, (_, _, v) in enumerate(sess):
                tag = u_len if j % 2 == 0 else a_len
                seg = tag + len(v)
                if j % 2 == 1:  # assistant turn (1-based even index)
                    rows.append(
                        (
                            n_done + i + 1, j + 1,
                            cum + tag, cum + seg, render_len,
                        )
                    )
                cum += seg
        if rows:
            yield pd.DataFrame(
                {
                    key_col: [key] * len(rows),
                    "session_n": [r[0] for r in rows],
                    "turn_idx": pd.Series(
                        [r[1] for r in rows], dtype="int32"
                    ),
                    "mask_start": [r[2] for r in rows],
                    "mask_end": [r[3] for r in rows],
                    "render_len": [r[4] for r in rows],
                }
            )

    return _keyed_sessions(
        events, key_col, ts_col, turn_col, order_col, gap, delay,
        out_schema, emit,
    )
