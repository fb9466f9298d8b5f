"""Streaming CEP / MATCH_RECOGNIZE (reference: CepOperator.java:82 — keyed
NFA over a watermarked stream; SQL StreamExecMatch.java:59).

Semantics: rows buffer per key; the NFA runs over the prefix of the buffer
that the watermark has FINALIZED (event time <= watermark — no later-arriving
row can land inside that prefix, so its contiguity is stable). Completed
matches are emitted exactly once (append stream) and consumed per the
AFTER MATCH policy; the unconsumed tail + unfinalized rows stay in state.

Emission without new per-key data uses event-time timeouts: every update
registers a timeout just past the newest buffered row's time, so when the
watermark passes it the key is woken (hasTimedOut) and finalized matches
flush — the same watermark-driven trigger the reference's CepOperator uses.

State bound: the buffer holds only rows newer than the last emitted match
(plus the unfinalized suffix). A ``horizon`` prunes rows older than
watermark - horizon for patterns whose matches are time-bounded (reference
Pattern.within) — mandatory for unbounded streams with non-matching rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_psl_spark.cep import (
    NO_SKIP,
    SKIP_PAST_LAST_ROW,
    SKIP_TO_NEXT_ROW,
    Measure,
    Step,
    _eval_measure,
    _leaf_steps,
    _match_at,
    _measure_type,
    _parse_after_match,
    _pred_exprs,
    _to_spec,
    _validate_modes,
)
from flink_psl_spark.streaming.state import RowState


def streaming_match_recognize(
    events: DataFrame,
    partition_by: str,
    ts_col: str,
    pattern: list[Step],
    measures: list[Measure],
    *,
    after_match: str = SKIP_PAST_LAST_ROW,
    delay: str = "10 minutes",
    horizon_ms: int | None = None,
    tiebreak_col: str | None = None,
    within: str | None = None,
) -> DataFrame:
    """MATCH_RECOGNIZE over a watermarked stream (append output).

    Returns one row per completed match: (key, match_seq, measures...).
    ``delay`` is the watermark delay; ``horizon_ms`` bounds state for
    patterns with a known max span (≈ Pattern.within).

    ``within``: max span (e.g. ``'30 minutes'``) between a match's first
    and last bound row, as in the batch matcher (reference Pattern.within).
    A WITHIN bound also legalizes a TERMINAL not_followed_by on streams —
    the reference's exact rule (a trailing notFollowedBy requires a within
    interval): the negative scan closes once the watermark passes
    first_bound_row + within, so emission defers until then and never
    asserts over the unbounded future.

    ``after_match``: SKIP_PAST_LAST_ROW (default), SKIP_TO_NEXT_ROW,
    skip_to_first(var), skip_to_last(var). NO_SKIP is rejected: its
    all-solutions semantics keep every attempt position live against the
    unbounded future (relaxed steps may bind ever-later rows), so no
    finalized prefix ever confirms the full solution set — same class of
    restriction as the unbounded terminal not_followed_by guard below.
    """
    leaves = _leaf_steps(pattern)
    names = [s.name for s in leaves]
    _validate_modes(pattern)
    strategy, skip_var = _parse_after_match(after_match, pattern)
    if strategy == NO_SKIP:
        raise ValueError(
            "streaming match_recognize does not support NO_SKIP "
            "(all-solutions over an unbounded future cannot finalize); "
            "use the batch matcher or a skip strategy"
        )
    within_ms = (
        int(pd.Timedelta(within).value // 1_000_000) if within is not None else None
    )
    if pattern[-1].mode == "not_followed_by" and within_ms is None:
        # an UNBOUNDED terminal NOT asserts over the unbounded future; the
        # streaming matcher only sees the watermark-finalized prefix, so it
        # would emit matches later events could invalidate. The reference
        # has the same restriction (notFollowedBy cannot end a pattern
        # without a within bound) — pass ``within`` to enable it.
        raise ValueError(
            "streaming match_recognize cannot end with not_followed_by "
            "without a within bound (unbounded-future negation): pass "
            "within=..., bound it with a following step, or use the batch "
            "matcher"
        )
    pexprs = _pred_exprs(leaves)
    pred_cols = {key: alias for key, (alias, _e) in pexprs.items()}
    # iterative conditions (IterativeCondition parity with the batch
    # matcher): their input columns ride in the state buffer. Note the
    # buffer stores ts_col as epoch-ms int64 — an iterative condition over
    # the time column sees ms integers here, not timestamps.
    iters = {s.name: s.iter_pred for s in leaves if s.iter_pred is not None}
    iter_cols = sorted({c for s in leaves for c in s.iter_cols})
    wm = events.withWatermark(ts_col, delay)
    carry_cols = sorted(
        {
            ts_col,
            *(m.col for m in measures if m.col is not None),
            *([tiebreak_col] if tiebreak_col else []),
            *iter_cols,
        }
    )
    prepared = wm.select(
        partition_by,
        *carry_cols,
        *[F.expr(e).alias(alias) for alias, e in pexprs.values()],
    )

    out_fields = [
        T.StructField(partition_by, events.schema[partition_by].dataType),
        T.StructField("match_seq", T.LongType()),
    ]
    for m in measures:
        out_fields.append(T.StructField(m.out_name, _measure_type(events, m)))
    out_schema = T.StructType(out_fields)
    out_names = [f.name for f in out_fields]

    spec = _to_spec(pattern)
    meas = [(m.out_name, m.step, m.fn.lower(), m.col) for m in measures]
    sort_cols = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    rows = RowState(
        prepared, [c for c in prepared.columns if c != partition_by],
        scalars="seq bigint", epoch=ts_col, unit="ms",
    )

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        buf, seq = rows.load(state, 0)
        buf = rows.extend(buf, batches)
        wm_ms = state.getCurrentWatermarkMs()
        emitted = []
        if len(buf):
            buf = buf.sort_values(sort_cols, kind="mergesort").reset_index(
                drop=True
            )
            final = buf[buf[ts_col] <= wm_ms].reset_index(drop=True)
            preds = {
                name: final[c].fillna(False).to_numpy(dtype=bool)
                for name, c in pred_cols.items()
            }
            n, start, consumed_upto = len(final), 0, 0
            terminal_not_next = spec[-1][4] == "not_next"
            terminal_nfb = spec[-1][4] == "not_followed_by"
            t_name, _t_lo, t_hi, t_greedy, t_mode, t_sub, _t_u = spec[-1]
            t_leaf_names = {
                s[0] for s in ([spec[-1]] if t_sub is None else t_sub)
            }
            terminal_has_iter = bool(iters) and bool(
                t_leaf_names & set(iters)
            )

            def _one_iter_rows(entry) -> int:
                nm, lo2, _h, _g, md, sb, _u = entry
                if md in ("not_next", "not_followed_by"):
                    return 0
                if sb is None:
                    return lo2
                return max(lo2, 1) * sum(_one_iter_rows(x) for x in sb)

            ext_rows = max(
                1,
                1 if t_sub is None else sum(_one_iter_rows(x) for x in t_sub),
            )

            def terminal_loop_open(b) -> bool:
                """Cheap pre-filter: could the terminal step structurally
                absorb more rows? False for negations, reluctant loops,
                and bounded leaf loops already at capacity."""
                if t_mode in ("not_next", "not_followed_by") or not t_greedy:
                    return False
                if t_sub is None and t_hi is not None:
                    return len(b.get(t_name, [])) < t_hi
                return True

            def could_extend(b, attempt) -> bool:
                """Would a favorable future row extend this match? Decided
                by re-running the NFA from the same attempt position with
                ``ext_rows`` virtual always-true rows appended — greedy
                semantics then extend iff quantifier capacity remains
                (bounded groups at max iterations correctly emit).
                Terminal steps with iterative conditions fall back to the
                structural answer (future row values are unknowable)."""
                if not terminal_loop_open(b):
                    return False
                if terminal_has_iter:
                    return True
                import numpy as _np

                # virtual rows are maximally permissive: step predicates
                # TRUE, until-stop conditions FALSE (an until=TRUE pad
                # would wrongly prove "cannot extend" for until-bounded
                # loops)
                preds_ext = {
                    k: _np.concatenate(
                        [
                            v,
                            _np.full(
                                ext_rows, not k.startswith("__until__"),
                                dtype=bool,
                            ),
                        ]
                    )
                    for k, v in preds.items()
                }
                times_ext = None
                if times_arr is not None:
                    times_ext = _np.concatenate(
                        [
                            times_arr,
                            times_arr[-1] + _np.arange(1, ext_rows + 1),
                        ]
                    )
                try:
                    b2 = _match_at(
                        preds_ext, spec, attempt, n + ext_rows, times_ext,
                        within_ms, iters, vals,
                    )
                except IndexError:  # a mid-pattern iterative step reached
                    return True  # the virtual region — defer conservatively
                if b2 is None:
                    return False
                hi2 = max(i for idxs in b2.values() for i in idxs)
                return hi2 >= n
            times_arr = (
                final[ts_col].to_numpy() if within_ms is not None else None
            )
            vals = (
                {c: final[c].to_numpy() for c in iter_cols} if iters else None
            )
            while start < n:
                attempt = start
                b = _match_at(
                    preds, spec, start, n, times_arr, within_ms, iters, vals
                )
                if b is not None:
                    lo = min(i for idxs in b.values() for i in idxs)
                    hi = max(i for idxs in b.values() for i in idxs)
                    if within_ms is not None and (
                        times_arr[hi] - times_arr[lo] > within_ms
                    ):
                        start += 1
                        continue
                    if terminal_not_next and hi + 1 == n:
                        # the trailing notNext asserted at the finalized-
                        # prefix boundary (pos == n): a future row could
                        # still land there and satisfy the negated
                        # predicate, so the assertion is unconfirmed.
                        # Defer — leave the rows unconsumed and re-run
                        # when the watermark finalizes the next row
                        # (append-mode emission is irrevocable, so a
                        # vacuous pass here would emit matches the batch
                        # matcher rejects).
                        break
                    if hi + 1 == n and could_extend(b, attempt):
                        # the greedy terminal block ran into the finalized
                        # frontier AND a favorable future row would extend
                        # it. Defer until a finalized row exists past the
                        # match end, so the block's stop is
                        # content-determined — the loop twin of the
                        # terminal notNext deferral above.
                        break
                    if terminal_nfb and int(times_arr[lo]) + within_ms > wm_ms:
                        # the trailing notFollowedBy's window (anchored at
                        # the first bound row) still reaches past the
                        # watermark: a future row inside it could satisfy
                        # the negation. Defer until the watermark closes
                        # the window — the reference's timer-driven
                        # pattern-timeout emission.
                        break
                    row = {partition_by: key[0], "match_seq": seq}
                    for out_name, step, fnm, col in meas:
                        idxs = b.get(step, [])
                        v = _eval_measure(final, idxs, fnm, col)
                        if col == ts_col and v is not None:
                            v = pd.to_datetime(int(v), unit="ms")
                        row[out_name] = v
                    emitted.append(row)
                    seq += 1
                    if strategy == SKIP_PAST_LAST_ROW:
                        start = hi + 1
                    elif strategy == SKIP_TO_NEXT_ROW:
                        start = lo + 1
                    else:  # skip_to_first / skip_to_last
                        idxs = b.get(skip_var)
                        if not idxs:
                            raise ValueError(
                                f"AFTER MATCH skip variable {skip_var!r} "
                                "bound no rows in a match"
                            )
                        tgt = (
                            min(idxs)
                            if strategy == "skip_to_first"
                            else max(idxs)
                        )
                        start = tgt if tgt > start else start + 1
                    # rows before the resume position can never join a
                    # future match under the chosen strategy — prune them
                    consumed_upto = start
                else:
                    start += 1
            # retain: unconsumed finalized suffix + all unfinalized rows
            keep_final = final.iloc[consumed_upto:]
            pending = buf[buf[ts_col] > wm_ms]
            buf = pd.concat([keep_final, pending], ignore_index=True)
            if horizon_ms is not None and wm_ms > 0:
                buf = buf[buf[ts_col] >= wm_ms - horizon_ms]
        rows.save(state, buf, seq)
        if len(buf):
            # wake when the watermark first passes a buffered row — the
            # earliest moment more of the buffer finalizes (must be strictly
            # beyond the current watermark or registration is rejected)
            state.setTimeoutTimestamp(
                max(int(buf[ts_col].min()) + 1, wm_ms + 1)
            )
        if emitted:
            yield pd.DataFrame(emitted)[out_names]

    return prepared.groupBy(partition_by).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=rows.schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
