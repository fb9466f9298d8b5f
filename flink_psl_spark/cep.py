"""CEP / MATCH_RECOGNIZE: pattern matching over ordered event sequences.

Reference: flink-libraries/flink-cep (Pattern.java:55, nfa/NFA.java,
CepOperator.java:82) and SQL MATCH_RECOGNIZE
(flink-table-planner/.../exec/stream/StreamExecMatch.java:59). This module
is the batch form (SURVEY §7 M3: "batch first"): per-key sorted sequences
driven through an NFA with quantified steps, greedy/reluctant matching,
AFTER MATCH skip policies, measures, and a WITHIN clause.

Spark construction
------------------
``match_recognize`` runs the NFA once per partition key through
:func:`~flink_psl_spark.grouped.grouped_map`, rows in ``order_by`` order:
predicates are evaluated VECTORIZED per step over the whole partition
(pandas eval of Column-like exprs compiled from Spark SQL via a
projected boolean column — no per-row Python predicate calls), and
only the index-level backtracking runs in Python. One shuffle on the
partition key — the same cost shape as the reference's keyed CepOperator.

Scale notes: state per key is the key's row block (same as the reference's
per-key NFA buffer). Hot keys are bounded by the partition key choice —
identical to the reference's contract. Matching is O(rows) for the
patterns this API admits except adversarial backtracking, which the
quantifier structure (contiguous, non-overlapping steps) keeps rare.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_psl_spark.grouped import grouped_map


@dataclass
class Step:
    """One pattern variable: a named, quantified predicate.

    ``predicate`` is a Spark SQL boolean expression over the input columns
    (e.g. ``"event_type = 'click'"``). Quantifier (min_times, max_times)
    mirrors the reference's Quantifier (Pattern.times/oneOrMore/optional;
    flink-cep/.../pattern/Quantifier.java): max_times=None means unbounded.
    ``greedy`` follows the reference's default (greedy quantifiers).
    """

    name: str
    predicate: str
    # Quantified blocks bind CONSECUTIVE rows (SQL row-pattern semantics,
    # ≡ the reference's Pattern.consecutive()). The reference's default
    # relaxed-internal oneOrMore (gaps allowed between the A's) is
    # expressible as Step.group_at_least("G", [Step.followed_by("A", p)], 1);
    # oneOrMore().allowCombinations() (every non-contiguous subset branches,
    # Quantifier ALLOW_COMBINATIONS) is the same composition with
    # followed_by_any — pinned against a brute-force subset enumeration in
    # tests/test_cep.py::test_allow_combinations_via_group_composition.
    min_times: int = 1
    max_times: int | None = 1
    greedy: bool = True
    # contiguity/negation mode (reference Pattern.java combinators):
    #   strict          — next(): binds consecutive rows (default)
    #   relaxed         — followedBy(): skips non-matching rows, binds at
    #                     the next occurrence only (ignore edge ¬condition)
    #   relaxed_any     — followedByAny(): every later occurrence branches
    #   not_next        — notNext(): the immediately-following row must NOT
    #                     match (zero-width)
    #   not_followed_by — notFollowedBy(): no matching row may occur before
    #                     the next step's match (or partition end when last)
    mode: str = "strict"
    # quantified subpattern (reference GroupPattern.java): when set, this
    # step matches the sub-steps in sequence, repeated per the quantifier,
    # iterations contiguous with each other; ``predicate`` is unused. Each
    # iteration appends its rows to the sub-steps' bindings (measures over a
    # sub-variable aggregate across iterations, as in the reference).
    sub: list["Step"] | None = None
    # stop condition for looping quantifiers (reference Pattern.until:692):
    # block extension stops BEFORE the first row satisfying this predicate
    # (the stopping row is not bound and stays available to later steps).
    until_pred: str | None = None
    # iterative condition (reference IterativeCondition.java:61 — a DEFINE
    # predicate that sees the partial match's history): a Python callable
    # ``fn(get, first, last)`` — or ``fn(get, first, last, agg)`` — that
    # is evaluated per candidate row, where
    #   get(col)            — the candidate row's value,
    #   first(var, col, k)  — the (k+1)-th row bound to ``var`` so far,
    #   last(var, col, k)   — the (k+1)-th-from-last row bound to ``var``,
    #   agg(fn, var, col)   — running 'sum'/'avg'/'min'/'max'/'count' over
    #                         the rows bound to ``var`` so far (reference
    #                         MatchCodeGenerator's aggregates in DEFINE);
    # for the step's OWN variable the candidate row counts as its running
    # last row (SQL-standard running semantics: LAST(B.price) inside
    # DEFINE B is the current row, LAST(B.price, 1) the previous one).
    # Unbound references return None; a TypeError from comparing None is
    # treated as FALSE (SQL three-valued logic). ANDed with ``predicate``
    # (the vectorized part) — keep row-local conjuncts there.
    iter_pred: object | None = None
    # columns the iterative condition reads (materialized per group)
    iter_cols: tuple = ()

    def until(self, predicate: str) -> "Step":
        """Stop condition (Pattern.until): the quantified block stops
        accepting rows at the first row satisfying ``predicate``."""
        from dataclasses import replace

        return replace(self, until_pred=predicate)

    def where_history(self, fn, cols) -> "Step":
        """Attach an iterative condition (reference IterativeCondition):
        ``fn(get, first, last) -> bool`` over the partial match's rows.
        ``cols`` lists every column the callable reads."""
        from dataclasses import replace

        if self.sub is not None:
            raise ValueError(
                "iterative conditions apply to leaf steps, not groups"
            )
        return replace(self, iter_pred=fn, iter_cols=tuple(cols))

    @staticmethod
    def once(name: str, predicate: str) -> "Step":
        return Step(name, predicate, 1, 1)

    @staticmethod
    def one_or_more(name: str, predicate: str, *, greedy: bool = True) -> "Step":
        return Step(name, predicate, 1, None, greedy)

    @staticmethod
    def zero_or_more(name: str, predicate: str, *, greedy: bool = True) -> "Step":
        return Step(name, predicate, 0, None, greedy)

    @staticmethod
    def optional(name: str, predicate: str) -> "Step":
        return Step(name, predicate, 0, 1)

    @staticmethod
    def times(name: str, predicate: str, n: int, m: int | None = None) -> "Step":
        """Exactly ``n`` times, or between ``n`` and ``m`` (Pattern.times)."""
        return Step(name, predicate, n, m if m is not None else n)

    @staticmethod
    def at_least(name: str, predicate: str, n: int, *, greedy: bool = True) -> "Step":
        """``n`` or more times (Pattern.timesOrMore)."""
        return Step(name, predicate, n, None, greedy)

    @staticmethod
    def followed_by(
        name: str,
        predicate: str,
        *,
        min_times: int = 1,
        max_times: int | None = 1,
        greedy: bool = True,
    ) -> "Step":
        """Relaxed contiguity (Pattern.followedBy): skip non-matching rows
        until the NEXT occurrence of the predicate and bind there. As in the
        reference's NFA (the ignore edge carries ¬condition), a matching row
        cannot be skipped — later occurrences are not alternatives; use
        ``followed_by_any`` for that."""
        return Step(name, predicate, min_times, max_times, greedy, "relaxed")

    @staticmethod
    def followed_by_any(
        name: str,
        predicate: str,
        *,
        min_times: int = 1,
        max_times: int | None = 1,
        greedy: bool = True,
    ) -> "Step":
        """Non-deterministic relaxed contiguity (Pattern.followedByAny):
        every later occurrence of the predicate is a viable binding — under
        NO_SKIP each one yields its own match; under single-match strategies
        the nearest is preferred, so it behaves like ``followed_by``."""
        return Step(name, predicate, min_times, max_times, greedy, "relaxed_any")

    @staticmethod
    def group(
        name: str,
        sub: list["Step"],
        n: int,
        m: int | None = None,
        *,
        greedy: bool = True,
        mode: str = "strict",
    ) -> "Step":
        """Quantified subpattern (reference GroupPattern.java:44 —
        Pattern.begin(subPattern).times/oneOrMore): the sub-steps match in
        sequence ``n`` times (or ``n``..``m``; ``m=None`` with ``n`` kept =
        exactly ``n``; use ``group_at_least`` for unbounded). ``mode``
        'relaxed' scans forward for the first iteration (followedBy group).
        Sub-steps may not be NOT steps, and at least one must bind a row.
        """
        return Step(name, "true", n, m if m is not None else n, greedy, mode, sub)

    @staticmethod
    def group_at_least(
        name: str, sub: list["Step"], n: int, *, greedy: bool = True,
        mode: str = "strict",
    ) -> "Step":
        """``n`` or more subpattern iterations (GroupPattern timesOrMore)."""
        return Step(name, "true", n, None, greedy, mode, sub)

    @staticmethod
    def not_next(name: str, predicate: str) -> "Step":
        """Negative lookahead (Pattern.notNext): match fails if the row
        immediately after the previous step satisfies the predicate.
        Zero-width — binds no rows."""
        return Step(name, predicate, 0, 0, True, "not_next")

    @staticmethod
    def not_followed_by(name: str, predicate: str) -> "Step":
        """Negative gap (Pattern.notFollowedBy): match fails if any row
        satisfying the predicate occurs before the NEXT step's match starts
        (the next step scans forward, relaxed); as the final step, no such
        row may occur through the end of the scan. Zero-width."""
        return Step(name, predicate, 0, 0, True, "not_followed_by")


@dataclass
class Measure:
    """Output column: ``fn`` over column ``col`` of the rows bound to step
    ``step`` (FIRST/LAST/MIN/MAX/SUM/AVG/COUNT — the reference's measure
    aggregates, flink-table-runtime match/ dir)."""

    out_name: str
    step: str
    fn: str  # first|last|min|max|sum|avg|count
    col: str | None = None  # not needed for count


# AFTER MATCH strategies (reference: cep/nfa/aftermatch/ — NoSkipStrategy,
# SkipToNextStrategy, SkipPastLastStrategy, SkipToFirstStrategy,
# SkipToLastStrategy). The two MATCH_RECOGNIZE defaults are plain constants;
# the variable-relative strategies are built by skip_to_first/skip_to_last.
SKIP_PAST_LAST_ROW = "skip_past_last_row"
SKIP_TO_NEXT_ROW = "skip_to_next_row"
NO_SKIP = "no_skip"


def skip_to_first(var: str) -> str:
    """AFTER MATCH SKIP TO FIRST <var>: resume the scan AT the first row
    bound to ``var`` (that row may open the next match). Reference
    SkipToFirstStrategy.java; rejected when ``var`` is the first pattern
    variable (it would loop, as in the reference)."""
    return f"skip_to_first:{var}"


def skip_to_last(var: str) -> str:
    """AFTER MATCH SKIP TO LAST <var>: resume the scan AT the last row
    bound to ``var``. Reference SkipToLastStrategy.java. When the resume
    position equals the match start (single-row first variable), the scan
    advances one row instead of looping."""
    return f"skip_to_last:{var}"


def _parse_after_match(after_match: str, pattern: list["Step"]) -> tuple[str, str | None]:
    strategy, _, var = after_match.partition(":")
    if strategy in (SKIP_PAST_LAST_ROW, SKIP_TO_NEXT_ROW, NO_SKIP):
        return strategy, None
    if strategy in ("skip_to_first", "skip_to_last"):
        names = [s.name for s in _leaf_steps(pattern)]
        if var not in names:
            raise ValueError(
                f"AFTER MATCH skip variable {var!r} is not a pattern step "
                f"(have {names})"
            )
        first_leaves = _leaf_steps(pattern[:1])
        if strategy == "skip_to_first" and (
            var == pattern[0].name
            or (first_leaves and var == first_leaves[0].name)
        ):
            # resuming at the first row of the first variable re-opens the
            # same match forever — the reference throws the same way
            raise ValueError(
                "SKIP TO FIRST of the first pattern variable would loop on "
                "every match (reference SkipToFirstStrategy behavior)"
            )
        return strategy, var
    raise ValueError(f"unknown after_match strategy {after_match!r}")


def match_recognize(
    df: DataFrame,
    partition_by: str | list[str],
    order_by: str | list[str],
    pattern: list[Step],
    measures: list[Measure],
    *,
    after_match: str = SKIP_PAST_LAST_ROW,
    within: str | None = None,
    time_col: str | None = None,
) -> DataFrame:
    """MATCH_RECOGNIZE over a bounded DataFrame.

    Contiguous-row semantics per partition (the SQL standard / reference
    behavior): pattern variables bind consecutive rows in ``order_by``
    order. Returns one row per match: partition keys + ``match_seq`` +
    measures.

    ``after_match`` (reference cep/nfa/aftermatch/): SKIP_PAST_LAST_ROW
    (default), SKIP_TO_NEXT_ROW, NO_SKIP (every solution from every start
    position — relaxed steps enumerate all viable positions,
    followedByAny-style), or ``skip_to_first(var)`` / ``skip_to_last(var)``
    which resume the scan AT the first/last row bound to ``var``.

    ``within``: optional max span (e.g. ``'30 minutes'``) between the
    first and last matched row, measured on ``time_col`` (reference:
    Pattern.within, interval-clipped NFA state).
    """
    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    order = [order_by] if isinstance(order_by, str) else list(order_by)
    if within is not None and time_col is None:
        raise ValueError("within requires time_col")
    leaves = _leaf_steps(pattern)
    names = _all_names(pattern)
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate step names: {names}")
    _validate_modes(pattern)
    strategy, skip_var = _parse_after_match(after_match, pattern)

    # vectorized predicate evaluation: one boolean column per leaf step
    # (plus one per until-condition), computed by Spark (codegen) BEFORE
    # the python hop — python sees only bools. Groups carry no predicate.
    pexprs = _pred_exprs(leaves)
    pred_cols = {key: alias for key, (alias, _e) in pexprs.items()}
    iters = {s.name: s.iter_pred for s in leaves if s.iter_pred is not None}
    iter_cols = sorted({c for s in leaves for c in s.iter_cols})
    missing = [c for c in iter_cols if c not in df.columns]
    if missing:
        raise ValueError(f"iterative-condition columns not in input: {missing}")
    # project ONLY what the NFA kernel reads — keys, order, measure
    # sources, iterative-condition columns, the within clock — plus the
    # precomputed predicate bools. Raw predicate inputs (e.g. the
    # event_type string the bools were derived from) stay out of the
    # key exchange and the Arrow hop (guide §4: Spark can't see which
    # columns an opaque function touches; an unpruned '*' ships and
    # shuffles them all).
    needed: list[str] = []
    for c in (
        keys
        + order
        + [m.col for m in measures if m.col is not None]
        + iter_cols
        + ([time_col] if time_col else [])
    ):
        if c not in needed:
            needed.append(c)
    prepared = df.select(
        *needed, *[F.expr(e).alias(alias) for alias, e in pexprs.values()]
    )

    in_schema = dict(prepared.dtypes)
    within_td = pd.Timedelta(within) if within is not None else None

    out_fields = [T.StructField(k, df.schema[k].dataType) for k in keys]
    out_fields.append(T.StructField("match_seq", T.LongType()))
    for m in measures:
        out_fields.append(T.StructField(m.out_name, _measure_type(df, m)))
    out_schema = T.StructType(out_fields)

    spec = _to_spec(pattern)
    meas = [(m.out_name, m.step, m.fn.lower(), m.col) for m in measures]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        preds = {
            name: pdf[c].fillna(False).to_numpy(dtype=bool)
            for name, c in pred_cols.items()
        }
        vals = (
            {c: pdf[c].to_numpy() for c in iter_cols} if iters else None
        )
        times = pdf[time_col] if time_col else None
        # int64-ns view for the bounded terminal-NOT scan (cheap, vectorized)
        times_ns = times.astype("int64").to_numpy() if times is not None else None
        within_ns = within_td.value if within_td is not None else None
        key_vals = {k: pdf[k].iloc[0] for k in keys}  # constant per group
        out_rows = []
        match_seq = 0
        start = 0
        # NO_SKIP enumerates every solution from every start; identical
        # bindings reachable from several attempt positions (relaxed first
        # steps) are emitted once
        seen: set = set()

        def emit(bindings) -> None:
            nonlocal match_seq
            row = dict(key_vals)
            row["match_seq"] = match_seq
            for out_name, step, fn, col in meas:
                idxs = bindings.get(step, [])
                row[out_name] = _eval_measure(pdf, idxs, fn, col)
            out_rows.append(row)
            match_seq += 1

        def span_ok(bindings) -> bool:
            if within_td is None:
                return True
            lo = min(i for idxs in bindings.values() for i in idxs)
            hi = max(i for idxs in bindings.values() for i in idxs)
            return times.iloc[hi] - times.iloc[lo] <= within_td

        while start < n:
            if strategy == NO_SKIP:
                for bindings in _iter_matches_at(
                    preds, spec, start, n, times_ns, within_ns, iters, vals
                ):
                    if not span_ok(bindings):
                        continue
                    sig = tuple(
                        sorted((k, tuple(v)) for k, v in bindings.items())
                    )
                    if sig in seen:
                        continue
                    seen.add(sig)
                    emit(bindings)
                start += 1
                continue
            bindings = _match_at(
                preds, spec, start, n, times_ns, within_ns, iters, vals
            )
            if bindings is None or not span_ok(bindings):
                start += 1
                continue
            lo = min(i for idxs in bindings.values() for i in idxs)
            hi = max(i for idxs in bindings.values() for i in idxs)
            emit(bindings)
            if strategy == SKIP_PAST_LAST_ROW:
                start = hi + 1
            elif strategy == SKIP_TO_NEXT_ROW:
                start = lo + 1
            else:  # skip_to_first / skip_to_last
                idxs = bindings.get(skip_var)
                if not idxs:
                    raise ValueError(
                        f"AFTER MATCH skip variable {skip_var!r} bound no "
                        "rows in a match (optional skip targets are "
                        "malformed, as in the reference)"
                    )
                tgt = min(idxs) if strategy == "skip_to_first" else max(idxs)
                # resume AT the variable's row; guarantee progress when the
                # target equals the attempt position (single-row first var)
                start = tgt if tgt > start else start + 1
        return pd.DataFrame(out_rows)

    return grouped_map(prepared, keys, run, out_schema, order)


def _leaf_steps(pattern: list["Step"]) -> list["Step"]:
    """All predicate-bearing steps, groups flattened recursively."""
    out: list[Step] = []
    for s in pattern:
        if s.sub is not None:
            out.extend(_leaf_steps(s.sub))
        else:
            out.append(s)
    return out


def _all_names(pattern: list["Step"]) -> list[str]:
    out: list[str] = []
    for s in pattern:
        out.append(s.name)
        if s.sub is not None:
            out.extend(_all_names(s.sub))
    return out


def _to_spec(pattern: list["Step"]):
    return [
        (
            s.name,
            s.min_times,
            s.max_times,
            s.greedy,
            s.mode,
            _to_spec(s.sub) if s.sub is not None else None,
            f"__until__{s.name}" if s.until_pred else None,
        )
        for s in pattern
    ]


def _pred_exprs(leaves: list["Step"]):
    """(preds-key -> (column alias, sql expr)) for every leaf predicate and
    until-condition — shared by the batch and streaming matchers."""
    out = {s.name: (f"__p_{s.name}", s.predicate) for s in leaves}
    for s in leaves:
        if s.until_pred:
            out[f"__until__{s.name}"] = (f"__pu_{s.name}", s.until_pred)
    return out


def _consumes_row(s: "Step") -> bool:
    if s.mode not in ("strict", "relaxed", "relaxed_any") or s.min_times < 1:
        return False
    if s.sub is not None:
        return any(_consumes_row(t) for t in s.sub)
    return True


def _strict_opening_names(entry) -> list[str] | None:
    """Predicate names a spec entry can open on at a FIXED position, or
    None when the opening is indeterminate (a relaxed sub-step scans
    forward inside the group, so no single row decides 'could have bound
    here'). Used for the followedBy ignore-edge cut; None disables the cut
    (conservative: behaves like followedByAny for those groups)."""
    name, lo, _hi, _greedy, mode, sub, _until = entry
    if sub is None:
        return [name]
    out: list[str] = []
    for e in sub:
        if e[4] not in ("strict",) and e[5] is None:
            return None  # relaxed leaf inside: opening position is fuzzy
        opening = _strict_opening_names(e)
        if opening is None:
            return None
        out.extend(opening)
        if e[1] >= 1:  # first mandatory sub-step closes the opening set
            return out
    return out


def _validate_modes(pattern) -> None:
    """Mode composition rules (mirror the reference's Pattern API checks:
    a NOT pattern can't open the sequence, and two NOTs can't chain)."""
    for i, s in enumerate(pattern):
        if s.mode not in (
            "strict", "relaxed", "relaxed_any", "not_next", "not_followed_by"
        ):
            raise ValueError(f"unknown step mode {s.mode!r} on {s.name!r}")
        if s.sub is not None:
            if s.mode in ("not_next", "not_followed_by"):
                raise ValueError(
                    f"group {s.name!r} cannot be a NOT step"
                )
            if any(t.mode in ("not_next", "not_followed_by") for t in s.sub):
                raise ValueError(
                    f"group {s.name!r} may not contain NOT steps (bound the "
                    "negation at the outer pattern level)"
                )
            if not any(_consumes_row(t) for t in s.sub):
                raise ValueError(
                    f"group {s.name!r} subpattern can match zero rows — at "
                    "least one sub-step must have min_times >= 1"
                )
            if s.until_pred:
                raise ValueError(
                    f"until() applies to leaf looping steps, not group "
                    f"{s.name!r} (put it on a sub-step)"
                )
            _validate_modes(s.sub)
        elif s.until_pred and s.mode in ("not_next", "not_followed_by"):
            raise ValueError(f"until() is meaningless on NOT step {s.name!r}")
        if s.mode in ("not_next", "not_followed_by"):
            if i == 0:
                raise ValueError("pattern cannot begin with a NOT step")
            if pattern[i - 1].mode in ("not_next", "not_followed_by"):
                raise ValueError("two consecutive NOT steps are not allowed")
        if s.mode == "not_followed_by" and i + 1 < len(pattern):
            # the gap-clean scan requires the next step to bind >= 1 row; an
            # optional next step cannot express that — the reference rejects
            # NOT-before-optional at compile time (NFACompiler's
            # malformed-pattern check) rather than silently dropping
            # optionality
            if pattern[i + 1].min_times == 0:
                raise ValueError(
                    f"not_followed_by step {s.name!r} cannot be followed by "
                    f"optional step {pattern[i + 1].name!r} (min_times=0): "
                    "the negative gap needs a mandatory next match"
                )


def _iter_matches_at(
    preds, spec, start, n, times=None, within_ns=None, iters=None, vals=None
):
    """Backtracking NFA: yield every binding {step_name: [row indices]} of
    the pattern starting exactly at ``start``, in preference order (greedy
    takes first, earlier relaxed positions first) — the first yield is the
    single preferred match; the full stream is the NO_SKIP solution set.
    ``relaxed`` (followedBy) steps bind only at the next occurrence (the
    ignore edge carries ¬condition, as in the reference's NFACompiler);
    ``relaxed_any`` (followedByAny) enumerates every later occurrence.

    Spec entries are (name, lo, hi, greedy, mode, sub, until_key); negative
    modes bind no rows and act as zero-width assertions over the
    gap/lookahead; a non-None ``sub`` is a quantified subpattern
    (GroupPattern) whose iterations run contiguously, each appending to its
    sub-steps' bindings; ``until_key`` indexes a stop-condition bool array
    in ``preds`` (Pattern.until) that halts block extension.

    Continuation-passing: ``seq(spec_, i, pos, acc, cont)`` matches
    ``spec_[i:]`` from ``pos`` and hands (end_pos, bindings) to ``cont`` —
    which is the parent pattern's remainder for subpatterns, or the final
    yield for the root.

    ``times``/``within_ns`` bound a TERMINAL not_followed_by to the WITHIN
    window measured from the first bound row (the reference's only legal
    form of a trailing NOT: Pattern.notFollowedBy requires within) —
    without them the negative scan extends to the end of the partition.

    ``iters`` maps step name -> iterative condition (Step.iter_pred) and
    ``vals`` maps column -> numpy value array for the group; a step with an
    iterative condition accepts a row only when BOTH its vectorized
    predicate and ``fn(get, first, last)`` hold, the latter evaluated with
    the partial match's bindings at extension time (reference
    IterativeCondition.java:61)."""
    root = spec
    iters = iters or {}

    def iter_ok(name, j, acc, block):
        """Evaluate step ``name``'s iterative condition for candidate row
        ``j`` given bindings ``acc`` plus ``block`` (rows already taken in
        the current quantified block of this step)."""
        fn = iters.get(name)
        if fn is None:
            return True

        def rows_of(var):
            r = acc.get(var, [])
            if var == name:
                r = r + block + [j]
            return r

        def get(col):
            return vals[col][j]

        def first(var, col, k=0):
            r = rows_of(var)
            if k < 0 or k >= len(r):
                return None
            return vals[col][r[k]]

        def last(var, col, k=0):
            r = rows_of(var)
            if k < 0 or k >= len(r):
                return None
            return vals[col][r[-1 - k]]

        def agg(fn_name, var, col=None):
            """Running aggregate over the variable's rows so far
            (reference MatchCodeGenerator: SUM/AVG/MIN/MAX/COUNT in
            DEFINE see the partial match). COUNT of no rows is 0; other
            aggregates of no rows are None (SQL semantics)."""
            r = rows_of(var)
            if fn_name == "count":
                return len(r)
            if not r:
                return None
            xs = vals[col][r]
            if fn_name == "sum":
                return xs.sum()
            if fn_name == "avg":
                return xs.sum() / len(r)
            if fn_name == "min":
                return xs.min()
            if fn_name == "max":
                return xs.max()
            raise ValueError(f"unknown DEFINE aggregate {fn_name!r}")

        try:
            # 3-arg callables predate the agg accessor; keep them working
            if getattr(fn, "__code__", None) is not None and (
                fn.__code__.co_argcount >= 4
            ):
                return bool(fn(get, first, last, agg))
            return bool(fn(get, first, last))
        except TypeError:  # comparison with None: SQL unknown -> false
            return False

    def bind_at(spec_, i, q, acc, min_take, cont):
        """Bind spec_[i]'s quantified block (or group) starting exactly at
        ``q``, then continue with the rest of spec_."""
        name, lo, hi, greedy, _mode, sub, until_key = spec_[i]
        if sub is not None:
            yield from group_at(spec_, i, q, acc, cont, max(lo, min_take))
            return
        p = preds[name]
        u = preds[until_key] if until_key else None
        lo = max(lo, min_take)
        has_iter = name in iters
        max_take = 0
        while (
            q + max_take < n
            and p[q + max_take]
            and (hi is None or max_take < hi)
            and (u is None or not u[q + max_take])
            and (
                not has_iter
                or iter_ok(
                    name, q + max_take, acc, list(range(q, q + max_take))
                )
            )
        ):
            max_take += 1
        if max_take < lo:
            return
        counts = (
            range(max_take, lo - 1, -1) if greedy else range(lo, max_take + 1)
        )
        for take in counts:
            nxt = dict(acc)
            if take:
                nxt[name] = acc.get(name, []) + list(range(q, q + take))
            yield from seq(spec_, i + 1, q + take, nxt, cont)

    def group_at(spec_, i, q, acc, cont, lo_eff):
        """Iterate spec_[i]'s subpattern from exactly ``q``; each iteration
        starts where the previous ended (contiguous iterations)."""
        _name, _lo, hi, greedy, _mode, sub, _until = spec_[i]

        def iter_group(count, pos2, acc2):
            def more():
                if hi is None or count < hi:
                    yield from seq(
                        sub, 0, pos2, acc2,
                        lambda p3, a3: iter_group(count + 1, p3, a3),
                    )

            def stop():
                if count >= lo_eff:
                    yield from seq(spec_, i + 1, pos2, acc2, cont)

            if greedy:
                yield from more()
                yield from stop()
            else:
                yield from stop()
                yield from more()

        yield from iter_group(0, q, acc)

    def seq(spec_, i, pos, acc, cont):
        if i == len(spec_):
            yield from cont(pos, acc)
            return
        name, lo, hi, greedy, mode, sub, _until = spec_[i]
        if mode == "not_next":
            p = preds[name]
            if pos < n and p[pos] and iter_ok(name, pos, acc, []):
                return
            yield from seq(spec_, i + 1, pos, acc, cont)
            return
        if mode == "not_followed_by":
            p = preds[name]
            if spec_ is root and i == len(spec_) - 1:
                # terminal NOT: clean through end of scan, or through the
                # WITHIN window when one is set. The window anchors at the
                # FIRST BOUND ROW, not the match-attempt origin: a relaxed
                # first step may bind well after ``start``, and the span
                # check in ``run`` measures from that same first bound row.
                if times is not None and within_ns is not None:
                    bound = [j for idxs in acc.values() for j in idxs]
                    anchor = min(bound) if bound else start
                    j = pos
                    while j < n and times[j] - times[anchor] <= within_ns:
                        if p[j] and iter_ok(name, j, acc, []):
                            return
                        j += 1
                    yield from cont(pos, acc)
                    return
                if name in iters:
                    for j in range(pos, n):
                        if p[j] and iter_ok(name, j, acc, []):
                            return
                elif p[pos:n].any():
                    return
                yield from cont(pos, acc)
                return
            # gap must stay clean until the next (positive) step binds; the
            # next step scans forward from pos (relaxed by construction).
            # A row can both open the next step and satisfy the negation —
            # binding wins at the same position (checked first), matching
            # the single-match semantics. Unless the next step is
            # relaxed_any, its first openable position is also the last
            # (followedBy ignore-edge, as in the plain relaxed scan).
            nxt_open = (
                None
                if spec_[i + 1][4] == "relaxed_any"
                else _strict_opening_names(spec_[i + 1])
            )
            for s2 in range(pos, n):
                yield from bind_at(spec_, i + 1, s2, acc, 1, cont)
                if p[s2] and iter_ok(name, s2, acc, []):
                    return  # negative event occurred before a match
                if nxt_open is not None and any(
                    preds[nm][s2] and iter_ok(nm, s2, acc, [])
                    for nm in nxt_open
                ):
                    return
            return
        if mode in ("relaxed", "relaxed_any"):
            # followedBy (relaxed): the ignore edge carries ¬condition — the
            # scan stops at the first row the step could open on; later
            # occurrences are only reachable via followedByAny (relaxed_any)
            open_names = (
                _strict_opening_names(spec_[i]) if mode == "relaxed" else None
            )
            for s2 in range(pos, n):
                yield from bind_at(spec_, i, s2, acc, 1, cont)
                if open_names is not None and any(
                    preds[nm][s2] and iter_ok(nm, s2, acc, [])
                    for nm in open_names
                ):
                    break
            if lo == 0:  # optional relaxed step/group: skip it entirely
                yield from seq(spec_, i + 1, pos, acc, cont)
            return
        yield from bind_at(spec_, i, pos, acc, 0, cont)

    def root_cont(pos, acc):
        if pos > start:  # refuse fully-empty match
            yield acc

    yield from seq(root, 0, start, {}, root_cont)


def _match_at(
    preds, spec, start, n, times=None, within_ns=None, iters=None, vals=None
):
    """First (preferred) match of the pattern at ``start``, or None."""
    return next(
        _iter_matches_at(preds, spec, start, n, times, within_ns, iters, vals),
        None,
    )


def _eval_measure(pdf: pd.DataFrame, idxs, fn: str, col: str | None):
    if fn == "count":
        return len(idxs)
    if not idxs:
        return None
    vals = pdf[col].iloc[idxs]
    if fn == "first":
        return vals.iloc[0]
    if fn == "last":
        return vals.iloc[-1]
    if fn == "min":
        return vals.min()
    if fn == "max":
        return vals.max()
    if fn == "sum":
        # SQL SUM over zero non-NULL values is NULL; pandas' skipna sum
        # of an all-NA series is 0 (r12 degenerate sweep — the only
        # aggregate where the two models disagree on all-NULL input)
        return None if vals.isna().all() else vals.sum()
    if fn == "avg":
        return vals.mean()
    raise ValueError(f"unknown measure fn {fn}")


def _measure_type(df: DataFrame, m: Measure) -> T.DataType:
    if m.fn.lower() == "count":
        return T.LongType()
    base = df.schema[m.col].dataType
    if m.fn.lower() == "avg":
        return T.DoubleType()
    if m.fn.lower() == "sum" and isinstance(base, (T.IntegerType, T.ShortType)):
        return T.LongType()
    return base
