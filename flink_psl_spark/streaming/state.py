"""Typed GroupState codec for per-key row buffers.

``applyInPandasWithState`` converts state on the JVM against the declared
state schema, and that conversion drops what does not fit it: a Python
float written into an ``array<bigint>`` reads back NULL, and an untyped
empty buffer (``pd.DataFrame({c: []})``) turns integral input into float64
on concat. :class:`RowState` is the one way an operator carries rows across
micro-batches: it derives the state schema from the input frame, restores
the buffer with the dtypes Spark gives input batches (empty buffers
included), and writes integral cells as ``int`` and missing cells as
``None`` (reference: Flink writes keyed state through one serializer
derived from the state's declared type).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.streaming.state import GroupState

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


class RowState:
    """State codec for the rows of ``cols`` buffered per key, followed by
    the operator's ``scalars`` (a DDL field list, e.g. ``"seq bigint"``).

    The state schema (:attr:`schema`) holds one array per buffered column,
    typed as in ``frame``. ``epoch`` names a timestamp column the operator
    holds as epoch integers in ``unit`` ("us" or "ms"): it is declared
    ``bigint`` and :meth:`extend` converts it on the way in.
    """

    def __init__(
        self,
        frame: DataFrame,
        cols: list[str],
        *,
        scalars: str = "",
        epoch: str | None = None,
        unit: str = "us",
    ) -> None:
        types = {f.name: f.dataType for f in frame.schema.fields}
        self.cols = list(cols)
        self._types = [T.LongType() if c == epoch else types[c] for c in cols]
        self._arrow = [
            to_arrow_type(t, timestamp_utc=False) for t in self._types
        ]
        self._epoch, self._unit = epoch, unit
        self._has_scalars = bool(scalars)
        self.schema = ", ".join(
            [f"`{c}` array<{t.simpleString()}>"
             for c, t in zip(self.cols, self._types)]
            + ([scalars] if scalars else [])
        )

    def load(self, state: GroupState, *defaults):
        """The buffered rows as a typed frame; with scalars declared,
        ``(frame, *scalars)``, where ``defaults`` stand in for the scalars
        while the key has no state."""
        if state.exists:
            stored = state.get
        else:
            stored = ([],) * len(self.cols) + defaults
        frame = pd.DataFrame(
            {
                c: pa.array(v, type=a).to_pandas(
                    date_as_object=True, coerce_temporal_nanoseconds=True
                )
                for c, a, v in zip(self.cols, self._arrow, stored)
            }
        )
        if not self._has_scalars:
            return frame
        return (frame, *stored[len(self.cols):])

    def save(self, state: GroupState, frame: pd.DataFrame, *scalars) -> None:
        """Write ``frame``'s buffered columns and the scalars to ``state``."""
        cells = []
        for c, t in zip(self.cols, self._types):
            s = frame[c]
            vals = s.astype(object).where(s.notna(), None).tolist()
            if isinstance(t, _INTEGRAL):
                vals = [None if v is None else int(v) for v in vals]
            cells.append(vals)
        state.update((*cells, *scalars))

    def extend(
        self, buf: pd.DataFrame, batches: Iterable[pd.DataFrame]
    ) -> pd.DataFrame:
        """``buf`` followed by the input ``batches``, projected to the
        buffered columns, the epoch column converted to integers. Empty
        frames take no part in the concat, so they cannot change the
        result's dtypes."""
        parts = [buf] if len(buf) else []
        for b in batches:
            if not len(b):
                continue
            b = b[self.cols]
            if self._epoch is not None:
                b = b.assign(
                    **{
                        self._epoch: b[self._epoch]
                        .values.astype(f"datetime64[{self._unit}]")
                        .astype("int64")
                    }
                )
            parts.append(b)
        return pd.concat(parts, ignore_index=True) if parts else buf
