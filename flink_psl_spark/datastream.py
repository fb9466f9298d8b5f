"""DataStream-style fluent API (reference: DataStream.java / PyFlink
pyflink.datastream) over DataFrames.

A reference DataStream program::

    env.from_collection(...).map(f).filter(p).key_by(k).reduce(r).print()

maps here to::

    ds = DataStream.from_collection(spark, ...)
    ds.map(f, "x int, y int").filter("x > 0").key_by("x").reduce(...)

Each operation returns a new DataStream wrapping a DataFrame (`.df`
exposes it). Row-at-a-time callables run as Arrow-batched UDFs —
PyFlink's own execution model — but expression strings/Columns are
accepted everywhere and stay JVM-side; prefer them in hot paths
(SURVEY §2.10: UDFs are the slow path).

Reference method → here:
  map:572 → map · flatMap:608 → flat_map · filter:695 → filter ·
  keyBy → key_by · KeyedStream.reduce:743 → KeyedStream.reduce ·
  sum/min/max:767-835 → KeyedStream.sum/min/max · union:227 → union ·
  connect:253 → connect (streaming.connect_keyed) · process:647 →
  process (mapInPandas) · print:934 → print_ · sinkTo → write_to ·
  iterate:530 → iterate (bounded driver-side round loop)
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from flink_psl_spark.grouped import grouped_map
from flink_psl_spark.materialize import materialize


class DataStream:
    def __init__(self, df: DataFrame):
        self.df = df

    # -- sources (StreamExecutionEnvironment.fromElements/fromCollection) --

    @classmethod
    def from_collection(
        cls, spark: SparkSession, data: list, schema: str
    ) -> "DataStream":
        return cls(spark.createDataFrame(data, schema))

    @classmethod
    def from_sequence(cls, spark: SparkSession, start: int, end: int) -> "DataStream":
        return cls(spark.range(start, end + 1).withColumnRenamed("id", "value"))

    # -- row-level ops ----------------------------------------------------

    def map(
        self, fn: Callable[[dict], dict] | list[Column], schema: str | None = None
    ) -> "DataStream":
        """map (DataStream.java:572). Callable form: fn(row_dict)->row_dict
        with an output ``schema``; expression form: list of Columns (stays
        JVM-side)."""
        if callable(fn):
            if schema is None:
                raise ValueError("callable map requires an output schema")
            import pandas as pd

            def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
                for pdf in batches:
                    yield pd.DataFrame([fn(r) for r in pdf.to_dict("records")])

            return DataStream(self.df.mapInPandas(run, schema))
        return DataStream(self.df.select(*fn))

    def flat_map(
        self, fn: Callable[[dict], "Iterator[dict]"], schema: str
    ) -> "DataStream":
        """flatMap (DataStream.java:608): 0..n output rows per input row."""
        import pandas as pd

        def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            for pdf in batches:
                out = [o for r in pdf.to_dict("records") for o in fn(r)]
                yield pd.DataFrame(out) if out else pd.DataFrame(
                    {c.split()[0]: [] for c in schema.split(",")}
                )

        return DataStream(self.df.mapInPandas(run, schema))

    def filter(self, predicate: str | Column) -> "DataStream":
        """filter (DataStream.java:695) — expression-only (JVM-side)."""
        return DataStream(self.df.where(predicate))

    def process(
        self, fn: Callable[["pd.DataFrame"], "pd.DataFrame"], schema: str  # noqa: F821
    ) -> "DataStream":
        """process (DataStream.java:647): batch-at-a-time transform."""

        def run(batches):
            for pdf in batches:
                yield fn(pdf)

        return DataStream(self.df.mapInPandas(run, schema))

    # -- partitioning / multi-stream --------------------------------------

    def key_by(self, *keys: str) -> "KeyedStream":
        """keyBy → KeyedStream (KeyedStream.java:112)."""
        return KeyedStream(self.df, list(keys))

    def window_all(
        self,
        time_col: str,
        *,
        size: str | None = None,
        slide: str | None = None,
        gap: str | None = None,
    ) -> "WindowedStream":
        """windowAll (DataStream → AllWindowedStream): the non-keyed
        window — all rows share each window. The reference warns this is
        parallelism-1; here the per-window aggregation still partial-
        aggregates map-side, but the final combine per window is one
        reducer (same caveat, documented)."""
        return KeyedStream(self.df, []).window(
            time_col, size=size, slide=slide, gap=gap
        )

    def union(self, *others: "DataStream") -> "DataStream":
        """union (DataStream.java:227) — UNION ALL of same-schema streams."""
        out = self.df
        for o in others:
            out = out.unionByName(o.df)
        return DataStream(out)

    def broadcast_join(self, dim: DataFrame, on, how: str = "inner") -> "DataStream":
        """broadcast (DataStream.java:434) pattern: map-side dim join."""
        return DataStream(self.df.join(F.broadcast(dim), on, how))

    def iterate(
        self,
        body: Callable[["DataStream"], "DataStream"],
        feedback: str | Column,
        max_iterations: int = 100,
    ) -> "DataStream":
        """Bounded iteration (DataStream.iterate, DataStream.java:530).

        Flink's IterativeStream feeds part of each step's output back into
        the loop head: ``closeWith`` routes rows matching the feedback
        condition back, everything else leaves the loop. Spark's DAG has no
        cycles, so the loop runs as a driver-side round loop — the same
        strategy as the graph library (operators/graph.py): each round
        applies ``body`` once to the in-flight rows, emits the rows that
        fail ``feedback``, and re-enters the rest. ``localCheckpoint``
        cuts lineage so plans don't grow with the iteration count, which is
        what makes this survive at scale; the per-round driver sync is the
        cost Flink's native cyclic dataflow avoids (documented gap for
        unbounded/low-latency loops — SURVEY §2 row 62).

        The loop stops when no rows re-enter or after ``max_iterations``
        (Flink's bounded-iteration configuration).
        """
        fb = F.expr(feedback) if isinstance(feedback, str) else feedback
        cur = self.df
        emitted: DataFrame | None = None
        for _ in range(max_iterations):
            stepped = body(DataStream(cur)).df.transform(materialize)
            out = stepped.where(~fb)
            emitted = out if emitted is None else emitted.unionByName(out)
            cur = stepped.where(fb)
            if cur.isEmpty():
                break
        else:
            # iteration budget exhausted: remaining in-flight rows leave the
            # loop (Flink drains the feedback edge on termination)
            emitted = (
                cur if emitted is None else emitted.unionByName(cur)
            )
        return DataStream(emitted)

    # -- sinks -------------------------------------------------------------

    def print_(self, n: int = 20) -> None:
        """print sink (DataStream.java:934)."""
        self.df.show(n, truncate=False)

    def write_to(self, path: str, fmt: str = "parquet", **options) -> None:
        """sinkTo / writeAsText-style file sink."""
        from flink_psl_spark.sources import write_table

        write_table(self.df, path, fmt, **options)

    def execute_and_collect(self) -> list:
        return self.df.collect()


class KeyedStream:
    """Hash-partitioned view with per-key ops (KeyedStream.java:112)."""

    def __init__(self, df: DataFrame, keys: list[str]):
        self.df = df
        self.keys = keys

    def reduce(
        self, fn: Callable[[dict, dict], dict], order_by: str | list[str]
    ) -> "DataStream":
        """reduce (KeyedStream.java:743): fold rows per key in ``order_by``
        order; emits the final reduced row per key (batch semantics of the
        rolling reduce's last value). Runs as one :func:`grouped_map` call
        per key, rows arriving in ``order_by`` order."""
        import pandas as pd

        order = [order_by] if isinstance(order_by, str) else list(order_by)

        def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
            rows = pdf.to_dict("records")
            acc = rows[0]
            for r in rows[1:]:
                acc = fn(acc, r)
            return pd.DataFrame([acc])

        return DataStream(
            grouped_map(self.df, self.keys, run, self.df.schema, order)
        )

    def _agg(self, col: str, agg: Column) -> "DataStream":
        return DataStream(self.df.groupBy(*self.keys).agg(agg.alias(col)))

    def sum(self, col: str) -> "DataStream":
        """rolling sum's final value (KeyedStream.sum:767)."""
        return self._agg(col, F.sum(col))

    def min(self, col: str) -> "DataStream":
        return self._agg(col, F.min(col))

    def max(self, col: str) -> "DataStream":
        return self._agg(col, F.max(col))

    def min_by(self, order_col: str, payload: str) -> "DataStream":
        """minBy (KeyedStream.java:926): the full row holding the min."""
        return self._agg(payload, F.min_by(payload, order_col))

    def max_by(self, order_col: str, payload: str) -> "DataStream":
        return self._agg(payload, F.max_by(payload, order_col))

    def count(self) -> "DataStream":
        return self._agg("count", F.count(F.lit(1)))

    def window(
        self,
        time_col: str,
        *,
        size: str | None = None,
        slide: str | None = None,
        gap: str | None = None,
    ) -> "WindowedStream":
        """KeyedStream.window(assigner) (reference KeyedStream.window:
        TumblingEventTimeWindows / SlidingEventTimeWindows /
        EventTimeSessionWindows): ``size`` alone → tumbling; ``size`` +
        ``slide`` → sliding; ``gap`` → session."""
        if gap is not None:
            return WindowedStream(
                self.df, self.keys, time_col, "session", {"gap": gap}
            )
        if size is None:
            raise ValueError("window needs size= (tumble/slide) or gap=")
        if slide is not None:
            return WindowedStream(
                self.df, self.keys, time_col, "slide",
                {"size": size, "slide": slide},
            )
        return WindowedStream(
            self.df, self.keys, time_col, "tumble", {"size": size}
        )


class WindowedStream:
    """KeyedStream.window(...) result (reference WindowedStream.java):
    apply an aggregate/reduce over (key, window) groups. Assignment
    delegates to the operator-layer window TVFs (operators/windows.py),
    so the plan is the same flattened window_start/window_end projection
    the SQL path produces."""

    def __init__(
        self,
        df: DataFrame,
        keys: list[str],
        time_col: str,
        kind: str,
        spec: dict,
    ):
        self._df = df
        self._keys = keys
        self._time_col = time_col
        self._kind = kind
        self._spec = spec

    def _assigned(self) -> DataFrame:
        from flink_psl_spark.operators.windows import hop, session, tumble

        if self._kind == "tumble":
            return tumble(self._df, self._time_col, self._spec["size"])
        if self._kind == "slide":
            return hop(
                self._df, self._time_col,
                self._spec["slide"], self._spec["size"],
            )
        if self._kind == "session":
            return session(
                self._df, self._time_col, self._spec["gap"],
                partition_by=self._keys,
            )
        raise ValueError(f"unknown window kind {self._kind!r}")

    def aggregate(self, *aggs: Column) -> "DataStream":
        """WindowedStream.aggregate: named aggregate columns over each
        (key, window) group; output carries keys + window bounds."""
        out = (
            self._assigned()
            .groupBy(*self._keys, "window_start", "window_end")
            .agg(*aggs)
        )
        return DataStream(out)

    def reduce(
        self, fn: Callable[[dict, dict], dict], order_by: str | list[str]
    ) -> "DataStream":
        """WindowedStream.reduce: fold each (key, window) group's rows in
        ``order_by`` order, emit the final accumulator row per group."""
        return KeyedStream(
            self._assigned(),
            [*self._keys, "window_start", "window_end"],
        ).reduce(fn, order_by)
