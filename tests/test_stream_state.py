"""GroupState across micro-batch boundaries: every keyed-state operator
whose result does not depend on how its input splits into micro-batches
gives the same full rows (payload included) whether its input arrives as
one micro-batch or as four, and both equal the batch equivalent.

The input is 200 rows over 5 keys with bigint order, value and payload
columns (one NULL payload cell — it turns the payload float64 in the
input batches), written as 4 files in event-time order. Rows wait in
state between batches, so a value the state round trip loses shows up
as a difference from the model.

``connect_keyed``, ``with_current_watermark`` and ``stream_space_saving``
are not in the table: their output depends on the split (each one's
docstring says how).
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

SCHEMA = "k bigint, o bigint, ts timestamp, v bigint, p bigint, x double"
T0 = dt.datetime(2024, 1, 1)
NULL_P = 7  # key 2's top value, first file: waits in state all replay
# one row in four per key dropped: a key's rows are 5 minutes apart,
# with a 10-minute hole every 20 minutes (ts = T0 + o minutes)
HOLES = "o % 20 < 15"


def _rows() -> pd.DataFrame:
    i = np.arange(200)
    v = (i * 37) % 101
    v[NULL_P] = 1000
    p = pd.array(i * 10, dtype="Int64")
    p[NULL_P] = pd.NA
    return pd.DataFrame(
        {
            "k": i % 5,
            "o": i,
            "ts": [T0 + dt.timedelta(minutes=int(j)) for j in i],
            "v": v,
            "p": p,
            "x": i + 1 / 3,
        }
    )


@pytest.fixture(scope="module")
def src(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("stream_state_src")
    rows = _rows()
    for n in range(4):
        part = rows.iloc[n * 50:(n + 1) * 50]
        table = pa.Table.from_pandas(part, preserve_index=False)
        table = table.set_column(
            2, "ts", table["ts"].cast(pa.timestamp("us", tz="UTC"))
        )
        f = str(d / f"part-{n}.parquet")
        pq.write_table(table, f)
        os.utime(f, (1_700_000_000 + n * 100,) * 2)  # replay order
    return str(d)


def _stream(spark, path, one_file_per_batch):
    reader = spark.readStream.schema(SCHEMA)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.parquet(path)


def _py(v):
    if v is None or v is pd.NA or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v.item() if isinstance(v, np.generic) else v


def _model_rows(df: pd.DataFrame) -> Counter:
    return Counter(
        tuple(_py(v) for v in r)
        for r in df.astype(object).itertuples(index=False)
    )


def _top_n(s):
    from flink_psl_spark.streaming import keyed_top_n

    return keyed_top_n(
        s, "k", "v", 3, payload_cols=["o", "p"], tiebreak_cols=["o"]
    )


def _top_n_model(df):
    top = df.sort_values(["k", "v", "o"], ascending=[True, False, True])
    top = top.groupby("k").head(3).copy()
    top["rank"] = top.groupby("k").cumcount() + 1
    return top[["k", "rank", "v", "o", "p"]]


def _count_window(s):
    from flink_psl_spark.streaming import keyed_count_window

    return keyed_count_window(s, "k", "o", "v", 7)


def _count_window_model(df):
    out = []
    for k, g in df.sort_values("o").groupby("k"):
        vals = g["v"].to_numpy()
        for seq in range(len(vals) // 7):
            w = vals[seq * 7:(seq + 1) * 7]
            out.append(
                (k, seq, 7, float(w.sum()), float(w.min()), float(w.max()))
            )
    return pd.DataFrame(out)


def _rows_over(s):
    from flink_psl_spark.streaming import streaming_rows_over

    return streaming_rows_over(s, "k", "o", "v", 2, payload_cols=["p"])


def _rows_over_model(df):
    out = []
    for _, g in df.sort_values("o").groupby("k"):
        vals = g["v"].to_numpy()
        for j, r in enumerate(g.itertuples(index=False)):
            w = vals[max(0, j - 2):j + 1]
            out.append(
                (r.k, r.o, r.v, r.p, float(w.sum()), float(w.mean()), len(w))
            )
    return pd.DataFrame(out)


def _range_over(s):
    from flink_psl_spark.streaming import streaming_range_over

    return streaming_range_over(
        s.drop("o"), "k", "ts", "v", "10 minutes", payload_cols=["p"]
    )


def _range_over_model(df):
    out = []
    for _, g in df.sort_values("ts").groupby("k"):
        for r in g.itertuples(index=False):
            lo = r.ts - pd.Timedelta("10 minutes")
            w = g["v"][(g["ts"] >= lo) & (g["ts"] <= r.ts)].to_numpy()
            out.append(
                (r.k, r.ts, r.v, r.p, float(w.sum()), float(w.mean()), len(w))
            )
    return pd.DataFrame(out)


def _event_time_sort(s):
    from flink_psl_spark.streaming import streaming_event_time_sort

    return streaming_event_time_sort(
        s.withWatermark("ts", "0 seconds"), "k", "ts",
        payload_cols=["o", "v", "p"], tiebreak_col="o",
    )


def _event_time_sort_model(df):
    out = df.sort_values(["k", "ts", "o"]).copy()
    out.insert(1, "emit_seq", out.groupby("k").cumcount())
    return out[["k", "emit_seq", "ts", "o", "v", "p"]]


def _running_agg(s):
    from flink_psl_spark.streaming import keyed_running_agg

    return keyed_running_agg(s, "k", "p")


def _running_agg_model(df):
    p = df.groupby("k")["p"]
    return pd.DataFrame(
        {
            "cnt": p.size(),
            "total": p.sum().astype(float),
            "min_v": p.min().astype(float),
            "max_v": p.max().astype(float),
        }
    ).reset_index()


def _sessions(s):
    from flink_psl_spark.streaming import timer_session_agg

    return timer_session_agg(
        s.where(HOLES), "k", "ts", "p", gap="8 minutes", delay="0 seconds"
    )


def _sessions_model(df):
    """Key 2's first session holds the NULL ``p`` cell: COUNT(*) counts
    it, SUM skips it."""
    df = df.query(HOLES)
    gap, wm = pd.Timedelta("8 minutes"), df["ts"].max()
    out = []
    for k, g in df.sort_values("ts").groupby("k"):
        for _, sess in g.groupby((g["ts"].diff() >= gap).cumsum()):
            end = sess["ts"].iloc[-1] + gap
            if end <= wm:
                total = sess["p"].sum(min_count=1)
                out.append(
                    (k, sess["ts"].iloc[0], end, len(sess),
                     None if pd.isna(total) else float(total))
                )
    return pd.DataFrame(out)


def _gap_fill(s):
    from flink_psl_spark.streaming import stream_gap_fill

    return stream_gap_fill(
        s.where(HOLES), "k", "ts", "p", bucket_ms=300_000, delay="0 seconds"
    )


def _gap_fill_model(df):
    """A bucket's observation is its latest row. Key 2's bucket at
    minute 5 holds only the NULL ``p`` cell, so it is filled with the
    previous bucket's value, as batch gap_fill's last(ignorenulls)."""
    df = df.query(HOLES)
    step, wm = pd.Timedelta("5 minutes"), df["ts"].max()
    out = []
    for k, g in df.sort_values("ts").groupby("k"):
        obs = g.groupby(g["ts"].dt.floor(step))["p"].last(skipna=False)
        b, carry = obs.index[0], None
        while b + step <= wm:
            observed = b in obs.index and not pd.isna(obs[b])
            if observed:
                carry = float(obs[b])
            out.append((k, b, carry, not observed))
            b += step
    return pd.DataFrame(out)


EWMA_THRESHOLD = 8000.0


def _ewma(s):
    from pyspark.sql import functions as F

    from flink_psl_spark.streaming import stream_ewma_anomaly

    out = stream_ewma_anomaly(
        s, "k", "ts", "p", bucket_ms=3_600_000,
        threshold=EWMA_THRESHOLD, delay="0 seconds",
    )
    return out.select(  # the batch operator's rounding
        "k", "bucket_ts", F.round("x", 2).alias("x"),
        F.round("smoothed", 6).alias("smoothed"),
        F.round("residual", 6).alias("residual"), "anomaly",
    )


def _ewma_batch(df):
    from pyspark.sql import functions as F

    from flink_psl_spark.operators import ewma_anomaly

    out = ewma_anomaly(df, "k", "ts", "p", threshold=EWMA_THRESHOLD)
    wm = F.lit(T0 + dt.timedelta(minutes=199))  # the final watermark
    return out.where(F.col("bucket_ts") + F.expr("INTERVAL 1 HOUR") <= wm)


def _cep_steps():
    from flink_psl_spark.cep import Measure, Step

    pattern = [Step.once("A", "o % 2 = 0"), Step.once("B", "o % 2 = 1")]
    measures = [
        Measure("a_x", "A", "first", "x"),
        Measure("b_x", "B", "last", "x"),
        Measure("b_o", "B", "last", "o"),
    ]
    return pattern, measures


def _match_recognize(s):
    from flink_psl_spark.streaming.cep_stream import streaming_match_recognize

    pattern, measures = _cep_steps()
    return streaming_match_recognize(
        s, "k", "ts", pattern, measures, delay="0 seconds", tiebreak_col="o"
    )


def _match_recognize_batch(df):
    from flink_psl_spark.cep import match_recognize

    pattern, measures = _cep_steps()
    return match_recognize(df, "k", ["ts", "o"], pattern, measures)


def _pandas(model):
    return lambda spark, path: _model_rows(model(_rows()))


def _batch(op):
    def want(spark, path):
        rows = op(spark.read.schema(SCHEMA).parquet(path)).collect()
        return Counter(tuple(r) for r in rows)

    return want


CASES = {
    # name: (operator, output mode, key columns of an update row,
    #        expected rows from a pandas model or the batch equivalent)
    "keyed_top_n": (_top_n, "update", 2, _pandas(_top_n_model)),
    "keyed_running_agg": (
        _running_agg, "update", 1, _pandas(_running_agg_model)
    ),
    "keyed_count_window": (
        _count_window, "append", None, _pandas(_count_window_model)
    ),
    "streaming_rows_over": (
        _rows_over, "append", None, _pandas(_rows_over_model)
    ),
    "streaming_range_over": (
        _range_over, "append", None, _pandas(_range_over_model)
    ),
    "streaming_event_time_sort": (
        _event_time_sort, "append", None, _pandas(_event_time_sort_model)
    ),
    "timer_session_agg": (
        _sessions, "append", None, _pandas(_sessions_model)
    ),
    "stream_gap_fill": (_gap_fill, "append", None, _pandas(_gap_fill_model)),
    "stream_ewma_anomaly": (_ewma, "append", None, _batch(_ewma_batch)),
    "streaming_match_recognize": (
        _match_recognize, "append", None, _batch(_match_recognize_batch)
    ),
}


@pytest.mark.parametrize(
    "one_file_per_batch", [False, True], ids=["1batch", "4batches"]
)
@pytest.mark.parametrize("case", list(CASES))
def test_state_survives_micro_batches(spark, src, case, one_file_per_batch):
    from flink_psl_spark.streaming import run_to_memory_table

    op, mode, keys, want = CASES[case]
    out = run_to_memory_table(
        op(_stream(spark, src, one_file_per_batch)), output_mode=mode,
        shuffle_partitions=2,
    )
    rows = [tuple(r) for r in out.collect()]
    if mode == "update":  # final state: the last update per key
        rows = list({r[:keys]: r for r in rows}.values())
    assert Counter(rows) == want(spark, src)


@pytest.fixture(scope="module")
def null_first(tmp_path_factory) -> str:
    """Two files: key 1 holds one NULL value in the first and 3.0 in the
    second; key 2 holds 5.0, then 1.0."""
    d = tmp_path_factory.mktemp("null_first_src")
    for n, vals in enumerate([[None, 5.0], [3.0, 1.0]]):
        f = str(d / f"part-{n}.parquet")
        pq.write_table(
            pa.table(
                {"k": pa.array([1, 2], pa.int64()),
                 "v": pa.array(vals, pa.float64())}
            ),
            f,
        )
        os.utime(f, (1_700_000_000 + n * 100,) * 2)  # replay order
    return str(d)


def _running_agg_last(spark, path, one_file_per_batch, ttl_ms=None):
    """Each key's last update from keyed_running_agg over ``path``."""
    from flink_psl_spark.streaming import keyed_running_agg, run_to_memory_table

    stream = spark.readStream.schema("k bigint, v double")
    if one_file_per_batch:
        stream = stream.option("maxFilesPerTrigger", 1)
    out = run_to_memory_table(
        keyed_running_agg(stream.parquet(path), "k", "v", ttl_ms=ttl_ms),
        output_mode="update", shuffle_partitions=2,
    )
    return {r["k"]: tuple(r) for r in out.collect()}


@pytest.mark.parametrize(
    "one_file_per_batch", [False, True], ids=["1batch", "2batches"]
)
def test_running_agg_folds_only_non_null_values(
    spark, null_first, one_file_per_batch
):
    """A key whose first batch held only a NULL value still gets the
    later value's min and max; ``cnt`` counts every row (COUNT(*))."""
    assert _running_agg_last(spark, null_first, one_file_per_batch) == {
        1: (1, 2, 3.0, 3.0, 3.0),
        2: (2, 2, 6.0, 1.0, 5.0),
    }


@pytest.mark.parametrize(
    "ttl_ms, want",
    [
        (None, {1: (1, 2, 3.0, 3.0, 3.0), 2: (2, 2, 6.0, 1.0, 5.0)}),
        (1, {1: (1, 1, 3.0, 3.0, 3.0), 2: (2, 1, 1.0, 1.0, 1.0)}),
    ],
    ids=["no_ttl", "ttl_1ms"],
)
def test_running_agg_ttl_expires_on_read(spark, null_first, ttl_ms, want):
    """Two micro-batches further apart than ``ttl_ms`` in processing
    time: the second batch finds the first one's values expired."""
    assert _running_agg_last(spark, null_first, True, ttl_ms) == want
