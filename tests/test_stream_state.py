"""GroupState across micro-batch boundaries: every row-buffering operator
gives the same full rows (payload included) whether its input arrives as
one micro-batch or as four, and both equal the batch equivalent.

The input is 200 rows over 5 keys with bigint order, value and payload
columns (one NULL payload cell — it turns the payload float64 in the
input batches), written as 4 files in event-time order. Rows wait in
state between batches, so a value the state round trip loses shows up
as a difference from the model.
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


def _match_recognize_batch(spark, path):
    from flink_psl_spark.cep import match_recognize

    pattern, measures = _cep_steps()
    return match_recognize(
        spark.read.schema(SCHEMA).parquet(path), "k", ["ts", "o"],
        pattern, measures,
    )


CASES = {
    # name: (operator, output mode, pandas model or batch equivalent)
    "keyed_top_n": (_top_n, "update", _top_n_model),
    "keyed_count_window": (_count_window, "append", _count_window_model),
    "streaming_rows_over": (_rows_over, "append", _rows_over_model),
    "streaming_range_over": (_range_over, "append", _range_over_model),
    "streaming_event_time_sort": (
        _event_time_sort, "append", _event_time_sort_model
    ),
    "streaming_match_recognize": (_match_recognize, "append", None),
}


@pytest.mark.parametrize(
    "one_file_per_batch", [False, True], ids=["1batch", "4batches"]
)
@pytest.mark.parametrize("case", list(CASES))
def test_state_survives_micro_batches(spark, src, case, one_file_per_batch):
    from flink_psl_spark.streaming import run_to_memory_table

    op, mode, model = CASES[case]
    out = run_to_memory_table(
        op(_stream(spark, src, one_file_per_batch)), output_mode=mode,
        shuffle_partitions=2,
    )
    rows = [tuple(r) for r in out.collect()]
    if mode == "update":  # final state: the last update per (key, rank)
        rows = list({r[:2]: r for r in rows}.values())
    if model is None:
        want = Counter(
            tuple(r) for r in _match_recognize_batch(spark, src).collect()
        )
    else:
        want = _model_rows(model(_rows()))
    assert Counter(rows) == want
