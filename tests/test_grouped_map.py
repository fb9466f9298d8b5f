"""grouped_map keeps Spark's grouped applyInPandas contract: one call per key
with a fresh RangeIndex, NULL keys as one group. applyInPandas is the
reference implementation here."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from flink_psl_spark.grouped import grouped_map

BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture
def small_batches(spark):
    """Arrow batches of 7 rows, so most keys straddle a batch boundary."""
    before = spark.conf.get(BATCH, None)
    spark.conf.set(BATCH, "7")
    yield
    if before is None:
        spark.conf.unset(BATCH)
    else:
        spark.conf.set(BATCH, before)


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _assert_same(df, keys, fn, schema):
    """grouped_map and applyInPandas give the same rows; fn also checks
    that its frame carries a fresh RangeIndex."""

    def checked(pdf):
        assert pdf.index.equals(pd.RangeIndex(len(pdf)))
        return fn(pdf)

    got = _rows(grouped_map(df, keys, checked, schema))
    want = _rows(df.groupBy(*keys).applyInPandas(checked, schema))
    assert got == want
    return got


def _summary(keys):
    def fn(pdf):
        out = pdf[keys].head(1).reset_index(drop=True)
        out["n"] = len(pdf)
        out["s"] = int(pdf["id"].sum())
        return out

    return fn


def test_keys_straddling_arrow_batches(spark, small_batches):
    df = spark.range(500).selectExpr("id % 11 AS k", "id")
    got = _assert_same(df, ["k"], _summary(["k"]), "k long, n long, s long")
    assert len(got) == 11 and sum(r[1] for r in got) == 500


def test_one_group_spanning_many_batches(spark, small_batches):
    df = spark.range(300).selectExpr("1 AS k", "id")
    got = _assert_same(df, ["k"], _summary(["k"]), "k int, n long, s long")
    assert got == [(1, 300, sum(range(300)))]


def test_null_keys_form_one_group(spark, small_batches):
    df = spark.range(200).selectExpr(
        "CASE WHEN id % 5 = 0 THEN NULL ELSE id % 3 END AS k", "id"
    )
    got = _assert_same(df, ["k"], _summary(["k"]), "k long, n long, s long")
    assert (None, 40, sum(range(0, 200, 5))) in got


def test_null_keys_with_two_key_columns(spark, small_batches):
    df = spark.range(300).selectExpr(
        "CASE WHEN id % 4 = 0 THEN NULL ELSE id % 2 END AS a",
        "CASE WHEN id % 6 = 0 THEN NULL ELSE CAST(id % 3 AS STRING) END AS b",
        "id",
    )
    got = _assert_same(
        df, ["a", "b"], _summary(["a", "b"]), "a long, b string, n long, s long"
    )
    assert sum(r[2] for r in got) == 300
    assert (None, None) in {r[:2] for r in got}


def test_groups_emitting_zero_and_many_rows(spark, small_batches):
    """Key 0 emits nothing, key 1 one row, key 2 three rows per input row."""
    df = spark.range(120).selectExpr("id % 3 AS k", "id")

    def fn(pdf):
        k = int(pdf["k"].iat[0])
        if k == 0:
            return pd.DataFrame({"k": [], "v": []})
        if k == 1:
            return pd.DataFrame({"k": [k], "v": [len(pdf)]})
        v = pdf["id"].repeat(3).to_numpy()
        return pd.DataFrame({"k": k, "v": v})

    got = _assert_same(df, ["k"], fn, "k long, v long")
    assert {r[0] for r in got} == {1, 2} and len(got) == 1 + 3 * 40


def test_empty_input_and_empty_partitions(spark):
    schema = "k long, n long, s long"
    empty = spark.range(0).selectExpr("id AS k", "id")
    assert _assert_same(empty, ["k"], _summary(["k"]), schema) == []
    # two keys over defaultParallelism (4) partitions: some stay empty
    few = spark.range(10).selectExpr("id % 2 AS k", "id")
    assert len(_assert_same(few, ["k"], _summary(["k"]), schema)) == 2


def test_order_is_honoured(spark, small_batches):
    df = spark.range(200).selectExpr("id % 4 AS k", "id", "(id * 37) % 211 AS r")

    def seq(pdf):
        return pd.DataFrame(
            {"k": [pdf["k"].iat[0]], "ids": [",".join(map(str, pdf["id"]))]}
        )

    def expect(k, by, descending):
        ids = [i for i in range(200) if i % 4 == k]
        ids.sort(key=lambda i: (i * 37) % 211 if by == "r" else i, reverse=descending)
        return ",".join(map(str, ids))

    for order, by, descending in (
        (["id"], "id", False),
        ([F.col("r").desc()], "r", True),
    ):
        got = dict(grouped_map(df, "k", seq, "k long, ids string", order).collect())
        assert got == {k: expect(k, by, descending) for k in range(4)}
