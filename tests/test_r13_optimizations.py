"""Focused contracts for the r13 optimization round.

The round unified every engine materialization behind
``flink_psl_spark.materialize.materialize`` (one knob to swap the local
lineage-cut for a reliable checkpoint on clusters). These tests pin that
(a) both backends return the same rows, (b) the reliable backend really
writes to the configured checkpoint dir, and (c) unknown backends fail
loudly instead of silently falling back. They pass in any order: the
reliable tests share one session-scoped checkpoint dir, which is the one
the shared SparkContext keeps once it is set.
"""

from __future__ import annotations

import os

import pytest

from flink_psl_spark.materialize import (
    BACKEND_ENV,
    CHECKPOINT_DIR_ENV,
    materialize,
)


@pytest.fixture(scope="session")
def ckpt_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("materialize_ckpt")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_materialize_reliable_needs_dir(spark, monkeypatch):
    monkeypatch.setenv(BACKEND_ENV, "reliable")
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    monkeypatch.setattr(spark.sparkContext, "getCheckpointDir", lambda: None)
    with pytest.raises(ValueError, match="checkpoint dir"):
        materialize(spark.range(3))


def test_materialize_backends_equal_rows(spark, monkeypatch, ckpt_dir):
    src = spark.range(100).selectExpr("id", "id * 2 as v")
    expect = _rows(src)

    monkeypatch.setenv(BACKEND_ENV, "local")
    assert _rows(materialize(src)) == expect

    monkeypatch.setenv(BACKEND_ENV, "reliable")
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(ckpt_dir))
    assert _rows(materialize(src)) == expect
    # the checkpoint must actually live in the configured dir
    wrote = [p for p, _dirs, files in os.walk(ckpt_dir) if files]
    assert wrote, "reliable backend wrote nothing under the checkpoint dir"


def test_materialize_unknown_backend_raises(spark, monkeypatch):
    monkeypatch.setenv(BACKEND_ENV, "persist")
    with pytest.raises(ValueError, match="persist"):
        materialize(spark.range(3))


def test_operator_under_reliable_backend(spark, monkeypatch, ckpt_dir):
    """An operator that materializes internally (pagerank's edge table)
    must produce identical results under the reliable backend."""
    from flink_psl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "s bigint, d bigint"
    )
    monkeypatch.setenv(BACKEND_ENV, "local")
    base = _rows(pagerank(edges, iters=2))

    monkeypatch.setenv(BACKEND_ENV, "reliable")
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(ckpt_dir))
    assert _rows(pagerank(edges, iters=2)) == base
