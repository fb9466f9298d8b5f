"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``flink_psl_spark.queries`` (one named entry per
implemented operator from SURVEY.md §2 + the LLM-pipeline operators);
this module just re-exports that registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _configure(spark: SparkSession) -> None:
    """Apply the engine's session conf to a driver-provided session.

    Shares ``RUNTIME_SQL_CONF`` with ``flink_psl_spark.session.get_spark``
    (single source of truth — round-4 postmortem: a conf present only in
    the builder path broke the datagen DSv2 source under the driver's
    own session).

    Static confs cannot be set here, so a driver-provided session keeps
    Spark's default generated-class cache (100 entries, sized by whichever
    thread compiled first); ``get_spark`` sets and builds a larger one.
    """
    from flink_psl_spark.session import RUNTIME_SQL_CONF

    for k, v in RUNTIME_SQL_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable at runtime on some builds — session default wins


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    _configure(spark)
    from flink_psl_spark.queries import QUERIES

    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from flink_psl_spark.queries import QUERIES

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, fn in QUERIES.items():

        def wrapped(spark: SparkSession, sf_dir: str, _fn=fn) -> DataFrame:
            _configure(spark)
            return _fn(spark, sf_dir)

        out[name] = wrapped
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omissions → rows-only)."""
    from flink_psl_spark.queries import ORACLES

    return dict(ORACLES)
