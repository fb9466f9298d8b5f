"""Query/oracle registry and table-registration cache."""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from flink_psl_spark.catalog import register_tables

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

_registered: dict[tuple[int, str], dict[str, DataFrame]] = {}
# per session: the sf_dir its fixture views point at
_views_at: dict[int, str] = {}
# keeps _views_at equal to what the catalog holds under concurrent calls
_views_lock = threading.Lock()


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Return the fixture tables of ``sf_dir`` and point the session's
    fixture views at them.

    The only code that points the views: the frames load once per
    session+dir, and the views are re-pointed whenever the session's
    last ``tables`` call named another dir, so SQL text always reads the
    dir its caller asked for. A repeat call for the same dir is a dict
    lookup."""
    key = (id(spark), sf_dir)
    with _views_lock:
        if key not in _registered:
            _registered[key] = register_tables(spark, sf_dir)
        elif _views_at.get(id(spark)) != sf_dir:
            for name, df in _registered[key].items():
                df.createOrReplaceTempView(name)
        _views_at[id(spark)] = sf_dir
        return _registered[key]


def query(name: str, oracle: str | None = None):
    """Decorator: register a (spark, sf_dir) -> DataFrame query.

    ``oracle`` is the equivalent DuckDB SQL; omit for ops that aren't
    SQL-expressible (the driver then records a weaker rows-only check).
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def sql_query(name: str, spark_sql: str, oracle: str | None = None) -> None:
    """Register a SQL-text query; oracle defaults to the same text.

    Used when the Spark SQL and DuckDB dialects agree verbatim — one source
    of truth, zero drift.
    """

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        tables(spark, sf_dir)
        return spark.sql(spark_sql)

    QUERIES[name] = fn
    ORACLES[name] = oracle if oracle is not None else spark_sql
