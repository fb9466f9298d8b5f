"""TableEnvironment-style facade — the reference's user-facing entry point.

Reference: ``TableEnvironment`` (flink-table-api-java/.../TableEnvironment.
java; PyFlink table_environment.py — create/execute_sql/sql_query/
from_path/create_temporary_view/register functions). A reference user's
program shape::

    t_env = TableEnvironment.create(...)
    t_env.execute_sql("CREATE TABLE src (...) WITH (...)")
    t_env.sql_query("SELECT ...").execute().collect()

maps here to::

    t_env = TableEnvironment.create()
    t_env.create_table("src", path="/data/src.parquet")      # or the DDL above
    t_env.sql_query("SELECT ...").collect()                  # a plain DataFrame

``execute_sql`` and ``sql_query`` run statement text through
``sql_client.execute``, the one statement path the SQL client and the REST
gateway share: the Flink-dialect DDL, SET/RESET, statement sets, EXPLAIN /
COMPILE PLAN and window-TVF queries all work here as they do there.

Everything returns ordinary PySpark DataFrames — the engine IS Spark; the
facade only provides the reference's ergonomics (catalog registration,
compat-function bootstrapping, batch/streaming source declaration).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from flink_psl_spark.functions import register_sql_compat
from flink_psl_spark.session import get_spark


class TableEnvironment:
    """Unified batch/streaming table environment on a SparkSession."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        register_sql_compat(spark)

    # -- creation ----------------------------------------------------------

    @classmethod
    def create(
        cls,
        *,
        master: str | None = None,
        conf: dict[str, str] | None = None,
        app_name: str = "flink_psl_spark",
    ) -> "TableEnvironment":
        """≈ TableEnvironment.create(EnvironmentSettings) — builds the tuned
        SparkSession (session.get_spark) and bootstraps the compat SQL
        functions."""
        return cls(get_spark(app_name=app_name, master=master, extra_conf=conf))

    # -- catalog -----------------------------------------------------------

    def create_table(
        self,
        name: str,
        *,
        path: str,
        fmt: str = "parquet",
        schema: str | None = None,
        streaming: bool = False,
        **options: str,
    ) -> DataFrame:
        """≈ CREATE TABLE name WITH ('connector'='filesystem', 'path'=…,
        'format'=…): registers a file-backed table as a temp view and
        returns it. ``streaming=True`` registers a file-stream source
        (schema required, as in the reference's DDL)."""
        from flink_psl_spark.sources import read_table

        df = read_table(
            self.spark, path, fmt, schema=schema, streaming=streaming, **options
        )
        df.createOrReplaceTempView(name)
        return df

    def register_fixture_tables(self, sf_dir: str) -> dict[str, DataFrame]:
        """Register the standard test-fixture tables of a scale-factor dir."""
        from flink_psl_spark.queries.registry import tables

        return tables(self.spark, sf_dir)

    def create_temporary_view(self, name: str, df: DataFrame) -> None:
        """≈ createTemporaryView(path, table)."""
        df.createOrReplaceTempView(name)

    def drop_temporary_view(self, name: str) -> bool:
        return self.spark.catalog.dropTempView(name)

    def list_tables(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables()]

    def from_path(self, name: str) -> DataFrame:
        """≈ t_env.from_path('catalog.db.table') — a Table handle."""
        return self.spark.table(name)

    def from_pandas(self, pdf, schema: str | None = None) -> DataFrame:
        """≈ PyFlink t_env.from_pandas(pdf[, schema]) — Arrow-batched
        ingestion of a driver-local pandas frame (bounded by contract:
        inline/test data, never the corpus path)."""
        if schema is not None:
            return self.spark.createDataFrame(pdf, schema)
        return self.spark.createDataFrame(pdf)

    @staticmethod
    def to_pandas(table: DataFrame):
        """≈ PyFlink table.to_pandas() — Arrow-batched collect of a result
        Table into pandas (driver-sized results only, as in the
        reference)."""
        return table.toPandas()

    # -- SQL ---------------------------------------------------------------

    def sql_query(self, sql: str) -> DataFrame:
        """≈ sqlQuery(...) — returns the lazily-planned Table (DataFrame)."""
        return self.execute_sql(sql)

    def execute_sql(self, sql: str) -> DataFrame:
        """≈ executeSql(...) — runs one statement (or STATEMENT SET block)
        through ``sql_client.execute``: DDL/DML/SET execute eagerly and
        return a ``result`` frame of ``OK`` rows, a query returns its
        DataFrame."""
        from flink_psl_spark.sql_client import execute

        return execute(self.spark, sql).df

    # -- functions ---------------------------------------------------------

    def create_temporary_function(self, name: str, fn: Callable, returns: str) -> None:
        """≈ createTemporarySystemFunction with a Python scalar function.
        For hot paths prefer ``pandas_udf`` or expression compat shims."""
        from pyspark.sql.functions import udf

        self.spark.udf.register(name, udf(fn, returns))

    def create_temporary_table_function(self, name: str, udtf_class) -> None:
        """≈ registering a TableFunction (UDTF, SQL LATERAL use)."""
        from pyspark.sql.functions import udtf as udtf_dec

        self.spark.udtf.register(
            name,
            udtf_class if hasattr(udtf_class, "returnType") else udtf_dec(udtf_class),
        )
