"""Bucketed tables — shuffle-free co-located joins and aggregations.

Reference counterpart: Flink's batch planner exploits pre-partitioned data
through exchange-removal rules (`flink-table-planner`
`BatchExecExchange`/`RemoveRedundantShuffleRule`; Hive-bucketed sources via
the Hive connector). Spark has the primitive natively: `bucketBy(n, cols)`
on a managed-table write records bucket metadata in the catalog, and the
planner drops the Exchange (and with sorted buckets, the Sort) on every
subsequent join/aggregate keyed on the bucket columns.

This is THE 100 TB lever for repeatedly-joined fact tables: pay one shuffle
at write time, then every nightly join of orders⋈customer on custkey reads
co-located buckets — zero exchange, zero sort (verified by plan assertions
in tests/test_bucketing.py). Bucket counts should be sized so one bucket
of the big table fits an executor core's working set (128–512 MB parquet).
"""

from __future__ import annotations

from itertools import takewhile

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (optionally bucket-sorted) managed table.

    ``sort_cols`` additionally sorts within each bucket file, which lets a
    later sort-merge join skip its Sort as well as its Exchange.
    """
    if num_buckets <= 0:
        raise ValueError("num_buckets must be positive")
    if mode == "overwrite":
        # managed tables don't survive an in-memory catalog across sessions,
        # but their warehouse directory does — a stale location fails the
        # write with LOCATION_ALREADY_EXISTS, so clear both
        drop_table(df.sparkSession, table)
    writer = (
        df.write.format(fmt).mode(mode).bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def drop_table(spark: SparkSession, table: str) -> None:
    """Drop a managed table AND its warehouse directory (the directory can
    outlive the catalog entry when the catalog is in-memory)."""
    import os
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def bucket_info(spark: SparkSession, table: str) -> dict:
    """Bucket spec of a catalog table: {num_buckets, bucket_cols, sort_cols}."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    info = {r["col_name"]: r["data_type"] for r in rows}
    cols = info.get("Bucket Columns", "").strip("[]")
    sorts = info.get("Sort Columns", "").strip("[]")
    return {
        "num_buckets": int(info.get("Num Buckets", "0") or 0),
        "bucket_cols": [c.strip(" `") for c in cols.split(",") if c.strip()],
        "sort_cols": [c.strip(" `") for c in sorts.split(",") if c.strip()],
    }


def cobucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two co-bucketed tables on their bucket columns.

    Validates that both tables are bucketed on ``on`` with the same bucket
    count (the precondition for Spark to elide both exchanges), then emits
    the declarative join with a ``merge`` hint — Catalyst does the actual
    exchange removal. The hint keeps the join a sort-merge join over the
    buckets whatever the session's broadcast threshold, so a small side
    cannot turn it into a broadcast. Raises ValueError when the layouts
    don't line up, because silently falling back to a full shuffle is
    exactly the 100 TB surprise this helper exists to prevent.
    """
    li, ri = bucket_info(spark, left_table), bucket_info(spark, right_table)
    for name, info in ((left_table, li), (right_table, ri)):
        if info["num_buckets"] <= 0:
            raise ValueError(f"table {name!r} is not bucketed")
        if [c.lower() for c in info["bucket_cols"]] != [c.lower() for c in on]:
            raise ValueError(
                f"table {name!r} is bucketed on {info['bucket_cols']}, "
                f"join keys are {on}"
            )
    if li["num_buckets"] != ri["num_buckets"]:
        raise ValueError(
            f"bucket counts differ: {left_table}={li['num_buckets']}, "
            f"{right_table}={ri['num_buckets']}"
        )
    return spark.table(left_table).join(
        spark.table(right_table).hint("merge"), on=on, how=how
    )


def join_is_exchange_free(df: DataFrame) -> bool:
    """Whether ``df`` runs a sort-merge join with no Exchange below it —
    the executed plan of a co-bucketed join. An Exchange above the join
    (a later rollup on other keys) does not count."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    depth = [len(line) - len(line.lstrip(" :+-")) for line in lines]
    for i, line in enumerate(lines):
        if "SortMergeJoin" in line:
            below = takewhile(lambda j: depth[j] > depth[i], range(i + 1, len(lines)))
            return not any("Exchange" in lines[j] for j in below)
    return False


def zorder_key(
    cols: list,
    *,
    ranges: list[tuple[float, float]],
    bits: int = 16,
):
    """Z-order (Morton) interleave key over N numeric columns — the
    multi-dimensional clustering key for data-layout optimization at
    100 TB: sort/range-partition a table by this key before writing and
    rows close in EVERY dimension land in the same parquet row groups,
    so min/max statistics prune scans for predicates on ANY of the
    dimensions (single-column sort orders only prune their own column).

    Each column is quantized to ``bits`` bits over its declared
    ``(lo, hi)`` range (outliers clamp; NULLs quantize to 0 — they sort
    first), then the bit planes interleave column-major:
    bit i of column j lands at position ``i*N + j``. Pure integer
    expression (≤ 64 bits total — ``bits * len(cols) <= 63`` enforced),
    codegen-friendly, replayable in any engine.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    if n < 2:
        raise ValueError("zorder needs at least 2 columns")
    if bits * n > 63:
        raise ValueError(f"bits*cols = {bits * n} exceeds the 63-bit budget")
    if len(ranges) != n:
        raise ValueError("one (lo, hi) range per column required")
    planes = []
    for j, (c, (lo, hi)) in enumerate(zip(cols, ranges)):
        width = (hi - lo) / (1 << bits)
        q = F.least(
            F.lit((1 << bits) - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(c).cast("double") - F.lit(float(lo)))
                    / F.lit(float(width))
                ),
            ),
        ).cast("bigint")
        q = F.coalesce(q, F.lit(0).cast("bigint"))
        for i in range(bits):
            planes.append(
                F.shiftleft(
                    F.shiftright(q, i).bitwiseAND(F.lit(1)), i * n + j
                )
            )
    key = planes[0]
    for p in planes[1:]:
        key = key.bitwiseOR(p)
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list,
    *,
    ranges: list[tuple[float, float]],
    bits: int = 16,
    num_files: int = 64,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered by the Z-order key: range-partition on the
    key (``num_files`` output splits — size so each lands 128–512 MB),
    sort within partitions, drop the helper column. Every retained
    column's parquet min/max then prunes row groups for predicates on
    any Z-ordered dimension."""
    z = zorder_key(cols, ranges=ranges, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.format(fmt)
        .mode(mode)
        .save(path)
    )
