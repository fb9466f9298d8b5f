"""Golden-plan snapshot definitions — shared by the updater script
(scripts/update_golden_plans.py) and the snapshot test (tests/test_plans.py).

The reference snapshots every custom planner rewrite as a golden file
(TableTestBase.scala:92 — 222 XML plan snapshots under
flink-table-planner/src/test/resources). Here the snapshot unit is the
OPTIMIZED-LOGICAL plan signature (flink_psl_spark.plans.plan_signature):
operator names + tree shape only, no expression IDs or paths, so the
files are stable across sessions and data scales while still failing
loudly if a dialect rewrite or a Spark upgrade changes the plan.
"""

from __future__ import annotations

import os

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden_plans")

#: Flink-dialect statements, one per custom rewrite under snapshot:
#: window TVFs (TUMBLE + SESSION forms), the dedup-recognition pattern
#: (ROW_NUMBER()=1 → window group limit), and the FOR SYSTEM_TIME AS OF
#: temporal join.
STATEMENTS: dict[str, str] = {
    "window_tvf_tumble": """
        SELECT window_start, COUNT(*) AS n
        FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY window_start
    """,
    "session_tvf": """
        SELECT user_id, window_start, COUNT(*) AS n
        FROM TABLE(SESSION(TABLE events PARTITION BY user_id,
                           DESCRIPTOR(ts), INTERVAL '10' MINUTES))
        GROUP BY user_id, window_start
    """,
    "dedup_keep_last": """
        SELECT user_id, ts FROM (
          SELECT user_id, ts,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
          FROM events)
        WHERE rn = 1
    """,
    "temporal_join": """
        SELECT p.event_id, d.rate
        FROM gp_purchases p
        LEFT JOIN gp_click_rates FOR SYSTEM_TIME AS OF p.ts AS d
          ON d.user_id = p.user_id
    """,
}


def _build_interval_join_binned(spark, t):
    """The keyless range-join rewrite (operators/joins.py:212) — bin-keyed
    equi-join replacing Catalyst's nested-loop cartesian."""
    from pyspark.sql import functions as F

    from flink_psl_spark.operators.joins import binned_interval_join

    clicks = t["events"].where(F.col("event_type") == "click")
    purchases = t["events"].where(F.col("event_type") == "purchase")
    return binned_interval_join(
        clicks, purchases, "ts", "ts", "0 seconds", "10 minutes"
    )


def _build_asof_join_backward(spark, t):
    """The as-of / event-time temporal join (operators/joins.py:29)."""
    from pyspark.sql import functions as F

    from flink_psl_spark.operators.joins import asof_join

    clicks = t["events"].where(F.col("event_type") == "click")
    purchases = t["events"].where(F.col("event_type") == "purchase")
    return asof_join(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts"
    )


def _build_salted_agg(spark, t):
    """The two-stage skew-salted aggregation (operators/skew.py:32)."""
    from flink_psl_spark.operators.skew import salted_agg

    return salted_agg(
        t["events"], "user_id", {"n": ("count", "event_id"), "sv": ("sum", "value")}
    )


def _build_cumulate(spark, t):
    """CUMULATE slices exploded row-locally (operators/windows.py)."""
    from pyspark.sql import functions as F

    from flink_psl_spark.operators import cumulate

    return (
        cumulate(t["events"], "ts", "30 minutes", "2 hours")
        .groupBy("window_start", "window_end")
        .agg(F.count("*").alias("n"))
    )


def _changelog_images(spark, t):
    """Two keyed snapshots of the same shape for the diff operators."""
    from pyspark.sql import functions as F

    ev = t["events"]
    old = ev.where(F.col("event_type") == "click").groupBy("user_id").agg(
        F.round(F.sum("value"), 2).alias("v")
    )
    new = ev.where(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.round(F.sum("value"), 2).alias("v")
    )
    return old, new


def _build_snapshot_diff(spark, t):
    """snapshot_diff's ONE full-outer keyed join (operators/changelog.py:58)
    — the plan must stay a single join, no extra exchanges/aggregates."""
    from flink_psl_spark.operators.changelog import snapshot_diff

    old, new = _changelog_images(spark, t)
    return snapshot_diff(old, new, "user_id")


def _build_retract_rows(spark, t):
    """retract_rows = the same single join + a row-local ± expansion
    (operators/changelog.py:243) — signed pairs must not add a shuffle."""
    from flink_psl_spark.operators.changelog import retract_rows

    old, new = _changelog_images(spark, t)
    return retract_rows(old, new, "user_id")


def _build_scd2_history(spark, t):
    """scd2_history's one window pass (operators/changelog.py:131)."""
    from pyspark.sql import functions as F

    from flink_psl_spark.operators.changelog import scd2_history, to_changelog

    changes = to_changelog(
        t["events"].select("user_id", "ts", "value"), "U"
    ).withColumn("__op", F.when(F.col("value") < 0, "D").otherwise("U"))
    return scd2_history(changes, "user_id", "ts")


#: DataFrame-level custom operators under snapshot (the reference's
#: IntervalJoinTest.xml / TemporalJoinTest.xml / agg-test analogues)
BUILDERS = {
    "interval_join_binned": _build_interval_join_binned,
    "asof_join_backward": _build_asof_join_backward,
    "salted_agg": _build_salted_agg,
    "cumulate_slices": _build_cumulate,
    "snapshot_diff": _build_snapshot_diff,
    "retract_rows": _build_retract_rows,
    "scd2_history": _build_scd2_history,
}

#: every snapshot name (SQL statements + DataFrame builders)
ALL_GOLDEN = sorted([*STATEMENTS, *BUILDERS])


def golden_signature(spark, sf_dir: str, name: str) -> dict:
    """Build the named statement's/operator's optimized-plan signature over
    the fixture tables (plan shape is schema-driven — data-scale
    independent)."""
    from pyspark.sql import functions as F

    from flink_psl_spark.plans import plan_signature
    from flink_psl_spark.queries.registry import tables
    from flink_psl_spark.temporal_sql import (
        clear_versioned_tables,
        register_versioned_table,
        rewrite_flink_sql,
    )

    t = tables(spark, sf_dir)
    if name in BUILDERS:
        return plan_signature(BUILDERS[name](spark, t), "optimized")
    if name == "temporal_join":
        events = spark.table("events")
        events.where(F.col("event_type") == "click").groupBy(
            "user_id", "ts"
        ).agg(F.round(F.max("value"), 2).alias("rate")).createOrReplaceTempView(
            "gp_click_rates"
        )
        events.where(F.col("event_type") == "purchase").createOrReplaceTempView(
            "gp_purchases"
        )
        register_versioned_table(
            "gp_click_rates", time_col="ts", primary_key="user_id"
        )
        try:
            df = spark.sql(rewrite_flink_sql(STATEMENTS[name]))
        finally:
            clear_versioned_tables()
    else:
        df = spark.sql(rewrite_flink_sql(STATEMENTS[name]))
    return plan_signature(df, "optimized")
