"""Unit tests for the registry-wide plan-audit gate (scripts/plan_audit.py).

The sweep itself runs once per round over the full registry
(PLANAUDIT_r{N}.json); these tests pin the classifier logic and keep the
whitelist honest — every exemption must say what the bounded side is.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import plan_audit


def test_flags_row_at_a_time_python():
    flags, _ = plan_audit.audit_plan("+- BatchEvalPython [f(x)]\n +- FileScan parquet")
    assert flags == ["BatchEvalPython"]


def test_arrow_udf_is_clean():
    flags, info = plan_audit.audit_plan(
        "+- ArrowEvalPython [k(x)]\n +- Exchange hashpartitioning(id, 32)\n"
        " +- FileScan parquet"
    )
    assert flags == []
    assert info["arrow_eval"] == 1 and info["exchanges"] == 1


def test_flags_cartesian_and_bnlj():
    flags, _ = plan_audit.audit_plan(
        "CartesianProduct\n+- BroadcastNestedLoopJoin BuildRight, Cross"
    )
    assert flags == ["CartesianProduct", "BroadcastNestedLoopJoin"]


def test_materialized_detection():
    # memory-sink scan / createDataFrame result: no distributed plan left
    assert plan_audit.is_materialized("LocalTableScan [a, b]")
    # checkpointed lineage is a DISTRIBUTED scan — the plan above it must
    # still be audited (graph loops return these)
    assert not plan_audit.is_materialized("Scan ExistingRDD[a, b]")
    # a real scan is not materialized, even when a local relation is unioned in
    assert not plan_audit.is_materialized(
        "Union\n+- LocalTableScan [a]\n+- FileScan parquet [a]"
    )


def test_stream_plan_capture(spark, sf_dir):
    """run_to_memory_table records the last micro-batch's executed plan so
    the audit can sweep streaming pipelines (their returned DF is only the
    memory-sink scan)."""
    from pyspark.sql import functions as F

    from flink_psl_spark.streaming import core as sc
    from flink_psl_spark.streaming import run_to_memory_table, stream_from_parquet

    before = len(sc.STREAM_PLANS)
    ev = stream_from_parquet(spark, sf_dir + "/events.parquet", ts_col="ts")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    run_to_memory_table(agg, output_mode="complete")
    new = sc.STREAM_PLANS[before:]
    assert len(new) == 1
    assert "StateStoreSave" in new[0]
    assert "BatchEvalPython" not in new[0]


def test_whitelist_reasons_name_the_bound():
    """Every exemption must state why the nested-loop/cartesian side stays
    bounded at 100 TB — 'it is fine' is not a reason."""
    bound_words = (
        "scalar", "1 row", "one row", "parameter", "bounded", "broadcast",
        "enum", "codebook", "quantile", "query set", "sketch", "k rows",
    )
    for name, reason in plan_audit.WHITELIST.items():
        assert any(w in reason.lower() for w in bound_words), (
            name,
            reason,
        )


def test_materialized_detection_dsv2_batchscan():
    """DSv2 Python sources plan as BatchScan — distributed work, not a
    driver-local relation, even when unioned with a LocalTableScan."""
    assert not plan_audit.is_materialized(
        "Union\n+- LocalTableScan [a]\n+- BatchScan class DatagenBatch [a]"
    )
    assert not plan_audit.is_materialized(
        "Union\n+- LocalTableScan [a]\n"
        "+- Scan org.apache.spark.sql.execution.python [a]"
    )


def test_batchscan_counts_as_file_scan():
    _, info = plan_audit.audit_plan(
        "FileScan parquet [a]\n+- BatchScan class DatagenBatch [a]"
    )
    assert info["file_scans"] == 2


def test_inlined_tokenize_counted_across_lines():
    # tokenize's trim set renders a raw newline inside the UDF argument
    tok = "split(trim(coalesce(text#1, ), Some( \t\n)), [ ]+, -1)"
    _, info = plan_audit.audit_plan(
        f"+- ArrowEvalPython [probe(size({tok}), slice({tok}, 1, 5))#9], "
        "[pythonUDF0#10], 200\n   +- FileScan parquet [text#1]"
    )
    assert info["py_arg_inlined_tokenize"] == 1
    _, info = plan_audit.audit_plan(
        "+- ArrowEvalPython [probe(__tk#5)#9], [pythonUDF0#10], 200\n"
        f"   +- Project [{tok} AS __tk#5]"
    )
    assert "py_arg_inlined_tokenize" not in info


def test_whitelist_exempts_only_allowed_flags():
    """A whitelisted BNLJ site that regresses into BatchEvalPython or
    CartesianProduct must still gate — the exemption is per-flag, not
    per-query."""
    name = "llm_cosine_topk"  # any current entry; all are BNLJ-only
    assert name in plan_audit.WHITELIST
    assert plan_audit.is_whitelisted(name, ["BroadcastNestedLoopJoin"])
    assert not plan_audit.is_whitelisted(
        name, ["BroadcastNestedLoopJoin", "BatchEvalPython"]
    )
    assert not plan_audit.is_whitelisted(name, ["CartesianProduct"])
    assert not plan_audit.is_whitelisted(name, [])
    assert not plan_audit.is_whitelisted(
        "not_whitelisted_query", ["BroadcastNestedLoopJoin"]
    )


def test_every_whitelist_entry_has_allowed_flags():
    for name in plan_audit.WHITELIST:
        assert plan_audit.WHITELIST_FLAGS.get(name), name


@pytest.mark.parametrize(
    "name", ["llm_bloom_decontamination", "llm_heavy_hitter_ngrams"]
)
def test_sketch_probe_args_keep_tokenize_out(spark, sf_dir, monkeypatch, name):
    """The bloom and count-min probe UDFs (llm/text.py) are pinned with
    asNondeterministic so the token projection stays below the Python
    node. Without the pin the optimizer inlines the tokenize subtree into
    the bloom probe's argument, where it re-runs per n-gram (5x on the
    probe stage) with identical results: only the plan shows it, so gate
    on it."""
    from flink_psl_spark.llm import text
    from flink_psl_spark.queries import QUERIES

    # the bloom probe runs while the query is built (its candidates are
    # materialized), so the frames handed to materialize are swept too
    plans = []
    materialize = text.materialize

    def recording(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return materialize(df)

    monkeypatch.setattr(text, "materialize", recording)
    df = QUERIES[name](spark, sf_dir)
    plans.append(df._jdf.queryExecution().executedPlan().toString())
    infos = [plan_audit.audit_plan(p)[1] for p in plans]
    assert sum(i["arrow_eval"] for i in infos) >= 1, "no probe UDF planned"
    inlined = [i.get("py_arg_inlined_tokenize", 0) for i in infos]
    assert not any(inlined), f"tokenize inlined into Python args: {inlined}"
