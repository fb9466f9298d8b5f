"""Registry-wide physical-plan audit — the scale-readiness gate.

Builds every registered query's DataFrame and mechanically sweeps the
executed-plan text for the red flags that break at 100x data:

  * BatchEvalPython   — a row-at-a-time Python UDF in the plan (the slow
                        path; every Python kernel must be Arrow-batched).
  * CartesianProduct  — an unbounded cross product.
  * BroadcastNestedLoopJoin — a non-equi join; only legitimate when the
                        broadcast side is parameter-sized (a scalar
                        threshold, a codebook, a quantile grid), never
                        data-sized. Such sites must be whitelisted here
                        WITH a reason, so the exception list is itself
                        reviewable (same discipline as the boundedness
                        table in ARCHITECTURE.md).

Queries whose pipeline executes during construction come back as a bare
LocalTableScan — no operator tree left on the returned DataFrame. For
memory-sink streaming replays the audit instead sweeps the last
micro-batch's executed plan, captured by streaming.core.STREAM_PLANS
during the build (bucket "streaming"). Driver-built results (training
loops, control-plane statements) stay bucketed as "materialized"; their
plan evidence lives in tests/test_plan_shapes.py and
tests/golden_plans/, and their driver traffic in the ARCHITECTURE.md
boundedness table.

Usage: python scripts/plan_audit.py [--json-out FILE] [sf_dir] [name...]

Exit code 1 if any non-whitelisted flag fires. A full-registry run is
committed once per round as PLANAUDIT_r{N}.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from flink_psl_spark import get_spark
from flink_psl_spark.queries import QUERIES

# name -> reason. Every entry must name the bounded side and why it stays
# bounded at scale; an entry without that is a bug, not an exemption.
_ANN_REASON = (
    "BNLJ build side is the broadcast query set (queries move, the corpus "
    "never does — ARCHITECTURE.md ANN contract); corpus side is never "
    "replicated"
)
_CENTROID_REASON = (
    "BNLJ build side is the broadcast centroid table (K x dim, an index "
    "parameter — llm/clustering.py:600); corpus-sized side streams past it"
)
_SCALAR_REASON = (
    "BNLJ build side is a one-row global aggregate (scalar crossJoin); "
    "cost is one broadcast of one row"
)
WHITELIST: dict[str, str] = {
    # ANN / similarity: broadcast-query-set contract
    "llm_cosine_topk": _ANN_REASON,
    "llm_ivf_ann_topk": _ANN_REASON + "; IVF centroids are parameter-sized",
    "llm_pq_ann_topk": _ANN_REASON + "; PQ codebook is parameter-sized",
    "llm_sq_ann_topk": _ANN_REASON + "; SQ scale factors are parameter-sized",
    "llm_lsh_ann_topk": _ANN_REASON + "; LSH planes are parameter-sized",
    "llm_hard_negatives": (
        "anchor set broadcast by contract (llm/similarity.py:1013); corpus "
        "side never shuffles"
    ),
    "llm_hybrid_rrf_topk": (
        "10-entity query set broadcast on both fusion legs; per-query pools "
        "are top-k parameter-bounded"
    ),
    "llm_mmr_rerank": (
        "query set broadcast; greedy rerank runs over the exact top-50 pool "
        "per query (k*pool parameter-sized)"
    ),
    # centroid-broadcast cluster routing
    "llm_semantic_dedup": _CENTROID_REASON,
    "llm_semantic_dedup_two_level": _CENTROID_REASON,
    # (llm_embedding_dedup left the whitelist in round 10: its exact
    # all-pairs form is now tile-blocked matmuls over one n x n_blocks
    # shuffle — no BNLJ remains; llm/similarity.py _tiled_exact_dups)
    "llm_cluster_report": _CENTROID_REASON,
    "llm_diversity_sample": _CENTROID_REASON,
    # one-row / parameter-sized crossJoin sides
    "agg_hll_sketch": _SCALAR_REASON + " (llm/sketches.py:221)",
    "market_basket_lift": _SCALAR_REASON + " (exact_parts countDistinct)",
    "graph_triadic_census": _SCALAR_REASON + " (graph.py:368 census totals)",
    "graph_global_clustering": _SCALAR_REASON + " (graph.py:441 global max)",
    "llm_tfidf_top_terms": _SCALAR_REASON + " (corpus size N, text.py:891)",
    "llm_vocab_coverage": _SCALAR_REASON + " (corpus token total, text.py:948)",
    "llm_bm25_topk": (
        "N and sum(dl) ride a one-row broadcast (text.py:1346); query terms "
        "broadcast-semi-join the corpus before any shuffle"
    ),
    "llm_sft_pipeline": _SCALAR_REASON + " (bins_ok packing invariant)",
    "histogram_quantiles_report": (
        "BNLJ build side is the broadcast quantile grid (n_quantiles rows, "
        "a report parameter — operators/validation.py:624)"
    ),
    "llm_naive_bayes_langid": (
        "BNLJ build side is the broadcast language set (enum-sized by "
        "schema contract — llm/classifier.py:202)"
    ),
    "graph_hits": _SCALAR_REASON + " (final max-score normalizer)",
    "llm_corpus_overlap_sketch": _SCALAR_REASON
    + " (one-row KMV estimates, llm/sketches.py:221)",
    "join_key_overlap_advisor": _SCALAR_REASON
    + " (one-row KMV estimates, llm/sketches.py:221)",
    "stream_histogram_quantiles": (
        "BNLJ build side is the broadcast quantile grid (n_quantiles "
        "rows — queries/streaming_queries.py:1965)"
    ),
    "llm_source_similarity_matrix": (
        "BNLJ is the source-pair matrix: per-source KMV sketches crossed "
        "with themselves (enum-sized sources by schema contract, "
        "llm/sketches.py:440); sketch size k bounds each cell"
    ),
    # intentionally unbounded operators, bounded by the query's inputs
    "join_cross": (
        "the CROSS JOIN operator itself (SURVEY row 24); exercised over "
        "enum-sized dims (region x nation) — cross joins of fact tables "
        "are a user decision on any engine"
    ),
    "llm_ngram_jaccard_pairs": (
        "exact all-pairs verification over a fixed 200-doc slice (bounded "
        "self-join); the 100 TB path passes LSH candidates instead "
        "(llm/dedup.py ngram_jaccard_pairs docstring)"
    ),
}

# Per-entry allowed flags: a whitelist entry exempts ONLY the specific
# operator its reason justifies, not the query wholesale — a whitelisted
# BNLJ site that later regresses into BatchEvalPython or CartesianProduct
# must still FLAG (the gate's whole purpose). Every current entry is a
# bounded-broadcast BNLJ site.
WHITELIST_FLAGS: dict[str, frozenset] = {
    name: frozenset({"BroadcastNestedLoopJoin"}) for name in WHITELIST
}


def is_whitelisted(name: str, flags: list) -> bool:
    """True only when EVERY flag on this query is individually exempted
    for it — flags outside the entry's allowed set still gate."""
    allowed = WHITELIST_FLAGS.get(name, frozenset())
    return bool(flags) and name in WHITELIST and all(
        f in allowed for f in flags
    )


def audit_plan(plan: str) -> tuple[list[str], dict[str, int]]:
    """Return (flags, info_counts) for one executed-plan text."""
    import re

    flags = []
    if "BatchEvalPython" in plan:
        flags.append("BatchEvalPython")
    if "CartesianProduct" in plan:
        flags.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan:
        flags.append("BroadcastNestedLoopJoin")
    # r13 bug class: a Python-eval node whose ARGUMENT carries 2+ inlined
    # tokenize subtrees — the optimizer collapsed the token projection
    # into the UDF arg (filter-on-UDF-result shape), so tokenize
    # re-evaluates per lambda element in the writer thread (measured 8x
    # on the bloom probe; fixed with asNondeterministic). Nonzero values
    # deserve a look; tests/test_plan_audit.py gates the bloom probe on it.
    # The argument list spans lines: tokenize's trim set renders a raw
    # newline.
    inlined = 0
    for m in re.finditer(
            r"(?:ArrowEvalPython|BatchEvalPython) \[(.*?)\], \[", plan, re.S):
        n = m.group(1).count("split(trim(")
        if n >= 2:
            inlined += 1
    info = {
        "exchanges": plan.count("Exchange hashpartitioning"),
        "arrow_eval": plan.count("ArrowEvalPython"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        # >3 scans of file sources in one plan usually means a duplicated
        # subtree that should be checkpointed once (informational).
        # BatchScan = DSv2 sources (sources_v2.py) — distributed scans too.
        "file_scans": plan.count("FileScan") + plan.count("BatchScan"),
        # grouped / mapped pandas and Arrow nodes (MapInPandas,
        # FlatMapGroupsInPandas, FlatMapCoGroupsInPandas, MapInArrow, ...)
        "python_maps": len(re.findall(r"\w+In(?:Pandas|Arrow)", plan)),
        # exchanges to ONE partition: a stage that runs as a single task
        # at any core count
        "single_partition": plan.count("SinglePartition"),
    }
    if inlined:
        info["py_arg_inlined_tokenize"] = inlined
    return flags, info


def is_materialized(plan: str) -> bool:
    """True when the returned DF is a driver-local relation (memory-sink
    table or createDataFrame result) — the pipeline already ran during
    construction, so there is no distributed plan left to audit.

    ``Scan ExistingRDD`` is NOT driver-local: checkpointed lineage
    (graph loops, ntile inputs) scans a distributed RDD, and everything
    planned above it must still be swept. Ditto ``BatchScan`` (DSv2
    Python sources) and python-runner scans — a plan unioning a
    LocalTableScan with any of those still has distributed work."""
    return (
        "LocalTableScan" in plan
        and "FileScan" not in plan
        and "Scan ExistingRDD" not in plan
        and "BatchScan" not in plan
        and "Scan org.apache.spark.sql.execution.python" not in plan
    )


def audit_built(plan: str, stream_plans: list[str]) -> tuple[
        str, list[str], dict[str, int]]:
    """(bucket, flags, info) for one built query: its executed plan, plus
    the last micro-batch plans of the streaming replays its build ran
    (``streaming.core.STREAM_PLANS``). A memory-sink replay is judged by
    its micro-batch plans; a batch result that also ran streams keeps its
    own counters and takes the streams' flags."""
    if is_materialized(plan):
        if not stream_plans:
            return "materialized", [], {}
        bucket, flags, info = "streaming", [], {}
    else:
        bucket, (flags, info) = "clean", audit_plan(plan)
    for sp in stream_plans:
        f2, i2 = audit_plan(sp)
        flags.extend(x for x in f2 if x not in flags)
        if bucket == "streaming":
            for k, v in i2.items():
                info[k] = info.get(k, 0) + v
    if stream_plans:
        info["stream_queries"] = len(stream_plans)
    return bucket, flags, info


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json-out":
        if len(argv) < 2:
            print(__doc__.strip())
            return 2
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    filters = argv[1:]

    from flink_psl_spark.streaming import core as stream_core

    spark = get_spark(master="local[8]", extra_conf={"spark.driver.memory": "8g"})
    report: dict[str, dict] = {}
    flagged: dict[str, list[str]] = {}
    buckets = {
        "clean": 0,
        "streaming": 0,
        "materialized": 0,
        "whitelisted": 0,
        "error": 0,
    }
    for name, fn in QUERIES.items():
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        # Snapshot-and-clear instead of index slicing: the ring trims to
        # 256 entries on append (streaming/core.py), so saved indices can
        # shift mid-audit in long sessions and misattribute plans.
        stream_core.STREAM_PLANS.clear()
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            buckets["error"] += 1
            report[name] = {"bucket": "error", "detail": f"{type(e).__name__}: {e}"}
            flagged[name] = ["build-error"]
            traceback.print_exc()
            print(f"ERROR {name}", flush=True)
            continue
        secs = time.time() - t0
        bucket, flags, info = audit_built(plan, list(stream_core.STREAM_PLANS))
        if bucket == "materialized":
            buckets[bucket] += 1
            report[name] = {"bucket": bucket, "seconds": round(secs, 1)}
            continue
        if is_whitelisted(name, flags):
            allowed = WHITELIST_FLAGS[name]
            buckets["whitelisted"] += 1
            report[name] = {
                "bucket": "whitelisted",
                "flags": flags,
                "allowed_flags": sorted(allowed),
                "reason": WHITELIST[name],
                **info,
            }
        elif flags:
            flagged[name] = flags
            report[name] = {"bucket": "FLAGGED", "flags": flags, **info}
            print(f"FLAG {name:32s} {flags}", flush=True)
        else:
            buckets[bucket] += 1
            report[name] = {"bucket": bucket, **info}

    print(f"\naudited {len(report)}: {buckets}, flagged={len(flagged)}")
    if flagged:
        print("flagged:", flagged)
    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "audited": len(report),
                    "summary": buckets,
                    "flagged": flagged,
                    "whitelist": WHITELIST,
                    "whitelist_flags": {
                        k: sorted(v) for k, v in WHITELIST_FLAGS.items()
                    },
                    "note": (
                        "streaming = last-micro-batch executed plan(s) of "
                        "the build's memory-sink replays audited; "
                        "materialized = driver-built result (training loop / "
                        "control-plane), plan evidence in "
                        "tests/test_plan_shapes.py + tests/golden_plans/ and "
                        "driver traffic in the ARCHITECTURE.md boundedness "
                        "table"
                    ),
                    "queries": report,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
