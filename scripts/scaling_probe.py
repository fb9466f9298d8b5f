"""Parallel-scaling probe: time shuffle/compute-heavy queries at a real SF.

Runs the selected batch queries to the noop sink (min of N passes after a
warm pass, each pass profiled by scripts/profile.py) on
``local[$SPARK_GRAFT_CPUS]`` against ``$SPARK_GRAFT_SF_DIR`` (generate the
corpus with scripts/gen_scale_data.py) and prints one JSON line, with the
profile record of each query's fastest pass under ``profiles``. Run it
twice — SPARK_GRAFT_CPUS=32 and =8 — and compare per-query: a ratio ≈
cores-ratio means the query parallelizes; ≈ 1 means it is fixed-overhead-
or single-task-bound at this SF (``driver_gap_s`` vs ``spark.task_s`` in
the profile tells which).

This is a PROBE artifact (SCALING_r13.json), not the driver bench —
bench.py and its query set/methodology are untouched.
"""

from __future__ import annotations

import json
import os
import runpy
import sys
import time

_SCRIPTS = os.path.dirname(os.path.abspath(__file__))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata_sf1")
PASSES = int(os.environ.get("SCALING_PASSES", "3"))

PROBE_QUERIES = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "join_multiway_revenue",
    "wf_topn_per_group",
    "dedup_keep_last",
    "setop_except_all",
    "llm_exact_dedup",
    "llm_minhash_dedup",
    "llm_text_stats",
    "llm_cosine_topk",
    "llm_semantic_dedup",
    "llm_trained_quality_classifier",
    "graph_pagerank",
    "cep_clicks_then_purchase",
    "llm_corpus_overlap_sketch",
    "llm_bloom_decontamination",
]


def main() -> int:
    # loaded by path (the module name ``profile`` is the standard library's);
    # loading it also puts the repo, scripts/ and perfbench/ on sys.path
    profile = runpy.run_path(os.path.join(_SCRIPTS, "profile.py"))["profile"]

    from probes import RETAIN_ALL
    from pyspark.sql import functions as F

    from flink_psl_spark import get_spark
    from flink_psl_spark.queries.registry import tables

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Split sizing: the replicated sf1 corpus is ~100 MB/table in ~16
    # files, which the default 128 MB split + 4 MB open-cost packing
    # folds into 2-3 scan tasks — a file-layout floor this probe is not
    # trying to measure (a real 10x corpus has 10x the splits). 16 MB
    # splits give the scan the task count a genuinely bigger table
    # would have; applied identically at BOTH core counts.
    spark = get_spark(
        app_name=f"scaling_probe_c{cpus}",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "16m",
            "spark.sql.files.openCostInBytes": "1m",
            **RETAIN_ALL,
        },
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(cpus * 4, numPartitions=cpus).select(
        F.sum(_warm(F.col("id")))
    ).collect()
    for df in tables(spark, SF_DIR).values():
        df.limit(1).count()

    out: dict[str, float] = {}
    profiles: dict[str, dict] = {}
    for name in PROBE_QUERIES:
        records = [profile(spark, name, SF_DIR, warm=i == 0)
                   for i in range(PASSES)]
        profiles[name] = min(records, key=lambda r: r["wall_s"])
        out[name] = round(profiles[name]["wall_s"], 3)
        print(f"# {name}: min={out[name]}", file=sys.stderr)
        # free the materialized blocks the heavy queries leave behind
        # (localCheckpoint RDDs pin block-manager memory until the
        # DataFrame is GC'd on BOTH sides); without this, sf1 passes
        # polluted every later query's numbers — the first probe run
        # measured join_multiway at 8.1 s in-session vs 1.5-2.1 s
        # isolated, purely from accumulated blocks + GC pressure
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.0)
    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "cpus": cpus,
                "passes": PASSES,
                "queries": out,
                "total": round(sum(out.values()), 3),
                "profiles": profiles,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
