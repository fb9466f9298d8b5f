"""Generated code survives a working set larger than Spark's default cache.

Spark keeps Janino-compiled classes in an LRU cache sized by the static
conf ``spark.sql.codegen.cache.maxEntries`` (default 100), built once per
JVM from the SQLConf of the first thread that compiles. ``get_spark``
raises the size and builds the cache on the creating thread; without
either, every query here is compiled again after the others have run.
"""

from __future__ import annotations

import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

from flink_psl_spark.queries import QUERIES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from query_profile import compile_counters  # noqa: E402

# 131 generated classes at sf0.001 when compiled from scratch, more than
# Spark's default cache holds, so the first query's classes are evicted
SEQUENCE = [
    "graph_pagerank", "llm_minhash_dedup", "q5_local_supplier_volume",
    "cogroup_user_summary", "wf_topn_per_group",
]


def recompiles(spark, sf_dir: str, first: str, from_pool: bool) -> int:
    """Run ``first`` (on a pool thread if ``from_pool``), then SEQUENCE,
    and return the classes a rerun of ``first`` compiles."""

    def run(name):
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()

    if from_pool:
        with ThreadPoolExecutor(1) as pool:
            pool.submit(run, first).result()
    else:
        run(first)
    for name in SEQUENCE:
        run(name)
    before, _ = compile_counters(spark)
    run(first)
    return compile_counters(spark)[0] - before


def test_rerun_after_working_set_compiles_nothing(spark, sf_dir):
    assert recompiles(spark, sf_dir, "join_multiway_revenue", False) == 0


_FRESH_JVM = """
import sys
sys.path[:0] = [{repo!r}, {tests!r}]
from flink_psl_spark import get_spark
from test_codegen_cache import recompiles
spark = get_spark(master="local[2]", shuffle_partitions=2,
                  extra_conf={{"spark.driver.memory": "1g"}})
print("recompiles", recompiles(spark, {sf_dir!r}, "async_lookup_enrich", True))
spark.stop()
"""


def test_cache_sized_when_a_pool_thread_compiles_first(sf_dir):
    """In a new JVM whose first generated class comes from a pool thread
    (``async_lookup_enrich``'s ``df.rdd`` probe runs outside the active
    session), the cache still takes the session's size."""
    tests = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(tests)
    code = _FRESH_JVM.format(repo=repo, tests=tests, sf_dir=sf_dir)
    out = subprocess.run([sys.executable, "-c", code], cwd=repo,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("recompiles")]
    assert line == ["recompiles 0"], out.stdout[-2000:]
