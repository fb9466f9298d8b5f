"""SparkSession factory.

The reference engine exposes its runtime knobs through
``ExecutionConfigOptions`` / ``OptimizerConfigOptions`` (reference:
flink-table/flink-table-api-java/src/main/java/org/apache/flink/table/api/config/).
Our counterpart is a SparkSession preconfigured for the same goals:
adaptive runtime re-planning (≈ Flink's runtime-mode + join-reorder flags),
partial aggregation (≈ two-stage agg), and Arrow-batched Python execution
(≈ PyFlink's pandas UDF path).

All settings are chosen to survive a 1000-executor / 100 TB deployment:
AQE handles skew and partition coalescing at runtime, shuffle partitions
default to cluster parallelism, and nothing here assumes local mode except
the ``master`` argument used by tests.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: Runtime-settable SQL confs the engine depends on.  This is the ONE
#: source of truth shared by :func:`get_spark` (session build time) and
#: ``__spark_entry__._configure`` (applied to a driver-provided session
#: at runtime) — keeping them in a single dict is load-bearing: a conf
#: added only to the builder path silently breaks under any externally
#: created session (round-4 postmortem: the datagen DSv2 source failed
#: under the driver because ``spark.sql.python.filterPushdown.enabled``
#: lived only in the builder dict).
RUNTIME_SQL_CONF: dict[str, str] = {
    # AQE: runtime re-plan — skew-join splitting, partition coalescing,
    # broadcast-join conversion from runtime stats. Non-negotiable at scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic time semantics (reference TIMESTAMP is naive; we pin UTC).
    "spark.sql.session.timeZone": "UTC",
    # Arrow batching for every pandas UDF / mapInPandas hop.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python UDTFs too: ArrowEvalPythonUDTF instead of row-at-a-time
    # BatchEvalPythonUDTF (same rows, vectorized transfer).
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # Python Data Source API: let custom sources absorb filters
    # (DSv2 SupportsFilterPushDown for sources_v2.py)
    "spark.sql.python.filterPushdown.enabled": "true",
    # CBO so join reorder kicks in when stats exist (ANALYZE TABLE).
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # testdata events.ts is parquet TIMESTAMP(NANOS); Spark has no ns
    # timestamp — read as long, catalog converts to µs TimestampType
    # (DuckDB likewise truncates ns → µs, keeping the oracle aligned).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Size shuffles to the machine, not Spark's static 200 default —
    # AQE coalesces down at runtime, so this is an upper bound; a
    # cluster deployment overrides via extra_conf / spark-submit.
    "spark.sql.shuffle.partitions": DEFAULT_SHUFFLE_PARTITIONS,
    # Plan-time size estimates for file scans default to the on-disk
    # byte count, but zstd parquet decompresses ~3x (measured: an 11 MB
    # lineitem file builds a 33.1 MiB broadcast relation), so the
    # planner was BROADCASTING the fact table in multi-join queries —
    # a shape that only "works" below the 10 MB threshold and inverts
    # build/probe sides. 3x makes the estimate honest for this codec:
    # q5 flips to the scale-correct SMJ on lineitem⋈orders,
    # join_multiway_revenue 0.92 -> 0.52 s, q8 0.65 -> 0.45 s at sf0.1.
    # Session-global trade-off: every FILE-scan estimate is inflated 3x,
    # so a genuinely small dim table estimated between threshold/3 and
    # threshold loses its automatic broadcast — per-query
    # F.broadcast()/BROADCAST hints are the escape hatch for dims that
    # should still broadcast.
    "spark.sql.sources.fileCompressionFactor": "3.0",
}


def get_spark(
    app_name: str = "flink_psl_spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master=None`` leaves master resolution to spark-submit / the cluster
    manager — local[] is only forced when explicitly requested or when no
    master is configured at all (dev/test convenience).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)

    conf = {
        **RUNTIME_SQL_CONF,
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        # Streaming state store: RocksDB — the reference fork's whole point is
        # a pluggable remote keyed-state backend (SURVEY §0); in Spark that is
        # spark.sql.streaming.stateStore.providerClass, and RocksDB is the
        # scalable disk-backed default choice.
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        # Generated-class cache (Janino output, LRU). Spark's default of 100
        # is below one pass of a working set: relational perfbench uses 129
        # distinct classes, curation 171, the 34 bench.py headlines 395 at
        # sf0.01, and all three in one session 706. At 100 every class was
        # evicted before reuse, so each warm pass recompiled 48-180 classes
        # and the JIT compiled them again. A static conf: Spark rejects a
        # runtime set of it, so it cannot live in RUNTIME_SQL_CONF (where
        # ``_configure`` would swallow that error and leave 100).
        "spark.sql.codegen.cache.maxEntries": "1000",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # The cache is built once per JVM, in CodeGenerator's object
    # initializer, from SQLConf.get on the first thread that touches it. A
    # thread without an active session (a pool thread in a `df.rdd` probe)
    # reads SQLConf's fallback defaults there, 100 entries whatever the
    # conf says. Touch it here, where this session is active.
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    codegen.CodeGenerator.isValidParamLength(0)
    return spark
