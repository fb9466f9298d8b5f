"""One materialization primitive for every engine intermediate.

Many operators materialize a reused or loop-carried intermediate (LSH
fingerprint tables, graph edge lists, curation stage boundaries) so the
subtree executes ONCE instead of once per consumer. Locally the right
call is ``DataFrame.localCheckpoint`` — cheap, no configured storage —
but it is *unreliable* storage: blocks live on executors, an executor
loss during a downstream stage fails the job instead of recomputing,
and the blocks pin executor memory/disk until the RDD is GC'd. A 100 TB
deployment wants the same call sites to write a *reliable* checkpoint
(HDFS/object store) instead.

``materialize(df)`` is that single knob. Backend selection (checked per
call, so a long-lived session can switch):

- ``SPARK_GRAFT_MATERIALIZE=local`` (default): ``localCheckpoint`` —
  identical behavior to the historical inline calls.
- ``SPARK_GRAFT_MATERIALIZE=reliable``: ``DataFrame.checkpoint`` to the
  configured checkpoint dir (``SPARK_GRAFT_CHECKPOINT_DIR`` or an
  already-set ``SparkContext.setCheckpointDir``) — survives executor
  loss; the right production backend for corpus-sized intermediates.

Both backends cut lineage, so every materialized frame is a checkpoint
leaf: loop-carried call sites (``DataStream.iterate``, the pagerank and
hits checkpoints, the bpe/wordpiece trainers) keep a bounded plan, and
``ensure_parallelism``'s partition probe on a materialized frame runs no
upstream stage. Any other value raises.

Call sites use ``df.transform(materialize)`` so chained expressions read
the same as the old ``.localCheckpoint(eager=True)`` suffix.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

BACKEND_ENV = "SPARK_GRAFT_MATERIALIZE"
CHECKPOINT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and return a frame reading the stored
    result, its lineage truncated. See module docstring for backend
    selection."""
    backend = os.environ.get(BACKEND_ENV, "local").strip().lower() or "local"
    if backend == "local":
        return df.localCheckpoint(eager=True)
    if backend == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            target = os.environ.get(CHECKPOINT_DIR_ENV)
            if not target:
                raise ValueError(
                    "SPARK_GRAFT_MATERIALIZE=reliable needs a checkpoint "
                    "dir: set SPARK_GRAFT_CHECKPOINT_DIR or call "
                    "SparkContext.setCheckpointDir first"
                )
            sc.setCheckpointDir(target)
        return df.checkpoint(eager=True)
    raise ValueError(
        f"unknown {BACKEND_ENV}={backend!r}; expected local | reliable"
    )
