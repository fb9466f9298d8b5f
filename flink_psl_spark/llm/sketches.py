"""Mergeable distinct sketches: KMV (k-minimum-values / bottom-k).

Corpus-overlap estimation ("how much of yesterday's crawl is already in
the corpus?", "how similar are two sources?") needs |A|, |B|, |A∩B|,
|A∪B| over element sets that are corpus-sized — an exact distinct join
at 100 TB shuffles every distinct shingle. A KMV sketch answers the same
questions from k numbers per corpus:

* sketch(S) = the k smallest DISTINCT values of h(S) under a fixed
  uniform hash; |S| ≈ (k-1) / (h_(k) / SPACE)  (the classic KMV
  estimator; exact when |S| < k).
* sketches MERGE losslessly: sketch(A ∪ B) = bottom-k(sketch(A) ∪
  sketch(B)) — the basis of the streaming variant and of distributed
  partial aggregation.
* Jaccard: over K = sketch(A ∪ B), ρ = |{x ∈ K : x ∈ A and x ∈ B}| / |K|
  is an unbiased estimate of J(A, B), and |A∩B| ≈ ρ · |A∪B|.

Scale design: the hash is computed JVM-side; an Arrow-batched
``mapInPandas`` kernel reduces each input partition to its partition-local
distinct bottom-k per group BEFORE any exchange, so the shuffle carries at
most ``partitions × groups × k`` rows regardless of corpus size (the same
partial-top-k shape as similarity._blas_partial_topk). The final distinct
+ bottom-k runs on that parameter-sized set. Results are EXACT functions
of the input set (independent of partitioning), so every estimate is
engine-reproducible: the DuckDB oracle replays the identical estimator.

The 48-bit hash is the md5 prefix (portable across Spark and DuckDB —
see sampling._bucket), uniform enough for the estimator and collision-safe
for corpus-scale element counts (2^48 space).

Reference parity: Flink exposes approximate distinct counting as
HyperLogLog-backed APPROX_COUNT_DISTINCT
(flink-table/flink-table-planner/.../BatchPhysicalHashAggregate semantics);
KMV extends that to set ALGEBRA (union/intersection/Jaccard), which HLL
alone cannot answer without inclusion-exclusion error blowup.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from flink_psl_spark.materialize import materialize

KMV_SPACE = 16 ** 12  # 48-bit hash space (md5 12-hex-digit prefix)


def kmv_hash(element: Column | str) -> Column:
    """Portable 48-bit uniform hash: first 12 hex digits of md5, as BIGINT.

    Engine-reproducible — DuckDB computes the identical value with
    ``CAST('0x' || SUBSTR(MD5(x), 1, 12) AS BIGINT)``.
    """
    c = F.col(element) if isinstance(element, str) else element
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 12), 16, 10).cast(
        "long"
    )


def _partial_bottom_k(k: int):
    """mapInPandas kernel: per input partition, the distinct bottom-k
    hashes per group — fully vectorized (one numpy unique+truncate per
    (batch, group); bottom-k of a union == bottom-k of bottom-k(A) ∪ B,
    so state stays ≤ k longs per group). Output ≤ groups × k rows per
    partition."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: dict[object, "np.ndarray"] = {}
        for pdf in batches:
            # dropna=False: a NULL group forms a group like GROUP BY
            # (string col → label None, a stable dict key); NULL hashes
            # are filtered upstream in kmv_sketch (r12)
            for g, sub in pdf.groupby("__g", sort=False, dropna=False):
                h = sub["__h"].to_numpy(dtype=np.int64)
                cur = best.get(g)
                arr = np.unique(h if cur is None else np.concatenate([cur, h]))
                best[g] = arr[:k]
        if best:
            gs = np.concatenate(
                [np.repeat(g, len(a)) for g, a in best.items()]
            )
            hs = np.concatenate(list(best.values()))
            yield pd.DataFrame({"__g": gs, "__h": hs})
        else:
            yield pd.DataFrame({"__g": pd.Series([], dtype=object),
                                "__h": pd.Series([], dtype="int64")})

    return fn


def kmv_sketch(
    df: DataFrame,
    element_col: Column | str,
    group_col: Column | str,
    *,
    k: int = 256,
) -> DataFrame:
    """Per-group KMV sketch: ``(group, h, rank)`` with rank 1..k ascending.

    Exact bottom-k of the distinct hash set per group (partition-local
    partial bottom-k → one parameter-sized exchange → global distinct +
    rank). Intended for a bounded number of groups (corpora/sources),
    like the other per-corpus report operators.
    """
    from pyspark.sql import Window

    g = F.col(group_col) if isinstance(group_col, str) else group_col
    e = F.col(element_col) if isinstance(element_col, str) else element_col
    # NULL elements hash to NULL (md5(NULL)) and are not elements —
    # COUNT(DISTINCT) semantics ignore them. Pre-r12 a NULL hash reached
    # the kernel as NaN and to_numpy(int64) killed the task (r12
    # degenerate sweep — same crash class as the ANN/audio fixes).
    # Filter the RAW element (NULL element ⇔ NULL hash), not the
    # computed __h: a filter on the aliased hash gets pushed below the
    # projection by substitution and evaluates md5+conv twice per row.
    el = df.where(e.isNotNull()).select(
        g.cast("string").alias("__g"), kmv_hash(element_col).alias("__h")
    )
    partial = el.mapInPandas(_partial_bottom_k(k), "__g string, __h long")
    w = Window.partitionBy("__g").orderBy("__h")
    return (
        partial.distinct()
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__g").alias("group"),
            F.col("__h").alias("h"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def kmv_distinct_estimates(sketch: DataFrame, *, k: int) -> DataFrame:
    """Distinct-count estimate per group from a ``kmv_sketch`` frame:
    exact count when the group holds < k distinct elements, else
    ``(k-1) / (h_(k) / SPACE)``."""
    return sketch.groupBy("group").agg(
        F.count("*").alias("n_sketch"),
        F.max("h").alias("theta"),
    ).select(
        "group",
        "n_sketch",
        F.when(F.col("n_sketch") < k, F.col("n_sketch").cast("double"))
        .otherwise(
            (F.lit(float(k - 1)) * F.lit(float(KMV_SPACE)))
            / F.col("theta").cast("double")
        )
        .alias("est_distinct"),
    )


def kmv_overlap(
    df: DataFrame,
    element_col: Column | str,
    group_col: Column | str,
    group_a: str,
    group_b: str,
    *,
    k: int = 256,
) -> DataFrame:
    """One-row overlap report between two corpora's element sets:
    ``(k, est_distinct_a, est_distinct_b, est_distinct_union,
    jaccard_est, est_intersection)``.

    Estimates are deterministic functions of the two element sets (no
    RNG, no partition sensitivity), so the DuckDB oracle reproduces them
    bit-for-bit. Exchange cost: partitions × 2 × k rows, then driver-free
    single-row aggregates; the one unpartitioned window (union bottom-k)
    ranks at most 2k rows — parameter-sized, not data-sized.
    """
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    two = df.where(g.cast("string").isin([group_a, group_b]))
    sk = kmv_sketch(two, element_col, group_col, k=k)
    # the estimator reads the sketch in two branches (per-group
    # estimates + union bottom-k); materialize the ≤ 2k-row frame once
    # so the corpus scan + kernel run ONCE, not per branch
    sk = sk.transform(materialize)
    return overlap_from_sketches(sk, group_a, group_b, k=k)


def overlap_from_sketches(
    sk: DataFrame, group_a: str, group_b: str, *, k: int
) -> DataFrame:
    """The estimator half of ``kmv_overlap``, over an already-built
    ``(group, h, rank)`` sketch frame — shared by the batch operator and
    the streaming variant (whose final keyed state IS this frame, since
    sketch merge is commutative/associative/idempotent)."""
    from pyspark.sql import Window

    per_group = kmv_distinct_estimates(sk, k=k)
    est_a = per_group.where(F.col("group") == group_a).select(
        F.col("est_distinct").alias("est_distinct_a")
    )
    est_b = per_group.where(F.col("group") == group_b).select(
        F.col("est_distinct").alias("est_distinct_b")
    )

    # union bottom-k over the merged sketches; membership flags survive
    # merging because any union-bottom-k element of A ranks within A's own
    # bottom-k (A ⊆ A∪B ⇒ rank_A(h) ≤ rank_union(h) ≤ k)
    wu = Window.orderBy("h")
    union_k = (
        sk.groupBy("h")
        .agg(
            F.max((F.col("group") == group_a).cast("int")).alias("in_a"),
            F.max((F.col("group") == group_b).cast("int")).alias("in_b"),
        )
        .withColumn("urank", F.row_number().over(wu))
        .where(F.col("urank") <= k)
    )
    ures = union_k.agg(
        F.count("*").alias("n_u"),
        F.max("h").alias("theta_u"),
        F.sum(
            (F.col("in_a") * F.col("in_b")).cast("bigint")
        ).alias("matches"),
    ).select(
        "n_u",
        "matches",
        F.when(F.col("n_u") < k, F.col("n_u").cast("double"))
        .otherwise(
            (F.lit(float(k - 1)) * F.lit(float(KMV_SPACE)))
            / F.col("theta_u").cast("double")
        )
        .alias("est_distinct_union"),
    )

    return (
        ures.crossJoin(est_a)
        .crossJoin(est_b)
        .select(
            F.lit(k).alias("k"),
            "est_distinct_a",
            "est_distinct_b",
            "est_distinct_union",
            (F.col("matches") / F.col("n_u")).alias("jaccard_est"),
            (
                (F.col("matches") / F.col("n_u"))
                * F.col("est_distinct_union")
            ).alias("est_intersection"),
        )
    )


def kmv_merge_batch(
    state_hashes: list[int], batch_hashes: list[int], *, k: int
) -> list[int]:
    """Lossless sketch merge for the streaming variant: bottom-k of the
    union of an existing sketch and a new batch's hashes. Pure python on
    two ≤k-element lists — O(k log k) per key per micro-batch."""
    return sorted(set(state_hashes) | set(batch_hashes))[:k]


def stream_kmv_sketch(
    events: DataFrame,
    group_col: str,
    hash_col: str,
    *,
    k: int = 256,
) -> DataFrame:
    """Streaming KMV: maintain the per-group bottom-k distinct sketch as
    keyed state over an append stream of ``(group, hash)`` rows; emits
    the refreshed ``(group, h, rank)`` sketch whenever it changes
    (update mode — keep the last emission per (group, rank)).

    Sketch merge is commutative, associative, and idempotent, so the
    final state equals the batch ``kmv_sketch`` of everything ingested —
    arrival order, micro-batch splits, and replays are all invisible.
    State per key is one ≤k integer array.
    """
    from typing import Any, Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    src = events.select(
        F.col(group_col).cast("string").alias("group"),
        F.col(hash_col).cast("long").alias("h"),
    )

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        cur = list(state.get[0]) if state.exists else []
        fresh: set[int] = set()
        for b in batches:
            # NULL hashes (NULL elements) are not elements; they arrive
            # as NaN and int(NaN) raised pre-r12
            fresh.update(int(x) for x in b["h"].dropna())
        merged = kmv_merge_batch(cur, sorted(fresh), k=k)
        state.update((merged,))
        if merged != cur:
            yield pd.DataFrame(
                {
                    "group": key[0],
                    "h": merged,
                    "rank": range(1, len(merged) + 1),
                }
            )
        else:
            yield pd.DataFrame({"group": [], "h": [], "rank": []})

    return src.groupBy("group").applyInPandasWithState(
        fn,
        outputStructType="group string, h long, rank int",
        stateStructType="h array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_space_saving(
    events: DataFrame,
    item_col: str,
    *,
    m: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming heavy-hitter candidates via Space-Saving (Metwally,
    Agrawal & El Abbadi 2005) — the canonical m-counter frequent-items
    summary: a new item beyond capacity evicts the minimum counter and
    inherits its count as one-sided overestimate error.

    Guarantee (per shard): every item whose true count exceeds the final
    minimum counter is IN the roster, and that minimum is at most
    N_shard / m — so with ``m ≥ N_shard / threshold`` the roster is a
    provable superset of the true ≥-threshold heavy hitters; an exact
    verification count over the drained roster then equals the plain
    HAVING (the CMS-prefilter proof shape, streamed).

    Items shard by xxhash64 so each item's full count lives in exactly
    one shard's state; state per shard is three m-bounded arrays. Emits
    the refreshed roster as ``(shard, rank, item, cnt, err)`` whenever
    it changes (update mode; roster size never shrinks, so keep the
    last emission per (shard, rank)).

    The roster depends on how the input splits into micro-batches: each
    batch's counts merge as one step, so an eviction sees the counters
    as of the batch boundary. Only the superset guarantee above holds
    for every split.
    """
    from typing import Any, Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    src = events.select(
        F.col(item_col).cast("string").alias("item"),
        F.pmod(F.xxhash64(F.col(item_col).cast("string")), n_shards)
        .cast("int")
        .alias("shard"),
    )

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, counts, errs = state.get
            table: dict[str, list[int]] = {
                it: [int(c), int(e)]
                for it, c, e in zip(items, counts, errs)
            }
        else:
            table = {}
        before = {it: tuple(v) for it, v in table.items()}
        for b in batches:
            vc = b["item"].value_counts()
            # deterministic merge order (item asc) — reproducible rosters
            for it in sorted(vc.index):
                c = int(vc[it])
                if it in table:
                    table[it][0] += c
                elif len(table) < m:
                    table[it] = [c, 0]
                else:
                    # evict the minimum counter (ties: lexicographic)
                    ev = min(table.items(), key=lambda kv: (kv[1][0], kv[0]))
                    mn = ev[1][0]
                    del table[ev[0]]
                    table[it] = [mn + c, mn]
        state.update(
            (
                list(table.keys()),
                [v[0] for v in table.values()],
                [v[1] for v in table.values()],
            )
        )
        if {it: tuple(v) for it, v in table.items()} != before:
            roster = sorted(
                table.items(), key=lambda kv: (-kv[1][0], kv[0])
            )
            yield pd.DataFrame(
                {
                    "shard": key[0],
                    "rank": range(1, len(roster) + 1),
                    "item": [it for it, _ in roster],
                    "cnt": [v[0] for _, v in roster],
                    "err": [v[1] for _, v in roster],
                }
            )
        else:
            yield pd.DataFrame(
                {"shard": [], "rank": [], "item": [], "cnt": [], "err": []}
            )

    return src.groupBy("shard").applyInPandasWithState(
        fn,
        outputStructType=(
            "shard int, rank int, item string, cnt long, err long"
        ),
        stateStructType=(
            "item array<string>, cnt array<long>, err array<long>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def overlap_matrix(
    df: DataFrame,
    element_col: Column | str,
    group_col: Column | str,
    *,
    k: int = 256,
) -> DataFrame:
    """Pairwise Jaccard matrix across ALL groups from ONE sketch build:
    ``(group_a, group_b, jaccard_est, est_intersection)`` for every
    unordered pair — the corpus-similarity report ("which sources feed
    me near-identical content?") at sketch cost.

    The corpus is scanned ONCE (kmv_sketch); the pairwise work happens
    on the sketch frame: pair-tagged copies (groups² × k rows — all
    parameter-sized), a per-pair union bottom-k window, one aggregate.
    Nothing downstream of the sketch touches data-sized frames.
    """
    from pyspark.sql import Window

    # materialized once: the pair expansion reads the sketch three ways
    sk = kmv_sketch(df, element_col, group_col, k=k).transform(materialize)
    groups = sk.select("group").distinct()
    pairs = (
        groups.alias("l")
        .crossJoin(groups.alias("r"))
        .where(F.col("l.group") < F.col("r.group"))
        .select(
            F.col("l.group").alias("ga"), F.col("r.group").alias("gb")
        )
    )
    # tag each pair's member sketches, merge, rank the union per pair
    tagged = sk.join(
        F.broadcast(pairs),
        (F.col("group") == F.col("ga")) | (F.col("group") == F.col("gb")),
    )
    per_pair = (
        tagged.groupBy("ga", "gb", "h")
        .agg(
            F.max((F.col("group") == F.col("ga")).cast("int")).alias(
                "in_a"
            ),
            F.max((F.col("group") == F.col("gb")).cast("int")).alias(
                "in_b"
            ),
        )
    )
    w = Window.partitionBy("ga", "gb").orderBy("h")
    union_k = per_pair.withColumn("urank", F.row_number().over(w)).where(
        F.col("urank") <= k
    )
    return union_k.groupBy("ga", "gb").agg(
        F.count("*").alias("n_u"),
        F.max("h").alias("theta_u"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("bigint")).alias(
            "matches"
        ),
    ).select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        (F.col("matches") / F.col("n_u")).alias("jaccard_est"),
        (
            (F.col("matches") / F.col("n_u"))
            * F.when(F.col("n_u") < k, F.col("n_u").cast("double"))
            .otherwise(
                (F.lit(float(k - 1)) * F.lit(float(KMV_SPACE)))
                / F.col("theta_u").cast("double")
            )
        ).alias("est_intersection"),
    )
