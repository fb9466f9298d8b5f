"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``     — exact brute-force top-k: the correctness baseline.
- ``lsh_cosine_topk`` — random-hyperplane LSH bucketing: the scale path.

Scale design
------------
Brute force is a query×corpus join: broadcast the (small) query set, keep
the corpus partitioned — a map-side-only plan, no corpus shuffle; the top-k
is a windowed group-limit per query (WindowGroupLimit pushes k into the
sort). LSH replaces the full cross product with an equi-join on bucket
signatures (multi-probe via multiple tables), trading recall for a ~B×
candidate reduction. The dot products are expression-only (zip_with +
aggregate) and stay in codegen; for very wide vectors a pandas-UDF BLAS
path is the drop-in alternative.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_psl_spark.grouped import grouped_map
from flink_psl_spark.operators.ranking import top_n
from flink_psl_spark.materialize import materialize
from flink_psl_spark.parallelism import ensure_parallelism


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns (double)."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(_col(a), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either vector has zero norm (real
    corpora contain zero embeddings — padding rows, failed encodes — and
    an unguarded division crashes the whole job under ANSI mode). NULL
    propagates safely: threshold filters and top-k ranking exclude it.

    NaN sims are normalized to NULL too (r11): Spark orders NaN ABOVE
    every double, so a NaN-element vector would otherwise rank FIRST in
    every desc-ordered top-k and pass every `>= threshold` filter — the
    opposite of "excluded". nanvl makes NaN follow the same NULL
    contract the numpy kernels implement via isnan masks."""
    denom = l2_norm(a) * l2_norm(b)
    return F.nanvl(
        F.when(denom != 0.0, dot(a, b) / denom),
        F.lit(None).cast("double"),
    )


def cosine_with_norms(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """cosine() with the per-row L2 norms precomputed as columns.

    Inside a pair join, ``cosine(l.v, r.v)`` makes codegen re-derive BOTH
    norms per PAIR (four array aggregations per candidate — the dominant
    cost of the exact dedup/top-k paths: O(pairs x dim) x 5 instead of
    x 1). Precomputing ``__n = l2_norm(v)`` once per ROW below the join
    leaves one zip_with dot per pair. The arithmetic form is unchanged
    (dot / (na * nb), same IEEE op order), so results are bit-identical
    to cosine() — the oracle hash comparison is unaffected. NaN → NULL
    like cosine() (see its docstring: NaN would rank first, not last)."""
    denom = _col(na) * _col(nb)
    return F.nanvl(
        F.when(denom != 0.0, dot(a, b) / denom),
        F.lit(None).cast("double"),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    include_self: bool = False,
    method: str = "expr",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, cos_sim, rank). The query side is
    broadcast — at 100 TB the corpus never moves; ties broken by neighbor
    id for determinism.

    ``method``:

    - ``'expr'`` — zip_with/aggregate dot products, whole-stage codegen;
      the window sees the full corpus×queries score table (WindowGroupLimit
      prunes to k per query before the exchange).
    - ``'blas'`` — the wide-vector path: per-partition numpy matmul
      (corpus batch × broadcast query matrix, one Arrow hop) that emits
      only each partition's LOCAL top-k per query, so the exchange carries
      partitions × queries × k rows instead of corpus × queries. Same
      result set (double-precision dot products, same tiebreak); preferred
      for 768-dim-class embeddings or large query sets.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _col(vec_col).cast("array<double>").alias("__qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _col(vec_col).cast("array<double>").alias("__cv"),
    )
    if method == "blas":
        scored = _blas_partial_topk(c, q, k, include_self)
    elif method == "expr":
        # norms once per row (queries: once per query; corpus: once per
        # corpus row) — not per corpus×queries pair
        joined = c.withColumn("__cn", l2_norm("__cv")).join(
            F.broadcast(q.withColumn("__qn", l2_norm("__qv"))), how="cross"
        )
        if not include_self:
            joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
        scored = joined.select(
            "query_id",
            "neighbor_id",
            cosine_with_norms("__qv", "__cv", "__qn", "__cn").alias("cos_sim"),
        )
    else:
        raise ValueError("method must be 'expr' or 'blas'")
    return (
        top_n(
            scored,
            "query_id",
            [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
            k,
            rank_col="rank",
        )
        # zero-norm exclusion contract (NULL cosines never rank), applied
        # ABOVE the rank window: desc ordering already sorts NULLs last,
        # and a non-partition-column predicate cannot be pushed below the
        # Window — so the cosine is evaluated exactly once and NULL rows
        # simply fall out of the k results (valid rows keep ranks 1..m)
        .where(F.col("cos_sim").isNotNull())
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_sim", 6).alias("cos_sim"),
            "rank",
        )
    )


def _safe_matrix(vals, dim):
    """(rows × ``dim``) float64 matrix + the positional indices of the
    rows that are well-formed (non-NULL, exactly ``dim`` wide, fully
    numeric). Clean batches take one vectorized conversion; only a batch
    carrying malformed rows (NULL / ragged / null elements) pays the
    per-row fallback — the hot path costs nothing extra and a single bad
    row can no longer kill a task (r11; a 1000-executor job must not die
    on one failed encode). Excluded rows score NULL in the expression
    path, so dropping them from the matmul is the same contract."""
    import numpy as np

    try:
        m = np.array(list(vals), dtype="float64")
        if m.ndim == 2 and m.shape[1] == dim:
            return m, np.arange(m.shape[0])
    except (ValueError, TypeError):
        pass
    rows, idx = [], []
    for i, v in enumerate(vals):
        try:
            a = np.asarray(v, dtype="float64")
        except (ValueError, TypeError):
            continue
        if a.ndim == 1 and a.shape[0] == dim:
            rows.append(a)
            idx.append(i)
    if rows:
        return np.stack(rows), np.array(idx, dtype="int64")
    return (
        np.empty((0, dim), dtype="float64"),
        np.array([], dtype="int64"),
    )


def _blas_partial_topk(
    c: DataFrame, q: DataFrame, k: int, include_self: bool
) -> DataFrame:
    """Per-partition numpy top-k: one matmul per Arrow batch, emitting the
    batch-local best k per query. NULL/zero-norm/malformed vectors score
    NULL in the expr path — here they are simply not emitted (equivalent
    under top-k, which never ranks NULL). Queries are grouped by vector
    dim (one matmul per group; a clean query set is one group), so a
    mismatched-length pair — NULL sim in the expr path — is never formed."""
    import numpy as np
    import pandas as pd

    q_dt = dict(q.dtypes)["query_id"]
    n_dt = dict(c.dtypes)["neighbor_id"]
    out_schema = f"query_id {q_dt}, neighbor_id {n_dt}, cos_sim double"
    qrows = [r for r in q.collect() if r["__qv"] is not None]
    by_dim: dict = {}
    for r in qrows:
        by_dim.setdefault(len(r["__qv"]), []).append(r)
    gmats = []
    for dim, rows in sorted(by_dim.items()):
        qm, sel = _safe_matrix([r["__qv"] for r in rows], dim)
        if not len(sel):
            continue
        q_ids = np.array([rows[i]["query_id"] for i in sel])
        qn = np.linalg.norm(qm, axis=1)
        qn[qn == 0.0] = np.nan  # zero-norm queries rank nothing
        gmats.append((dim, q_ids, qm, qn))
    if not gmats:
        return q.sparkSession.createDataFrame([], out_schema)

    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            all_vals = list(pdf["__cv"])
            all_ids = pdf["neighbor_id"].to_numpy()
            out_q, out_n, out_s = [], [], []
            for dim, q_ids, qm, qn in gmats:
                cm, sel = _safe_matrix(all_vals, dim)
                if not len(sel):
                    continue
                ids = all_ids[sel]
                cn = np.linalg.norm(cm, axis=1)
                ok = cn != 0.0
                if not ok.any():
                    continue
                cm, ids, cn = cm[ok], ids[ok], cn[ok]
                sims = (cm @ qm.T) / cn[:, None] / qn[None, :]
                if not include_self:
                    sims[ids[:, None] == q_ids[None, :]] = np.nan
                # batch-local top-k per query: sort by (-sim, neighbor_id)
                for j in range(sims.shape[1]):
                    col = sims[:, j]
                    valid = ~np.isnan(col)
                    if not valid.any():
                        continue
                    order = np.lexsort((ids[valid], -col[valid]))[:k]
                    vi = np.flatnonzero(valid)[order]
                    out_q.extend([q_ids[j]] * len(vi))
                    out_n.extend(ids[vi])
                    out_s.extend(col[vi])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": out_q,
                        "neighbor_id": out_n,
                        "cos_sim": out_s,
                    }
                )

    return c.mapInPandas(part, out_schema)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure-python LCG —
    reproducible across numpy versions and workers)."""
    state = seed & 0x7FFFFFFF or 1
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            # Park–Miller LCG → uniform(-1, 1); Box–Muller not needed for
            # hyperplane LSH (any symmetric distribution works).
            state = (state * 48271) % 2147483647
            v.append(state / 2147483647 * 2 - 1)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_bucket(
    vec: Column | str, planes: list[list[float]]
) -> Column:
    """Random-hyperplane signature: one bit per plane (sign of the dot)."""
    v = _col(vec)
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    v, F.array(*[F.lit(x) for x in p]), lambda a, b: a * b
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        * (1 << i)
        for i, p in enumerate(planes)
    ]
    return sum(bits[1:], bits[0]).cast("int")


def lsh_buckets(vec: Column | str, tables: list[list[list[float]]]) -> Column:
    """All tables' bucket signatures in one Arrow-batched BLAS matmul.

    Semantically identical to ``array(lsh_bucket(v, t) for t in tables)``
    but computed as a single (batch × dim) @ (dim × tables·planes) product
    per Arrow batch instead of tables·planes interpreted ``aggregate``
    higher-order expressions — at 24 tables × 4 planes the expression form
    is ~20× slower and dominates Catalyst compile time. Bit convention
    matches ``lsh_bucket`` (dot ≥ 0 → 1, plane i → bit i).
    """
    import numpy as np
    import pandas as pd

    n_tables, n_planes = len(tables), len(tables[0])
    mat = np.array(
        [p for planes in tables for p in planes], dtype="float64"
    ).T  # dim × (tables·planes)
    weights = 1 << np.arange(n_planes, dtype="int64")

    def _buckets(s):
        vals = s.tolist()
        dim = mat.shape[0]
        try:
            v = np.array(vals, dtype="float64")  # batch × dim; nulls → nan
            if v.ndim == 2 and v.shape[1] == dim:
                bits = (v @ mat) >= 0
                b = bits.reshape(len(v), n_tables, n_planes) @ weights
                sigs = b.astype("int32")
                # non-finite vectors (null elements arrive as nan, plus
                # literal NaN/inf floats) are unscorable — every sim they
                # produce is NULL — so they must not share a bucket:
                # NaN dots compare False on every plane, funnelling them
                # all into signature 0 of every table (same O(bad²)
                # blowup as the ragged case below)
                good = np.isfinite(v).all(axis=1)
                if good.all():
                    return pd.Series(list(sigs))
                return pd.Series(
                    [sig if g else None for sig, g in zip(sigs, good)]
                )
        except (ValueError, TypeError):
            pass
        # Malformed-row fallback (r11, tightened r12): a NULL / ragged /
        # null-element vector must not kill the task. Such rows bucket to
        # a NULL signature: posexplode of NULL emits no banded rows, so
        # they generate ZERO candidate pairs — still never dropped (the
        # dedup contract) and never ranked (the exact path filters NULL
        # sims the same way). The r11 all-zero-signature fallback instead
        # paired every bad row with every other bad row and with legit
        # zero-signature rows — an O(bad²) candidate blowup yielding only
        # NULL sims, on precisely the many-failed-encodes corpora this
        # path exists for (ADVICE r11). Clean batches never reach this
        # loop, so the hot path stays one BLAS matmul.
        out = []
        for val in vals:
            try:
                a = np.asarray(val, dtype="float64")
                ok = a.ndim == 1 and a.shape[0] == dim
            except (ValueError, TypeError):
                ok = False
            if ok and np.isfinite(a).all():
                bits = (a @ mat) >= 0
                out.append(
                    (bits.reshape(n_tables, n_planes) @ weights).astype("int32")
                )
            else:
                out.append(None)
        return pd.Series(out)

    return F.pandas_udf(_buckets, "array<int>")(_col(vec).cast("array<double>"))


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    include_self: bool = False,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the second scale path next to
    LSH (SURVEY M5 'an IVF or LSH-bucketed variant').

    Index build: centroids = deterministic sample of corpus vectors (every
    ceil(n/n_centroids)-th by id — reproducible without kmeans iterations;
    swap in kmeans centroids for tighter cells without changing the plan).
    Corpus rows are assigned to their nearest centroid (broadcast
    centroids, map-side only). Query: probe the ``n_probe`` nearest cells
    and scan only those — the candidate set is the probed cells' contents,
    joined via an equi-join on cell id (one shuffle).
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _col(vec_col).cast("array<double>").alias("__cv"),
    )
    # deterministic hash-sampled centroids: no driver-side id collection —
    # a count (scalar agg) sets the sampling rate, a hash predicate picks
    # the sample distributed, limit trims to exactly n_centroids
    n = corpus.count()
    stride = max(1, n // n_centroids)
    cents = (
        corpus.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0)
        # a NULL embedding is not a centroid candidate (r11: one sampled
        # malformed row must not break index build)
        .where(_col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("__cent_id"),
            _col(vec_col).cast("array<double>").alias("__centv"),
        )
    )

    # Nearest-cell routing as one Arrow-batched matmul against the centroid
    # matrix (kmeans/faiss style: centers live on every worker). The collect
    # is bounded by n_centroids·dim doubles — an index parameter, not data
    # scale — and replaces a corpus×centroids join (n_centroids× row
    # amplification, interpreted HOF cosines) plus two window top-ns.
    import numpy as np
    import pandas as pd

    crows = cents.orderBy("__cent_id").collect()
    # index dim = the first centroid candidate's width; ragged candidates
    # are just discarded samples (_safe_matrix), and an index with no
    # usable centroid (empty / all-malformed corpus) has no candidates
    cvecs = [r["__centv"] for r in crows]
    dim0 = next((len(v) for v in cvecs if v is not None), None)
    if dim0 is not None:
        cmat, sel = _safe_matrix(cvecs, dim0)
        cent_ids = np.array(
            [crows[i]["__cent_id"] for i in sel], dtype="int64"
        )
    if dim0 is None or not len(cent_ids):
        q_dt = dict(queries.dtypes)[id_col]
        n_dt = dict(corpus.dtypes)[id_col]
        return corpus.sparkSession.createDataFrame(
            [],
            f"query_id {q_dt}, neighbor_id {n_dt}, cos_sim double, rank int",
        )
    # cosine ordering per fixed v == dot ordering against unit centroids
    cmat = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-300)

    def _cells_udf(n: int) -> Column:
        def _cells(s):
            vals = s.tolist()
            v, sel = _safe_matrix(vals, cmat.shape[1])
            sims = v @ cmat.T  # well-formed rows × n_centroids
            # ties broken by centroid id asc (matches the expression form's
            # [__sim desc, __cent_id asc] ordering); lexsort is stable
            order = np.lexsort((np.broadcast_to(cent_ids, sims.shape), -sims))
            picked = cent_ids[order[:, :n]]
            # malformed rows route nowhere: NULL cell list → element_at /
            # explode yield no candidate rows for them
            out = [None] * len(vals)
            for pos, row in zip(sel, picked):
                out[pos] = row
            return pd.Series(out)

        return F.pandas_udf(_cells, "array<bigint>")

    cell = c.withColumn(
        "__cent_id", F.element_at(_cells_udf(1)("__cv"), 1)
    ).withColumn("__cn", l2_norm("__cv"))  # norm once per corpus row

    # probe: each query scans its n_probe nearest cells (norm computed
    # before the probe explode — once per query, not per probe/candidate)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", l2_norm("__qv"))
    probes = q.select(
        "query_id", "__qv", "__qn",
        F.explode(_cells_udf(n_probe)("__qv")).alias("__cent_id"),
    )
    from flink_psl_spark.operators.ranking import top_n

    cand = probes.join(cell, on="__cent_id")
    if not include_self:
        cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id", "neighbor_id",
        cosine_with_norms("__qv", "__cv", "__qn", "__cn").alias("cos_sim"),
    )
    return top_n(
        scored,
        "query_id",
        [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    ).select("query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank")


def _tiled_exact_dups(
    c: DataFrame, threshold: float, id_dt: str, n_blocks: int = 8
) -> DataFrame:
    """All-pairs cosine >= threshold WITHOUT a pair join: rows hash into
    ``n_blocks`` blocks, every unordered block tile (i <= j) receives both
    blocks' rows via an explode-to-B replication (ONE shuffle of n x B
    rows — never n²), and a per-tile numpy matmul scores that tile's
    pairs, emitting the HIGHER id of each qualifying pair (the row the
    dedup drops).

    Same survivor semantics as the pair-join form; zero-norm vectors
    score NaN and are never dropped (the expr path's NULL contract).
    Scale shape: size ``n_blocks`` so n/n_blocks rows fit a task; total
    work is the same n²/2 dot products but BLAS-vectorized instead of
    per-pair codegen with a zip_with array allocation per pair (measured
    ~18 µs/pair → the whole sf0.1 corpus in under a second). Nothing
    transits the driver."""
    import numpy as np
    import pandas as pd

    tiles = (
        c.withColumn(
            "__blk", F.pmod(F.xxhash64("__id"), F.lit(n_blocks)).cast("int")
        )
        .select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("__t")
        )
        .select(
            "__id",
            "__v",
            "__blk",
            F.least("__blk", "__t").alias("__ti"),
            F.greatest("__blk", "__t").alias("__tj"),
        )
    )

    def tile(pdf):
        ti, tj = pdf["__ti"].iat[0], pdf["__tj"].iat[0]
        # NULL-cosine contract of the expression form: a NULL vector, or
        # a pair of DIFFERENT lengths, yields NULL sim and never drops
        # either side — so only same-length non-NULL groups are scored
        # (a ragged np.array would otherwise crash the task).
        pdf = pdf[pdf["__v"].notna()]
        if not len(pdf):
            return pd.DataFrame({"__dup": []})
        lens = pdf["__v"].map(len)

        def mat(sub):
            m = np.array(list(sub["__v"]), dtype=np.float64)
            ids = sub["__id"].to_numpy()
            nrm = np.linalg.norm(m, axis=1)
            nrm[nrm == 0.0] = np.nan  # zero-norm: NaN sim, never dropped
            return m, ids, nrm

        out = []
        for _len in lens.unique():
            sub = pdf[lens == _len]
            mask_i = (sub["__blk"] == ti).to_numpy()
            if ti == tj:
                m, ids, nrm = mat(sub)
                sims = (m @ m.T) / nrm[:, None] / nrm[None, :]
                qual = (sims >= threshold) & (ids[:, None] < ids[None, :])
                out.append(ids[qual.any(axis=0)])
            else:
                a = sub[mask_i]
                b = sub[~mask_i]
                if not len(a) or not len(b):
                    continue
                ma, ia, na_ = mat(a)
                mb, ib, nb_ = mat(b)
                sims = (ma @ mb.T) / na_[:, None] / nb_[None, :]
                qual = sims >= threshold
                out.append(ib[(qual & (ia[:, None] < ib[None, :])).any(axis=0)])
                out.append(ia[(qual & (ib[None, :] < ia[:, None])).any(axis=1)])
        if not out:
            return pd.DataFrame({"__dup": []})
        return pd.DataFrame({"__dup": np.unique(np.concatenate(out))})

    return grouped_map(tiles, ["__ti", "__tj"], tile, f"__dup {id_dt}")


def embedding_dedup(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    exact: bool = False,
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate removal: drop each row whose vector
    is cosine-similar (>= threshold) to a lower-id row.

    ``exact=True`` verifies every pair (the SQL-oracle-checkable
    configuration) via tile-blocked per-task matmuls — see
    ``_tiled_exact_dups``; the default uses hyperplane-LSH candidate
    generation (the 100 TB near-dup path: candidates = bucket-collision
    pairs, one equi-join shuffle).
    """
    c = corpus.select(
        F.col(id_col).alias("__id"),
        _col(vec_col).cast("array<double>").alias("__v"),
    )
    if exact:
        dropped = (
            _tiled_exact_dups(
                c, threshold, dict(corpus.dtypes)[id_col], n_blocks
            )
            .select(F.col("__dup").alias(id_col))
            .distinct()
        )
        return corpus.join(dropped, on=id_col, how="left_anti")
    else:
        # hyperplane dim from the first NON-NULL vector: a NULL-leading
        # (or all-NULL / empty) corpus has nothing scorable — nothing
        # can be dropped, so return it unchanged instead of crashing
        first = c.where(F.col("__v").isNotNull()).select(F.size("__v")).first()
        if first is None:
            return corpus
        dim = first[0]
        tables = [
            _hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
        ]
        # signatures materialized BEFORE the bucket self-join — the same
        # double-eval fix as minhash_dedup: Python-UDF canonicalization
        # defeats exchange reuse, so the self-join otherwise plans the
        # scan→lsh_buckets kernel subtree on BOTH sides. Checkpoint the
        # PRE-explode frame: one copy of each vector (the explode would
        # multiply the stored vectors n_tables×), explode stays row-local.
        sig = (
            c.withColumn("__n", l2_norm("__v"))
            .withColumn("__sigs", lsh_buckets("__v", tables))
            .transform(materialize)
        )
        banded = sig.select(
            "__id",
            "__v",
            "__n",  # once per ROW, not per candidate pair
            F.posexplode("__sigs").alias("__tbl", "__bkt"),
        )
        pairs = (
            banded.alias("l")
            .join(
                banded.alias("r"),
                (F.col("l.__tbl") == F.col("r.__tbl"))
                & (F.col("l.__bkt") == F.col("r.__bkt"))
                & (F.col("l.__id") < F.col("r.__id")),
            )
            .select(
                F.col("r.__id").alias("__dup"),
                cosine_with_norms(
                    F.col("l.__v"), F.col("r.__v"),
                    F.col("l.__n"), F.col("r.__n"),
                ).alias("__sim"),
            )
        )
    # NaN guard (ADVICE r10): Spark SQL orders NaN above every double, so a
    # bare `__sim >= threshold` would DROP a row whose sim is NaN (a vector
    # containing NaN elements, or the zero-norm 0/0 case) — while numpy's
    # `sims >= threshold` in the tiled exact path is False and KEEPS it.
    # isnan(NULL) is false in Spark, so the NULL contract (NULL sim never
    # drops: NULL & x filters out) is unchanged.
    dropped = (
        pairs.where(~F.isnan("__sim") & (F.col("__sim") >= threshold))
        .select(F.col("__dup").alias(id_col))
        .distinct()
    )
    return corpus.join(dropped, on=id_col, how="left_anti")


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    include_self: bool = False,
) -> DataFrame:
    """Approximate cosine top-k via multi-table hyperplane LSH.

    Candidates = corpus rows sharing a bucket with the query in ANY of the
    ``n_tables`` hash tables (multi-probe recall boost), then exact cosine +
    top-k over candidates only. The join is an equi-join on (table, bucket):
    a single shuffle whose width is the candidate set, not the corpus.
    """
    # hyperplane dim from the first NON-NULL corpus vector (mirrors
    # embedding_dedup, ADVICE r11): a bare first() is nondeterministic on
    # distributed data and crashed on an empty corpus or a NULL-leading
    # one. With no scorable corpus vector there are no neighbors for any
    # query — return the empty result with the contract schema.
    first = (
        corpus.where(_col(vec_col).isNotNull())
        .select(F.size(_col(vec_col).cast("array<double>")))
        .first()
    )
    if first is None:
        return (
            queries.select(F.col(id_col).alias("query_id"))
            .limit(0)
            .crossJoin(
                corpus.select(F.col(id_col).alias("neighbor_id")).limit(0)
            )
            .select(
                "query_id",
                "neighbor_id",
                F.lit(None).cast("double").alias("cos_sim"),
                F.lit(None).cast("int").alias("rank"),
            )
        )
    dim = first[0]
    tables = [
        _hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]

    def with_buckets(df: DataFrame, id_alias: str, vec_alias: str,
                     norm_alias: str) -> DataFrame:
        # norm computed once per ROW, below the per-table explode (the
        # Generate carries the value as an attribute — posexplode
        # duplicates the result, never the computation)
        return (
            df.select(
                F.col(id_col).alias(id_alias),
                _col(vec_col).cast("array<double>").alias(vec_alias),
                lsh_buckets(vec_col, tables).alias("__bkts"),
            )
            .withColumn(norm_alias, l2_norm(vec_alias))
            .select(
                id_alias, vec_alias, norm_alias,
                F.posexplode("__bkts").alias("__tbl", "__bkt"),
            )
        )

    cq = with_buckets(queries, "query_id", "__qv", "__qn")
    cc = with_buckets(corpus, "neighbor_id", "__cv", "__cn")
    cand = (
        cc.join(cq, on=["__tbl", "__bkt"])
        .select("query_id", "neighbor_id", "__qv", "__cv", "__qn", "__cn")
        .distinct()
    )
    if not include_self:
        cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id", "neighbor_id",
        cosine_with_norms("__qv", "__cv", "__qn", "__cn").alias("cos_sim"),
    )
    return top_n(
        scored,
        "query_id",
        [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    ).select("query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank")


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training (public retrieval
    recipes: for each anchor, the most similar candidates with a DIFFERENT
    label are the informative negatives).

    Same scale shape as ``cosine_topk`` — the anchor side is broadcast
    with its label, the corpus never moves, and the label-inequality filter
    runs before scoring so same-class pairs never rank. Returns
    (query_id, neighbor_id, cos_sim, rank) with deterministic tie-break.
    """
    from flink_psl_spark.operators.ranking import top_n

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("__ql"),
        _col(vec_col).cast("array<double>").alias("__qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("__cl"),
        _col(vec_col).cast("array<double>").alias("__cv"),
    )
    scored = (
        c.withColumn("__cn", l2_norm("__cv"))
        .join(F.broadcast(q.withColumn("__qn", l2_norm("__qv"))), how="cross")
        .where(F.col("__ql") != F.col("__cl"))
        .select(
            "query_id", "neighbor_id",
            cosine_with_norms("__qv", "__cv", "__qn", "__cn").alias("cos_sim"),
        )
    )
    return top_n(
        scored,
        "query_id",
        [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    ).select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )


def semantic_dedup(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    target_cluster_size: int = 512,
    max_cluster_size: int | None = None,
    threshold: float = 0.95,
    two_level: bool = False,
) -> DataFrame:
    """Semantic (embedding-space) dedup, SemDeDup-style: cluster the
    corpus, then remove near-duplicates WITHIN each cluster only —
    clustering bounds the pair space, which is the whole point at scale
    (cross-cluster near-dups are accepted misses, as in the published
    recipe, which works *because* cluster count scales with the corpus).

    Scale hardening (two independent guarantees):

    1. **Cluster count scales with the corpus.** ``n_clusters=None``
       (default) derives ``ceil(count / target_cluster_size)`` — a 100 TB
       corpus gets SemDeDup-scale cluster counts instead of 16 mega-cells.
    2. **Per-cluster pair work is HARD-capped.** However skewed the
       routing, each cluster is split into deterministic sub-buckets of at
       most ``max_cluster_size`` rows (rank over the hash order), and the
       pair join keys on (cluster, sub-bucket) — worst-case pair count per
       shuffle key is C(max_cluster_size, 2) regardless of data. Dups
       across sub-buckets of an oversized cluster are accepted misses,
       exactly like cross-cluster dups.

    Determinism without bias: centroid seeding and sub-bucket order use
    ``md5(id)`` — a deterministic hash sample, engine-replayable (the
    DuckDB oracle computes the identical MD5) yet uncorrelated with
    ingestion order, unlike lowest-id seeding which picks whatever was
    loaded first. Each vector routes to its max-cosine centroid via a
    map-side ``max_by`` partial aggregation (ties to the lower centroid
    id) — no N×K shuffle. Within a sub-bucket, a vector is dropped when a
    lower-id mate has cosine >= threshold.

    Scale shape: one count job (scalar), centroid broadcast is
    n_clusters × dim doubles; assignment is scan + partial agg; the
    self-join is an equi-join keyed by (cluster, sub-bucket) with bounded
    fan-out. Returns survivors (id, cluster_id) plus every other corpus
    column.

    ``two_level=True`` — the SemDeDup-scale routing path. At ~100k
    clusters the flat centroid broadcast (n_clusters × dim doubles) blows
    the broadcast budget, so route IVF-style instead: broadcast only
    ~sqrt(K) coarse centroids (a deterministic subset of the same
    hash-sampled centroids),
    send each vector to its max-cosine coarse cell map-side, then resolve
    the fine centroid with an equi-join against the fine centroids OF
    THAT CELL (the K-row centroid table shuffles by coarse cell — never
    broadcast, never crossed with the corpus). A vector considers only
    its cell's fine centroids — the standard IVF approximation; cluster
    memberships shift at cell borders but every DOWNSTREAM guarantee
    (sub-bucket cap, keep-lowest-id) is routing-independent. AQE's skew
    join covers hot coarse cells.

    CONSTRUCTION of the returned DataFrame is eager: the cluster
    assignments run as jobs inside this call (``materialize`` — locally a
    ``localCheckpoint``, storing corpus × (id, vector, cluster, sub, norm)
    in executor blocks that are not fault-tolerant under the default
    backend; see flink_psl_spark.materialize for the reliable-checkpoint
    switch), because the in-cluster pair join otherwise re-plans the
    whole assignment pipeline once per reference (measured: two
    corpus-sized assignment subtrees per run).
    """
    from pyspark.sql import Window

    c = corpus.select(
        F.col(id_col).alias("__id"),
        _col(vec_col).cast("array<double>").alias("__v"),
        F.md5(F.col(id_col).cast("string")).alias("__h"),
    )
    # routing does K cosines per row in the SCAN stage (broadcast
    # centroids + map-side argmax), so an under-parallel scan serializes
    # the most compute-dense pass of the operator (embedding tables are
    # byte-small relative to their arithmetic). Keyed on __id so the
    # routing argmax aggregation reuses the exchange. No-op on
    # well-partitioned inputs (real-scale scans).
    c = ensure_parallelism(c, "__id")
    if n_clusters is None:
        n_rows = c.count()  # one scalar agg job — control-plane only
        n_clusters = max(1, math.ceil(n_rows / target_cluster_size))
    if max_cluster_size is None:
        max_cluster_size = 4 * target_cluster_size
    cents = (
        c.orderBy("__h", "__id")
        .limit(n_clusters)
        .select(F.col("__id").alias("__cid"), F.col("__v").alias("__cv"))
    )

    def _route(rows: DataFrame, centroids: DataFrame) -> DataFrame:
        """max-cosine routing as min_by over (-sim, cid): partial-
        aggregates map-side, so the exchange carries N rows, not N×K
        scored rows."""
        rowsn = rows.withColumn("__rn", l2_norm("__v"))
        centsn = centroids.withColumn("__ctn", l2_norm("__cv"))
        scored = rowsn.join(F.broadcast(centsn)).select(
            *[F.col(f) for f in rows.columns],
            "__cid",
            cosine_with_norms("__v", "__cv", "__rn", "__ctn").alias("__sim"),
        )
        others = [f for f in rows.columns if f not in ("__id", "__v")]
        return scored.groupBy("__id").agg(
            F.min_by(
                F.struct(
                    F.col("__cid").alias("cluster_id"),
                    F.col("__v").alias("__v"),
                ),
                # type-agnostic argmax: min over (-sim, cid) = max sim,
                # ties to the LOWER centroid id for ANY orderable id type
                # (unary minus on a string id would cast to NULL)
                F.struct(
                    (-F.col("__sim")).alias("__negsim"), F.col("__cid")
                ),
            ).alias("__best"),
            *[F.first(o).alias(o) for o in others],
        )

    if not two_level:
        routed = _route(c, cents)
    else:
        # coarse cells: the first ~sqrt(K) of the same hash-ordered
        # sample (a subset of the fine centroids — no extra scan)
        n_coarse = max(1, math.isqrt(n_clusters))
        coarse = (
            cents.orderBy("__cid")
            .limit(n_coarse)
            .select(
                F.col("__cid").alias("__gid"), F.col("__cv").alias("__gv")
            )
        )
        # fine centroids route to coarse cells once (K rows — tiny job)
        cent_cell = (
            cents.withColumnRenamed("__cid", "__id")
            .withColumnRenamed("__cv", "__v")
            .transform(
                lambda d: _route(
                    d,
                    coarse.select(
                        F.col("__gid").alias("__cid"),
                        F.col("__gv").alias("__cv"),
                    ),
                )
            )
            .select(
                F.col("__id").alias("__cid"),
                F.col("__best.__v").alias("__cv"),
                F.col("__best.cluster_id").alias("__cell"),
            )
        )
        # vectors route to coarse cells map-side (broadcast is sqrt(K))
        vec_cell = _route(
            c,
            coarse.select(
                F.col("__gid").alias("__cid"), F.col("__gv").alias("__cv")
            ),
        ).select(
            "__id",
            F.col("__best.__v").alias("__v"),
            F.col("__best.cluster_id").alias("__cell"),
            "__h",
        )
        # fine resolution: equi-join on the coarse cell (keyed shuffle of
        # the K-row centroid table — NOT a broadcast of all K), then the
        # same min_by argmax within the cell (norms once per row/centroid,
        # not per row×in-cell-centroid pair)
        in_cell = (
            vec_cell.withColumn("__vn", l2_norm("__v"))
            .join(cent_cell.withColumn("__ccn", l2_norm("__cv")), on="__cell")
            .select(
                "__id", "__v", "__h", "__cid",
                cosine_with_norms("__v", "__cv", "__vn", "__ccn").alias("__sim"),
            )
        )
        routed = in_cell.groupBy("__id").agg(
            F.min_by(
                F.struct(
                    F.col("__cid").alias("cluster_id"),
                    F.col("__v").alias("__v"),
                ),
                # type-agnostic argmax: min over (-sim, cid) = max sim,
                # ties to the LOWER centroid id for ANY orderable id type
                # (unary minus on a string id would cast to NULL)
                F.struct(
                    (-F.col("__sim")).alias("__negsim"), F.col("__cid")
                ),
            ).alias("__best"),
            F.first("__h").alias("__h"),
        )
    w = Window.partitionBy("__best.cluster_id").orderBy("__h", "__id")
    # assignments materialized before the in-cluster self-join — same
    # double-eval shape as the LSH dedups: the self-join (and the
    # survivors reference below) otherwise re-plans the whole
    # centroid-assignment pipeline (corpus × centroid scoring + argmin
    # aggregation) once per reference — the executed plan showed TWO
    # 126k-row assignment subtrees per run at sf0.1. Stored rows:
    # corpus × (id, vector, cluster, sub, norm).
    assigned = routed.select(
        "__id",
        F.col("__best.__v").alias("__v"),
        F.col("__best.cluster_id").alias("cluster_id"),
        F.floor((F.row_number().over(w) - 1) / max_cluster_size).alias(
            "__sub"
        ),
    ).withColumn(
        "__n", l2_norm("__v")  # once per row, not per in-cluster pair
    )
    assigned = assigned.transform(materialize)
    # fan the checkpointed assignments out on the pair-join key: the
    # assignment exchange is AQE-coalesced by BYTES (rows are small),
    # but the in-cluster pair join inheriting that partitioning does
    # C(cluster, 2) cosine evaluations per key — compute-dense, not
    # byte-dense (at sf1 the 17M-pair stage ran ~2 tasks wide;
    # whole-query effective parallelism 7.4 on 32 cores). An explicit
    # keyed repartition is exempt from AQE coalescing; both self-join
    # sides derive from this frame, so the join stays co-partitioned.
    # At real scale the exchange is byte-big and this matches the
    # planner's own choice.
    par = assigned.sparkSession.sparkContext.defaultParallelism
    assigned = assigned.repartition(par, "cluster_id", "__sub")
    pairs = (
        assigned.alias("l")
        .join(
            assigned.alias("r"),
            (F.col("l.cluster_id") == F.col("r.cluster_id"))
            & (F.col("l.__sub") == F.col("r.__sub"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .where(
            cosine_with_norms(
                F.col("l.__v"), F.col("r.__v"), F.col("l.__n"), F.col("r.__n")
            )
            >= threshold
        )
        .select(F.col("r.__id").alias("__dup"))
        .distinct()
    )
    survivors = assigned.join(
        pairs, assigned["__id"] == pairs["__dup"], "left_anti"
    )
    return corpus.join(
        survivors.select(F.col("__id").alias(id_col), "cluster_id"),
        on=id_col,
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ family; Jégou et al., "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011 — the standard 100 TB ANN
# compression: m-byte codes replace dim×8-byte vectors, queries score
# against a per-query lookup table instead of raw vectors)
# ---------------------------------------------------------------------------


def pq_train_codebook(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 32,
    sample_size: int = 512,
    n_iters: int = 8,
):
    """Train an m-subspace × n_codes product-quantization codebook.

    Deterministic and driver-bounded: the training sample is the first
    ``sample_size`` corpus vectors in md5(id) order (engine-replayable
    hash sample, uncorrelated with ingestion order — same contract as
    semantic_dedup's centroid seeding), so the collect is
    sample_size × dim doubles — a PARAMETER, never data-scaled. Each
    subspace runs ``n_iters`` Lloyd iterations in numpy with hash-order
    init; empty clusters retain their previous centroid. Vectors are
    unit-normalized before training (PQ for cosine ≡ PQ for inner
    product on the unit sphere); zero-norm vectors are excluded.

    Returns a numpy array of shape (m, n_codes, dim // m), or None when
    the sample holds no trainable vector (empty / all-NULL / all
    zero-norm corpus). dim must be divisible by m.
    """
    import numpy as np

    rows = (
        corpus.select(
            _col(vec_col).cast("array<double>").alias("__v"),
            F.md5(F.col(id_col).cast("string")).alias("__h"),
        )
        .orderBy("__h")
        .limit(sample_size)
        .collect()
    )
    # malformed sampled vectors (NULL/ragged/null elements) are just
    # discarded sample candidates (r11); a sample with NOTHING trainable
    # returns None — the index has no scorable content
    vecs = [r["__v"] for r in rows]
    dim = next((len(v) for v in vecs if v is not None), None)
    if dim is None:
        return None
    x, _ = _safe_matrix(vecs, dim)
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0, None]
    if not len(x):
        return None
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    k = min(n_codes, len(x))
    book = np.zeros((m, n_codes, dsub))
    for s in range(m):
        sub = x[:, s * dsub : (s + 1) * dsub]
        cents = sub[:k].copy()  # hash-order init (sample is hash-ordered)
        if k < n_codes:  # tiny corpora: repeat-pad so shapes stay fixed
            cents = np.vstack([cents, np.tile(cents[:1], (n_codes - k, 1))])
        for _ in range(n_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for j in range(n_codes):
                pts = sub[assign == j]
                if len(pts):
                    cents[j] = pts.mean(0)
        book[s] = cents
    return book


def pq_encode(
    corpus: DataFrame,
    codebook,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each corpus vector as m nearest-centroid codes — the stored
    PQ index: m small ints per vector (m bytes at n_codes<=256) instead
    of dim doubles, a 64× compression at dim=64/m=8. One corpus scan,
    Arrow-batched numpy per partition, codebook broadcast by closure
    (m × n_codes × dsub doubles — parameter-sized). Zero-norm vectors
    are dropped (they rank nothing under cosine).

    Returns (id_col, code array<int>).
    """
    import numpy as np
    import pandas as pd

    m, n_codes, dsub = codebook.shape
    book = codebook  # captured; ships once per executor via task closure
    id_dt = dict(corpus.select(F.col(id_col)).dtypes)[id_col]

    def enc(batches):
        dim = m * dsub
        for pdf in batches:
            if not len(pdf):
                continue
            # malformed rows are not encodable → not indexed (they rank
            # nothing under cosine, like zero-norm)
            v, sel = _safe_matrix(list(pdf["__v"]), dim)
            if not len(sel):
                continue
            ids = pdf[id_col].to_numpy()[sel]
            norms = np.linalg.norm(v, axis=1)
            ok = norms > 0
            if not ok.any():
                continue
            v, ids = v[ok] / norms[ok, None], ids[ok]
            codes = np.empty((len(v), m), dtype=np.int64)
            for s in range(m):
                sub = v[:, s * dsub : (s + 1) * dsub]
                d2 = (
                    (sub**2).sum(1)[:, None]
                    - 2.0 * sub @ book[s].T
                    + (book[s] ** 2).sum(1)[None, :]
                )
                codes[:, s] = d2.argmin(1)
            yield pd.DataFrame({id_col: ids, "code": list(codes)})

    src = corpus.select(
        F.col(id_col), _col(vec_col).cast("array<double>").alias("__v")
    )
    return src.mapInPandas(enc, f"{id_col} {id_dt}, code array<bigint>")


def pq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    n_codes: int = 32,
    refine: int = 4,
    sample_size: int = 512,
    include_self: bool = False,
) -> DataFrame:
    """PQ approximate cosine top-k with asymmetric-distance scoring and
    exact re-rank — the third ANN scale path next to IVF and LSH.

    Shape at 100 TB: (1) codebook training collects a hash-bounded
    sample (parameter-sized); (2) ONE corpus scan encodes m-byte codes
    (the stored index — persist ``pq_encode``'s frame to reuse across
    query batches); (3) ONE scan of the CODES (not the vectors) scores
    every query via its LUT (q_sub · codebook[s], an m × n_codes table
    per query) and emits only each partition's local top-(k·refine)
    candidates — the exchange carries partitions × queries × k·refine
    id rows; (4) candidates join back to the corpus for EXACT cosine
    re-rank (candidate set is query-bounded, the join is broadcast-able).
    The query set is broadcast-small by contract, as in cosine_topk.

    Returns (query_id, neighbor_id, cos_sim, rank) — cos_sim exact.
    """
    import numpy as np
    import pandas as pd

    book = pq_train_codebook(
        corpus, id_col=id_col, vec_col=vec_col, m=m, n_codes=n_codes,
        sample_size=sample_size,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _col(vec_col).cast("array<double>").alias("__qv"),
    )
    q_dt = dict(q.dtypes)["query_id"]
    id_dt = dict(corpus.select(F.col(id_col)).dtypes)[id_col]
    cand_schema = f"query_id {q_dt}, neighbor_id {id_dt}"
    if book is None:  # nothing trainable in the corpus → no candidates
        return corpus.sparkSession.createDataFrame(
            [], f"{cand_schema}, cos_sim double, rank int"
        )
    dsub = book.shape[2]

    qrows = q.collect()  # broadcast-small by contract
    # LUT scoring needs the index dim; other-dim / malformed queries
    # score NULL against every indexed row in the expr form → no results
    qm, sel = _safe_matrix([r["__qv"] for r in qrows], book.shape[0] * dsub)
    if not len(sel):
        return corpus.sparkSession.createDataFrame(
            [], f"{cand_schema}, cos_sim double, rank int"
        )
    q_ids = np.array([qrows[i]["query_id"] for i in sel])
    qn = np.linalg.norm(qm, axis=1)
    qn[qn == 0.0] = np.nan
    qm = qm / qn[:, None]
    # per-query LUT: luts[j, s, c] = q_j[sub s] · codebook[s][c]
    luts = np.stack(
        [qm[:, s * dsub : (s + 1) * dsub] @ book[s].T for s in range(book.shape[0])],
        axis=1,
    )
    n_cand = max(k, k * refine)
    m_sub = book.shape[0]

    # encode + ADC-score FUSED in one Arrow kernel: the encode and score
    # stages were two chained mapInPandas nodes, i.e. two JVM↔Python
    # round trips per corpus batch (each with its own worker handshake)
    # for rows that are produced and consumed in the same task. The
    # numeric path is byte-identical to pq_encode followed by the old
    # score kernel (same per-batch rows, same op order); pq_encode
    # remains the public stored-index operator.
    def enc_score(batches):
        dim = m_sub * dsub
        for pdf in batches:
            if not len(pdf):
                continue
            v, sel = _safe_matrix(list(pdf["__v"]), dim)
            if not len(sel):
                continue
            ids = pdf[id_col].to_numpy()[sel]
            norms = np.linalg.norm(v, axis=1)
            ok = norms > 0
            if not ok.any():
                continue
            v, ids = v[ok] / norms[ok, None], ids[ok]
            codes = np.empty((len(v), m_sub), dtype=np.int64)
            for s in range(m_sub):
                sub = v[:, s * dsub : (s + 1) * dsub]
                d2 = (
                    (sub**2).sum(1)[:, None]
                    - 2.0 * sub @ book[s].T
                    + (book[s] ** 2).sum(1)[None, :]
                )
                codes[:, s] = d2.argmin(1)
            # ADC: sum LUT entries along the m subspaces → approx cosine
            sims = luts[:, np.arange(codes.shape[1])[None, :], codes].sum(2).T
            if not include_self:
                sims[ids[:, None] == q_ids[None, :]] = -np.inf
            out_q, out_n = [], []
            for j in range(sims.shape[1]):
                col = sims[:, j]
                if np.isnan(col).all():
                    continue
                order = np.lexsort((ids, -col))[:n_cand]
                out_q.extend([q_ids[j]] * len(order))
                out_n.extend(ids[order])
            if out_q:
                yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n})

    src = corpus.select(
        F.col(id_col), _col(vec_col).cast("array<double>").alias("__v")
    )
    cands = src.mapInPandas(enc_score, cand_schema)
    # exact re-rank on the (query-bounded) candidate set
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _col(vec_col).cast("array<double>").alias("__cv"),
    )
    qdf = q.sparkSession.createDataFrame(
        [(r["query_id"], r["__qv"]) for r in qrows],
        f"query_id {q_dt}, __qv array<double>",
    )
    # the candidate set is partitions × queries × k·refine id pairs —
    # bounded and small; broadcast IT (not the corpus, which the planner
    # would otherwise pick from its size estimate at small SF)
    scored = (
        c.withColumn("__cn", l2_norm("__cv"))
        .join(F.broadcast(cands), on="neighbor_id")
        .join(F.broadcast(qdf.withColumn("__qn", l2_norm("__qv"))),
              on="query_id")
        .select(
            "query_id", "neighbor_id",
            cosine_with_norms("__qv", "__cv", "__qn", "__cn").alias("cos_sim"),
        )
    )
    return (
        top_n(
            scored,
            "query_id",
            [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
            k,
            rank_col="rank",
        )
        .where(F.col("cos_sim").isNotNull())
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_sim", 6).alias("cos_sim"),
            "rank",
        )
    )


def sq_encode(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar (int8) quantization: each vector stores as 64 one-byte
    codes + one float scale — 8× smaller than float64 at dim=64, the
    lightest compression tier below PQ (faiss SQ8). Per-vector symmetric
    scale s = max|v|/127, code = round(v/s); zero-norm vectors drop.
    Expression-only (transform/aggregate — stays in codegen, no Python).

    Returns (id_col, scale double, code array<int>).
    """
    v = _col(vec_col).cast("array<double>")
    mx = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = (mx / F.lit(127.0)).alias("scale")
    return (
        corpus.select(F.col(id_col), v.alias("__v"), scale)
        # NaN guard (r11): Spark evaluates NaN > 0 as TRUE (NaN orders
        # above every double), so a NaN-element vector used to pass this
        # filter and kill the job at the ANSI NaN→INT cast below. Like
        # zero-norm and NULL vectors, NaN-bearing vectors are not
        # scorable — they drop from the index.
        .where((F.col("scale") > 0) & ~F.isnan("scale"))
        .select(
            id_col,
            "scale",
            F.transform(
                "__v", lambda x: F.round(x / F.col("scale")).cast("int")
            ).alias("code"),
        )
    )


def sq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine: int = 4,
    include_self: bool = False,
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors with exact
    re-rank — same two-stage shape as pq_cosine_topk but with the SQ8
    index: the candidate scan reads codes + scale (9 bytes/dim-byte
    payload vs 8·dim raw), scores dequantized cosines in a partition-
    local numpy kernel emitting only top-(k·refine) ids, and the
    query-bounded candidate set re-ranks on exact vectors (broadcast
    candidates — the corpus never shuffles).

    Returns (query_id, neighbor_id, cos_sim, rank) — cos_sim exact.
    """
    import numpy as np
    import pandas as pd

    encoded = sq_encode(corpus, id_col=id_col, vec_col=vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _col(vec_col).cast("array<double>").alias("__qv"),
    )
    qrows = q.collect()  # broadcast-small by contract
    q_dt = dict(q.dtypes)["query_id"]
    id_dt = dict(corpus.select(F.col(id_col)).dtypes)[id_col]
    cand_schema = f"query_id {q_dt}, neighbor_id {id_dt}"
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], f"{cand_schema}, cos_sim double, rank int"
        )
    # queries grouped by dim, malformed dropped (they score NULL against
    # everything in the expr form); SQ code rows participate only in
    # their own dim's group — same discipline as _blas_partial_topk
    by_dim: dict = {}
    for r in qrows:
        if r["__qv"] is not None:
            by_dim.setdefault(len(r["__qv"]), []).append(r)
    gq = []
    for dim, rows in sorted(by_dim.items()):
        qm, sel = _safe_matrix([r["__qv"] for r in rows], dim)
        if not len(sel):
            continue
        q_ids = np.array([rows[i]["query_id"] for i in sel])
        qn = np.linalg.norm(qm, axis=1)
        qn[qn == 0.0] = np.nan
        gq.append((dim, q_ids, qm / qn[:, None]))
    if not gq:
        return corpus.sparkSession.createDataFrame(
            [], f"{cand_schema}, cos_sim double, rank int"
        )
    n_cand = max(k, k * refine)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vals = list(pdf["code"])
            scales = pdf["scale"].to_numpy()
            all_ids = pdf[id_col].to_numpy()
            out_q, out_n = [], []
            for dim, q_ids, qm in gq:
                codes, sel = _safe_matrix(vals, dim)
                if not len(sel):
                    continue
                deq = codes * scales[sel][:, None]
                ids = all_ids[sel]
                nrm = np.linalg.norm(deq, axis=1)
                nrm[nrm == 0.0] = np.nan
                sims = (deq / nrm[:, None]) @ qm.T
                if not include_self:
                    sims[ids[:, None] == q_ids[None, :]] = -np.inf
                for j in range(sims.shape[1]):
                    col = sims[:, j]
                    if np.isnan(col).all():
                        continue
                    order = np.lexsort((ids, -col))[:n_cand]
                    out_q.extend([q_ids[j]] * len(order))
                    out_n.extend(ids[order])
            if out_q:
                yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n})

    cands = encoded.mapInPandas(score, cand_schema)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _col(vec_col).cast("array<double>").alias("__cv"),
    )
    qdf = q.sparkSession.createDataFrame(
        [(r["query_id"], r["__qv"]) for r in qrows],
        f"query_id {q_dt}, __qv array<double>",
    )
    scored = (
        c.withColumn("__cn", l2_norm("__cv"))
        .join(F.broadcast(cands), on="neighbor_id")
        .join(F.broadcast(qdf.withColumn("__qn", l2_norm("__qv"))),
              on="query_id")
        .select(
            "query_id", "neighbor_id",
            cosine_with_norms("__qv", "__cv", "__qn", "__cn").alias("cos_sim"),
        )
    )
    return (
        top_n(
            scored,
            "query_id",
            [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
            k,
            rank_col="rank",
        )
        .where(F.col("cos_sim").isNotNull())
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_sim", 6).alias("cos_sim"),
            "rank",
        )
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pool: int = 50,
    lam: float = 0.7,
    include_self: bool = False,
) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein 1998):
    exact cosine top-``pool`` candidates per query, then the classic
    greedy diversity selection — pick argmax of
    ``lam·rel(d) − (1−lam)·max_{s∈S} sim(d, s)`` until ``k`` chosen.
    The dedup-aware retrieval step of a curation pipeline: relevance
    alone returns near-identical neighbors; MMR trades ``1−lam`` of it
    for coverage.

    Scale shape: candidate generation is :func:`cosine_topk` (corpus
    never moves, exchange carries pool-bounded rows); the greedy loop is
    inherently sequential but runs PER QUERY over a parameter-sized
    (pool × dim) group in one :func:`grouped_map` call — queries
    parallelize, and nothing driver-side touches data. Ties (equal MMR
    score) break on neighbor id; the first pick is always the exact
    top-1.

    Returns (query_id, neighbor_id, rel, mmr_rank) — rel = exact cosine.
    """
    import numpy as np
    import pandas as pd

    cand = cosine_topk(
        corpus, queries, id_col=id_col, vec_col=vec_col,
        k=pool, include_self=include_self,
    )
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _col(vec_col).cast("array<double>").alias("__nv"),
    )
    joined = cand.join(nvec, on="neighbor_id").select(
        "query_id", "neighbor_id", F.col("cos_sim").alias("rel"), "__nv"
    )
    q_dt = dict(joined.dtypes)["query_id"]
    n_dt = dict(joined.dtypes)["neighbor_id"]
    out_schema = (
        f"query_id {q_dt}, neighbor_id {n_dt}, rel double, mmr_rank int"
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.array(pdf["__nv"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(v, axis=1)
        norms[norms == 0.0] = 1.0
        v = v / norms[:, None]
        rel = pdf["rel"].to_numpy()
        n = len(pdf)
        chosen: list[int] = []
        max_sim = np.full(n, -np.inf)
        remaining = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            if chosen:
                score = lam * rel - (1.0 - lam) * max_sim
            else:
                score = rel.copy()
            score[~remaining] = -np.inf
            # ties on score -> lowest neighbor id = first in sort order
            best = int(np.argmax(score))
            chosen.append(best)
            remaining[best] = False
            sims = v @ v[best]
            max_sim = np.maximum(max_sim, sims)
        out = pdf.iloc[chosen][["query_id", "neighbor_id", "rel"]].copy()
        out["mmr_rank"] = range(1, len(chosen) + 1)
        return out

    order = [F.col("rel").desc(), "neighbor_id"]
    return grouped_map(joined, "query_id", pick, out_schema, order)


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    *,
    n_queries: int = 10,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    k_each: int = 20,
    k: int = 5,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid more-like-this retrieval by reciprocal-rank fusion: fuse
    the semantic ranking (exact embedding cosine over ``emb``) with the
    lexical ranking (exact 3-gram Jaccard over ``docs``) for the query
    entities ``id < n_queries`` — the standard two-signal retrieval
    recipe (RRF, Cormack et al.) when neither signal alone is trusted.

    Each list contributes ``round(1e9 / (rrf_k + rank))`` for its top
    ``k_each``; scores are QUANTIZED INTEGERS (both the Jaccard rank key
    — intersection*1e6 div union — and the fusion terms), so the whole
    pipeline is engine-exact. Ties break to the lower neighbor id.

    Scale shape: the semantic side is :func:`cosine_topk` (corpus never
    shuffles, queries broadcast); the lexical side broadcasts the
    n_queries shingle sets against one corpus scan; fusion joins two
    k_each-bounded lists. Output: (query_id, neighbor_id, rrf_q, rank).
    """
    from pyspark.sql import Window

    from flink_psl_spark.llm.dedup import shingle_hashes

    # semantic list
    cos = cosine_topk(
        emb,
        emb.where(F.col(vec_id_col) < n_queries),
        id_col=vec_id_col,
        vec_col=vec_col,
        k=k_each,
    ).select("query_id", "neighbor_id", F.col("rank").alias("__rc"))

    # lexical list — exact 3-gram Jaccard, integer-quantized rank key.
    # HASHED shingle sets (same move as ngram_jaccard_pairs): xxhash64
    # over the token slice is injective barring ~2^-64 collisions, so
    # the set sizes — and hence the quantized rank key — are unchanged,
    # while the 50k-pair intersect/union compares longs, not strings.
    sh = docs.select(
        F.col(id_col),
        F.array_distinct(shingle_hashes(F.col(text_col), 3)).alias("s"),
    )
    qs = sh.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("s").alias("qs")
    )
    jp = (
        sh.crossJoin(F.broadcast(qs))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr(
                "(CAST(size(array_intersect(s, qs)) AS BIGINT) * 1000000)"
                " div CAST(size(array_union(s, qs)) AS BIGINT)"
            ).alias("__jq"),
        )
        .where(F.col("__jq") > 0)
    )
    wj = Window.partitionBy("query_id").orderBy(
        F.desc("__jq"), F.asc("neighbor_id")
    )
    jac = (
        jp.withColumn("__rj", F.row_number().over(wj))
        .where(F.col("__rj") <= k_each)
        .select("query_id", "neighbor_id", "__rj")
    )

    def rrf(rank_col: str) -> F.Column:
        return F.coalesce(
            F.round(F.lit(1e9) / (F.lit(float(rrf_k)) + F.col(rank_col)))
            .cast("bigint"),
            F.lit(0).cast("bigint"),
        )

    fused = (
        cos.join(jac, on=["query_id", "neighbor_id"], how="full_outer")
        .select(
            "query_id",
            "neighbor_id",
            (rrf("__rc") + rrf("__rj")).alias("rrf_q"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_q"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rrf_q",
            F.col("rank").cast("int").alias("rank"),
        )
    )
