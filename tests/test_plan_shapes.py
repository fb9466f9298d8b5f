"""Plan-shape tests for custom operators (SURVEY §5.1 golden-plan analogue:
assert the INVARIANTS of the physical plan — shuffle counts, operator
choices — not brittle full-text snapshots)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(df) -> int:
    return _plan(df).count("Exchange hashpartitioning")


def test_cumulate_stays_row_local(spark, t):
    """cumulate explodes slices in the scan stage; the only shuffle is the
    downstream aggregation's."""
    from flink_psl_spark.operators import cumulate

    agged = (
        cumulate(t["events"], "ts", "30 minutes", "2 hours")
        .groupBy("window_start", "window_end")
        .agg(F.count("*").alias("n"))
    )
    assert _exchanges(agged) == 1
    assert "Generate explode" in _plan(agged)


def test_session_tvf_single_shuffle(spark, t):
    """session TVF = gaps-and-islands over one key partitioning — the two
    window passes and final agg reuse a single exchange."""
    from flink_psl_spark.operators import session

    out = (
        session(t["events"], "ts", "10 minutes", partition_by="user_id")
        .groupBy("user_id", "window_start")
        .agg(F.count("*").alias("n"))
    )
    assert _exchanges(out) == 1


def test_dedup_uses_window_group_limit(spark, t):
    from flink_psl_spark.operators import deduplicate

    out = deduplicate(t["events"], "user_id", ["ts", "event_id"], keep="last")
    assert "WindowGroupLimit" in _plan(out)
    assert _exchanges(out) == 1


def test_interval_join_single_join(spark, t):
    from flink_psl_spark.operators import interval_join

    clicks = t["events"].where(F.col("event_type") == "click")
    purchases = t["events"].where(F.col("event_type") == "purchase")
    out = interval_join(
        clicks, purchases, "user_id", "ts", "ts", "'0' SECOND", "'10' MINUTE"
    )
    p = _plan(out)
    # equi-join on the key with the range as join condition — not a
    # nested-loop cross product
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_minhash_signature_shuffle_payload(spark, t):
    """minhash signatures are row-local: no aggregation exchange at all
    (the only permissible exchange is ensure_parallelism's scan fan-out),
    no join, and the kernel is Arrow-batched — never row-at-a-time."""
    from flink_psl_spark.llm import minhash_signatures

    sig = minhash_signatures(t["documents"])
    p = _plan(sig)
    # at most ensure_parallelism's scan fan-out; no aggregation at all
    assert _exchanges(sig) <= 1
    assert "HashAggregate" not in p and "Join" not in p
    assert "ArrowEvalPython" in p and "BatchEvalPython" not in p


def test_exact_dedup_single_shuffle(spark, t):
    from flink_psl_spark.llm import exact_dedup

    assert _exchanges(exact_dedup(t["documents"])) == 1


def test_cep_single_shuffle_wide_python_stage(spark, t):
    """batch CEP: exactly one exchange (the key repartition, pinned to
    defaultParallelism so AQE can't coalesce the Python stage narrow),
    sort within partitions, one mapInPandas — no per-group FlatMapGroups."""
    from flink_psl_spark.cep import Measure, Step, match_recognize

    out = match_recognize(
        t["events"],
        partition_by="user_id",
        order_by=["ts", "event_id"],
        pattern=[
            Step.one_or_more("A", "event_type = 'click'"),
            Step.once("B", "event_type = 'purchase'"),
        ],
        measures=[Measure("n_clicks", "A", "count")],
    )
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_q8_dims_broadcast_no_cartesian(spark, sf_dir):
    """TPC-H Q8 (7-way join): every dimension side (part, nation, region,
    supplier, customer at sf) must broadcast — no cartesian product, and the
    p_type filter must reach the part scan as a pushed filter."""
    from flink_psl_spark.queries import QUERIES

    df = QUERIES["q8_market_share"](spark, sf_dir)
    p = _plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p
    # p_type predicate pushed into the part parquet scan
    assert "PushedFilters" in p and "p_type" in p.split("PushedFilters", 1)[1][:2000]


def test_q9_broadcast_and_pushdown(spark, sf_dir):
    from flink_psl_spark.queries import QUERIES

    df = QUERIES["q9_product_profit"](spark, sf_dir)
    p = _plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p
    # LIKE '%widget%' pushes as a string-contains filter on the part scan
    assert "PushedFilters" in p


def test_q18_no_cartesian_single_agg_exchange(spark, sf_dir):
    """Q18 (large-volume customers): the semi-join against the HAVING
    subquery must stay an equi-join; lineitem aggregates shuffle once."""
    from flink_psl_spark.queries import QUERIES

    df = QUERIES["q18_large_volume"](spark, sf_dir)
    p = _plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_q2_broadcast_dims_and_pushdown(spark, sf_dir):
    """Q2 adaptation: dims broadcast, the p_size/p_type filters reach the
    part scan, and the correlated MIN decorrelates to an aggregate join
    (no nested-loop re-scan per row)."""
    from flink_psl_spark.queries import QUERIES

    df = QUERIES["q2_min_cost_supplier"](spark, sf_dir)
    p = _plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "PushedFilters" in p and "p_size" in p.split("PushedFilters", 1)[1][:2000]


def test_q16_distinct_agg_no_cartesian(spark, sf_dir):
    from flink_psl_spark.queries import QUERIES

    df = QUERIES["q16_part_supplier_count"](spark, sf_dir)
    p = _plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q20_semi_join_shape(spark, sf_dir):
    """Q20 adaptation: the IN subquery must become a semi/equi join."""
    from flink_psl_spark.queries import QUERIES

    df = QUERIES["q20_potential_promotion"](spark, sf_dir)
    p = _plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "LeftSemi" in p or "SortMergeJoin" in p or "BroadcastHashJoin" in p


def test_frame_sample_no_shuffle_full_codegen(spark, t):
    """Codec-free frame extraction is pure expression work: zero exchanges,
    Generate riding the scan stage, no Python evals."""
    from flink_psl_spark.llm.multimodal import sample_frame_payloads, synthetic_media

    out = sample_frame_payloads(
        synthetic_media(spark, t["documents"], media_type="video")
    )
    p = _plan(out)
    assert _exchanges(out) == 0
    assert "posexplode" in p
    assert "Eval" not in p  # no BatchEvalPython / ArrowEvalPython


def test_sequence_packing_single_exchange(spark, t):
    """Concat-and-split packing = one shuffle on the shard key feeding sort +
    window; everything else is projection."""
    from flink_psl_spark.llm.chunking import pack_sequences

    out = pack_sequences(t["documents"], max_len=512)
    assert _exchanges(out) == 1
    assert "Window" in _plan(out)


def test_chunking_no_shuffle(spark, t):
    from flink_psl_spark.llm.chunking import chunk_documents

    out = chunk_documents(t["documents"])
    assert _exchanges(out) == 0


def test_repetition_filter_single_text_scan(spark, t):
    """Single-pass formulation: the text column is scanned once (plus one
    slim id-only scan for short docs)."""
    from flink_psl_spark.llm.repetition import repetition_filter

    p = _plan(repetition_filter(t["documents"]))
    assert p.count("text#") > 0
    # exactly one scan reads the text column
    import re

    scans = re.findall(r"FileScan parquet.*?ReadSchema: [^\n]*", p)
    text_scans = [s for s in scans if "text" in s.split("ReadSchema:")[-1]]
    assert len(text_scans) == 1, text_scans


def test_q21_self_joins_no_cartesian(spark, sf_dir):
    """Q21 (suppliers who kept orders waiting): three lineitem self-joins +
    exists/not-exists — all must stay equi-joins (semi/anti), no cartesian,
    with the supplier/nation dims broadcast."""
    from flink_psl_spark.queries import QUERIES

    df = QUERIES["q21_suppliers_kept_waiting"](spark, sf_dir)
    p = _plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_new_format_roundtrips_are_arrow_batched(spark, sf_dir):
    """avro/protobuf fallback codecs ride mapInPandas (Arrow), never
    row-at-a-time Python UDFs."""
    from flink_psl_spark.queries import QUERIES

    for name in ("avro_py_roundtrip", "protobuf_py_roundtrip"):
        p = _plan(QUERIES[name](spark, sf_dir))
        assert "MapInPandas" in p
        assert "BatchEvalPython" not in p


def test_dynamic_partition_pruning_fires(spark, t):
    """A partitioned fact joined to a selectively-filtered dim must prune
    fact partitions at runtime (DPP) — the scan carries a dynamic pruning
    expression instead of reading every partition."""
    import tempfile

    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="fps_dpp_")
    t["events"].write.partitionBy("event_type").mode("overwrite").parquet(d)
    fact = spark.read.parquet(d)
    dim = spark.createDataFrame(
        [("click", 1), ("purchase", 2), ("error", 3), ("view", 4), ("login", 5)],
        "event_type string, w int",
    ).where(F.col("w") == 2)
    joined = fact.join(dim, on="event_type").agg(F.count(F.lit(1)).alias("n"))
    plan = joined._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in plan, plan


def test_new_curation_ops_plan_shapes(spark, sf_dir):
    """Scale-shape guards for the round-3 curation operators."""
    from pyspark.sql import functions as F

    from flink_psl_spark.queries import QUERIES

    # deterministic shuffle: exactly one exchange (hash by shard), no
    # global single-partition sort
    p = _plan(QUERIES["llm_deterministic_shuffle"](spark, sf_dir))
    assert p.count("Exchange") == 1 and "SinglePartition" not in p

    # temperature mix: per-source rates broadcast back; no cartesian
    p = _plan(QUERIES["llm_temperature_mix"](spark, sf_dir))
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p

    # segment dedup: keep-first window + one doc-keyed reassembly, no
    # cartesian, no single-partition window
    p = _plan(QUERIES["llm_segment_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in p and "SinglePartition" not in p

    # bigram LM: count-joins stay equi-joins; no per-row Python
    p = _plan(QUERIES["llm_bigram_lm_score"](spark, sf_dir))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p


def test_token_budget_mix_bucketed_prefix_sum(spark, t):
    """token_budget_mix must never sort a whole source in one partition:
    the fine running-sum window partitions by (source, bucket), so the
    widest sort is ~1/order_buckets of a source (two-pass prefix sum)."""
    from flink_psl_spark.llm import token_budget_mix

    out = token_budget_mix(
        t["documents"], "source", {"web": 5000},
        key_cols=["doc_id"], seed=42, default_budget=5000,
    )
    p = _plan(out)
    # the fine window's required distribution includes the bucket column —
    # i.e. there is a hash exchange keyed by (source, __bkt), and no
    # per-source-only window partitioning survives anywhere in the plan
    assert "hashpartitioning(source" in p and "__bkt" in p.split(
        "hashpartitioning(source", 1
    )[1].split(")", 1)[0], p
    assert "SinglePartition" not in p, p
    # offsets side is broadcast, not shuffled back at scale
    assert "BroadcastExchange" in p, p


def test_round4_curation_ops_plan_shapes(spark, sf_dir, t):
    """Scale-shape guards for the round-4 curation operators."""
    from flink_psl_spark.queries import QUERIES

    # boilerplate removal: keyed shuffles only — no cartesian, no
    # single-partition stage, no row-at-a-time Python
    p = _plan(QUERIES["llm_boilerplate_removal"](spark, sf_dir))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    assert "SinglePartition" not in p

    # quality classifier: pure expression pipeline — zero exchanges, no
    # Python at all
    qc = QUERIES["llm_quality_classifier"](spark, sf_dir)
    p = _plan(qc)
    assert _exchanges(qc) == 0
    assert "EvalPython" not in p

    # common n-grams: rank-then-filter must compile to WindowGroupLimit
    p = _plan(QUERIES["llm_common_ngrams_per_source"](spark, sf_dir))
    assert "WindowGroupLimit" in p and "CartesianProduct" not in p

    # semantic dedup: centroids broadcast; the pair join is an equi-join
    # keyed by cluster (SortMergeJoin or ShuffledHashJoin), never a
    # cartesian product
    p = _plan(QUERIES["llm_semantic_dedup"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_distributed_ntile_no_global_sort(spark, t):
    """distributed_ntile's fine rank window partitions by the coarse bin —
    never a single-partition sort over the whole frame (the corpus-sized
    inputs only ever see bin-keyed exchanges; the offsets frame is the
    tiny #bins aggregate)."""
    from flink_psl_spark.llm import distributed_ntile
    from pyspark.sql import functions as F

    base = t["documents"].select(
        "doc_id", (F.col("doc_id") % 97 / 7.0).alias("v")
    )
    out = distributed_ntile(base, "v", "doc_id", n_tiles=4)
    p = _plan(out)
    assert "hashpartitioning(__bin" in p, p
    # the only SinglePartition stage allowed is the tiny per-bin offsets
    # aggregate (#bins rows); the fine window must be bin-partitioned
    fine = p.split("hashpartitioning(__bin", 1)[1]
    assert "Window" in fine


def test_importance_resample_plan(spark, sf_dir, t):
    """DSIR plan hygiene: the bucket log-ratio table joins BROADCAST
    (it is n_buckets-bounded by construction), the global top-k compiles
    to TakeOrderedAndProject (distributed partial top-k), and there is no
    cartesian product or corpus-sized sort anywhere."""
    from flink_psl_spark.queries import QUERIES

    p = _plan(QUERIES["llm_importance_resample"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_distribution_drift_scans_each_side_once(spark, t):
    """The PSI report must not recompute the corpus scans: exactly one
    scan per snapshot side (totals come from a parameter-sized window
    over the bucket frame, not a second aggregation branch)."""
    from pyspark.sql import functions as F

    from flink_psl_spark.operators.validation import distribution_drift

    cut = F.lit("1998-01-01").cast("timestamp")
    old = t["orders"].where(F.col("o_orderdate") < cut)
    new = t["orders"].where(F.col("o_orderdate") >= cut)
    plan = (
        distribution_drift(old, new, "o_totalprice", lo=0, hi=500000)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan parquet") == 2
    assert "CartesianProduct" not in plan


def test_duplicate_spans_no_cartesian(spark, t):
    """The span self-join must be an equi-join on the span key (df cap
    bounds fan-out) — never a cartesian/broadcast-nested-loop."""
    from flink_psl_spark.llm import duplicate_spans

    plan = (
        duplicate_spans(t["documents"], k=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_binned_interval_join_no_nested_loop(spark, t):
    """The keyless range join plans as a shuffle equi-join on the bin id
    — never the quadratic BroadcastNestedLoopJoin a raw range predicate
    compiles to — and the exact range predicate survives as the join's
    residual condition."""
    from flink_psl_spark.operators import binned_interval_join, interval_join

    purchases = t["events"].where(F.col("event_type") == "purchase")
    errors = t["events"].where(F.col("event_type") == "error")

    binned = binned_interval_join(
        purchases, errors, "ts", "ts", "-1 minute", "1 minute"
    )
    plan = _plan(binned)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # equi-join on the bin id (AQE picks broadcast at test scale,
    # shuffle variants at cluster scale — all are bin-keyed equi-joins)
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )

    # exact same pair set as the unoptimized range predicate (wider
    # window at smoke scale so the pair set is non-empty)
    wide = binned_interval_join(
        purchases, errors, "ts", "ts", "-1 hour", "1 hour"
    )
    naive = (
        purchases.alias("__l")
        .join(
            errors.alias("__r"),
            (F.col("__r.ts") >= F.col("__l.ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("__r.ts") <= F.col("__l.ts") + F.expr("INTERVAL 1 HOUR")),
        )
    )
    got = {
        (r[0], r[1])
        for r in wide.select(
            F.col("__l.event_id"), F.col("__r.event_id")
        ).collect()
    }
    expect = {
        (r[0], r[1])
        for r in naive.select(
            F.col("__l.event_id"), F.col("__r.event_id")
        ).collect()
    }
    assert got == expect and got


def test_bm25_broadcast_queries_window_group_limit(spark, t):
    """BM25: the query-term set broadcasts (the corpus-sized token
    explode is semi-joined down before any shuffle), the per-query rank
    prunes via WindowGroupLimit, and the only nested-loop is the ONE-ROW
    corpus-stats broadcast cross join."""
    from flink_psl_spark.llm import bm25_topk

    out = bm25_topk(
        t["documents"], [("q1", "spark query"), ("q2", "merge sort")], k=5
    )
    p = _plan(out)
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1  # 1-row stats join only
    assert "BroadcastHashJoin" in p


def test_preference_pairs_window_group_limit(spark, t):
    """preference_pairs: both rank-then-filter windows must compile to
    WindowGroupLimit (k-bounded before the pair join) and the pair join
    stays a hash join — no cartesian anywhere."""
    from flink_psl_spark.llm import preference_pairs
    from flink_psl_spark.llm.text import quality_score

    out = preference_pairs(
        t["documents"], group_col="source",
        score_col=quality_score("text"), k=10, min_margin=0.25,
    )
    p = _plan(out)
    assert p.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in p


def test_market_basket_no_cartesian(spark, t):
    """Basket pair mining joins inside the order key — never a cartesian."""
    from flink_psl_spark.queries import QUERIES

    out = QUERIES["market_basket_lift"](spark, "/root/testdata/sf0.001")
    p = _plan(out)
    assert "CartesianProduct" not in p


def test_hybrid_rrf_broadcast_and_window_limits(spark, t):
    """Hybrid RRF: query shingle sets broadcast; both rank-then-filter
    windows prune via WindowGroupLimit; no cartesian."""
    from flink_psl_spark.llm import hybrid_rrf_topk

    out = hybrid_rrf_topk(
        t["documents"], t["embeddings"], n_queries=5, k_each=10, k=3
    )
    p = _plan(out)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "WindowGroupLimit" in p


# -- streaming micro-batch plan shapes (via streaming.core.STREAM_PLANS) -----


def _stream_plan(name, spark, sf_dir="/root/testdata/sf0.001"):
    """Run a registry streaming query and return its last micro-batch plan."""
    from flink_psl_spark.queries import QUERIES
    from flink_psl_spark.streaming import core as sc

    before = len(sc.STREAM_PLANS)
    QUERIES[name](spark, sf_dir)
    new = sc.STREAM_PLANS[before:]
    assert new, f"{name} captured no streaming plan"
    return new[-1]


def test_stream_tumble_agg_plan(spark, t):
    """Windowed streaming agg: stateful (StateStoreSave) with a partial
    aggregate BELOW the state exchange (map-side combine before shuffle),
    and no Python in the micro-batch."""
    p = _stream_plan("stream_tumble_agg", spark)
    assert "StateStoreSave" in p
    assert p.count("HashAggregate") >= 2  # partial + final around the state
    assert "EvalPython" not in p


def test_stream_interval_join_plan(spark, t):
    """Stream-stream interval join runs as the native watermarked symmetric
    hash join (range-bounded state), not a nested-loop or batch join."""
    p = _stream_plan("stream_interval_join", spark)
    assert "StreamingSymmetricHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_stream_keyed_top3_plan(spark, t):
    """Custom stateful Top-N: one keyed state operator
    (FlatMapGroupsInPandasWithState), Arrow-batched, single key exchange."""
    p = _stream_plan("stream_keyed_top3", spark)
    assert "FlatMapGroupsInPandasWithState" in p
    assert "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_rfm_chained_ntiles_do_not_compound(spark, t):
    """Three chained ntile passes over the materialized customer aggregate:
    the orders aggregation must not be re-planned per pass (18 exchanges
    before distributed_ntile checkpointed its input; 4 after)."""
    from flink_psl_spark.queries import QUERIES

    out = QUERIES["rfm_customer_segments"](spark, "/root/testdata/sf0.001")
    assert _exchanges(out) <= 4


def test_kneser_ney_single_scoring_scan(spark, t):
    """LM model statistics derive from the checkpointed pair-type table:
    the final plan re-reads the corpus exactly once (scoring); the model
    side is checkpointed lineage, not repeated tokenization."""
    from flink_psl_spark.llm.text import kneser_ney_scores

    out = kneser_ney_scores(t["documents"])
    p = _plan(out)
    # scoring tokenization + the narrow id-only outer-join scan — the
    # model side must contribute no further corpus scans
    assert p.count("FileScan") == 2
    assert "Scan ExistingRDD" in p


def test_pagerank_iteration_single_shuffle(spark, t):
    """One PageRank iteration = one gather exchange: the rank/contrib
    joins ride broadcast or co-partitioning, the 1/deg weight is pre-joined
    into the checkpointed edge list (never re-joined per iteration)."""
    from flink_psl_spark.operators.graph import pagerank

    ranks = pagerank(t["events"].selectExpr("user_id as s", "event_id as d")
                     .limit(500), iters=1)
    p = _plan(ranks)
    # final ranks plan: node-join + gather agg over checkpointed lineage —
    # no FileScan (edges materialized once), at most 2 hash exchanges
    assert "FileScan" not in p
    assert _exchanges(ranks) <= 2


def test_embedding_dedup_exact_is_tiled_not_pair_joined(spark, t):
    """Exact all-pairs embedding dedup runs as tile-blocked per-task
    matmuls (a grouped map over (ti, tj) tiles): ONE shuffle of
    n x n_blocks replicated rows — no nested-loop pair join, and no
    per-pair zip_with dot (the pre-fix plan paid an array allocation per
    pair, ~18 us x n²/2 — 37 s at sf0.1; the tiled form is ~1.4 s)."""
    from flink_psl_spark.queries import QUERIES

    out = QUERIES["llm_embedding_dedup"](spark, "/root/testdata/sf0.001")
    p = _plan(out)
    assert "MapInPandas" in p               # the tile kernel
    assert "NestedLoop" not in p            # no pair join anywhere
    assert "zip_with" not in p              # no per-pair expression dot


def test_cosine_topk_norms_not_recomputed_per_pair(spark, t):
    """Brute-force cosine top-k: query and corpus norms are computed once
    per row below the broadcast cross join — one zip_with dot per pair."""
    from flink_psl_spark.llm import cosine_topk

    emb = t["embeddings"]
    out = cosine_topk(emb, emb.limit(3), k=2)
    p = _plan(out)
    assert p.count("zip_with") == 1
    assert p.count("SQRT") <= 2


def _tree(plan) -> list:
    """Every node of a Catalyst tree (logical or physical), pre-order."""
    out = [plan]
    kids = plan.children()
    for i in range(kids.size()):
        out += _tree(kids.apply(i))
    return out


def test_recursive_cte_member_is_join_free(spark, t):
    """UnionLoop re-executes its recursive member once per level, so the
    member must read only the previous level: no Join, Exchange, Window
    or relation scan, only operators over UnionLoopRef (the anchor
    carries each key's values as arrays)."""
    from flink_psl_spark.queries import QUERIES

    for name in ("recursive_cte_order_chain", "recursive_cte_event_paths"):
        out = QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = out._jdf.queryExecution().sparkPlan()
        loops = [n for n in _tree(plan) if n.nodeName() == "UnionLoop"]
        assert len(loops) == 1, name          # still the native recursion
        member = _tree(loops[0].recursion())
        names = [n.nodeName() for n in member]
        for banned in ("Join", "Exchange", "Window", "Relation", "Scan",
                       "LogicalRDD"):
            assert not any(banned in n for n in names), (name, names)
        leaves = [n.nodeName() for n in member if n.children().isEmpty()]
        assert leaves == ["UnionLoopRef"], (name, names)


def test_language_id_plan_is_linear_in_profiles(spark, t):
    """language_id tokenizes ONCE (bind_once) and argmaxes over a score
    array — the old running-best WHEN fold embedded the tokenizer in the
    plan dozens of times (expression size ~2^k in the profile count)."""
    from flink_psl_spark.queries import QUERIES

    out = QUERIES["llm_language_id"](spark, "/root/testdata/sf0.001")
    p = _plan(out)
    assert p.count("split(") == 1      # one tokenization in the whole plan
    assert "array_max" in p            # the linear argmax form
    assert len(p) < 20_000             # pre-fix plans were ~100x this


# query -> (grouped-map nodes, most hash exchanges): the exchange bounds are
# the counts the per-group applyInPandas / cogroup forms planned at sf0.001
GROUPED_MAP_QUERIES = {
    "cogroup_user_summary": (1, 1),
    "udtaf_top2_per_group": (1, 1),
    "timeseries_ewma_anomaly": (1, 2),
    "llm_embedding_dedup": (1, 2),
    "llm_mmr_rerank": (1, 6),
    # two aggregates read the packed frame, and each plans its own map
    "llm_bfd_packing": (2, 5),
}


@pytest.mark.parametrize("name", sorted(GROUPED_MAP_QUERIES))
def test_grouped_map_sites_run_one_batched_map(spark, sf_dir, name):
    """Per-key pandas functions run as grouped_map's one MapInPandas over
    key-sorted partitions, never as a per-group FlatMap(Co)GroupsInPandas,
    and the batched form adds no exchange."""
    from flink_psl_spark.queries import QUERIES

    maps, max_exchanges = GROUPED_MAP_QUERIES[name]
    df = QUERIES[name](spark, sf_dir)
    p = _plan(df)
    assert "FlatMapGroupsInPandas" not in p
    assert "FlatMapCoGroupsInPandas" not in p
    assert p.count("MapInPandas") == maps
    assert _exchanges(df) <= max_exchanges
    if name == "cogroup_user_summary":
        # one scan of events feeds both sides of the co-group
        assert p.count("FileScan") == 1
