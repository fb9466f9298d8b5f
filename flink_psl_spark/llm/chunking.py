"""Document chunking and sequence packing for training-data preparation.

Two standard pre-training transforms:

- **Chunking**: split each document into fixed-size token windows with a
  stride (overlap) — the unit a tokenizer/encoder consumes. Pure expression
  work (split → sequence → slice → posexplode); no shuffle at all — chunks
  are emitted in the scan stage, so 100 TB chunks at scan speed.
- **Packing**: assign documents to fixed-capacity training sequences
  ("concat-and-split" packing, the GPT-style scheme where the corpus is
  concatenated in a deterministic order and cut every ``max_len`` tokens;
  documents may span a boundary). Expressed as a running-sum window — one
  shuffle on the shard key. Packing is per-shard (``partition_col``) by
  design: a single global ordering would serialize the window into one
  partition at 100 TB, while per-shard packing is embarrassingly parallel
  and is how real pipelines shard anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_psl_spark.grouped import grouped_map
from flink_psl_spark.llm.text import token_count, tokenize


def chunk_documents(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping fixed-size token windows per document.

    Window starts at token 1, 1+stride, 1+2·stride, … (1-based); each chunk
    takes up to ``chunk_tokens`` tokens; tail chunks may be shorter. Emits
    (id, chunk_id, start_token, n_tokens, chunk_text), skipping empty
    windows (blank documents produce no chunks).
    """
    if stride <= 0:
        raise ValueError("stride must be positive")
    toks = tokenize(F.col(text_col))
    df = docs.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
        ).alias("start_token"),
        toks.alias("_toks"),
    )
    chunk = F.slice(F.col("_toks"), F.col("start_token"), chunk_tokens)
    return (
        df.select(
            F.col(id_col),
            ((F.col("start_token") - 1) / stride).cast("bigint").alias("chunk_id"),
            F.col("start_token").cast("bigint"),
            F.size(chunk).cast("bigint").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .where(F.col("n_tokens") > 0)
    )


def pack_sequences(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_len: int = 512,
    partition_col: str = "source",
) -> DataFrame:
    """Concat-and-split sequence packing: deterministic document → training
    sequence assignment.

    Within each shard (``partition_col``), documents are laid out in
    ``id_col`` order and the token stream is cut every ``max_len`` tokens.
    Emits per document: the first/last sequence index it lands in, its token
    offset inside the first sequence, and how many sequences it spans.
    Oracle-exact: every output is integer arithmetic over a running sum.
    """
    if max_len <= 0:
        raise ValueError("max_len must be positive")
    tc = token_count(F.col(text_col))
    w = (
        Window.partitionBy(partition_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(tc).over(w), F.lit(0).cast("bigint"))
    df = docs.select(
        F.col(partition_col).alias("shard"),
        F.col(id_col),
        tc.alias("n_tokens"),
        cum_before.alias("_cum"),
    )
    first_seq = F.expr(f"_cum div {max_len}")
    last_seq = F.when(
        F.col("n_tokens") > 0,
        F.expr(f"(_cum + n_tokens - 1) div {max_len}"),
    ).otherwise(first_seq)
    return df.select(
        "shard",
        id_col,
        "n_tokens",
        first_seq.alias("first_seq"),
        (F.col("_cum") % max_len).alias("seq_offset"),
        (last_seq - first_seq + 1).cast("bigint").alias("seqs_spanned"),
    )


def pack_sequences_bfd(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_len: int = 512,
    partition_col: str = "source",
    n_sub_shards: int = 64,
    length_col: str | None = None,
) -> DataFrame:
    """No-split sequence packing by best-fit-decreasing bin packing: each
    document lands WHOLE in exactly one bin of capacity ``max_len``
    tokens (the packing used when cross-document attention contamination
    must be avoided — unlike concat-and-split, no document straddles a
    sequence boundary). Docs longer than ``max_len`` get a singleton
    overflow bin, flagged.

    Scale shape: packing is inherently sequential within a bin set, so
    each shard splits into ``n_sub_shards`` deterministic HASH sub-shards
    (xxhash64 of the id — no per-shard global sort, no window; a
    row-number split would serialize a giant shard through one task's
    sort) and BFD runs once per (shard, sub-shard) through
    :func:`grouped_map`, many sub-shards to an Arrow batch. Results
    depend ONLY on ``n_sub_shards`` (the packing unit); memory per call
    is one sub-shard. Deterministic: each sub-shard's docs arrive sorted
    by (tokens desc, id asc), ties to the lowest bin id.

    Emits (shard, sub_shard, doc_id, n_tokens, bin_id, overflow).
    """
    if max_len <= 0:
        raise ValueError("max_len must be positive")
    import pandas as pd

    # length_col: pack by a precomputed size (e.g. a rendered-session
    # length) instead of tokenizing text_col
    tc = (
        F.col(length_col).cast("bigint")
        if length_col is not None
        else token_count(F.col(text_col))
    )
    src = docs.select(
        F.col(partition_col).alias("shard"),
        F.col(id_col),
        tc.alias("n_tokens"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_sub_shards)).alias(
            "sub_shard"
        ),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        fills: list[int] = []
        bin_ids, overflow = [], []
        for t in zip(pdf["n_tokens"]):
            t = int(t[0])
            if t > max_len:
                bin_ids.append(len(fills))
                fills.append(t)
                overflow.append(True)
                continue
            best, best_fill = -1, -1
            for bi, f in enumerate(fills):
                if f + t <= max_len and f > best_fill:
                    best, best_fill = bi, f
            if best < 0:
                best = len(fills)
                fills.append(0)
            fills[best] += t
            bin_ids.append(best)
            overflow.append(False)
        pdf["bin_id"] = pd.Series(bin_ids, dtype="int64")
        pdf["overflow"] = overflow
        return pdf

    schema = "shard string, doc_id bigint, n_tokens bigint, sub_shard bigint, "
    schema += "bin_id bigint, overflow boolean"
    order = [F.col("n_tokens").desc(), id_col]
    return grouped_map(src, ["shard", "sub_shard"], pack, schema, order)
