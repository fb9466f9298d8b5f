"""Text analysis for training-data pipelines.

All functions are pure Column expressions (no Python UDFs): tokenization,
quality heuristics, n-gram language ID and fingerprinting run inside
whole-stage codegen, so a 100 TB corpus pays only the parquet scan + the
expression evaluation — no Arrow hops, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from flink_psl_spark.materialize import materialize


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# Cross-engine whitespace contract: Java-regex \s is [ \t\n\x0B\f\r] while
# RE2/DuckDB \s is [ \t\n\f\r] — they provably disagree on \x0B (vertical
# tab), so every token count derived from a bare \s+ can diverge from the
# DuckDB oracles on adversarial whitespace. We pin the EXPLICIT common-subset
# class on both sides (the same "RE2 ∩ Java-regex common subset" discipline
# the PII-scrub oracle documents). tests/test_llm_curation.py property-tests
# the contract over \x0B, NBSP and Unicode spaces.
WS_CLASS = r"[ \t\n\f\r]"
_WS = WS_CLASS + "+"

# The same pin applies to TRIM: Spark's trim strips ASCII space only while
# DuckDB's strips full Unicode whitespace (NBSP, ideographic space, …) — a
# lone NBSP document is 0 tokens in DuckDB but 1 in Spark under bare TRIM.
# Both sides trim the explicit char set instead (Spark btrim / DuckDB
# TRIM(x, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13))).
WS_CHARS = " \t\n\f\r"


def pinned_trim(text: Column | str) -> Column:
    """Both-ends trim of exactly the pinned whitespace set (cross-engine
    deterministic, unlike F.trim/DuckDB TRIM which disagree on Unicode
    spaces)."""
    return F.btrim(_col(text), F.lit(WS_CHARS))


def tokenize(text: Column | str) -> Column:
    """Whitespace tokenization → array<string> (empty array for blank or
    NULL text, so token counts and downstream running sums stay non-null)."""
    t = pinned_trim(F.coalesce(_col(text), F.lit("")))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, _WS)
    )


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` ONCE and hand it to ``fn`` as a bound lambda
    variable. An expression tree referenced inside a higher-order-
    function lambda is re-evaluated PER ELEMENT by codegen — the
    tokenizer inside an n-gram ``transform`` re-ran per gram, a
    measured 5-7x on shingle/n-gram scans. Wrapping in a one-element
    array binds the value to a lambda variable, which codegen
    evaluates exactly once."""
    return F.transform(F.array(col), fn)[0]


def token_count(text: Column | str) -> Column:
    """Whitespace token count (BIGINT)."""
    return F.size(tokenize(text)).cast("bigint")


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token estimate: word-piece regex split.

    Approximates a BPE tokenizer's granularity by splitting on transitions
    (letters / digits / punctuation) — the standard cheap proxy when the
    real tokenizer can't run in the engine.
    """
    pieces = F.regexp_extract_all(
        _col(text), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]"), F.lit(0)
    )
    return F.size(pieces).cast("bigint")


# a small english stopword core — enough for ratio features and lang-ID
EN_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that for on "
    "with as at by from not no"
).split()


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords (0.0 for empty docs)."""
    sw = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    toks = tokenize(F.lower(_col(text)))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0)).cast("double")


def punct_ratio(text: Column | str) -> Column:
    """Punctuation chars / total chars (0.0 for empty)."""
    t = _col(text)
    n = F.length(t)
    p = F.length(F.regexp_replace(t, r"[^.,;:!?'\"()\[\]-]", ""))
    return F.when(n > 0, p / n).otherwise(F.lit(0.0)).cast("double")


def mean_word_length(text: Column | str) -> Column:
    toks = tokenize(_col(text))
    n = F.size(toks)
    total = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    return F.when(n > 0, total / n).otherwise(F.lit(0.0)).cast("double")


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0, 1].

    Combines the classic cheap signals (Gopher/C4-style rules): token count
    band, mean word length band, stopword presence, punctuation sanity.
    Deterministic and expression-only.
    """
    toks = token_count(text)
    mwl = mean_word_length(text)
    sw = stopword_ratio(text)
    pr = punct_ratio(text)
    checks = [
        (toks >= 10) & (toks <= 100000),
        (mwl >= 2.0) & (mwl <= 12.0),
        sw >= 0.05,
        pr <= 0.3,
    ]
    score = sum(F.when(c, F.lit(0.25)).otherwise(F.lit(0.0)) for c in checks)
    return score.cast("double")


#: fixed feature weights for the linear quality classifier — the shape of
#: public fastText-style quality filters (a linear model over cheap text
#: features), with hand-set weights so the scorer is fully deterministic
#: and engine-portable. Swap in trained weights for production.
QUALITY_WEIGHTS = {
    "stopword_ratio": 2.0,
    "punct_ratio": -1.5,
    "mean_word_length": 0.15,
    "log_tokens": 0.25,
    "bias": -1.0,
}


def linear_quality_classifier(text: Column | str) -> Column:
    """Linear quality score (unbounded margin, higher = better): the
    fastText-classifier shape of public corpus quality filters as a fixed
    dot product over cheap expression-only features. No sigmoid — the raw
    margin keeps the arithmetic a short fixed-order chain of IEEE double
    ops, so the score is bit-identical across engines; round(…, 6) on both
    sides makes the comparison robust. Thresholds on the margin define the
    keep/drop bands (see ``quality_band``).
    """
    w = QUALITY_WEIGHTS
    toks = token_count(text).cast("double")
    margin = (
        F.lit(w["bias"])
        + F.lit(w["stopword_ratio"]) * stopword_ratio(text)
        + F.lit(w["punct_ratio"]) * punct_ratio(text)
        + F.lit(w["mean_word_length"]) * mean_word_length(text)
        + F.lit(w["log_tokens"]) * F.log(toks + F.lit(1.0))
    )
    return F.round(margin, 6)


def quality_band(score: Column) -> Column:
    """Margin → band label ('high' / 'medium' / 'low'), the bucketed form
    downstream sampling weights key on."""
    return (
        F.when(score >= 0.5, F.lit("high"))
        .when(score >= 0.0, F.lit("medium"))
        .otherwise(F.lit("low"))
    )


# tiny per-language stopword profiles for the n-gram/stopword heuristic
_LANG_PROFILES = {
    "en": EN_STOPWORDS,
    "fr": "le la les de des un une et est dans pour que qui sur au du".split(),
    "de": "der die das und ist ein eine nicht mit für von auf dem den".split(),
    "es": "el la los las de un una y es en que por para con del".split(),
}


def language_id(text: Column | str, threshold: float = 0.03) -> Column:
    """Stopword-profile language ID → 'en'/'fr'/'de'/'es'/'und' (undetermined).

    Scores each language by its stopword hit-ratio over the document's
    tokens and picks the argmax if above ``threshold``. The standard cheap
    heuristic when fastText/CLD can't ship with the engine; swap in a pandas
    UDF classifier for production accuracy.
    """
    def _best(toks):
        # toks is bind_once-bound (tokenized once per row, not once per
        # score reference). Scores land in ONE array and the argmax is a
        # single array_max over (score, -dict_rank) structs — the old
        # running-best WHEN fold nested every previous language's score
        # tree into the next comparison, growing the expression ~2^k in
        # the language count (the plan for 4 languages carried the
        # tokenizer dozens of times). Semantics preserved exactly:
        # strict score > threshold, ties to the earliest profile.
        n = F.size(toks)
        entries = []
        for i, (lang, words) in enumerate(_LANG_PROFILES.items()):
            sw = F.array(*[F.lit(w) for w in words])
            hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
            score = (
                F.when(n > 0, hits / n).otherwise(F.lit(0.0)).cast("double")
            )
            entries.append(
                F.struct(
                    score.alias("s"),
                    F.lit(-i).alias("r"),
                    F.lit(lang).alias("l"),
                )
            )
        best = F.array_max(
            F.filter(
                F.array(*entries),
                lambda e: e["s"] > F.lit(threshold).cast("double"),
            )
        )
        return F.when(best.isNull(), F.lit("und")).otherwise(best["l"])

    return bind_once(tokenize(F.lower(_col(text))), _best)


def ngrams(text: Column | str, n: int) -> Column:
    """Word n-grams as array<string> (space-joined), expression-only.

    Empty array when the document has fewer than ``n`` tokens (guarded —
    Spark's ``sequence(1, 0)`` would otherwise count DOWN).
    """
    def grams(tk):
        count = F.size(tk) - (n - 1)
        return F.when(count < 1, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), count),
                lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
            )
        )

    # tokens bound once — see bind_once (5-7x on n-gram scans)
    return bind_once(tokenize(text), grams)


#: (label, regex, replacement) — applied in order; email first so its local
#: part's digits can't be half-eaten by the phone pattern. Patterns stay in
#: the RE2 ∩ Java-regex common subset so Spark and SQL oracles agree.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
]


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-category PII match counts (before scrubbing)."""
    c = _col(text)
    return {label: F.regexp_count(c, F.lit(pat)) for label, pat, _r in PII_PATTERNS}


def scrub_pii(text: Column | str) -> Column:
    """Redact emails, IPv4 addresses and phone-like digit runs with typed
    placeholders — expression-only (regexp_replace chain), zero Python in
    the scan stage, the standard pre-training scrub pass."""
    c = _col(text)
    for _label, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def benchmark_contamination(
    docs,
    benchmark,
    *,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Benchmark-contamination check: flag corpus documents sharing any
    word ``n``-gram with a benchmark/eval set (the standard decontamination
    pass before training).

    Scale shape: benchmark gram sets are tiny next to the corpus, so the
    distinct benchmark grams are BROADCAST and the corpus side never
    shuffles its grams — the only exchange is the per-doc hit-count
    aggregation (map-side combined). Returns (id_col, n_hits,
    contaminated) for every doc in ``docs``.
    """
    g = docs.select(id_col, F.explode(ngrams(F.col(text_col), n)).alias("gram"))
    bg = (
        benchmark.select(F.explode(ngrams(F.col(text_col), n)).alias("gram"))
        .distinct()
    )
    hits = (
        g.join(F.broadcast(bg), "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(F.broadcast(hits), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def rolling_fingerprints(
    text: Column | str, *, window: int = 16, keep: int = 8
) -> Column:
    """Winnowing-style rolling-hash fingerprints → array<bigint>.

    Polynomial rolling hash (Rabin–Karp) over every ``window``-char
    substring, keeping the ``keep`` smallest hashes (a fixed-size sketch —
    the classic document-fingerprinting scheme for partial-overlap
    detection, robust where whole-document hashes break).

    Expression-only: the rolling window is a transform over character
    offsets with the hash computed per window via aggregate — stays in
    codegen, no Python.
    """
    def _fp(t):
        # t is bind_once-bound: referencing the raw normalize tree inside
        # the transform lambda would re-run lower+regexp_replace once per
        # character offset (O(n^2) normalization)
        n = F.length(t)
        starts = F.sequence(
            F.lit(1), F.greatest(n - (window - 1), F.lit(1))
        )
        hashes = F.transform(
            starts, lambda i: F.xxhash64(F.substring(t, i, window))
        )
        return F.slice(F.array_sort(hashes), 1, keep)

    return bind_once(F.lower(F.regexp_replace(_col(text), _WS, " ")), _fp)


def fingerprint(text: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint (hex string).

    md5 over whitespace-normalized, lowercased text — the canonical
    content-defined document ID for exact dedup joins across runs.
    """
    norm = F.lower(pinned_trim(F.regexp_replace(_col(text), _WS, " ")))
    return F.md5(norm)


def ngram_lm_scores(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
    ref=None,
):
    """Word-bigram language-model fluency scores (the lightweight stand-in
    for CCNet-style KenLM perplexity filtering): score each document by the
    add-alpha-smoothed average log-probability of its word bigrams under a
    model counted from ``ref`` (default: the scored corpus itself).

    Determinism: per-bigram log-probs are quantized to 1e-6 BEFORE the
    per-document sum, so the aggregate is an exact integer sum — immune to
    floating-point addition order across partitions/engines.

    Scale shape: bigram extraction is a row-local explode; model counts are
    two hash aggregations keyed by the bigram/context; scoring is two
    count-joins plus one doc-keyed aggregate — all standard shuffle shapes.
    The vocabulary size is a single scalar (one bounded driver collect,
    like the IVF centroid count).

    Output: (id, n_bigrams, avg_logprob, ppl_proxy) — ``ppl_proxy`` =
    exp(-avg_logprob); documents with fewer than 2 tokens score NULL.
    """
    src = ref if ref is not None else docs

    def bigrams(df, with_id: bool):
        w = tokenize(F.col(text_col))
        cols = [F.col(id_col)] if with_id else []
        pairs = F.expr(
            f"transform(sequence(1, greatest(size({'_w'}), 2) - 1), "
            "i -> struct(_w[i-1] as w1, _w[i] as w2))"
        )
        return (
            df.select(*cols, w.alias("_w"))
            .where(F.size("_w") >= 2)
            .select(*cols, F.explode(pairs).alias("_p"))
            .select(*cols, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
        )

    # ONE corpus-sized bigram aggregation; the context counts and the
    # vocabulary both derive from the pair-type table (c1 = Σ c12 per w1,
    # vocab = distinct w2 among pair types), so re-tokenizing the corpus
    # per model statistic is never planned. The pair table is
    # vocabulary²-bounded — orders of magnitude below the bigram stream.
    model_bg = bigrams(src, with_id=False)
    cnt2 = model_bg.groupBy("w1", "w2").agg(
        F.count("*").alias("c12")
    ).transform(materialize)
    cnt1 = cnt2.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # vocabulary of continuations — one scalar, bounded driver collect
    vocab = cnt2.select("w2").distinct().count()

    scored = (
        bigrams(docs, with_id=True)
        .join(cnt2, on=["w1", "w2"], how="left")
        .join(cnt1, on="w1", how="left")
        .select(
            id_col,
            F.round(
                F.log(
                    (F.coalesce("c12", F.lit(0)) + F.lit(float(alpha)))
                    / (F.coalesce("c1", F.lit(0)) + F.lit(float(alpha) * vocab))
                )
                * 1e6
            )
            .cast("bigint")
            .alias("_s"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("_s").alias("_sum"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round(F.col("_sum") / F.col("n_bigrams") / 1e6, 6).alias(
                "avg_logprob"
            ),
        )
    )
    out = (
        docs.select(id_col)
        .distinct()
        .join(scored, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            "avg_logprob",
            F.round(F.exp(-F.col("avg_logprob")), 4).alias("ppl_proxy"),
        )
    )
    return out


def kneser_ney_scores(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
    ref=None,
):
    """Interpolated Kneser–Ney bigram fluency scores — the smoothing the
    CCNet/KenLM perplexity filter actually uses (vs. the add-alpha model in
    :func:`ngram_lm_scores`, which over-penalizes rare-but-valid
    continuations).

    Model (trained on ``ref``, default the scored corpus itself)::

        P(w2|w1) = max(c(w1,w2) - D, 0) / c(w1)
                   + D * N1+(w1,*) / c(w1) * Pcont(w2)
        Pcont(w2) = N1+(*,w2) / T          (continuation probability)

    where ``N1+(w1,*)`` = distinct continuations of w1, ``N1+(*,w2)`` =
    distinct contexts preceding w2, and ``T`` = distinct bigram types.
    Unseen contexts back off to ``Pcont``; fully-unseen words floor at
    ``1/(T+1)`` (both paths only fire when ``ref`` differs from ``docs``).

    Determinism: the probability expression is written with one fixed
    operation order (identical IEEE doubles on any engine), and per-bigram
    log-probs are quantized to 1e-6 integers BEFORE the per-document sum —
    addition-order-proof across partitions and engines.

    Scale shape: three hash aggregations over the bigram stream (pair
    counts, per-context counts+distincts, per-word distinct contexts), one
    scalar type count (bounded driver value), then two count-joins and a
    doc-keyed aggregate — the same shuffle shape as any two-column groupBy;
    no driver data path, no UDFs.

    Reference: the add-alpha scorer above; Kneser & Ney 1995 / Chen &
    Goodman 1998 (public smoothing literature).
    """
    src = ref if ref is not None else docs

    def bigrams(df, with_id: bool):
        w = tokenize(F.col(text_col))
        cols = [F.col(id_col)] if with_id else []
        pairs = F.expr(
            "transform(sequence(1, greatest(size(_w), 2) - 1), "
            "i -> struct(_w[i-1] as w1, _w[i] as w2))"
        )
        return (
            df.select(*cols, w.alias("_w"))
            .where(F.size("_w") >= 2)
            .select(*cols, F.explode(pairs).alias("_p"))
            .select(*cols, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
        )

    # ONE corpus-sized bigram aggregation (the pair-type table); every
    # other model statistic derives from it: c1 = Σ c12 per context,
    # N1+(w1,*) = pair-type rows per w1, N1+(*,w2) = pair-type rows per
    # w2, T = pair-type row count. Four corpus re-tokenizations collapse
    # into three aggregates over a vocabulary²-bounded table.
    model_bg = bigrams(src, with_id=False)
    cnt2 = model_bg.groupBy("w1", "w2").agg(
        F.count("*").alias("c12")
    ).transform(materialize)
    ctx = cnt2.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count("*").alias("n1f"),
    )
    cont = cnt2.groupBy("w2").agg(F.count("*").alias("n1b"))
    # distinct bigram types — one scalar, bounded driver collect
    types = cnt2.count()

    d = float(discount)
    t_f = float(types)
    p_cont = F.coalesce(
        F.col("n1b") / F.lit(t_f), F.lit(1.0 / (t_f + 1.0))
    )
    p_seen = (
        F.greatest(F.coalesce("c12", F.lit(0)) - F.lit(d), F.lit(0.0))
        / F.col("c1")
        + F.lit(d) * F.col("n1f") / F.col("c1") * p_cont
    )
    prob = F.when(F.col("c1").isNotNull(), p_seen).otherwise(p_cont)

    scored = (
        bigrams(docs, with_id=True)
        .join(cnt2, on=["w1", "w2"], how="left")
        .join(ctx, on="w1", how="left")
        .join(cont, on="w2", how="left")
        .select(
            id_col,
            F.round(F.log(prob) * 1e6).cast("bigint").alias("_s"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("_s").alias("_sum"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round(F.col("_sum") / F.col("n_bigrams") / 1e6, 6).alias(
                "avg_logprob"
            ),
        )
    )
    return (
        docs.select(id_col)
        .distinct()
        .join(scored, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            "avg_logprob",
            F.round(F.exp(-F.col("avg_logprob")), 4).alias("ppl_proxy"),
        )
    )


def bpe_pair_counts(
    docs,
    *,
    text_col: str = "text",
    top_k: int = 50,
):
    """Adjacent-symbol pair frequencies — the statistic the first BPE merge
    step maximizes (public BPE algorithm: count all adjacent character
    pairs inside words, merge the most frequent).

    Corpus-wide: words explode row-locally in the scan stage, character
    pairs explode per word (still row-local), one hash aggregation keyed by
    the pair, then a top-k over the aggregated counts (the distinct-pair
    space is alphabet², tiny — the sort never touches raw data).
    Deterministic ordering: count DESC, pair ASC. Returns (pair, cnt).
    """
    toks = tokenize(F.col(text_col))
    words = docs.select(F.explode(toks).alias("w")).where(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(top_k)
    )


def _bloom_build(hashes, fpp: float):
    """m-bit Bloom filter from int64 hashes via Kirsch–Mitzenmacher
    double hashing: position_i = (h1 + i·h2) mod m, h2 forced odd.
    Returns (bits uint8 array, m, k)."""
    import math

    import numpy as np

    n_items = max(1, len(hashes))
    m = int(math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, (m + 7) // 8 * 8)
    k = max(1, round(m / n_items * math.log(2)))
    bits = np.zeros(m // 8, dtype=np.uint8)
    if len(hashes):
        h1 = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
        h2 = (h1 * np.uint64(0x9E3779B97F4A7C15)) | np.uint64(1)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
            np.bitwise_or.at(bits, pos >> np.uint64(3),
                             np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    return bits, m, k


def bloom_contamination(
    docs,
    benchmark,
    *,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    fpp: float = 0.01,
):
    """Two-tier Bloom-filter decontamination — the 100 TB shape of
    :func:`benchmark_contamination`, with IDENTICAL output.

    Tier 1: the benchmark's distinct n-gram xxhash64 values build an
    m-bit Bloom filter on the driver (the collect is benchmark-sized —
    the eval set, small by contract; the filter itself is
    ~1.2 bytes/gram at fpp=1%, broadcast once via task closure). Every
    corpus doc then probes its gram hashes against the filter in ONE
    Arrow-batched numpy kernel — the corpus never shuffles a gram, and
    Bloom filters have NO false negatives, so every doc the probe clears
    is exactly clean. Tier 2: only the candidate docs (true hits + the
    fpp-bounded false positives) re-check via the exact broadcast-gram
    join, which removes false positives — making the result provably
    equal to the exact check while the expensive path touches only
    ~(contamination rate + fpp) of the corpus.

    Operating envelope: the driver-side build collects the benchmark's
    distinct gram HASHES (8 bytes each) and the broadcast filter is
    ~1.2 bytes/gram at fpp=1% — comfortable through ~10^8 benchmark
    grams (≈1 GB collect + ~120 MB filter). Beyond that the eval set is
    no longer "small by contract"; fall back to
    :func:`benchmark_contamination`'s exact broadcast join or partition
    the benchmark and union the per-partition results.

    Returns (id_col, n_hits, contaminated), exactly as
    benchmark_contamination.
    """
    return make_bloom_checker(
        benchmark, n=n, text_col=text_col, fpp=fpp
    )(docs, id_col=id_col)


def make_bloom_checker(
    benchmark,
    *,
    n: int = 8,
    text_col: str = "text",
    fpp: float = 0.01,
):
    """Factory form of :func:`bloom_contamination`: builds the Bloom
    filter from the benchmark ONCE and returns ``check(docs, id_col)``,
    so a streaming pipeline can run the two-tier check per micro-batch
    without re-collecting the benchmark each trigger."""
    import numpy as np
    import pandas as pd

    bench_grams = (
        benchmark.select(F.explode(ngrams(F.col(text_col), n)).alias("gram"))
        .distinct()
        .transform(materialize)  # built once; reused every check
    )
    bhashes = [
        r["h"] for r in bench_grams.select(F.xxhash64("gram").alias("h")).collect()
    ]
    bits, m, k = _bloom_build(bhashes, fpp)

    def _probe_kernel(hs):
        lens = hs.map(len).to_numpy()
        if lens.sum() == 0:
            return pd.Series(np.zeros(len(hs), dtype=bool))
        flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in hs])
        h1 = flat.astype(np.uint64)
        h2 = (h1 * np.uint64(0x9E3779B97F4A7C15)) | np.uint64(1)
        member = np.ones(len(flat), dtype=bool)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
            member &= (
                bits[pos >> np.uint64(3)]
                >> (pos & np.uint64(7)).astype(np.uint8)
            ) & np.uint8(1) > 0
        any_hit = np.zeros(len(hs), dtype=bool)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        nz = lens > 0
        if nz.any():
            any_hit[nz] = np.maximum.reduceat(member, starts[nz])[: nz.sum()]
        return pd.Series(any_hit)

    # asNondeterministic (guide §4.4): the probe feeds a FILTER
    # (where("__cand")), and for a deterministic UDF the optimizer then
    # collapses the __tk token projection INTO the UDF argument — the
    # tokenize subtree is inlined at every reference and re-evaluated
    # PER transform-lambda ELEMENT (the 5-7x n-gram re-tokenize trap),
    # measured 5.3 s vs 1.0 s on the sf0.1 probe stage (the cost showed
    # up as "time to initialize Python workers": the writer thread
    # evaluates the argument batch before Python sees any data). The
    # ND mark keeps the codegen'd child Project(__tk) below the Python
    # node; the probe is pure, so blocking reorder/duplication loses no
    # correctness.
    _probe = F.pandas_udf(_probe_kernel, "boolean").asNondeterministic()

    def check(docs, *, id_col: str = "doc_id"):
        # project the TOKEN column first and build gram hashes from the
        # bound attribute: the bound-ngrams composite
        # (transform(array(...))[0]) inside a pandas-UDF argument defeats
        # Catalyst's Python-UDF extraction (INTERNAL_ERROR: cannot
        # generate code); an attribute referenced several times survives
        # CollapseProject, keeping the UDF argument extraction-safe
        toked = docs.select(id_col, tokenize(F.col(text_col)).alias("__tk"))
        t = F.col("__tk")
        cnt = F.size(t) - (n - 1)
        gram_hashes = F.when(
            cnt < 1, F.array().cast("array<bigint>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(t, i, n))),
            )
        )
        probed = toked.select(
            id_col, _probe(gram_hashes).alias("__cand")
        )
        # both candidate ids and per-doc hits are small by construction
        # (contamination rate + fpp of the corpus) — broadcast them rather
        # than trusting size estimation, so the corpus never shuffles.
        # The candidate frame is MATERIALIZED first: broadcast builds run
        # on a separate exchange thread, and the Arrow probe kernel
        # executing inside that thread measured ~5x slower than the same
        # probe as a normal action (fresh Python-worker handshakes per
        # build); checkpointing runs the probe once on the warm pool and
        # the broadcast build becomes a trivial scan.
        cand_ids = probed.where("__cand").select(id_col).transform(materialize)
        g = docs.join(F.broadcast(cand_ids), id_col).select(
            id_col, F.explode(ngrams(F.col(text_col), n)).alias("gram")
        )
        hits = (
            g.join(F.broadcast(bench_grams), "gram")
            .groupBy(id_col)
            .agg(F.count_distinct("gram").alias("n_hits"))
        )
        return (
            docs.select(id_col)
            .join(F.broadcast(hits), id_col, "left")
            .select(
                id_col,
                F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
            )
        )

    return check


def cms_heavy_hitters(
    docs,
    *,
    n: int = 2,
    threshold: int = 50,
    text_col: str = "text",
    eps: float = 0.001,
    confidence: float = 0.99,
):
    """Heavy-hitter n-grams via a count-min sketch prefilter — exact
    output, sketch-bounded shuffle (Cormode & Muthukrishnan 2005).

    Two-tier, same proof shape as :func:`bloom_contamination`:

    1. **Sketch build** (one corpus scan): each partition accumulates a
       depth × width count table over its gram hashes in numpy
       (Kirsch–Mitzenmacher double hashing over the engine's xxhash64);
       non-zero cells shuffle keyed by cell — the exchange is bounded by
       partitions × (depth·width), NEVER by gram cardinality — and the
       merged table (CMS tables merge by addition) collects to the
       driver at depth·width longs, a parameter.
    2. **Probe + exact verify** (second scan): every gram's CMS estimate
       is computed map-side against the broadcast table; since CMS
       errors are ONE-SIDED (estimate >= true count, always), grams
       estimated below ``threshold`` are exactly eliminable, and only
       the candidate grams — true heavy hitters plus an eps·N-bounded
       overestimate fringe — shuffle into an exact count, which trims
       the fringe. Output == the exact ``HAVING count >= threshold``
       result, while the full-cardinality gram exchange is gone.

    (Spark's builtin ``count_min_sketch`` agg produces a JVM sketch that
    cannot be probed as a column expression, which is why the table is
    built with a numpy kernel over the same xxhash64 the engine uses.)

    Returns (gram, cnt) with exact counts, cnt >= threshold.
    """
    grams = docs.select(F.explode(ngrams(F.col(text_col), n)).alias("gram"))
    return _cms_heavy_items(
        grams, "gram", threshold, eps=eps, confidence=confidence
    )


def heavy_keys(
    df,
    key_col: str,
    *,
    threshold: int,
    eps: float = 0.001,
    confidence: float = 0.99,
):
    """Skew diagnosis: keys occurring >= threshold times, exactly, via
    the CMS prefilter — the cheap first step before salting a join or
    aggregation on ``key_col`` (operators/skew.py): the full-cardinality
    key exchange of a plain groupBy-count is replaced by a sketch-sized
    one plus an exact count of only the candidate (hot) keys.

    Returns (key_col, cnt), cnt >= threshold, exact.
    """
    items = df.select(F.col(key_col).cast("string").alias(key_col))
    return _cms_heavy_items(
        items, key_col, threshold, eps=eps, confidence=confidence
    )


def _cms_dims(eps: float, confidence: float) -> tuple:
    import math

    depth = max(1, math.ceil(math.log(1.0 / (1.0 - confidence))))
    width = max(8, math.ceil(math.e / eps))
    return depth, width


def _cms_positions(h1, depth: int, width: int):
    import numpy as np

    h2 = (h1 * np.uint64(0x9E3779B97F4A7C15)) | np.uint64(1)
    return np.stack(
        [(h1 + np.uint64(i) * h2) % np.uint64(width) for i in range(depth)]
    )  # depth × batch


def cms_table(items, item_col: str, *, eps: float, confidence: float):
    """Build the merged count-min table (depth × width numpy int64)
    for a single-column item frame: per-partition numpy accumulation,
    non-zero cells shuffled keyed by cell (exchange bounded by
    partitions × depth·width, never item cardinality), merged by
    addition, collected at parameter size. Two tables built with the
    same (eps, confidence) are row-aligned — they share the hash
    family — so they merge by addition and estimate inner products."""
    import numpy as np
    import pandas as pd

    depth, width = _cms_dims(eps, confidence)
    hashes = items.select(F.xxhash64(item_col).alias("h"))

    def build(batches):
        table = np.zeros((depth, width), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            h1 = pdf["h"].to_numpy().astype(np.uint64)
            pos = _cms_positions(h1, depth, width)
            for i in range(depth):
                np.add.at(table[i], pos[i], 1)
        cells = np.flatnonzero(table)
        if len(cells):
            yield pd.DataFrame(
                {"cell": cells, "cnt": table.ravel()[cells]}
            )

    merged_rows = (
        hashes.mapInPandas(build, "cell bigint, cnt bigint")
        .groupBy("cell")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )  # ≤ depth·width rows — parameter-sized, not data-sized
    table = np.zeros(depth * width, dtype=np.int64)
    for r in merged_rows:
        table[r["cell"]] = r["cnt"]
    return table.reshape(depth, width)


def _cms_heavy_items(items, item_col, threshold, *, eps, confidence):
    """Shared CMS two-tier kernel over a single-column item frame."""
    import numpy as np
    import pandas as pd

    depth, width = _cms_dims(eps, confidence)
    grams = items
    table = cms_table(grams, item_col, eps=eps, confidence=confidence)

    def _positions(h1):
        return _cms_positions(h1, depth, width)

    def _estimate_kernel(hs):
        h1 = hs.to_numpy().astype(np.uint64)
        if not len(h1):
            return pd.Series(np.zeros(0, dtype=np.int64))
        pos = _positions(h1)
        est = table[0][pos[0]]
        for i in range(1, depth):
            est = np.minimum(est, table[i][pos[i]])
        return pd.Series(est)

    _estimate = F.pandas_udf(_estimate_kernel, "bigint")

    candidates = grams.where(
        _estimate(F.xxhash64(item_col)) >= F.lit(threshold)
    )
    return (
        candidates.groupBy(item_col)
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= threshold)
    )


def tfidf_top_terms(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document keyword extraction by TF-IDF: the top-``k`` terms of
    each document under ``tf × ln(N / df)`` — the classic corpus-wide
    salience weighting (document-frequency discounting is what separates
    keywords from stopwords without a stopword list).

    Cross-engine determinism: the score is quantized to an integer
    (``floor(tf · ln(N/df) · 1e6)``) BEFORE ranking — the same
    quantized-log discipline as ``importance_resample`` — so the ranking
    never depends on sub-ulp float ordering, and ties break on the term
    itself.

    Scale shape: tokenize+explode (row-local) → (doc, term) counts
    (shuffle 1) → per-term document frequencies over the tf table
    (shuffle 2 — vocabulary-sized output) → tf⋈df equi-join on term
    (co-partitioned with shuffle 2) → per-doc rank-then-filter
    (shuffle 3, compiles to WindowGroupLimit so only k rows per doc
    survive the exchange). N is a one-row aggregate cross-joined in —
    no driver collect.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.explode(tokenize(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_t, on="term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score_q",
            F.floor(
                F.col("tf")
                * F.log(
                    F.col("n_docs").cast("double") / F.col("doc_freq")
                )
                * F.lit(1000000.0)
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score_q"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "doc_freq", "score_q", "rank")
    )


def vocab_coverage(
    docs: DataFrame,
    *,
    text_col: str = "text",
    top_v: int = 100,
) -> DataFrame:
    """Vocabulary coverage curve: the ``top_v`` most frequent tokens
    with each prefix's cumulative share of ALL token occurrences — the
    standard pre-tokenizer diagnostic (how much of the corpus does a
    V-entry vocabulary cover; where does the Zipf tail start).

    Scale shape: tokenize+explode → per-term counts (one shuffle,
    vocabulary-sized output) → global top-``top_v`` (TakeOrdered — no
    full sort) → running sum over the ``top_v``-row result (the only
    single-partition window, parameter-sized by construction, never
    corpus-sized) against the one-row total via broadcast cross join.
    ``coverage`` rounds the exact integer ratio at 6 digits.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.explode(tokenize(F.lower(F.col(text_col)))).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    top = (
        counts.orderBy(F.desc("n"), F.asc("token"))
        .limit(top_v)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("n"), F.asc("token"))
            ),
        )
    )
    w = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("cum_n", F.sum("n").over(w))
        .withColumn(
            "coverage",
            F.round(
                F.col("cum_n") * F.lit(1.0) / F.col("total"), 6
            ),
        )
        .select("rank", "token", "n", "cum_n", "coverage")
    )


def mixed_language_report(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
    threshold: float = 0.03,
) -> DataFrame:
    """Within-document language mixing — the curation signal whole-doc
    language ID misses: a document that switches language mid-stream
    (boilerplate in one language wrapping content in another, code-
    switching, concatenation artifacts) gets ONE dominant label from
    :func:`language_id` yet is exactly what a monolingual training mix
    must catch. Chunk the document into non-overlapping
    ``chunk_tokens`` windows, language-ID each chunk with the same
    stopword-profile heuristic, and report per document the chunk
    count, the sorted distinct non-'und' chunk languages
    (comma-joined), and ``is_mixed``.

    Scale shape: chunking is a row-local explode in the scan stage,
    per-chunk scoring is expression-only (codegen), and the report is
    ONE aggregation keyed by the document id.
    """
    from flink_psl_spark.llm.chunking import chunk_documents

    chunks = chunk_documents(
        docs.select(F.col(id_col), F.col(text_col)),
        chunk_tokens=chunk_tokens,
        stride=chunk_tokens,
        text_col=text_col,
    )
    per = chunks.select(
        F.col(id_col),
        language_id(F.col("chunk_text"), threshold).alias("__lang"),
    )
    return per.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.concat_ws(
            ",",
            F.array_sort(
                F.collect_set(
                    F.when(F.col("__lang") != "und", F.col("__lang"))
                )
            ),
        ).alias("langs"),
        (
            F.size(
                F.collect_set(
                    F.when(F.col("__lang") != "und", F.col("__lang"))
                )
            )
            > 1
        ).alias("is_mixed"),
    )


def ngram_novelty(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document novelty: the fraction of the document's distinct
    word ``n``-grams that occur in NO other document — the
    document-level originality score dedup pipelines rank by (a doc of
    mostly corpus-shared n-grams is template/boilerplate even when no
    single pair-wise match fires). Returns
    ``(id, n_grams, n_novel, novelty)`` with novelty = n_novel/n_grams
    rounded at 6 (exact integer division — cross-engine stable); docs
    with no n-grams report 0/0/0.0.

    Scale shape: distinct (doc, gram) pairs (one shuffle), gram
    document frequencies over that table (one shuffle, vocabulary-sized
    output), one broadcast-free equi-join back on the gram, one keyed
    aggregation per doc.
    """
    grams = docs.select(
        F.col(id_col), F.explode(ngrams(F.col(text_col), n)).alias("g")
    ).distinct()
    df_t = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    per = (
        grams.join(df_t, on="g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel") * F.lit(1.0) / F.col("n_grams"), 6),
        )
    )
    base = docs.select(F.col(id_col))
    return (
        base.join(per, on=id_col, how="left")
        .na.fill({"n_grams": 0, "n_novel": 0, "novelty": 0.0})
    )


def compression_ratio(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """zlib compressibility per document — the entropy-proxy quality
    signal of public curation recipes: machine-generated boilerplate
    and keyword-stuffed spam compress far better than natural prose
    (ratio ≪ natural-text band), while binary-ish noise barely
    compresses (ratio ≈ 1). Returns ``(id, n_bytes, ratio)`` with
    ratio = compressed/uncompressed bytes rounded at 6 (empty docs →
    ratio 0.0).

    Python is unavoidable here (no codec in the expression language),
    so the kernel is an Arrow-batched pandas UDF — one pass, no
    shuffle; zlib at a fixed level is bit-deterministic for a given
    zlib build, and the registry self-check proves the distributed
    kernel against an in-driver reference computation per run.
    """
    def _ratio(batch):
        import zlib

        def one(t):
            raw = (t or "").encode("utf-8")
            if not raw:
                return 0.0
            return round(len(zlib.compress(raw, level)) / len(raw), 6)

        return batch.map(one)

    ratio_udf = F.pandas_udf(_ratio, "double")
    return docs.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("bigint").alias("n_bytes"),
        ratio_udf(F.col(text_col)).alias("ratio"),
    )


#: curly/typographic characters unified before training (the standard
#: text-canonicalization table: quotes, dashes, ellipsis, exotic spaces)
_CANON_CHARS = [
    ("[\u2018\u2019\u201A\u201B]", "'"),
    ('[\u201C\u201D\u201E\u201F]', '"'),
    ("[\u2013\u2014\u2015]", "-"),
    ("\u2026", "..."),
    ("[\u00A0\u2000-\u200A\u202F\u205F\u3000]", " "),
]

#: control + zero-width characters removed outright (keep \t \n \r for
#: the whitespace collapse to fold)
_STRIP_CHARS = "[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\u200B-\u200D\uFEFF]"


def normalize_text(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training-text canonicalization — the first pass of every public
    curation pipeline: Unicode NFC composition (e-acute as ONE codepoint,
    not e + combining accent — dedup hashes and tokenizers otherwise see
    two different strings), typographic unification (curly quotes ->
    straight, en/em dashes -> '-', ellipsis -> '...', exotic spaces ->
    ' '), control/zero-width removal, and whitespace collapse + trim.

    NFC needs a real Unicode table, so that single step is an
    Arrow-batched kernel (``unicodedata.normalize`` — the same table
    DuckDB's ``nfc_normalize`` implements, which is what makes the
    registry oracle exact); everything after is expression-only regexp
    work. One pass, no shuffle.
    """
    def _nfc(batch):
        import unicodedata

        return batch.map(
            lambda t: unicodedata.normalize("NFC", t)
            if t is not None
            else None
        )

    nfc_udf = F.pandas_udf(_nfc, "string")
    out = nfc_udf(F.col(text_col))
    for pat, rep in _CANON_CHARS:
        out = F.regexp_replace(out, pat, rep)
    out = F.regexp_replace(out, _STRIP_CHARS, "")
    out = pinned_trim(F.regexp_replace(out, _WS, " "))
    return docs.select(F.col(id_col), out.alias(text_col))


def html_extract(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    html_col: str = "html",
    out_col: str = "text",
    max_link_density: float = 0.5,
) -> DataFrame:
    """Main-content extraction from raw HTML (the first step of every web
    pretraining pipeline — trafilatura/jusText-style, reduced to the two
    load-bearing heuristics that need no model):

    1. **skip-subtree tags**: everything inside ``<script> <style> <head>
       <nav> <header> <footer> <aside> <noscript> <template> <form>
       <svg> <iframe>`` is chrome, never content;
    2. **link-density pruning** (the jusText core signal): a text block
       whose characters are mostly inside ``<a>`` anchors is a menu /
       related-links strip even outside ``<nav>`` — dropped when anchor
       chars / block chars > ``max_link_density``.

    Surviving block-level texts (whitespace-collapsed, entities decoded
    by the parser) are joined with newlines. Pure python-stdlib
    ``html.parser`` per row inside one ``mapInPandas`` pass — no DOM
    library, no JVM round-trip, embarrassingly parallel; malformed HTML
    never raises (unclosed tags degrade to counter tracking).
    """
    import pandas as pd
    from html.parser import HTMLParser

    SKIP = frozenset(
        "script style head nav header footer aside noscript template "
        "form svg iframe".split()
    )
    BLOCK = frozenset(
        "p div li ul ol h1 h2 h3 h4 h5 h6 article section table tr td "
        "th blockquote pre br body".split()
    )

    class _Extractor(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.skip = 0
            self.anchor = 0
            self.buf: list = []
            self.link_chars = 0
            self.blocks: list = []

        def _flush(self):
            text = " ".join("".join(self.buf).split())
            if text:
                density = self.link_chars / len(text)
                if density <= max_link_density:
                    self.blocks.append(text)
            self.buf, self.link_chars = [], 0

        def handle_starttag(self, tag, attrs):
            if tag in SKIP:
                self.skip += 1
            elif tag in BLOCK:
                self._flush()
            elif tag == "a":
                self.anchor += 1

        def handle_endtag(self, tag):
            if tag in SKIP:
                self.skip = max(0, self.skip - 1)
            elif tag in BLOCK:
                self._flush()
            elif tag == "a":
                self.anchor = max(0, self.anchor - 1)

        def handle_data(self, data):
            if self.skip == 0:
                self.buf.append(data)
                if self.anchor > 0:
                    self.link_chars += len("".join(data.split()))

    def extract_one(html):
        if html is None:
            return None
        p = _Extractor()
        try:
            p.feed(html)
            p.close()
        except Exception:
            pass  # malformed input keeps whatever parsed cleanly
        p._flush()
        return "\n".join(p.blocks)

    id_dt = dict(docs.dtypes)[id_col]

    def part(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    out_col: pdf[html_col].map(extract_one),
                }
            )

    return docs.select(id_col, html_col).mapInPandas(
        part, f"{id_col} {id_dt}, {out_col} string"
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval: the top-``k`` documents per query under the
    Okapi BM25 ranking function — the standard lexical retriever used to
    mine training data (query-conditioned corpus selection, RAG corpus
    audits, hard-negative candidate generation).

    Reference parity: the reference exposes retrieval-style scoring only
    through its UDF surface; this is the built-in equivalent, mirroring
    ``tfidf_top_terms``'s corpus statistics with the BM25 saturation and
    length normalization on top.

    Cross-engine determinism: every corpus statistic entering the score
    is an EXACT integer (tf, df, dl, N, Σdl) and all constants are typed
    double, so both engines evaluate the identical IEEE expression tree;
    the per-(doc, term) score is quantized (``floor(s·1e6)``) before the
    integer per-doc sum, and ranking ties break on ``id_col`` — the same
    quantized-score discipline as ``tfidf_top_terms``.

    Scale shape: the query set is parameter-sized and BROADCAST — the
    corpus-sized token explode is immediately semi-joined down to rows
    whose term appears in some query, so the (doc, term) tf table that
    shuffles is ~|queries| × hits, not corpus-sized. Document lengths
    are row-local expressions (no shuffle); N and Σdl are a one-row
    aggregate cross-joined in (no driver collect); the final per-query
    rank compiles to WindowGroupLimit, so only k rows per query survive
    the last exchange.
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    qterms = spark.createDataFrame(
        sorted(
            {
                (qid, term)
                for qid, qtext in queries
                for term in qtext.lower().split()
            }
        ),
        "qid string, term string",
    )

    toks = docs.select(
        F.col(id_col),
        F.explode(tokenize(F.lower(F.col(text_col)))).alias("term"),
    )
    # semi-join FIRST: everything downstream is query-hit-sized
    hits = toks.join(
        F.broadcast(qterms.select("term").distinct()), on="term", how="inner"
    )
    tf = hits.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    dl = docs.select(F.col(id_col), token_count(text_col).alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("doc_freq") + F.lit(0.5))
        / (F.col("doc_freq") + F.lit(0.5))
    )
    score = (
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl") * F.col("n_docs") / F.col("sum_dl")
            )
        )
        * F.lit(1000000.0)
    )
    scored = (
        tf.join(F.broadcast(df_t), on="term")
        .join(F.broadcast(qterms), on="term")
        .join(dl, on=id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            id_col,
            F.floor(score).cast("bigint").alias("s"),
        )
    )
    agg = scored.groupBy("qid", id_col).agg(
        F.sum("s").cast("bigint").alias("score_q")
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("score_q"), F.asc(id_col)
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", id_col, "score_q", "rank")
    )


def assemble_conversations(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    turn_col: str = "event_type",
    order_col: str = "event_id",
    gap_minutes: int = 30,
    max_turns: int = 64,
) -> DataFrame:
    """Assemble per-user event streams into ordered conversation
    transcripts — the chat-log → training-document step of a dialogue
    pipeline: sessionize by inactivity gap, then concatenate each
    session's turns in event order into one transcript row.

    Sessionization is the classic lag-and-cumulative-sum formulation
    (a new session starts where the gap to the previous event exceeds
    ``gap_minutes``), identical to the reference's session windows but
    expressed relationally so it runs as two window passes + one
    aggregate — no stateful operator needed in batch.

    Scale shape: both window passes and the final aggregate partition by
    ``user_col`` — ONE shuffle (the first exchange is reused by the
    second window and the groupBy, which Catalyst co-partitions).
    Transcripts are capped at ``max_turns`` turns (``slice`` after
    ``array_agg``), so no output row is unbounded; per-user state is
    bounded by the user's own event count, the same contract as any
    per-key groupBy.
    """
    from pyspark.sql import Window

    wo = Window.partitionBy(user_col).orderBy(
        F.asc(ts_col), F.asc(order_col)
    )
    # µs-exact gap comparison (unix_timestamp would truncate to seconds
    # and disagree with engines that round epoch fractions)
    gap_us = gap_minutes * 60 * 1_000_000
    sess = (
        events.withColumn("__prev", F.lag(ts_col).over(wo))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull()
                | (
                    F.unix_micros(F.col(ts_col))
                    - F.unix_micros(F.col("__prev"))
                    > gap_us
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("session_n", F.sum("__new").over(wo).cast("bigint"))
    )
    turns = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(order_col).alias("o"),
                F.col(turn_col).alias("v"),
            )
        )
    )
    return (
        sess.groupBy(user_col, "session_n")
        .agg(
            F.count("*").cast("bigint").alias("n_turns"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
            F.concat_ws(
                " ",
                F.slice(turns, 1, max_turns).getField("v"),
            ).alias("transcript"),
        )
        .select(
            user_col, "session_n", "n_turns",
            "first_ts", "last_ts", "transcript",
        )
    )


def sft_loss_mask(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    turn_col: str = "event_type",
    order_col: str = "event_id",
    gap_minutes: int = 30,
    user_tag: str = "<u>",
    assistant_tag: str = "<a>",
) -> DataFrame:
    """Loss-mask span layout for SFT training — the step after
    :func:`assemble_conversations`: render each session's turns as
    ``tag + content`` segments (odd turns = user, even = assistant) and
    emit the 0-indexed ``[mask_start, mask_end)`` character span of every
    ASSISTANT segment's content (tag excluded) in the rendered string —
    exactly the char ranges a trainer unmasks for the loss.

    The spans are computed arithmetically (per-turn segment lengths + one
    running sum), never by materializing the rendered string — at 100 TB
    the render can stay virtual while the mask table ships to the
    tokenizer.

    Scale shape: the same single user-keyed exchange as the assembly
    operator — the sessionization windows and the per-session turn window
    all cluster on ``user_col`` (hash(user) co-locates every
    (user, session) group), so Catalyst reuses one shuffle end to end.

    Output: (user, session_n, turn_idx, mask_start, mask_end, render_len)
    — ``render_len`` is the session's total rendered length, the bound a
    packing stage needs.
    """
    from pyspark.sql import Window

    wo = Window.partitionBy(user_col).orderBy(
        F.asc(ts_col), F.asc(order_col)
    )
    gap_us = gap_minutes * 60 * 1_000_000
    sess = (
        events.withColumn("__prev", F.lag(ts_col).over(wo))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull()
                | (
                    F.unix_micros(F.col(ts_col))
                    - F.unix_micros(F.col("__prev"))
                    > gap_us
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("session_n", F.sum("__new").over(wo).cast("bigint"))
    )
    ws = Window.partitionBy(user_col, "session_n").orderBy(
        F.asc(ts_col), F.asc(order_col)
    )
    w_all = Window.partitionBy(user_col, "session_n")
    u_len, a_len = len(user_tag), len(assistant_tag)
    turns = (
        sess.withColumn("__turn", F.row_number().over(ws))
        .withColumn(
            "__tag_len",
            F.when(F.col("__turn") % 2 == 1, F.lit(u_len)).otherwise(
                F.lit(a_len)
            ),
        )
        .withColumn(
            "__seg", F.col("__tag_len") + F.length(F.col(turn_col))
        )
        .withColumn("__cum", F.sum("__seg").over(ws))
        .withColumn("render_len", F.sum("__seg").over(w_all).cast("bigint"))
    )
    return (
        turns.where(F.col("__turn") % 2 == 0)
        .select(
            F.col(user_col),
            "session_n",
            F.col("__turn").cast("int").alias("turn_idx"),
            (F.col("__cum") - F.col("__seg") + F.col("__tag_len"))
            .cast("bigint")
            .alias("mask_start"),
            F.col("__cum").cast("bigint").alias("mask_end"),
            "render_len",
        )
    )
