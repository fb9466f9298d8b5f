"""Benchmark inputs: a seeded fixture corpus, its 10x copy and cached oracles.

The engine's queries read ten parquet tables (a TPC-H-style star schema,
an ``events`` stream table, ``documents`` and ``embeddings``).  The
benchmark builds its own copy so it depends on nothing outside the
checkout:

- ``base``: the tables at the sf0.01 row counts, drawn from a fixed corpus
  seed with the same schemas and value domains as the engine's fixtures.
- ``x10``: ``scripts/gen_scale_data.py`` applied to ``base`` with ten
  copies, i.e. the sf0.1 row counts.
- ``oracles.json``: every DuckDB oracle the workloads compare against,
  computed once over the corpus it belongs to and stored in normalized form.

A ``MANIFEST.json`` (size and sha256 of every file) is written last; a
corpus whose manifest is missing or does not match is rebuilt.

Run ``python3 perfbench/corpus.py <work_dir>`` to build it by hand.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys

CORPUS_SEED = 20240101
CORPUS_VERSION = 1
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
# sf0.01 row counts of the engine's fixture tables
ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def generate_base(out_dir: str, seed: int = CORPUS_SEED) -> None:
    """Write the ten sf0.01-sized tables as single parquet files."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, df: pd.DataFrame, schema: pa.Schema) -> None:
        table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: dt.date, n_days: int, n: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"), "r_name": regions,
    }), pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    write("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    }), pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]))

    n = ROWS["customer"]
    write("customer", pd.DataFrame({
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype("int32"),
        "c_acctbal": money(-999.99, 9999.99, n),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n),
    }), pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]))

    n = ROWS["supplier"]
    write("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype("int32"),
        "s_acctbal": money(-999.99, 9999.99, n),
    }), pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    n = ROWS["part"]
    adjectives = ["large", "hot", "blue", "small", "green", "shiny", "cold",
                  "red"]
    nouns = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "shaft"]
    write("part", pd.DataFrame({
        "p_partkey": np.arange(n, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adjectives, n),
                                              rng.choice(nouns, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": rng.integers(1, 51, n).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n) % 2000) * 0.1, 2),
    }), pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    n = ROWS["orders"]
    order_dates = days(dt.date(1995, 1, 1), 2404, n)
    write("orders", pd.DataFrame({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, ROWS["customer"], n).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": money(1000, 500000, n),
        "o_orderdate": order_dates,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    }), pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()),
                   ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")),
                   ("o_orderpriority", pa.string())]))

    n = ROWS["lineitem"]
    l_order = rng.integers(0, ROWS["orders"], n).astype("int64")
    ship = order_dates[l_order] + rng.integers(1, 122, n).astype(
        "timedelta64[D]")
    write("lineitem", pd.DataFrame({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, ROWS["part"], n).astype("int64"),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": money(900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": ship,
    }), pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()),
                   ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()),
                   ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]))

    n = ROWS["events"]
    # 30 days of event time, increasing with event_id; users drawn with a
    # mild popularity skew (heaviest user ~2x the median, as in the fixtures)
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n))
    weights = rng.uniform(0.5, 1.0, EVENT_USERS)
    write("events", pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": np.datetime64("2024-01-01", "us")
        + offsets.astype("timedelta64[us]"),
        "user_id": rng.choice(EVENT_USERS, n, p=weights / weights.sum())
        .astype("int64"),
        "event_type": rng.choice(
            ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }), pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]))

    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (dedup has work to do)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    write("documents", pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }), pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]))

    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] * 0.15 + rng.normal(0, 1, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        "float32")
    write("embeddings", pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": list(vecs),
        "label": labels.astype("int32"),
    }), pa.schema([("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))


def replicate_x10(base_dir: str, out_dir: str) -> None:
    """Build the 10x corpus with the repository's own scale generator."""
    code = (
        "import importlib.util, sys\n"
        "spec = importlib.util.spec_from_file_location('g', sys.argv[1])\n"
        "g = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(g)\n"
        "g.SRC = sys.argv[2]\n"
        "sys.argv = ['gen_scale_data.py', sys.argv[3], '10']\n"
        "sys.exit(g.main())\n"
    )
    script = os.path.join(_root(), "scripts", "gen_scale_data.py")
    subprocess.run(
        [sys.executable, "-c", code, script, base_dir, out_dir],
        check=True, stdout=subprocess.DEVNULL, cwd=_root(),
    )


def load_oracle_module():
    """``tests/_oracle.py``: the normalization the correctness tests use."""
    path = os.path.join(_root(), "tests", "_oracle.py")
    spec = importlib.util.spec_from_file_location("_bench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # written by Spark: a directory of parts
            path += "/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def oracle_entry(oracle_mod, con, sql: str) -> dict:
    """Normalized DuckDB result: sorted lowercase columns + rows_key."""
    rel = con.sql(sql)
    cols = [c.lower() for c in rel.columns]
    return {"columns": sorted(cols),
            "rows": [list(r) for r in oracle_mod.rows_key(rel.fetchall(), cols)]}


def build_oracles(work: str, oracled: dict[str, list[str]]) -> None:
    """Normalized DuckDB results of ``oracled`` ({corpus: query names})."""
    sys.path.insert(0, _root())
    from flink_psl_spark.queries import ORACLES

    oracle_mod = load_oracle_module()
    out = {}
    for sub, names in oracled.items():
        con = duck(os.path.join(work, sub))
        out[sub] = {n: oracle_entry(oracle_mod, con, ORACLES[n]) for n in names}
    with open(os.path.join(work, "oracles.json"), "w") as f:
        json.dump(out, f)


def _files(work: str) -> list[str]:
    out = []
    for sub in ("base", "x10"):
        for dirpath, _, names in os.walk(os.path.join(work, sub)):
            out += [os.path.join(dirpath, n) for n in names
                    if not n.startswith((".", "_"))]
    out.append(os.path.join(work, "oracles.json"))
    return sorted(out)


def _digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def manifest(work: str, oracled: dict) -> dict:
    return {
        "version": CORPUS_VERSION,
        "seed": CORPUS_SEED,
        "oracled": {k: sorted(v) for k, v in oracled.items()},
        "files": {os.path.relpath(p, work): [os.path.getsize(p), _digest(p)]
                  for p in _files(work)},
    }


def corpus_ok(work: str, oracled: dict) -> bool:
    """True when the corpus on disk matches its manifest."""
    try:
        with open(os.path.join(work, "MANIFEST.json")) as f:
            saved = json.load(f)
        return saved == manifest(work, oracled)
    except (OSError, ValueError):
        return False


def ensure_corpus(work: str, oracled: dict[str, list[str]]) -> float:
    """Check the corpus and rebuild it if it fails; return build seconds."""
    import time

    if corpus_ok(work, oracled):
        return 0.0
    t0 = time.perf_counter()
    for sub in ("base", "x10", "oracles.json", "MANIFEST.json"):
        p = os.path.join(work, sub)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
    os.makedirs(work, exist_ok=True)
    generate_base(os.path.join(work, "base"))
    replicate_x10(os.path.join(work, "base"), os.path.join(work, "x10"))
    build_oracles(work, oracled)
    with open(os.path.join(work, "MANIFEST.json"), "w") as f:
        json.dump(manifest(work, oracled), f)
    return time.perf_counter() - t0


if __name__ == "__main__":
    from workloads import ORACLED

    print(ensure_corpus(sys.argv[1], ORACLED))
