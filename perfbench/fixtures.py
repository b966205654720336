"""Deterministic input tables for the benchmark.

Writes the ten fixture tables the engine's faces read (TPC-H-ish star
schema, an ``events`` stream table and the ``documents``/``embeddings``
RAG corpus) at scale factor 0.1, one parquet file each, with the
schemas of ``assignment4_spark.schemas``. Content comes from a fixed
data seed, not from the run's ``--seed``: the golden row counts and
digests in ``golden.json`` are tied to these exact bytes, and the run
seed only picks op order and the lakehouse op log.

    python3 perfbench/fixtures.py OUT_DIR     # (re)write the tables
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1
ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def make_tables(seed: int = DATA_SEED) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = {k: int(v * SF) for k, v in ROWS.items()}
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    k = n["customer"]
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "c_acctbal": _money(rng, k, -999.99, 9999.99),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], k
            ),
        }
    )
    k = n["supplier"]
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "s_acctbal": _money(rng, k, -999.99, 9999.99),
        }
    )
    k = n["part"]
    adjectives = "blue cold hot large new old red small".split()
    nouns = "anvil bolt gear gizmo plate ring rod widget".split()
    names = [f"{a} {b}" for a in adjectives for b in nouns]
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(k, dtype=np.int64),
            "p_name": _pick(rng, names, k),
            "p_brand": np.asarray([f"Brand#{i}" for i in range(1, 26)], dtype=object)[
                rng.integers(0, 25, k)
            ],
            "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], k),
            "p_size": rng.integers(1, 51, k).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2),
        }
    )
    k = n["orders"]
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
            "o_totalprice": _money(rng, k, 1000.0, 500000.0),
            "o_orderdate": _days(rng, k, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k
            ),
        }
    )
    k = n["lineitem"]
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(rng, k, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], k),
            "l_linestatus": _pick(rng, ["F", "O"], k),
            "l_shipdate": _days(rng, k, "1995-01-02", "2001-11-04"),
        }
    )
    k = n["events"]
    gaps_us = np.round(rng.exponential(26.0, k) * 1e6).astype(np.int64)
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(k, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us),
            "user_id": rng.integers(0, 1500, k).astype(np.int64),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], k),
            "value": np.round(rng.exponential(50.0, k), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        }
    )
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def _documents(rng: np.random.Generator) -> pd.DataFrame:
    """Word-salad documents over a 30-word vocabulary; ~5% are near-copies
    of an earlier document (suffix " dup"), some of them exact repeats,
    so the dedup faces have something to find."""
    texts: list[str] = []
    dups: list[str] = []
    for i in range(N_DOCUMENTS):
        r = rng.random()
        if i > 10 and r < 0.004 and dups:
            text = dups[int(rng.integers(0, len(dups)))]
        elif i > 10 and r < 0.05:
            text = texts[int(rng.integers(0, i))] + " dup"
            dups.append(text)
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            text = " ".join(VOCAB[w] for w in words)
        texts.append(text)
    langs = np.asarray(["en", "de", "es", "fr", "zh"], dtype=object)
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.choice(5, N_DOCUMENTS, p=[0.41, 0.14, 0.15, 0.15, 0.15])],
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator) -> pd.DataFrame:
    """Unit vectors drawn around ten label centroids."""
    centroids = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    vecs = centroids[labels] + 1.5 * rng.normal(size=(N_EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )


def write_tables(out_dir: str, seed: int = DATA_SEED) -> None:
    """Write every table to ``out_dir``, replacing the directory
    atomically so a reader never sees a half-written fixture set."""
    tmp = out_dir.rstrip("/") + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    schema_overrides = {"embeddings": {"embedding": pa.list_(pa.float32())}}
    for name, df in make_tables(seed).items():
        tb = pa.Table.from_pandas(df, preserve_index=False)
        for col, typ in schema_overrides.get(name, {}).items():
            tb = tb.set_column(tb.schema.get_field_index(col), col, tb[col].cast(typ))
        pq.write_table(tb, os.path.join(tmp, f"{name}.parquet"))
    if os.path.isdir(out_dir):
        import shutil

        shutil.rmtree(out_dir)
    os.rename(tmp, out_dir)


def fingerprint(sf_dir: str) -> str:
    """sha256 over the table files' bytes: identifies the inputs a
    result was measured on."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: fixtures.py OUT_DIR")
    write_tables(sys.argv[1])
