"""The ``lakehouse_rw`` workload: a fixed op log against one table,
driven only through ``assignment4_spark.api``, checked against a pandas
latest-wins replay of the same log.

The table is ``orders`` (150k rows) as ``(k, custkey, price, status,
ver)``, key ``k``, 32 buckets, clustered on ``price``, bloom-indexed on
``custkey``. The log is one cycle of every commit kind (``LOG``): a
trickle upsert, a delete, a bulk upsert, then compaction and vacuum.
Each commit is trailed by reads: Zipf-skewed bloom point lookups on
``custkey``, ~2% ``price`` ranges, and after the delete and after the
bulk upsert the change feed since the consumer's last read. The log's shape
is the same for every seed; the seed fixes keys, values, probes and
the order of the reads after each commit.

``init_table`` on a cold session takes about 20 s on 4 cores, more than
the rest of a run, so the initial table is built once per checkout and
product version by ``build.py`` (``build_table``) and copied into place
at the start of every run. Its manifests hold absolute paths, so it is
built at, and restored to, the run's own table path.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time

import numpy as np
import pandas as pd

TABLE_COLS = ["k", "custkey", "price", "status", "ver"]
SCHEMA = "k long, custkey long, price double, status string, ver int"
N_BUCKETS = 32
SMALL_BATCH_MAX = 8
BULK_SHARE = 0.01
DELETE_BATCH = 6
RANGE_SHARE = 0.02
ZIPF_S = 1.1
# (commit kind, reads after it) in log order.
LOG = [
    ("upsert_small", ["point", "range"]),
    ("delete_dv", ["point", "changes"]),
    ("upsert_bulk", ["range", "changes"]),
    ("optimize", []),
    ("vacuum", ["point", "range"]),
]
WRITE_KINDS = ("upsert_small", "upsert_bulk", "delete_dv", "optimize")
READ_KINDS = ("point", "range", "changes")


def make_log(seed: int, base: pd.DataFrame) -> list[dict]:
    """The op log for ``seed``: ``LOG`` with seeded keys, values, probes
    and read order. Each op's ``key`` (its commit's place in ``LOG`` and
    its kind) is the same for every seed."""
    rng = np.random.default_rng(seed)
    pyrng = random.Random(seed)
    custkeys = np.sort(base["custkey"].unique())
    zipf_order = rng.permutation(custkeys)
    zipf_p = 1.0 / np.arange(1, len(zipf_order) + 1) ** ZIPF_S
    zipf_p /= zipf_p.sum()
    lo_price, hi_price = float(base["price"].min()), float(base["price"].max())
    span = (hi_price - lo_price) * RANGE_SHARE
    n_keys = len(base)
    next_new_key = int(base["k"].max()) + 1
    ops: list[dict] = []
    for step, (kind, reads) in enumerate(LOG):
        op = {"kind": kind, "key": f"{step}.{kind}"}
        if kind in ("upsert_small", "upsert_bulk"):
            n = int(rng.integers(1, SMALL_BATCH_MAX + 1)) if kind == "upsert_small" else int(
                n_keys * BULK_SHARE
            )
            n_new = int(rng.integers(0, n // 4 + 1))
            old = rng.choice(n_keys, n - n_new, replace=False)
            keys = [int(base["k"].iat[j]) for j in old] + list(
                range(next_new_key, next_new_key + n_new)
            )
            next_new_key += n_new
            op["rows"] = pd.DataFrame(
                {
                    "k": np.asarray(keys, dtype=np.int64),
                    "custkey": rng.choice(custkeys, len(keys)).astype(np.int64),
                    "price": np.round(rng.uniform(lo_price, hi_price, len(keys)), 2),
                    "status": rng.choice(np.asarray(["F", "O", "P"], dtype=object), len(keys)),
                }
            )
        elif kind == "delete_dv":
            op["keys"] = [int(base["k"].iat[j]) for j in rng.choice(n_keys, DELETE_BATCH, replace=False)]
        ops.append(op)
        for read in pyrng.sample(reads, len(reads)):
            op = {"kind": read, "key": f"{step}.{read}"}
            if read == "point":
                op["value"] = int(rng.choice(zipf_order, p=zipf_p))
            elif read == "range":
                op["lo"] = float(np.round(rng.uniform(lo_price, hi_price - span), 2))
                op["hi"] = round(op["lo"] + span, 2)
            ops.append(op)
    return ops


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            p = os.path.join(dirpath, fn)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    return out


def arrow_bytes(df: pd.DataFrame) -> int:
    import pyarrow as pa

    return pa.Table.from_pandas(df, preserve_index=False).nbytes


def load_base(sf_dir: str) -> pd.DataFrame:
    orders = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"))
    return pd.DataFrame(
        {
            "k": orders["o_orderkey"].astype(np.int64),
            "custkey": orders["o_custkey"].astype(np.int64),
            "price": orders["o_totalprice"].astype(np.float64),
            "status": orders["o_orderstatus"].astype(object),
            "ver": np.zeros(len(orders), dtype=np.int32),
        }
    )


def table_dir(run_dir: str) -> str:
    return os.path.join(run_dir, "table")


def pristine_dir() -> str:
    """Where the initial table of this checkout and product version is
    kept."""
    import harness

    return os.path.join(harness.BENCH_DIR, ".data", f"lakehouse_table-{harness.source_digest()}")


def restore_table(run_dir: str) -> float:
    """Put a fresh copy of the initial table at the run's table path.
    Returns the copy's wall time."""
    t0 = time.perf_counter()
    shutil.rmtree(table_dir(run_dir), ignore_errors=True)
    shutil.copytree(pristine_dir(), table_dir(run_dir))
    return time.perf_counter() - t0


def build_table(spark, sf_dir: str, run_dir: str) -> None:
    """Build the initial table at ``run_dir``'s table path with
    ``api.init_table`` and keep a copy as the pristine table."""
    from assignment4_spark import api

    t0 = time.perf_counter()
    shutil.rmtree(table_dir(run_dir), ignore_errors=True)
    api.init_table(
        spark.createDataFrame(load_base(sf_dir), SCHEMA), table_dir(run_dir), key_col="k",
        n_buckets=N_BUCKETS, cluster_col="price", bloom_col="custkey",
    )
    print(f"lakehouse: initial table built in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    tmp = pristine_dir() + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(table_dir(run_dir), tmp)
    os.rename(tmp, pristine_dir())


class LakehouseRW:
    """Op execution on the run's table and the pandas replay it is
    checked against."""

    def __init__(self, spark, base: pd.DataFrame, run_dir: str):
        from assignment4_spark import api

        self.spark = spark
        self.base_dir = table_dir(run_dir)
        self.model = base.set_index("k", drop=False)
        version = api.latest_version(self.base_dir)
        self.snapshots: dict[int, pd.DataFrame] = {version: self.model}
        self.consumer_version = version
        self.submitted_bytes = 0
        self.written_bytes = 0

    # -- ops -------------------------------------------------------------

    def prepare(self, op: dict):
        """Client-side input of an op (built before the timer starts)."""
        from pyspark.sql import functions as F

        if op["kind"] in ("upsert_small", "upsert_bulk"):
            rows = op["rows"].copy()
            rows["ver"] = np.int32(len(self.snapshots))
            op["batch"] = rows
            return self.spark.createDataFrame(rows[TABLE_COLS], SCHEMA)
        if op["kind"] == "delete_dv":
            return self.spark.createDataFrame(pd.DataFrame({"k": op["keys"]}), "k long").select(
                F.col("k")
            )
        return None

    def run(self, op: dict, prepared):
        """The measured call. Reads return their DataFrame, which the
        caller materializes inside the timed region."""
        from assignment4_spark import api

        kind, spark, base = op["kind"], self.spark, self.base_dir
        if kind in ("upsert_small", "upsert_bulk"):
            return api.merge_upsert_manifest(base, prepared, "ver", "price", writer_id="bench")
        if kind == "delete_dv":
            return api.delete_keys_dv(spark, base, prepared, writer_id="bench")
        if kind == "optimize":
            return api.optimize_compact(spark, base, writer_id="bench")
        if kind == "vacuum":
            return api.vacuum(base, keep_last=2)
        if kind == "point":
            return api.read_snapshot_point(spark, base, op["value"])
        if kind == "range":
            return api.read_snapshot_range(spark, base, op["lo"], op["hi"])
        if kind == "changes":
            op["v_from"] = self.consumer_version
            op["v_to"] = api.latest_version(base)
            self.consumer_version = op["v_to"]
            return api.changes_between(spark, base, op["v_from"], op["v_to"])
        raise ValueError(kind)

    def apply(self, op: dict) -> None:
        """Advance the replay after a commit (latest wins per key)."""
        from assignment4_spark import api

        kind = op["kind"]
        if kind in ("upsert_small", "upsert_bulk"):
            batch = op["batch"][TABLE_COLS].set_index("k", drop=False)
            model = self.model.drop(index=batch.index, errors="ignore")
            self.model = pd.concat([model, batch])
            self.submitted_bytes += arrow_bytes(op["batch"][TABLE_COLS])
        elif kind == "delete_dv":
            self.model = self.model.drop(index=op["keys"], errors="ignore")
            self.submitted_bytes += arrow_bytes(pd.DataFrame({"k": op["keys"]}))
        self.snapshots[api.latest_version(self.base_dir)] = self.model

    # -- checks ----------------------------------------------------------

    def expected(self, op: dict) -> pd.DataFrame:
        m = self.model
        if op["kind"] == "point":
            return m[m["custkey"] == op["value"]]
        if op["kind"] == "range":
            return m[(m["price"] >= op["lo"]) & (m["price"] <= op["hi"])]
        raise ValueError(op["kind"])

    def rows_returned(self, op: dict) -> int:
        if op["kind"] == "changes":
            return len(self.expected_changes(op["v_from"], op["v_to"]))
        return len(self.expected(op))

    def check_read(self, op: dict, df) -> bool:
        if op["kind"] == "changes":
            got = {(r[0], r[1]) for r in df.select("k", "change_type").collect()}
            return got == self.expected_changes(op["v_from"], op["v_to"])
        got = df.select(*TABLE_COLS).toPandas()
        return same_rows(got, self.expected(op))

    def expected_changes(self, v_from: int, v_to: int) -> set:
        old, new = self.snapshots[v_from], self.snapshots[v_to]
        out = {(k, "insert") for k in new.index.difference(old.index)}
        out |= {(k, "delete") for k in old.index.difference(new.index)}
        both = new.index.intersection(old.index)
        a = old.loc[both, TABLE_COLS].sort_index()
        b = new.loc[both, TABLE_COLS].sort_index()
        changed = (a != b).any(axis=1)
        out |= {(k, "update") for k in changed[changed].index}
        return {(int(k), t) for k, t in out}

    def check_table(self) -> bool:
        from assignment4_spark import api

        got = api.read_snapshot(self.spark, self.base_dir).select(*TABLE_COLS).toPandas()
        return same_rows(got, self.model)

    def live_bytes(self) -> int:
        return arrow_bytes(self.model[TABLE_COLS].reset_index(drop=True))


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    if len(got) != len(want):
        return False
    a = got[TABLE_COLS].reset_index(drop=True).sort_values("k", ignore_index=True)
    b = want[TABLE_COLS].reset_index(drop=True).sort_values("k", ignore_index=True)
    a["ver"] = a["ver"].astype(np.int64)
    b["ver"] = b["ver"].astype(np.int64)
    return bool((a.astype(object).values == b.astype(object).values).all())
