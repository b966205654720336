"""Fill BASELINE.md §2: DuckDB oracle vs Spark wall-clock at sf0.1.

Protocol (BASELINE.md): both engines read the same local parquet; Spark
timed after session warm-up; MIN of 3 runs per query, applied
symmetrically to both engines (this box's CPU allocation is shared —
identical suites have measured 2-3x apart an hour apart; min reports
each engine's capability, the same rationale bench.py documents for
its min-of-2). Full materialization on both sides (fetchall / count).
Rows-only queries (no oracle SQL) get a Spark time and '—' for DuckDB.

Usage: python scripts/make_baseline.py [QUERY ...] [sf_dir]  (default sf0.1)
With no QUERY, times every registered query and rewrites the table
between the BASELINE_TABLE markers in BASELINE.md; named queries re-time
only their own rows and keep the rest (operators added late in a round).
Either way the three totals lines are recomputed from the table's rows,
and a summary is printed.
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from assignment4_spark import registry
from assignment4_spark.schemas import TABLES
from assignment4_spark.session import get_spark
from scripts.time_slow_oracles import SLOW, WRITE_PATH_PROTOCOL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_RUNS = 3
TINY_SF = "/root/testdata/sf0.001"
HEADER = [
    "| Query (queries() key) | DuckDB sf0.1 (s) | Spark sf0.1 (s) | Ratio | Notes |",
    "|---|---|---|---|---|",
]
TABLE_RE = re.compile(
    r"<!-- BASELINE_TABLE -->\n(.*?)\n<!-- /BASELINE_TABLE -->", re.S
)


def best_time(fn, always_full: bool = False) -> float:
    """MIN of N_RUNS (both engines — symmetric; see module docstring).
    Unless always_full, a first run over 5 s is reported from that
    single run — that early-out exists for the brute-force O(N²)
    DuckDB oracles (minutes at sf0.1), but it must NOT apply to the
    Spark side: a one-off cold first touch (worker spawn, code cache)
    would then be recorded as the steady state."""
    ts = []
    for _ in range(N_RUNS):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
        if not always_full and ts[0] > 5.0:
            break
    return min(ts)


def table_rows(text: str) -> list[str]:
    """The query rows of BASELINE.md's table (totals lines excluded)."""
    m = TABLE_RE.search(text)
    if m is None:
        raise SystemExit("BASELINE.md has no BASELINE_TABLE markers")
    return [line for line in m.group(1).splitlines() if line.startswith("| `")]


def time_row(spark, con, name: str, sf_dir: str, slow: dict) -> str:
    """One table row for ``name``: one untimed warm run (plan
    compilation and codegen are not the steady state the table
    reports), then MIN of N_RUNS per engine. O(N²) brute-force DuckDB
    oracles are never re-run: their seconds come from ``slow``
    (scripts/time_slow_oracles.py). The tripwire note marks a query
    over 2x DuckDB only if it is DATA-PROPORTIONAL (sf0.1 >= 3x one
    sf0.001 run — real compute); a query on Spark's fixed ~0.1-0.3 s
    scheduling floor has ratio noise, not a compute regression
    (BASELINE.md §3)."""
    fn = registry.QUERIES[name]
    fn(spark, sf_dir).count()
    s = best_time(lambda: fn(spark, sf_dir).count(), always_full=True)
    s_tiny = None
    if os.path.isdir(TINY_SF):
        try:
            fn(spark, TINY_SF).count()  # warm: plan compile/codegen
            t0 = time.perf_counter()
            fn(spark, TINY_SF).count()
            s_tiny = time.perf_counter() - t0
        except Exception:
            s_tiny = None
    if name in slow:
        d = slow[name]
        cells = (
            ("(pending)", f"{s:.3f}", "—",
             "DuckDB O(N²) brute-force oracle still being timed")
            if d is None
            else (f"{d:.1f}", f"{s:.3f}", f"{s / d:.3f}×",
                  "DuckDB side is the O(N²) brute-force oracle, timed once")
        )
    elif name in registry.ORACLES:
        sql = registry.ORACLES[name]
        d = best_time(lambda: con.execute(sql).fetchall())
        note = ""
        if d > 0 and s / d > 2.0 and s_tiny and s >= 3.0 * s_tiny:
            note = (
                f"TRIPWIRE: data-proportional (sf0.1 = {s / s_tiny:.1f}x "
                "sf0.001) and >2x DuckDB"
            )
        cells = (f"{d:.3f}", f"{s:.3f}", f"{s / d:.1f}×" if d > 0 else "—", note)
    else:
        cells = ("—", f"{s:.3f}", "—", "rows-only (no oracle)")
    print(f"{name:28s} duck={cells[0]:>7s} spark={cells[1]:>7s}", flush=True)
    return f"| `{name}` | " + " | ".join(cells) + " |"


def _seconds(cell: str) -> float | None:
    try:
        return float(cell)
    except ValueError:  # '—' or '(pending)'
        return None


def totals(rows: list[str]) -> list[str]:
    """The table's three totals lines, summed from its query rows: every
    timed cell; the sane-oracle subset (rows with both timings whose
    DuckDB side is not an O(N²) brute-force oracle); and the read-path
    subset (sane rows minus the write-path protocol faces)."""
    parsed = []
    for line in rows:
        cells = [c.strip() for c in line.split("|")[1:-1]]
        parsed.append((cells[0].strip("`"), _seconds(cells[1]), _seconds(cells[2])))
    both = [(n, d, s) for n, d, s in parsed if d is not None and s is not None]
    sane = [(n, d, s) for n, d, s in both if n not in SLOW]
    read = [(n, d, s) for n, d, s in sane if n not in WRITE_PATH_PROTOCOL]

    def line(label, duck, spark, note):
        ratio = spark / duck if duck else float("nan")
        return (
            f"| **{label}** | **{duck:.2f}** | **{spark:.2f}** | "
            f"**{ratio:.3g}×** | {note} |"
        )

    return [
        line(
            "total (oracled queries)",
            sum(d for _, d, _ in parsed if d is not None),
            sum(s for _, _, s in parsed if s is not None),
            f"per-query min of {N_RUNS} (symmetric); Spark includes "
            "~0.1-0.3 s/query fixed driver+scheduling overhead",
        ),
        line(
            "total (sane-oracle subset — excludes the O(N²) "
            "brute-force-oracle rows)",
            sum(d for _, d, _ in sane),
            sum(s for _, _, s in sane),
            "grows with every write-path protocol face added (family "
            "growth, not regression); see the read-path row for the "
            "committed headline",
        ),
        line(
            "total (read-path subset — additionally excludes the "
            f"{len(WRITE_PATH_PROTOCOL)} write-path protocol rows)",
            sum(d for _, d, _ in read),
            sum(s for _, _, s in read),
            "THE COMMITTED PLAN-QUALITY HEADLINE vs the 2× bar "
            "(BASELINE.md §2): every op whose oracle measures the same "
            "work; the excluded protocol faces run 3-5 real table commits "
            "against one-SELECT replay oracles (adjudicated category "
            "mismatch, VERDICT r7; flat across the 100× sweep)",
        ),
    ]


def main(args: list[str]) -> None:
    sf_dir = args.pop() if args and os.path.isdir(args[-1]) else "/root/testdata/sf0.1"
    registry.load_all()
    spark = get_spark("baseline")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # warm-up both engines, incl. each Python-worker pool (same set as
    # bench.py: plain UDF, Arrow/pandas, Python DataSource planning) so
    # first-touch process spawning doesn't land on one query's median
    warm_sf = TINY_SF if os.path.isdir(TINY_SF) else sf_dir
    for wname, wsf in (
        ("agg_groupby_basic", sf_dir),
        ("udf_python_scalar", warm_sf),
        ("udf_pandas_scalar", warm_sf),
        ("scan_python_datasource", warm_sf),
    ):
        registry.QUERIES[wname](spark, wsf).count()
    con.execute(registry.ORACLES["agg_groupby_basic"]).fetchall()

    slow: dict[str, float | None] = dict.fromkeys(SLOW)
    slow_path = os.path.join(REPO, "scripts", "slow_oracle_seconds.txt")
    if os.path.exists(slow_path):
        with open(slow_path) as f:
            for line in f:
                k, v = line.split()
                slow[k] = float(v)

    timed = {
        name: time_row(spark, con, name, sf_dir, slow)
        for name in args or sorted(registry.QUERIES)
    }
    spark.stop()
    path = os.path.join(REPO, "BASELINE.md")
    with open(path) as f:
        text = f.read()
    rows = {r.split("`")[1]: r for r in table_rows(text)} if args else {}
    rows.update(timed)

    body = [rows[k] for k in sorted(rows)]
    tot = totals(body)
    table = "\n".join(HEADER + body + tot)
    block = f"<!-- BASELINE_TABLE -->\n{table}\n<!-- /BASELINE_TABLE -->"
    with open(path, "w") as f:
        f.write(TABLE_RE.sub(lambda _: block, text))
    print("\n" + "\n".join(tot))
    tripped = [r.split("`")[1] for r in body if "| TRIPWIRE:" in r]
    if tripped:
        print("TRIPWIRE (>2x DuckDB on data-proportional queries):", ", ".join(tripped))
    else:
        print("TRIPWIRE: none — no data-proportional query exceeds 2x DuckDB")


if __name__ == "__main__":
    main(sys.argv[1:])
