"""Rebuild ``golden.json``: row count, digest and oracle verdict of
every face the workloads run.

    python3 perfbench/make_golden.py [FACE ...]   # all listed faces by default

For every face in ``workloads.FACES``, in one warmed session on the benchmark's own fixtures and launch
environment:

* ``rows``/``digest``: ``harness.digest`` of the result, taken twice, the
  second time after every other face has run; a face whose two digests
  differ keeps ``digest: null`` and is checked on its row count only.
* ``oracle``: ``pass``/``fail`` against the face's DuckDB oracle SQL from
  ``tests/oracle_harness.py``; ``none`` where it has none, ``skipped``
  where the result is too large to compare row by row, ``timeout`` where
  DuckDB takes too long. A face belongs in a workload only if it is
  marked ``pass``, ``none`` or ``skipped``.

Run this again whenever the fixtures or the face lists change; it takes
a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import sys
import threading

import duckdb

import harness
import workloads

GOLDEN = os.path.join(harness.BENCH_DIR, "golden.json")
ORACLE_MAX_ROWS = 50_000
ORACLE_TIMEOUT_S = 60


def oracle_verdict(con, spark_rows, sql: str) -> str:
    """``pass``/``fail`` against the DuckDB oracle, or ``timeout`` when
    DuckDB needs more than ORACLE_TIMEOUT_S for it."""
    from tests.oracle_harness import fetch_duckdb

    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return "pass" if spark_rows == fetch_duckdb(con, sql) else "fail"
    except duckdb.InterruptException:
        return "timeout"
    finally:
        timer.cancel()


def main() -> None:
    harness.ensure_built()
    sf = harness.DATA_DIR
    run_dir = harness.fresh_run_dir("golden")
    harness.pin_environment(run_dir, None)
    from assignment4_spark import registry

    sys.path.insert(0, harness.ROOT)
    from tests.oracle_harness import duckdb_connect, fetch_spark

    registry.load_all()
    harness.redirect_artifacts(run_dir)
    spark, _ = harness.start_session()
    harness.warm_up(spark, sf)
    con = duckdb_connect(sf)
    names = sys.argv[1:] or workloads.FACES
    faces: dict[str, dict] = {}
    for name in names:
        fn = registry.QUERIES[name]
        print(f"{name} ...", file=sys.stderr, flush=True)
        entry = {"module": workloads.module_of(fn)}
        faces[name] = entry
        try:
            entry["rows"], entry["digest"] = harness.digest(fn(spark, sf))
        except Exception as ex:  # record and keep going: one face must not stop the file
            entry["error"] = repr(ex)[:300]
            print(f"{name}: FAILED {ex!r}"[:300], file=sys.stderr)
            continue
        entry["oracle"] = "none"
        if name in registry.ORACLES:
            if entry["rows"] > ORACLE_MAX_ROWS:
                entry["oracle"] = "skipped"
            else:
                entry["oracle"] = oracle_verdict(con, fetch_spark(fn(spark, sf)), registry.ORACLES[name])
        spark.catalog.clearCache()
        print(name, entry, file=sys.stderr, flush=True)
    for name in reversed(names):
        entry = faces[name]
        if "digest" in entry:
            again = harness.digest(registry.QUERIES[name](spark, sf))
            if again != (entry["rows"], entry["digest"]):
                print(f"{name}: digest not stable {again}", file=sys.stderr)
                entry["digest"] = None
    harness.stop_session(spark)
    import fixtures

    with open(GOLDEN, "w") as f:
        json.dump(
            {"fixtures": fixtures.fingerprint(sf), "cpus": harness.cpus(), "faces": faces},
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")


if __name__ == "__main__":
    main()
