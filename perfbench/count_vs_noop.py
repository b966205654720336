"""How much ``count()`` under-measures a face against the noop sink.

    python3 perfbench/count_vs_noop.py [FACE ...]

In one warmed session with the benchmark's launch environment, each
face runs once both ways untimed, then three times each way
alternately; prints the median milliseconds of each as a markdown table
row. ``count()`` lets Catalyst prune columns nothing reads, so work in
projected expressions (UDFs, hashing) drops out of the timing.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

DEFAULT_FACES = ["rag_embed_hash", "udf_pandas_scalar", "text_word_count", "sql_q6_forecast_revenue"]
REPS = 3


def main() -> None:
    harness.ensure_built()
    run_dir = harness.fresh_run_dir("count_vs_noop")
    harness.pin_environment(run_dir, None)
    from assignment4_spark import registry

    registry.load_all()
    harness.redirect_artifacts(run_dir)
    spark, _ = harness.start_session()
    try:
        harness.warm_up(spark, harness.DATA_DIR)
        print("| face | count() ms | noop ms | noop / count |")
        print("| --- | --- | --- | --- |")
        for name in sys.argv[1:] or DEFAULT_FACES:
            fn = registry.QUERIES[name]
            harness.noop(fn(spark, harness.DATA_DIR))
            fn(spark, harness.DATA_DIR).count()
            count_s, noop_s = [], []
            for _ in range(REPS):
                t0 = time.perf_counter()
                fn(spark, harness.DATA_DIR).count()
                count_s.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                harness.noop(fn(spark, harness.DATA_DIR))
                noop_s.append(time.perf_counter() - t0)
            c, n = statistics.median(count_s), statistics.median(noop_s)
            print(f"| `{name}` | {c * 1000:.0f} | {n * 1000:.0f} | {n / c:.1f}x |", flush=True)
    finally:
        harness.stop_session(spark)


if __name__ == "__main__":
    main()
