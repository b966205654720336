"""Measure registered ops on a ``get_spark`` session, one subcommand per
question (guide §1: measure first). Every subcommand warms each op once
(first-touch pools, plan compile) and clears the cache between runs;
ops read ``SPARK_GRAFT_SF_DIR`` (default sf0.1).

Usage::

    python scripts/measure.py jobs OP [OP ...]
        exact Spark jobs and tasks per op, counted per job group by
        ``obs.measure`` — evidence the shared box's timing noise cannot
        fake. Prints JOBS {"op": n_jobs, ...} and TASKS {"op": n, ...}.
    python scripts/measure.py rows OP [OP ...]
        row identity per op: the md5 of the op's collected rows, sorted,
        as ROWS {"op": md5, ...}; two trees agree on an op exactly when
        their digests match.
    python scripts/measure.py timeline OP
        one row per job of a warm run, from the Spark event log: gap
        since the previous job, seconds, stages that ran and stages
        skipped, tasks (of the stages that ran: the column sums to
        ``jobs``' TASKS) and description (or call site), so a multi-job
        face is attributable job by job.
    python scripts/measure.py profile OP [TOP_N]
        cProfile of a warm run: the top TOP_N (default 35) functions of
        this package by cumulative time.
    python scripts/measure.py time ROUNDS OP [OP ...]
        per-op minimum over ROUNDS rounds, as RESULT {"op": s, ...}; run
        it in one process per checkout for a paired A/B of two trees.
    python scripts/measure.py ab A B OP [OP ...]
        per-op medians over 5 rounds with spark.sql.shuffle.partitions
        at A and at B, alternating which runs first every round.
"""

from __future__ import annotations

import cProfile
import hashlib
import json
import os
import pstats
import statistics
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from assignment4_spark import registry  # noqa: E402
from assignment4_spark.obs import job_timeline, measure  # noqa: E402
from assignment4_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
AB_ROUNDS = 5


def _session(name: str):
    registry.load_all()
    return get_spark(f"measure-{name}")


def _run(spark, op: str) -> None:
    registry.QUERIES[op](spark, SF).count()


def _timed(spark, op: str):
    """One measured run of ``op``, then a cleared cache for the next."""
    m = measure(spark, lambda: _run(spark, op))
    spark.catalog.clearCache()
    return m


def jobs(*ops: str) -> None:
    spark = _session("jobs")
    out: dict[str, int] = {}
    tasks: dict[str, int] = {}
    for op in ops:
        _timed(spark, op)  # warm
        m = _timed(spark, op)
        out[op], tasks[op] = m.jobs, m.tasks
    print("JOBS " + json.dumps(out))
    print("TASKS " + json.dumps(tasks))
    spark.stop()


def rows(*ops: str) -> None:
    spark = _session("rows")
    out: dict[str, str] = {}
    for op in ops:
        collected = registry.QUERIES[op](spark, SF).collect()
        text = "\n".join(sorted(repr(tuple(r)) for r in collected))
        out[op] = hashlib.md5(text.encode()).hexdigest()
        spark.catalog.clearCache()
    print("ROWS " + json.dumps(out))
    spark.stop()


def timeline(op: str) -> None:
    with tempfile.TemporaryDirectory(prefix="evlog_") as log_dir:
        # the event log is a launch-time conf: pass it to the JVM the
        # session is about to start, ahead of any caller-set arguments
        confs = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one plain file
        }
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [f"--conf {k}={v}" for k, v in confs.items()]
            + [os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")]
        )
        spark = _session("timeline")
        _timed(spark, op)  # warm
        m = _timed(spark, op)
        spark.stop()  # flushes the log
        paths = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        with open(max(paths, key=os.path.getmtime)) as fh:
            events = [json.loads(line) for line in fh]
    rows = job_timeline(events, m.job_ids)
    print(f"{'job':>4} {'gap':>7} {'sec':>7} {'stg':>3} {'skp':>3} {'tsk':>4}  desc")
    prev_end = None
    job_sec = gap_total = 0.0
    for j in rows:
        gap = 0.0 if prev_end is None else max(0.0, (j["start"] - prev_end) / 1000)
        sec = (j["end"] - j["start"]) / 1000
        prev_end = j["end"]
        gap_total += gap
        job_sec += sec
        print(f"{j['job']:>4} {gap:>7.3f} {sec:>7.3f} {j['stages']:>3} "
              f"{j['skipped']:>3} {j['tasks']:>4}  {j['desc'][:90]}")
    print(f"jobs={len(rows)} job_sec={job_sec:.2f} inter_job_gap={gap_total:.2f} "
          f"wall={m.seconds:.2f} (driver-only = wall - job_sec - gaps overlaps)")


def profile(op: str, top_n: str = "35") -> None:
    spark = _session("profile")
    _timed(spark, op)  # warm
    prof = cProfile.Profile()
    prof.runcall(_run, spark, op)
    st = pstats.Stats(prof, stream=sys.stdout)
    st.sort_stats("cumulative")
    # this package's frames only, so py4j noise doesn't drown the signal
    st.print_stats("assignment4_spark", int(top_n))
    spark.stop()


def time_ops(rounds: str, *ops: str) -> None:
    spark = _session("time")
    for op in ops:
        _timed(spark, op)  # warm
    best: dict[str, float] = {}
    for _ in range(int(rounds)):
        for op in ops:
            best[op] = min(best.get(op, 1e9), _timed(spark, op).seconds)
    print("RESULT " + json.dumps({k: round(v, 3) for k, v in best.items()}))
    spark.stop()


def ab(a: str, b: str, *ops: str) -> None:
    spark = _session("ab")
    # the warm run's first table() applies ensure_confs once; the
    # partition counts set below stick for the rest of the session
    for op in ops:
        _timed(spark, op)
    results = {op: {a: [], b: []} for op in ops}
    for r in range(AB_ROUNDS):
        for op in ops:
            # alternate the within-pair order every round: the first
            # run after clearCache pays cold file/status caches that
            # the second inherits — a fixed order silently biases the
            # comparison toward whichever variant runs second
            for val in (a, b) if r % 2 == 0 else (b, a):
                spark.conf.set("spark.sql.shuffle.partitions", val)
                results[op][val].append(_timed(spark, op).seconds)
    for op in ops:
        ma = statistics.median(results[op][a])
        mb = statistics.median(results[op][b])
        print(
            f"{op:35s} p={a}: {ma:6.2f}s  p={b}: {mb:6.2f}s  "
            f"ratio {ma / mb:5.2f}"
        )
    spark.stop()


COMMANDS = {
    "jobs": jobs,
    "rows": rows,
    "timeline": timeline,
    "profile": profile,
    "time": time_ops,
    "ab": ab,
}


def main(argv: list[str]) -> None:
    if not argv or argv[0] not in COMMANDS:
        raise SystemExit(__doc__)
    COMMANDS[argv[0]](*argv[1:])


if __name__ == "__main__":
    main(sys.argv[1:])
