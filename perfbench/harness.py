"""Launch environment, Spark session lifetime and output digests shared
by ``run.py``, ``build.py`` and the helper scripts.

Everything a run reads or writes stays inside the checkout: fixtures,
class archive and initial lakehouse table under ``perfbench/.data``
(``build.py``), one scratch tree per run under
``perfbench/.work`` (emptied at start, so every run starts from the same
on-disk state), results under ``perfbench/results``. The product is
reached only through its public faces; the one thing set from outside
is where it keeps derived artifacts (``scans.ARTIFACT_ROOT``,
``stream_impl.SCRATCH``), which
would otherwise be shared across processes in ``/tmp`` and let a second
run skip work the first one paid for.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, ".data", "sf0.1")
# JVM class-data-sharing archive of the classes a run loads, dumped once
# per checkout by build.py. Loading Spark's classes from it instead of
# from ~250 jars cuts the JVM launch and first job of a session from
# ~23 s to ~8 s on 4 cores; JIT, GC and execution are unchanged.
CLASS_ARCHIVE = os.path.join(BENCH_DIR, ".data", "spark-classes.jsa")
# The archive refuses a classpath with a non-empty directory on it, and
# Spark puts its conf dir there; the install's conf dir holds only
# templates, so an empty one loads the same settings.
CONF_DIR = os.path.join(BENCH_DIR, ".data", "conf")
WORK_DIR = os.path.join(BENCH_DIR, ".work")
RESULTS_DIR = os.path.join(BENCH_DIR, "results")
# get_spark defaults to a 48g heap; the benchmark box has 15 GB shared
# with other tenants, and nothing at sf0.1 needs more than a few GB.
DRIVER_MEMORY = "4g"


def cpus() -> int:
    """Spark task slots: one fewer than the CPUs this process may use, so
    the driver, JIT and GC threads and the Python workers have a core
    and do not preempt tasks. On 4 cores the faces' fastest calls
    varied 6% across quiet runs this way and 15% with a slot per core."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def ensure_fixtures() -> str:
    """Write the input tables once per checkout (they depend on no run
    argument); later runs reuse them."""
    import fixtures

    if not os.path.isfile(os.path.join(DATA_DIR, "embeddings.parquet")):
        fixtures.write_tables(DATA_DIR)
    return DATA_DIR


def pin_environment(run_dir: str, event_log_dir: str | None, dump_classes: bool = False) -> dict:
    """Set the environment the JVM, the Python workers and the product
    read at launch. Returns the pinned values for the result record.
    ``dump_classes`` makes the JVM write CLASS_ARCHIVE when it exits
    instead of reading it."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.makedirs(CONF_DIR, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    submit = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    archive = "ArchiveClassesAtExit" if dump_classes else "SharedArchiveFile"
    # A heap fixed at its maximum from the start. Left to grow, it was
    # sized differently from run to run: faces ops_per_s spread 0.20
    # (quartile distance over median) over ten quiet runs on 4 cores,
    # and 0.08 over six with the heap fixed.
    java_opts = f"-XX:{archive}={CLASS_ARCHIVE} -Xms{DRIVER_MEMORY}"
    submit += f" --driver-java-options '{java_opts}'"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_CONF_DIR": CONF_DIR,
        "TMPDIR": tmp,
        # JVM scratch (and no hsperfdata file under /tmp)
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the product (UDFs, Python data sources)
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return env


def ensure_built() -> None:
    """Build what every run of this checkout shares (fixtures, class
    archive, initial lakehouse table) if any of it is missing, in a
    child process so the measured session starts as cold as in every
    other run."""
    import lakehouse

    ensure_fixtures()
    if os.path.isfile(CLASS_ARCHIVE) and os.path.isdir(lakehouse.pristine_dir()):
        return
    build = os.path.join(BENCH_DIR, "build.py")
    # the JVM logs archive warnings to stdout, which must end with the result line
    subprocess.run([sys.executable, build], check=True, stdout=sys.stderr)


def fresh_run_dir(name: str) -> str:
    """Empty the run's scratch tree, then flush dirty pages (a previous
    run's table writes) so their write-back does not land in this run's
    measured region."""
    run_dir = os.path.join(WORK_DIR, name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.sync()
    return run_dir


def redirect_artifacts(run_dir: str) -> None:
    from assignment4_spark.operators import scans
    from assignment4_spark.streaming import stream_impl

    scans.ARTIFACT_ROOT = os.path.join(run_dir, "artifacts")
    stream_impl.SCRATCH = os.path.join(run_dir, "stream")


def start_session():
    """One product session (``get_spark``) and a first shuffle job on
    it, timed together."""
    from assignment4_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    noop(spark.range(200_000).selectExpr("id % 97 AS k").groupBy("k").count())
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=120)  # a JVM dumping its class archive takes a while
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def warm_up(spark, sf_dir: str, python_workers: bool = True) -> float:
    """Engine warm-up outside any measured op: a parquet scan with a
    join and an aggregate (the first scan of a session costs seconds),
    then, for workloads that use them, one plain and one Arrow Python
    worker (so does the first use of each pool). Returns its wall
    time."""
    import pandas as pd
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    noop(
        orders.filter("o_totalprice > 1000")
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum("o_totalprice"))
    )
    spark.createDataFrame(pd.DataFrame({"x": [1, 2]})).collect()
    if python_workers:
        plus_one = F.udf(lambda x: x + 1, "long")
        noop(spark.range(100).select(plus_one("id")))
        plus_two = F.pandas_udf(lambda s: s + 2, "long")
        noop(spark.range(100).select(plus_two("id")))
    return time.perf_counter() - t0


def noop(df) -> None:
    """Materialize every row and column without keeping them: the noop
    sink forces the whole plan, where ``count()`` would let Catalyst
    prune projected work."""
    df.write.format("noop").mode("overwrite").save()


def _canon_col(field):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    c = F.col(f"`{field.name}`")
    t = field.dataType
    if isinstance(t, (T.DoubleType, T.FloatType)):
        return F.round(c.cast("double"), 4)
    if isinstance(t, T.ArrayType) and isinstance(t.elementType, (T.DoubleType, T.FloatType)):
        return F.transform(c, lambda x: F.round(x.cast("double"), 4))
    if isinstance(t, T.MapType):
        return F.array_sort(F.map_entries(c))
    return c


def digest(df) -> tuple[int, str]:
    """Row count and an order-insensitive digest: the sum of per-row
    xxhash64 over every column, floats rounded to 4 places so
    partial-aggregation order cannot change it."""
    from pyspark.sql import functions as F

    cols = [_canon_col(f) for f in df.schema.fields]
    h = F.xxhash64(*cols) if cols else F.lit(0)
    row = df.select(h.cast("decimal(20,0)").alias("h")).agg(
        F.count(F.lit(1)), F.sum("h")
    ).first()
    return int(row[0]), str(row[1] if row[1] is not None else 0)


def source_digest() -> str:
    """sha256 over the product's Python sources: names the code that was
    measured when the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "assignment4_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_rev() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"
