"""SparkSession builder (SURVEY.md §7 layout: engine/session.py).

Local-mode session tuned for the fixture scale; on a real cluster the
same settings (AQE on, UTC, Arrow) remain correct — only master/memory
change. Shuffle partitions are DERIVED from the session's core count
(~2× — guide §2.2), never a constant: a number tuned for one machine is
a scale bug in either direction (16 reducers on a 100 TB cluster
serializes every wide exchange; a cluster-sized constant on a laptop
drowns in empty tasks). AQE coalesces below the derived count at
runtime, so it is an upper hint, not a commitment.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

# Runtime-settable SQL confs we also force onto sessions we did not build
# (the driver passes its own SparkSession into queries()).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # INT64 micros instead of the legacy INT96: identical values at
    # Spark's microsecond precision, but INT96 chunks carry NO footer
    # min/max — the lakehouse commit path reads per-file stats straight
    # from the footers (guide §1.2: zero extra Spark jobs per commit),
    # which needs timestamp columns to actually have them.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


# Path count above which Spark launches a DISTRIBUTED job just to stat
# the input files ("Listing leaf files and directories for N paths").
# The default (32) is sized for object-store latency (~10-100 ms per
# stat); on a local filesystem a stat is ~10 µs, so the listing job's
# fixed cost (~0.1-0.4 s scheduling floor) can never win below ~10^4
# paths — yet every >32-file snapshot read pays it (a cluster-binned
# table holds up to n_buckets × cluster_bins files: 128 for 32 buckets
# × 4 bins). Applied to LOCAL masters only; a cluster deployment's own
# threshold stands.
_LISTING_THRESHOLD = "4096"


def _shuffle_partitions_for(cores: int) -> str:
    """Initial shuffle-partition count for a LOCAL session with
    ``cores`` threads: one reducer per core, floored at 16 (guide
    §2.2). Measured on the fixture (paired, order-alternated A/B):
    2× cores (64 at 32 threads) costs +3-4 s on every multi-action
    protocol op — dozens of tiny jobs each paying the task-launch
    floor, plus localCheckpoint'ed frames that pin the inflated count
    against AQE coalescing — while 1× cores is within noise of the old
    16-pin everywhere and lets reducer counts follow the session's
    size. Non-local masters are never touched (ensure_confs): a
    cluster deployment sizes its own reducers."""
    return str(max(cores, 16))


def get_spark(app_name: str = "assignment4_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        try:
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
        except ValueError:  # e.g. 'auto' — fall back, don't die pre-session
            cpus = 0
        cpus = cpus or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", _shuffle_partitions_for(cpus))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            _LISTING_THRESHOLD,
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Sessions already configured: ensure_confs is called from every table()
# read, and each conf.set is a py4j round-trip — thousands of no-op
# round-trips per bench suite otherwise. Nothing in this codebase unsets
# these confs, so once-per-session is sufficient. WeakSet so a stopped
# session doesn't leak.
_CONFS_APPLIED: weakref.WeakSet = weakref.WeakSet()


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-built session.

    The driver builds its own SparkSession; oracle parity requires UTC
    timestamps (FIXTURES.md §5) and sane shuffle parallelism.
    """
    if spark in _CONFS_APPLIED:
        return spark
    all_applied = True
    confs = dict(RUNTIME_CONFS)
    try:
        sc = spark.sparkContext
        if sc.master.startswith("local"):
            # derive from THIS session's core count (the driver benches
            # the same code at several --cpus values; a constant here
            # would make core count a non-binding resource for every
            # wide exchange). Off-local the deployment's own setting
            # stands — a library forcing a global reducer count onto a
            # shared cluster session would be the same bug inverted.
            confs["spark.sql.shuffle.partitions"] = _shuffle_partitions_for(
                sc.defaultParallelism
            )
            confs[
                "spark.sql.sources.parallelPartitionDiscovery.threshold"
            ] = _LISTING_THRESHOLD
    except Exception:
        all_applied = False
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception as ex:
            # CANNOT_MODIFY_CONFIG = genuinely static on this build —
            # skip permanently; anything else (transient py4j/Connect
            # hiccup) must NOT mark the session configured, or a failed
            # UTC set would silently shift every timestamp vs the
            # oracle for the rest of the session
            if "CANNOT_MODIFY" not in str(ex) and "Cannot modify" not in str(ex):
                all_applied = False
    if all_applied:
        _CONFS_APPLIED.add(spark)
    return spark
