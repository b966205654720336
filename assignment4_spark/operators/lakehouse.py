"""MERGE INTO with snapshot-isolated optimistic concurrency (SURVEY.md
§2 B.1 lake-maintenance family).

Reference provenance: A13's per-vector Pinecone upsert
(parser_pinecone_storage.py:154) has no transactional story at all —
concurrent writers interleave per-record and a reader mid-upsert sees a
torn index. This module supplies the correctness property the reference
silently lacks, composed from two already-proven pieces:

* the bucket-pruned latest-wins rewrite of ``vec_upsert_merge``
  (vectors.py: only buckets containing updated keys are rewritten);
* the immutable-manifest snapshot commits of
  ``scan_snapshot_time_travel`` (scans.py: a version is an immutable
  JSON naming its complete file set; readers pin a version and can
  never be torn by a concurrent commit).

The missing third piece — what Delta/Iceberg add on top — is the
**optimistic-concurrency commit loop**, implemented once in
``_transact`` and shared by every commit face except init and clone:

1. pin the latest manifest (version N);
2. plan the touched buckets from the UPDATE batch's keys and read ONLY
   those buckets' files out of manifest N (file-level pruning — the
   untouched ~(B-t)/B of a 100 TB table is never opened);
3. write the merged touched buckets as NEW files under a
   commit-private directory (shared files are never mutated);
4. publish manifest N+1 = (manifest N's untouched-bucket files) +
   (the new touched-bucket files) via an atomic compare-and-swap;
5. if the CAS loses (another writer already published N+1), re-pin,
   re-plan, re-merge against the winner's state, and retry — the loser
   re-reads the winner's rows, so the final state is the SERIAL result
   of both merges in commit order (true snapshot-isolated MERGE, not
   last-writer-wins clobbering).

The CAS primitive is ``os.link(tmp, vN.json)``: hard-link creation is
atomic and fails with EEXIST if the destination exists, and the
manifest becomes visible only as a complete file (readers never observe
a partial write). On a production object store the same step is an S3
conditional PUT (If-None-Match) or a metastore/DynamoDB CAS — one
swapped function, identical protocol.

Scale shape: a commit costs O(touched buckets) data I/O + one manifest
write; conflict retries re-do only the touched-bucket merge; readers
plan from a manifest listing (no directory-listing race) and pruning /
compaction publish new manifests without disturbing pinned readers.
Bucket count B tunes the rewrite granularity exactly as in
``vec_upsert_merge`` — at 100 TB you size B so a bucket ≈ a few GB and
a point-update commit rewrites thousandths of the table.
"""

from __future__ import annotations

import base64
import json
import os
import threading
import time
import uuid
import weakref
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io_util import table
from ..registry import register


# reserved tombstone marker column (delete support): a row whose
# _deleted is true participates in latest-wins like any row — winning
# hides the key from the default read — and is RETAINED in the bucket
# files until compact_tombstones, so a late-arriving lower-version
# update cannot resurrect a deleted key (the same reason Delta keeps
# deletion markers for a retention window)
TOMBSTONE_COL = "_deleted"

# reserved quarantine reason column (write-side expectations gate): a
# batch row that fails one or more of a merge's declared expectations
# is diverted to the commit's quarantine side table with the sorted,
# comma-joined names of the failed expectations here — never into the
# bucket files (the Delta CHECK-constraint story, but quarantine-not-
# abort so one bad row cannot wedge an ingestion pipeline)
QUARANTINE_REASON_COL = "_violation"

# safe automatic type widenings under evolve_schema=True — value-
# preserving upcasts only, the same lattice Delta's mergeSchema allows;
# anything else (narrowing, string↔numeric, timestamp changes) must be
# an explicit re-init because it can silently lose data
_WIDEN_CHAIN = {
    "tinyint": ("smallint", "int", "bigint"),
    "smallint": ("int", "bigint"),
    "int": ("bigint",),
    "float": ("double",),
}


def _can_widen(old: str, new: str) -> bool:
    return new in _WIDEN_CHAIN.get(old, ())


# column names the merge machinery derives internally: 'bucket' is the
# partition column every commit write computes (withColumn would
# silently overwrite a same-named user column with the derived bucket
# id, and reads would project it back as NULL — silent data loss),
# 'rn' is the latest-wins window rank (dropped before write). The
# strict no-evolution gate makes a collision unreachable; evolution
# must reject it explicitly.
_RESERVED_INTERNAL = ("bucket", "rn")


def _resolve_evolved_schema(
    expected: list, expected_types: dict, updates: DataFrame, key_col: str
) -> tuple[list, dict]:
    """Next-manifest (columns, column_types) under safe evolution:
    new update columns append (old rows read as NULL); common columns
    may widen along _WIDEN_CHAIN in either direction (the wider type
    wins — a narrower update column upcasts losslessly); the KEY column
    may never change type, because the bucket is pmod(xxhash64(key), B)
    and xxhash64 hashes by physical type — a widened key would
    re-bucket and leave two live rows for one logical key."""
    got_types = _column_types(updates)
    clashes = [
        c
        for c in updates.columns
        if c not in expected and c in _RESERVED_INTERNAL
    ]
    if clashes:
        raise ValueError(
            f"update columns {clashes} collide with internal merge "
            f"columns {_RESERVED_INTERNAL}: the derived bucket id would "
            "silently overwrite the user data before the partitioned "
            "write; rename the column"
        )
    columns = list(expected) + [c for c in updates.columns if c not in expected]
    types = dict(expected_types)
    for c, t in got_types.items():
        old = types.get(c)
        if old is None:
            types[c] = t
        elif old == t:
            continue
        elif c == key_col:
            raise ValueError(
                f"key column {c!r} may not change type ({old} -> {t}): the "
                "derived bucket hashes the physical type, so a widened key "
                "re-buckets existing rows; re-init the table instead"
            )
        elif _can_widen(old, t):
            types[c] = t
        elif _can_widen(t, old):
            pass  # update column upcasts to the table's wider type
        else:
            raise ValueError(
                f"column {c!r} type change {old} -> {t} is not a safe "
                f"widening ({_WIDEN_CHAIN.get(old, ())}); re-init the table"
            )
    return columns, types


def _ddl(columns: list, column_types: dict) -> str:
    """Spark DDL schema string of ``columns`` at ``column_types``."""
    return ", ".join(f"`{c}` {column_types[c]}" for c in columns)


# Per-session PLAN-OBJECT memo for parquet relations: the
# replace/delete/changes faces plan the SAME pinned snapshot 3-5x per
# invocation, and each relation creation pays a driver-side file
# listing + analysis round (profiled ~30% of merge_delete_where). Never
# result caching: the value is an UNEXECUTED DataFrame plan; every
# action still scans the parquet inputs. The key — exact file tuple +
# schema DDL — can only ever name one byte content: committed files
# are immutable under the protocol (commits add files; only vacuum
# deletes) and every staging path ends in a uuid4 suffix
# (_staging_path), so a rebuilt table never reuses a path. A vacuumed
# file is caught by the os.path.exists revalidation on hit, which
# re-creates the relation so PATH_NOT_FOUND surfaces at construction
# exactly as before. LRU-bounded per session; the session key is weak
# so a stopped session's plans are collectable.
_REL_CACHE: "weakref.WeakKeyDictionary[SparkSession, OrderedDict]" = (
    weakref.WeakKeyDictionary()
)
_REL_CACHE_LOCK = threading.Lock()
_REL_CACHE_MAX = 64


def _read_parquet(spark: SparkSession, files: list, ddl: str) -> DataFrame:
    """The module's one parquet read: ``files`` under the explicit
    schema ``ddl``, so no schema-inference job runs. The schema comes
    from the manifest (or from the step that wrote the files), never
    from the files: columns bind by name, case-insensitively; a
    physical column narrower along _WIDEN_CHAIN than its DDL type
    (a pre-widening file) reads widened; a column the file lacks (a
    pre-evolution file) reads as NULL. A physical type that is not a
    widening of its DDL type fails at scan — only a file written
    outside this module can hold one. Relations are memoized per
    (session, schema, files); see _REL_CACHE above."""
    files = sorted(files)
    key = (ddl, tuple(files))
    with _REL_CACHE_LOCK:
        cache = _REL_CACHE.setdefault(spark, OrderedDict())
        hit = cache.get(key)
        if hit is not None:
            if all(os.path.exists(f) for f in files):
                cache.move_to_end(key)
                return hit
            del cache[key]  # vacuumed file: fall through, fail fresh
    rel = spark.read.schema(ddl).parquet(*files)
    with _REL_CACHE_LOCK:
        cache = _REL_CACHE.setdefault(spark, OrderedDict())
        cache[key] = rel
        cache.move_to_end(key)
        while len(cache) > _REL_CACHE_MAX:
            cache.popitem(last=False)
    return rel


def _dead_columns(
    manifest: dict, files: list, column_epochs: dict | None = None
) -> dict[str, frozenset]:
    """The column-epoch rule, the one copy every reader uses: a column
    (re-)born at version R (DROP COLUMN + re-add) reads as NULL from
    any file born before R. Such a file may still physically carry
    same-named bytes from the dropped incarnation; they are the OLD
    epoch's values (Delta column mapping reads by field id for the
    same reason). Returns ``{file: dead columns}`` for the files with
    any. Never-evolved tables (every epoch 1) return nothing without a
    birth-version lookup: every committed file is born at v1 or later.

    The epochs are ``manifest``'s unless ``column_epochs`` overrides
    them (a merge's next epochs, the change feed's v_to epochs); birth
    versions are always ``manifest``'s ``file_versions`` records,
    never directory names, which a rename would silently invalidate
    (re-opening the stale-byte-resurrection class the protocol fuzz
    caught): an evolved table with no record for a file raises
    ValueError."""
    epochs = (
        manifest["column_epochs"] if column_epochs is None else column_epochs
    )
    if not any(v > 1 for v in epochs.values()):
        return {}
    born = manifest["file_versions"]
    out = {}
    for f in files:
        if f not in born:
            raise ValueError(
                "column-epoch read needs the manifest's per-file birth "
                f"versions, but {f!r} has no file_versions entry — "
                "refusing to trust physical bytes on an epoch-evolved "
                "table"
            )
        dead = frozenset(c for c, v in epochs.items() if v > born[f])
        if dead:
            out[f] = dead
    return out


def _read_files_aligned(
    spark: SparkSession,
    files: list,
    columns: list,
    column_types: dict,
    dead: dict[str, frozenset] | None = None,
    carry_positions: bool = False,
) -> DataFrame:
    """Read manifest files aligned to the manifest's LOGICAL schema
    (``columns`` at ``column_types``), which is the read's only schema
    source (_read_parquet: a pre-evolution file's missing columns read
    as NULL, its narrower widened types read widened). Columns
    ``dead`` (``_dead_columns``) names for a file read as NULL from it:
    files group by their dead-column set, each group is one read of
    its live columns with the dead ones projected as typed NULLs, and
    the groups union. A read with no dead column is one relation over
    every file, returned as is unless ``carry_positions`` adds the
    native parquet (file, row index) columns — what makes positional
    deletion vectors possible without any per-file sort."""
    dead = dead or {}
    if not dead and not carry_positions:
        return _read_parquet(spark, files, _ddl(columns, column_types))
    groups: dict[frozenset, list] = {}
    for f in files:
        groups.setdefault(dead.get(f, frozenset()), []).append(f)
    pos = []
    if carry_positions:
        # Spark's _metadata hidden struct; the scheme prefix is
        # stripped so write- and read-side paths compare equal
        pos = [
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:", ""
            ).alias(DV_FILE_COL),
            F.col("_metadata.row_index").alias(DV_POS_COL),
        ]
    out = None
    for gdead, fs in sorted(groups.items(), key=lambda g: sorted(g[0])):
        live = [c for c in columns if c not in gdead]
        df = _read_parquet(spark, fs, _ddl(live, column_types)).select(
            *[
                F.col(c) if c not in gdead
                else F.lit(None).cast(column_types[c]).alias(c)
                for c in columns
            ],
            *pos,
        )
        out = df if out is None else out.unionByName(df)
    return out


def _bucket_of(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def _staging_path(base_dir: str, prefix: str, version: int,
                  writer_id: str) -> str:
    """ATTEMPT-PRIVATE staging directory name, shared by every commit
    path that writes files (init, and every ``_transact`` face through
    its ``stage(prefix)``: merge + quarantine, compact, optimize and
    its coalesced sidecars, MOR/DV deletes, replaceWhere, rebucket):
    ``{prefix}_v{version}_{writer_id}_{uuid4 hex}``. writer_id is
    identity/debugging only, never a safety requirement. A
    deterministic name is NOT enough: a published commit directory
    keeps living under its staging name (the manifest references files
    inside it), so a LATER attempt that pins a STALE manifest (vacuum
    race, missed CAS) recomputes the same next_version and — with a
    colliding name — would mode(overwrite)/rmtree the LIVE v{N}
    directory (measured: the vacuum-race test deleted v2's published
    files this way before names were unique per attempt). The random
    suffix makes every attempt's staging unique across threads and
    processes, so cleanup can only ever touch its own files; its
    fixed width keeps manifest bytes independent of pid and thread id
    digit counts."""
    return os.path.join(
        base_dir, f"{prefix}_v{version}_{writer_id}_{uuid.uuid4().hex}"
    )


def _write_clustered(
    df: DataFrame,
    staging: str,
    key_col: str | None,
    salt: int,
    n_buckets: int,
    cluster_col: str | None = None,
    cluster_bins: int = 4,
    latest_wins: tuple[str, str] | None = None,
    bounds: tuple | None = None,
) -> None:
    """The commit write of ``_stage_rewrite`` (every face that rewrites
    buckets: init / merge / compact / optimize / replaceWhere /
    rebucket): route every row to its write task BEFORE
    the ``partitionBy("bucket")`` sink. Without routing every upstream
    task opens a writer per bucket it holds — O(tasks × buckets) small
    files per commit (measured: 32-task local runs left 20-30 files in
    a single bucket), the classic lakehouse file explosion; routed, the
    commit leaves O(buckets) files and every later bucket-pruned read
    opens proportionally fewer footers.

    Routing is exact, not hashed (``repartitionById``, see
    ``_route_slots``): each row gets a SLOT ``sub * n_buckets +
    bucket``, and contiguous runs of ``chunk = min(n_buckets,
    ceil(slots / defaultParallelism))`` slots go to one task, so the
    write runs ``max(defaultParallelism, n_subs)`` tasks at most
    (``n_subs`` sub-slots per bucket). ``chunk <= n_buckets`` means no
    task ever holds two sub-slots of one bucket, so the sink writes
    exactly one file per non-empty (bucket, sub-slot).

    ``salt > 1`` is the hot-bucket escape hatch: once one bucket's
    incoming rows outgrow what a single task should absorb (a skewed
    update batch hammering one key range), a bucket-only sub-slot
    serializes that bucket's write through one task. The sub-slot
    pmod(xxhash64(key), salt) spreads it over ``salt`` tasks while
    keeping the commit's file count bounded at O(buckets × salt) — a
    deliberate, bounded trade of files for write parallelism (callers
    size it ≈ ceil(hot-bucket rows / rows a task should write); the
    salt is derived from the KEY, so it is deterministic and
    replay-stable, never round-robin).

    ``cluster_col`` (zorder-lite, set table-wide at init and
    maintained by every commit path) range-bins each bucket's rows by
    the column's value — ``width_bucket`` over a (min, max) that
    covers every written row, the ``hi`` edge folded into the last
    bin, NULLs in one extra bin — and sorts rows within, so every file
    covers a VALUE SLICE of the cluster column and the manifest's
    per-file (min, max) stats give range reads real file-level
    skipping (a hash bucket's single file otherwise spans the full
    value range and no secondary-column stat can ever prune it). A commit leaves at most
    ``cluster_bins`` files per bucket, plus one for NULLs; the bin term
    already restores intra-bucket write parallelism, so cluster_col
    supersedes salt when both are set. Uniform bins are the 'lite'
    part — Delta's OPTIMIZE ZORDER uses range partitioning over
    sampled quantiles; at fixture scale uniform slices skip just as
    provably.

    The (min, max, has-NULL) triple is ``bounds`` when the caller has
    it from metadata (``_cluster_bounds``): the union of the read
    files' manifest ``column_stats`` and, for a merge, the batch's own
    per-bucket triples from its bucket probe. Latest-wins, MOR/DV application and
    tombstone compaction only REMOVE rows, so that union spans a
    superset of the written rows' range — bins may widen, never miss a
    row, and the file bound holds by construction (a NULL bin no row
    lands in writes no file). ``_cluster_bounds`` refuses (the bounds
    job over ``df`` runs instead) when a read file has no stats entry
    for the column or the column is dead in it (``_dead_columns``, or
    that rule raises); the merge also refuses when it skipped the probe
    (``bucket_hint``), patches columns (``patch_cols``: carried and
    NULL-filled values appear only after the probe) or clusters on its
    identity column (minted ids appear after the probe). init and
    replaceWhere always run the job.

    ``latest_wins=(ver_col, tiebreak_col)`` keeps one row per key, the
    highest ``ver_col`` (ties to the lowest ``tiebreak_col``). On the
    plain and salted paths the window FUSES into the routed write's
    own exchange (guide §2.4 — two operations keyed the same way share
    one exchange): the slot is a pure function of the key (bucket =
    pmod(xxhash64(key), B), salt likewise), so routing already
    co-locates every row of a key, and a window PARTITION BY (bucket,
    task, key) ORDER BY (ver DESC, tiebreak) needs NO second shuffle
    on top of it — Catalyst proves the routed exchange satisfies a
    ClusteredDistribution that contains the task expression. The
    unfused form (window by key, then route) shuffles the merged data
    TWICE; at 100 TB that is a full extra network pass of every
    commit's bytes. The winner is identical by construction: within a
    key, PARTITION BY key and PARTITION BY (bucket, task, key) define
    the same groups. Under ``cluster_col`` a key's rows can land in
    different range bins, so the window runs by key BEFORE routing
    (and before the bin-bounds job, if one runs).

    The write runs with AQE off (restored after, see
    ``_aqe_off_enter``): the partitioning is fully pinned — rows
    routed to exact task ids feeding a ``partitionBy(bucket)`` sink —
    so adaptive re-planning has nothing to decide, and AQE cannot
    coalesce a ``repartitionById`` exchange anyway (pyspark 4.1.2:
    with AQE on the same routed write still runs every task and adds
    a job), while its per-exchange stage-materialization barrier costs
    a driver re-optimization round per commit (measured paired on
    merge_upsert at sf0.1: ~0.25 s per commit write, ~20% of the
    op)."""
    spark = df.sparkSession
    _aqe_off_enter(spark)
    try:
        (
            _route_slots(
                df, key_col, salt, n_buckets, cluster_col, cluster_bins,
                latest_wins, bounds,
            )
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(staging)
        )
    finally:
        _aqe_off_exit(spark)


# Depth-counted AQE toggle: concurrent commit writers (the session conf
# is session-global, and the two-writer CAS fuzz really does overlap
# writes on threads) must not capture each other's 'false' as the value
# to restore — a naive per-call save/restore interleaving leaves AQE
# permanently off for the whole session (caught by the full suite: the
# threaded fuzz ran before the plan gates and test_whole_stage_codegen_
# covers_flagship then saw a non-adaptive flagship plan). Only the
# OUTERMOST writer captures and restores; nested/overlapping writers
# just bump the depth. An unrelated query planned while a commit write
# is in flight sees AQE off — a performance-only effect, never a
# correctness one.
_AQE_LOCK = threading.Lock()
_AQE_STATE: dict[int, list] = {}  # id(session) -> [depth, prev_value]


def _aqe_off_enter(spark: SparkSession) -> None:
    with _AQE_LOCK:
        st = _AQE_STATE.get(id(spark))
        if st is not None:
            st[0] += 1
            return
        try:
            prev = spark.conf.get("spark.sql.adaptive.enabled")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        except Exception:
            prev = None
        _AQE_STATE[id(spark)] = [1, prev]


def _aqe_off_exit(spark: SparkSession) -> None:
    with _AQE_LOCK:
        st = _AQE_STATE.get(id(spark))
        if st is None:
            return
        st[0] -= 1
        if st[0] > 0:
            return
        del _AQE_STATE[id(spark)]
        if st[1] is not None:
            try:
                spark.conf.set("spark.sql.adaptive.enabled", st[1])
            except Exception:
                pass


def _route_slots(
    df: DataFrame,
    key_col: str | None,
    salt: int,
    n_buckets: int,
    cluster_col: str | None,
    cluster_bins: int,
    latest_wins: tuple[str, str] | None = None,
    bounds: tuple | None = None,
) -> DataFrame:
    """The commit write's input routed to its write tasks (the rule is
    in _write_clustered's docstring): slot ``sub * n_buckets +
    bucket``, task ``slot // chunk``. ``sub`` is the range bin under
    ``cluster_col``, the key's salt when ``salt > 1``, else 0.

    The range bins' edges are ``bounds = (lo, hi, has_null)`` when the
    caller derived them from manifest stats (``_cluster_bounds``), else
    one job over ``df`` before the write plans."""
    if cluster_col is not None:
        if latest_wins is not None:
            # a key's rows span range bins: pick the winner first
            df = _fused_latest_wins(df, [F.col(key_col)], latest_wins)
            latest_wins = None
        c = F.col(cluster_col)
        if bounds is None:
            # the fallback re-runs df's whole lineage (the rewrite's
            # base read and latest-wins window) once before the write
            # runs it again
            r = df.agg(
                F.min(c).alias("lo"), F.max(c).alias("hi"),
                (F.count(F.lit(1)) > F.count(c)).alias("has_null"),
            ).first()
            bounds = (r.lo, r.hi, r.has_null)
        lo, hi, has_null = bounds
        bins = 1 if lo is None or lo == hi else cluster_bins
        if bins == 1:
            value_bin = F.lit(0)
        else:
            # width_bucket puts v == hi into bin bins + 1; least folds
            # that edge into the last bin
            value_bin = F.least(
                F.width_bucket(
                    c.cast("double"), F.lit(float(lo)), F.lit(float(hi)),
                    F.lit(bins),
                ),
                F.lit(bins),
            ) - 1
        sub = F.when(c.isNull(), F.lit(bins)).otherwise(value_bin)
        n_subs = bins + int(has_null)
    else:
        if salt > 1 and key_col is None:
            raise ValueError("salted clustered write requires key_col")
        # the extra literal DE-CORRELATES the salt hash from the
        # bucket hash: bucket = pmod(xxhash64(key), B), so
        # pmod(xxhash64(key), salt) would be constant within a bucket
        # whenever salt | B — exactly the hot-bucket case the salt
        # exists for
        n_subs = salt
        sub = (
            F.pmod(F.xxhash64(F.col(key_col), F.lit("salt")), F.lit(salt))
            if salt > 1
            else F.lit(0)
        )
    n_slots = n_subs * n_buckets
    task_slots = df.sparkSession.sparkContext.defaultParallelism
    chunk = min(n_buckets, -(-n_slots // task_slots))
    task = ((sub * n_buckets + F.col("bucket")) / chunk).cast("int")
    routed = df.repartitionById(-(-n_slots // chunk), task)
    if latest_wins is not None:
        # bucket leads so the window's sort also satisfies the sink's
        # partitionBy(bucket) ordering (no second sort)
        routed = _fused_latest_wins(
            routed, [F.col("bucket"), task, F.col(key_col)], latest_wins
        )
    if cluster_col is not None:
        routed = routed.sortWithinPartitions("bucket", cluster_col)
    return routed


def _fused_latest_wins(
    df: DataFrame,
    partition_cols: list,
    latest_wins: tuple[str, str],
) -> DataFrame:
    """Per-key latest-wins winner selection, one row per
    ``partition_cols`` group: ON TOP of the routed exchange on the
    plain and salted paths (one shuffle total — see _write_clustered's
    docstring for why (bucket, task, key) groups equal key groups),
    by key before routing under ``cluster_col``."""
    ver_col, tiebreak_col = latest_wins
    w = Window.partitionBy(*partition_cols).orderBy(
        F.col(ver_col).desc(), F.col(tiebreak_col)
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# numeric-only cluster columns: their column_stats (min, max) survive a
# JSON manifest roundtrip and compare with plain <= at plan time
_CLUSTERABLE = ("tinyint", "smallint", "int", "bigint", "float", "double")


# Column types whose per-file (min, max) survive a JSON manifest
# roundtrip AND compare correctly with plain </> after it: numerics
# as-is; dates as fixed-width ISO strings; timestamps as ISO strings
# (a prefix sorts before its extensions, so second-precision probes
# compare correctly against microsecond stats); plain strings
# lexicographically. Decimals are EXCLUDED — a float()-coerced
# min/max could round past a boundary value and wrongly skip a file.
_COLUMN_STATS_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "date", "timestamp", "timestamp_ntz", "string",
)


def _json_stat(v):
    """JSON-safe stat value (see _COLUMN_STATS_TYPES for the compare
    contract each conversion preserves)."""
    import datetime

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def _py_stat(v):
    """Align a pyarrow footer stat with what the Spark aggregation pass
    returns: Spark hands back session-UTC *naive* datetimes, pyarrow
    hands back tz-aware UTC ones (isAdjustedToUTC micros) — normalize
    so the two stats sources are byte-identical in the manifest."""
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _footer_column_stats(
    files: list[str], cols: list[str]
) -> tuple[dict[str, dict[str, list]], set[str]]:
    """Per-file [min, max, null_count] for ``cols`` read straight from
    the parquet FOOTERS — O(files) driver-side metadata reads, ZERO
    Spark jobs (guide §1.2: the distributed pass this replaces re-read
    every staged byte and paid a job-scheduling round per commit; the
    numbers it produced were already sitting in the footers the write
    had just sealed — the same stats source Iceberg's commit path
    uses). Returns (stats, fallback_cols): parquet-java OMITS binary
    min/max when a value exceeds ~2 KiB (combined 4 KiB footer cap), so
    any column where some footer has non-null rows but no min/max goes
    into ``fallback_cols`` for the caller to re-derive distributed —
    the manifest must be byte-identical to the aggregation pass, never
    merely conservative, because declared ops surface skipped-file
    counts."""
    import pyarrow.parquet as pq

    want = set(cols)
    out: dict[str, dict[str, list]] = {}
    fallback: set[str] = set()
    for f in files:
        try:
            md = pq.ParquetFile(f).metadata
        except Exception:
            # a footer pyarrow cannot open (transient FS hiccup,
            # pyarrow-specific quirk) must not abort the commit — the
            # distributed pass handled every staged file before this
            # fast path existed, so route EVERYTHING to it (per-file
            # mixing of stats sources is the parity bug the all-or-
            # nothing contract below exists to prevent). ADVICE r11.
            return {}, set(cols)
        # col -> [lo, hi, null_count, usable]
        acc: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                name = c.path_in_schema
                if name not in want:
                    continue
                a = acc.setdefault(name, [None, None, 0, True])
                st = c.statistics
                if st is None or not st.has_null_count:
                    a[3] = False
                    continue
                a[2] += st.null_count
                if st.has_min_max:
                    lo, hi = _py_stat(st.min), _py_stat(st.max)
                    if a[0] is None or lo < a[0]:
                        a[0] = lo
                    if a[1] is None or hi > a[1]:
                        a[1] = hi
                elif st.null_count != c.num_values:
                    # non-null rows but no min/max: value too large for
                    # the footer (or a writer that skipped stats) —
                    # only the data itself can answer now
                    a[3] = False
        d = {}
        for name, (lo, hi, nn, usable) in acc.items():
            if not usable:
                fallback.add(name)
            else:
                # an all-NULL column records [None, None, rows],
                # matching the aggregation-pass contract
                d[name] = [_json_stat(lo), _json_stat(hi), int(nn)]
        out[f] = d
    # a column that fell back in ANY file is re-derived for EVERY file:
    # per-file mixing of two stats sources is a parity bug magnet
    if fallback:
        for d in out.values():
            for name in fallback:
                d.pop(name, None)
    return out, fallback


def _spark_column_stats(
    spark: SparkSession, files: list[str], cols: list[str],
    types: dict[str, str],
) -> dict[str, dict[str, list]]:
    """The distributed stats pass: ONE scan of ``files``' ``cols`` (at
    ``types``, the types they were written with) grouped on
    input_file_name (cost O(staged data in ``cols``); the collect is
    O(files × columns) metadata). Fallback for columns whose footer
    stats are absent (values over parquet-java's ~2 KiB footer cap)."""
    from urllib.parse import unquote, urlparse

    aggs = []
    for i, c in enumerate(cols):
        aggs += [
            F.min(c).alias(f"_lo{i}"),
            F.max(c).alias(f"_hi{i}"),
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"_nn{i}"),
        ]
    rows = (
        _read_parquet(spark, files, _ddl(cols, types))
        .groupBy(F.input_file_name().alias("f"))
        .agg(*aggs)
        .collect()
    )
    out: dict[str, dict[str, list]] = {}
    for r in rows:
        out[unquote(urlparse(r.f).path)] = {
            c: [
                _json_stat(r[f"_lo{i}"]),
                _json_stat(r[f"_hi{i}"]),
                int(r[f"_nn{i}"] or 0),
            ]
            for i, c in enumerate(cols)
        }
    return out


def _staged_column_stats(
    spark: SparkSession, files: list[str], types: dict[str, str]
) -> dict[str, dict[str, list]]:
    """Delta-style per-file column statistics for a just-staged commit:
    [min, max, null_count] for EVERY stats-eligible column. Read from
    the parquet FOOTERS the write just sealed — O(files) driver-side
    metadata, zero Spark jobs (guide §1.2: this ran as a full re-scan
    of the staged data plus a job-scheduling round on EVERY commit
    path; the footers already hold the exact same numbers). Columns
    whose footer stats are absent (single values over ~2 KiB) fall
    back to the distributed aggregation pass so the manifest stays
    byte-identical to the old implementation. A file whose column is
    all-NULL records ``[None, None, rows]`` for it."""
    cols = [
        c
        for c, t in types.items()
        if t in _COLUMN_STATS_TYPES and c != "bucket"
    ]
    # a staged commit can legitimately hold ZERO files (an empty update
    # slice, an all-tombstone bucket compacting away)
    if not cols or not files:
        return {}
    out, fallback = _footer_column_stats(files, cols)
    if fallback:
        slow = _spark_column_stats(spark, files, sorted(fallback), types)
        for f, d in slow.items():
            out.setdefault(f, {}).update(d)
    return out


def _coerce_probe(manifest: dict, col: str, v):
    """Align a caller-supplied range probe with the stats encoding.

    Stats store dates/timestamps via ``_json_stat`` as 'T'-separated
    isoformat strings. A raw ``datetime``/``date`` probe would raise
    TypeError against them, and a space-separated datetime STRING —
    which the Spark row filter happily accepts — sorts BEFORE 'T'
    (0x20 < 0x54), so ``stat_min > hi`` could wrongly skip a file
    that holds matching rows (ADVICE r10). Coerce objects through the
    same isoformat, and for timestamp-typed columns rewrite the one
    ambiguous string shape ('YYYY-MM-DD HH:MM:SS…') to its ISO twin."""
    import datetime

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    ctype = manifest["column_types"].get(col, "")
    if (
        ctype.startswith("timestamp")
        and isinstance(v, str)
        and len(v) > 10
        and v[10] == " "
    ):
        return v[:10] + "T" + v[11:]
    return v


def _bind_where(manifest: dict, where: tuple) -> tuple:
    """Resolve a read_snapshot predicate spec against the table's
    declared columns: ``("kind", col, *args)`` with kind ``between``,
    ``is_null`` or ``point``. ``("range", lo, hi)`` is a between on the
    table's cluster_col and ``("point", v)`` an equality on its
    bloom_col — both refuse a table that never declared the column."""
    kind = where[0]
    if kind == "range":
        if manifest.get("cluster_col") is None:
            raise ValueError(
                "table has no cluster_col; init with one to get "
                "stats-pruned range reads"
            )
        return ("between", manifest["cluster_col"], *where[1:])
    if kind == "point":
        if manifest.get("bloom_col") is None:
            raise ValueError(
                "table has no bloom_col; init with one to get "
                "bloom-pruned point lookups"
            )
        return ("point", manifest["bloom_col"], where[1])
    if kind not in ("between", "is_null"):
        raise ValueError(
            f"unknown read predicate {kind!r}: expected between, "
            "is_null, range or point"
        )
    return tuple(where)


def plan_files(
    spark: SparkSession | None, manifest: dict, where: tuple | None
) -> tuple[list, list]:
    """Plan a read of ``manifest`` under a read_snapshot predicate spec
    from the per-file metadata alone: (kept, skipped) file lists that
    partition the manifest's files. A file is skipped ONLY when its
    recorded metadata proves it holds no matching row; a file without
    an entry is always kept — pruning is an optimization, never a
    filter (the exact row filter runs on what is kept):

    - between / range: its ``column_stats`` [min, max] misses [lo, hi]
      (probes coerced to the stats encoding by _coerce_probe). A file
      whose column is all-NULL (``[None, None, rows]``) is kept, like
      a file without an entry;
    - is_null: its ``column_stats`` null_count is 0. A file has no
      entry for a column of a type without stats, or for one added
      after it was written (it reads as NULL there): it is kept;
    - point: some probe bit ``p`` is clear in its ``file_blooms``
      bitmap (bit ``p`` is bit ``p & 7`` of byte ``p >> 3``; ``""``
      matches nothing). The bit positions are computed by ``spark``
      (on the driver, no job); the other kinds need no session."""
    files = [f for fs in manifest["buckets"].values() for f in fs]
    if where is None:
        return files, []
    kind, col, *args = _bind_where(manifest, where)
    if kind == "point":
        positions = _bloom_positions(
            spark, args[0], manifest["column_types"][col]
        )
        blooms = manifest["file_blooms"]

        def keep(f):
            if f not in blooms:
                return True
            bm = base64.b64decode(blooms[f])
            return bool(bm) and all(
                bm[p >> 3] >> (p & 7) & 1 for p in positions
            )
    elif kind == "is_null":
        stats = manifest["column_stats"]

        def keep(f):
            s = stats.get(f, {}).get(col)
            return s is None or s[2] != 0
    else:
        stats = manifest["column_stats"]
        lo, hi = (_coerce_probe(manifest, col, v) for v in args)

        def keep(f):
            s = stats.get(f, {}).get(col)
            return s is None or s[0] is None or not (s[0] > hi or s[1] < lo)
    kept, skipped = [], []
    for f in files:
        (kept if keep(f) else skipped).append(f)
    return kept, skipped


#: integer column types whose manifest stats are stored as exact
#: Python ints (no isoformat/float re-encoding) — the only types the
#: driver-side watermark fast path trusts for an EXACT max
_EXACT_INT_STAT_TYPES = frozenset(
    {"tinyint", "smallint", "int", "integer", "bigint", "long"}
)


def _manifest_col_max(manifest: dict, col: str):
    """Exact max(``col``) over the VISIBLE snapshot, computed
    driver-side from the manifest's per-file column stats — zero Spark
    jobs — or None when exactness cannot be proven (caller falls back
    to the distributed aggregate). Exactness requires that no stored
    row is hidden from the read (no tombstone column, no pending
    MOR/DV sidecars), that ``col`` is an integer type (stats hold the
    exact value, not a string/float re-encoding), and that EVERY live
    file has a stats entry for the column (a file written before the
    column was added has none). A file in which ``col`` is dead
    (``_dead_columns``) reads as NULL, so its stats — the dropped
    incarnation's physical values — are skipped, as is a file whose
    ``col`` is all-NULL (``[None, None, rows]``); an evolved table
    with no birth version for a file returns None. A file set with no
    value returns None like an empty aggregate would."""
    if TOMBSTONE_COL in manifest["columns"]:
        return None
    if _mor_delete_files(manifest) or _dv_sidecar_files(manifest):
        return None
    ctype = manifest["column_types"].get(col, "")
    if ctype.lower() not in _EXACT_INT_STAT_TYPES:
        return None
    files = [f for fs in manifest["buckets"].values() for f in fs]
    try:
        dead = _dead_columns(manifest, files)
    except ValueError:
        return None
    stats = manifest["column_stats"]
    mx = None
    for f in files:
        if col in dead.get(f, ()):
            continue
        s = stats.get(f, {}).get(col)
        if s is None:
            return None
        if s[1] is None:
            continue
        if mx is None or s[1] > mx:
            mx = s[1]
    return mx


# Bloom sizing for the per-file point-lookup index: 32 Ki bits / 4
# probes per file. 32768 bits is exactly one Spark bitmap (the bucket
# ``bitmap_construct_agg`` builds), so each file's filter is the one
# 4096-byte BINARY Spark returns, stored base64 in the manifest. At the
# ~5k rows-per-file the clustered commit write targets, that is n/m ≈
# 0.15 → ~4% false-keep per file — a kept file is read and
# exact-filtered anyway, so FP only costs I/O, never correctness.
BLOOM_M = 32768
BLOOM_K = 4


def _staged_file_blooms(
    spark: SparkSession, files: list[str], bloom_col: str, bloom_type: str
) -> dict[str, str]:
    """Per-file Bloom filter of the bloom column for a just-staged
    commit, built DISTRIBUTED in one job: each row's ``BLOOM_K`` bit
    positions (pmod(xxhash64(value, seed_i), BLOOM_M)) fold per file
    into one ``bitmap_construct_agg`` bitmap — the collect is one 4 KB
    bitmap per file, independent of row count. Each file's entry is
    the base64 of that bitmap (bit ``p`` is bit ``p & 7`` of byte
    ``p >> 3``). NULLs set no bits (a NULL probe is meaningless);
    files holding only NULLs get ``""`` and match nothing.

    ``bloom_type`` (the table's recorded column type) binds the scan's
    explicit one-column schema: no schema-inference job, and ``files``
    is the staging listing the commit already holds. It is the type
    the files were written with, so the bits hash the BUILT type."""
    from urllib.parse import unquote, urlparse

    if not files:
        return {}
    # bitmap positions are 1-based (0 and 1 share bit 0): p + 1 → bit p
    pos = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(F.col("v"), F.lit(i)), F.lit(BLOOM_M)) + 1
                for i in range(BLOOM_K)
            ]
        )
    ).alias("pos")
    rows = (
        _read_parquet(spark, files, f"`{bloom_col}` {bloom_type}")
        .select(F.input_file_name().alias("f"), F.col(bloom_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .select("f", pos)
        .groupBy("f")
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("pos")).alias("bm"))
        .collect()
    )
    # every staged file gets an entry (possibly empty) so the planner
    # can tell "indexed, no match" from "pre-bloom file, must read"
    out = dict.fromkeys(files, "")
    for r in rows:
        out[unquote(urlparse(r.f).path)] = base64.b64encode(r.bm).decode()
    return out


def _bloom_positions(spark: SparkSession, value, vtype: str) -> list[int]:
    """The probe value's ``BLOOM_K`` bit positions, computed BY SPARK
    with the value cast to the table's recorded column type —
    xxhash64(5L) != xxhash64('5') != xxhash64(5 int), so hashing
    probe-side in Python (or at a drifted type) would silently never
    match the build-side bits. The projection runs over an
    Arrow-backed one-row local relation, which Catalyst folds the
    literal projection into, so the collect runs on the driver: zero
    Spark jobs (a ``range(1)`` source ran one 1-task job per probe).
    The value enters as ``F.lit``, so every type — naive datetimes
    included — converts exactly as the build side's literal semantics
    always did."""
    import pyarrow as pa

    row = (
        spark.createDataFrame(pa.table({"_": [0]}))
        .select(
            *[
                F.pmod(
                    F.xxhash64(F.lit(value).cast(vtype), F.lit(i)),
                    F.lit(BLOOM_M),
                ).alias(f"p{i}")
                for i in range(BLOOM_K)
            ]
        )
        .collect()[0]
    )
    return [row[f"p{i}"] for i in range(BLOOM_K)]


def _cluster_bounds(
    snap: dict, files: list[str], batch: list[tuple] = ()
) -> tuple | None:
    """The range the rewrite of ``files`` (plus, for a merge, a batch
    whose cluster column spans the ``(lo, hi, has_null)`` triples in
    ``batch``) can write, from metadata alone: ``(lo, hi, has_null)``,
    the union of the files' ``column_stats`` [min, max] and
    ``null_count > 0`` for ``snap``'s cluster column and the batch's
    triples (an all-NULL file's ``[None, None, rows]`` adds only its
    NULLs). A superset of the
    written rows' range, since a rewrite only removes rows (see
    _write_clustered). None — the caller's write runs the bounds job —
    on an unclustered table, when a file has no stats entry for the
    column, the column is dead in a file, or the column-epoch rule
    cannot tell (it raises)."""
    col = snap.get("cluster_col")
    if col is None:
        return None
    try:
        dead = _dead_columns(snap, files)
    except ValueError:
        return None
    stats = snap["column_stats"]
    spans = list(batch)
    for f in files:
        s = stats.get(f, {}).get(col)
        if s is None or col in dead.get(f, ()):
            return None
        spans.append((s[0], s[1], s[2] > 0))
    los = [lo for lo, _, _ in spans if lo is not None]
    his = [hi for _, hi, _ in spans if hi is not None]
    return (
        min(los, default=None),
        max(his, default=None),
        any(n for _, _, n in spans),
    )


def _stage_rewrite(
    spark: SparkSession,
    nxt: dict,
    version: int,
    staging: str,
    df: DataFrame,
    rewritten: list | None = None,
    keep: dict[int, list[str]] | None = None,
    salt: int = 1,
    latest_wins: tuple[str, str] | None = None,
    bounds: tuple | None = None,
) -> dict[int, list[str]]:
    """The data-writing step every commit face that rewrites buckets
    runs (init, merge, compact, optimize, replaceWhere, rebucket):
    write ``df`` into ``staging`` under the next manifest ``nxt``'s
    layout, then splice the staged files into ``nxt`` in place.

    ``df`` is routed by ``nxt``'s key, bucket count and cluster column
    through ``_write_clustered`` (``salt``, ``latest_wins`` and the
    cluster bins' ``bounds`` from ``_cluster_bounds`` pass through;
    without ``bounds`` a clustered write runs its bounds job). Each
    bucket in ``rewritten`` then becomes its ``keep`` files
    (replaceWhere's out-of-slice files of a partially rewritten
    bucket) plus its staged files, and loses its pending
    ``delete_files`` / ``dv_files`` (the rewrite read applied them). A
    staged bucket the caller did not name is NOT spliced: ``_transact``
    rejects the commit before publish (a stale ``bucket_hint``).
    ``rewritten=None`` is a full rewrite (init, rebucket): the staged
    listing is the whole bucket map and every pending sidecar clears.

    The per-file maps follow the files: ``file_versions`` (birth
    version ``version`` — the durable source for the column-epoch
    rule, _dead_columns; parsing the staging-directory NAME instead
    would silently degrade to trust-the-file on a renamed dir),
    ``column_stats`` (footer stats of ``nxt``'s ``column_types``) and,
    on a bloomed table, ``file_blooms`` (one bitmap job,
    ``_staged_file_blooms``) — fresh
    entries for the staged files, carried entries for files the next
    manifest still references. Returns the staging listing ({bucket:
    files})."""
    _write_clustered(
        df.withColumn("bucket", _bucket_of(nxt["key_col"], nxt["n_buckets"])),
        staging, nxt["key_col"], salt, nxt["n_buckets"],
        nxt.get("cluster_col"), nxt.get("cluster_bins", 4), latest_wins,
        bounds,
    )
    new = _list_bucket_files(staging)
    if rewritten is None:
        nxt.update(buckets={}, delete_files=None, dv_files=None)
        rewritten = new
    buckets = dict(nxt["buckets"])  # copy: still the snapshot's map
    for b in rewritten:
        buckets[str(b)] = (keep or {}).get(int(b), []) + new.get(int(b), [])
    nxt["buckets"] = {b: buckets[b] for b in sorted(buckets, key=int)}
    for key in ("delete_files", "dv_files"):
        _carry_sidecars(nxt, key, rewritten)
    files = sorted(f for fs in new.values() for f in fs)
    types = nxt["column_types"]
    fresh = {
        "file_versions": dict.fromkeys(files, version),
        "column_stats": _staged_column_stats(spark, files, types),
    }
    if nxt.get("bloom_col") is not None:
        fresh["file_blooms"] = _staged_file_blooms(
            spark, files, nxt["bloom_col"], types[nxt["bloom_col"]]
        )
    live = {f for fs in nxt["buckets"].values() for f in fs}
    for key, entries in fresh.items():
        old = nxt.get(key) or {}
        nxt[key] = {f: e for f, e in old.items() if f in live} | entries
    return new


def _column_types(df: DataFrame) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def _manifest_path(base_dir: str, version: int) -> str:
    return os.path.join(base_dir, f"v{version}.json")


def _list_versions(base_dir: str) -> list[int]:
    """Manifest versions on disk, ascending: every ``v{N}.json`` whose
    N is all ASCII digits. Raises OSError on an unlistable dir."""
    return sorted(
        int(fn[1:-5])
        for fn in os.listdir(base_dir)
        if fn.startswith("v")
        and fn.endswith(".json")
        and fn[1:-5].isascii()
        and fn[1:-5].isdigit()
    )


def latest_version(base_dir: str) -> int:
    """Highest committed manifest version (0 = uninitialized table, or
    a dir that cannot be listed — _clone_pinned_versions relies on
    that)."""
    try:
        return max(_list_versions(base_dir), default=0)
    except OSError:
        return 0


def version_as_of(base_dir: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution (Delta time travel by timestamp):
    the LATEST version whose commit stamp is <= ``ts`` — what the
    table looked like at that moment. O(retained versions) manifest
    metadata, zero data I/O. Raises if ``ts`` predates the oldest
    RETAINED commit (vacuum-expired history cannot be resolved —
    the same retention contract as version-based travel). Every
    manifest carries the ``committed_at`` stamp ``_publish_manifest``
    sets."""
    versions = _list_versions(base_dir)
    if not versions:
        raise ValueError(f"no committed table at {base_dir}")
    best = None
    for v in versions:
        m = load_manifest(base_dir, v)
        if m["committed_at"] <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the oldest retained commit at "
            f"{base_dir} (v{versions[0]}); history before it was "
            "vacuum-expired or never existed"
        )
    return best


#: The one manifest layout this module reads and writes. Every key a
#: commit always records (``columns``, ``column_types``,
#: ``column_epochs``, ``file_versions``, ``column_stats``,
#: ``committed_at``) is present in it, so readers index them. A change
#: to that layout bumps the number instead of adding a tolerance branch
#: (Iceberg's format-version rule).
MANIFEST_FORMAT = 1


def load_manifest(base_dir: str, version: int | None = None) -> dict:
    """The manifest at ``version`` (default: latest). Raises ValueError
    when it is not ``MANIFEST_FORMAT``: a reader never guesses at a
    layout it does not know."""
    if version is None:
        version = latest_version(base_dir)
    with open(_manifest_path(base_dir, version)) as fh:
        manifest = json.load(fh)
    found = manifest.get("format")
    if found != MANIFEST_FORMAT:
        raise ValueError(
            f"manifest v{version} at {base_dir} has format {found!r}; "
            f"this reader supports format {MANIFEST_FORMAT} only"
        )
    return manifest


def _floor_path(base_dir: str) -> str:
    return os.path.join(base_dir, "_vacuum_floor.json")


def _version_floor(base_dir: str) -> int:
    """Highest version slot ever reopened by a vacuum on this table
    (0 = no vacuum has expired anything). Vacuum persists this marker
    BEFORE deleting manifests, so by the time a slot <= floor is open
    for reuse the floor already forbids committing into it."""
    try:
        with open(_floor_path(base_dir)) as fh:
            return int(json.load(fh)["floor"])
    except FileNotFoundError:
        # genuinely no vacuum has ever run — the only absence that
        # means floor 0. Any OTHER failure (permission denied, transient
        # mount error, corrupt contents) must propagate: treating it as
        # 0 would let a straggler _publish_manifest link into a
        # vacuum-reopened slot — the exact history-resurrection hazard
        # the floor exists to close (ADVICE r10).
        return 0


def _raise_version_floor(base_dir: str, floor: int) -> None:
    """Monotonically raise the table's version floor (atomic replace)."""
    if floor <= _version_floor(base_dir):
        return
    tmp = os.path.join(
        base_dir,
        f"._floor.{os.getpid()}.{threading.get_ident()}.tmp",
    )
    with open(tmp, "w") as fh:
        json.dump({"floor": floor}, fh)
    os.replace(tmp, _floor_path(base_dir))


#: Manifest keys that describe ONE specific commit (its quarantine
#: record, its restore/publish/clone lineage) and must never survive
#: a {**old_manifest} copy into a NEW commit — each commit path
#: re-stamps the subset that describes itself.
_PER_COMMIT_KEYS = (
    "expectations",
    "restored_from",
    "published_from",
    "cloned_from",
)


def _strip_commit_records(manifest: dict) -> dict:
    """Drop per-commit records copied from a source manifest, so a
    restore of a publish commit (say) doesn't carry the publish's
    ``published_from`` into a commit stamped ``kind='restore'``."""
    for k in _PER_COMMIT_KEYS:
        manifest.pop(k, None)
    return manifest


def _publish_manifest(base_dir: str, manifest: dict) -> bool:
    """Atomic CAS commit of ``manifest`` at its version slot.

    Content is fully written to a private temp file first, then
    hard-linked to the version path: the link either materializes the
    COMPLETE manifest atomically or fails with FileExistsError because
    a competing writer won the version — the two outcomes of a
    conditional PUT. Returns False on a lost race (caller retries).

    Slot-reuse guard: vacuum deletes expired manifests, which REOPENS
    their version slots — a straggler pinned far in the past could
    link v{N}.json "successfully" while v{N+k} is already latest,
    publishing an invisible commit into history (and claiming success
    to its caller). Vacuum persists a VERSION FLOOR (the highest slot
    it ever reopened) before deleting any manifest, so the guard is a
    pre-link floor check: a target slot <= floor can only be a
    vacuum-reopened one — reject it as a lost race so the caller
    re-pins at the real head. A successfully linked manifest ABOVE the
    floor is never unlinked: once the link lands, the commit is live
    history a competing writer may already have built v+1 on — the
    earlier post-link ``latest_version`` compare could not tell that
    apart from slot reuse and would unlink a manifest other commits
    reference (a time-travel hole) while reporting a lost race for a
    commit that took effect. The floor re-check after the link only
    narrows the read-floor/raise-floor TOCTOU: a version <= floor can
    never be HEAD, so nobody builds on it and unlinking (guarded
    against a concurrent vacuum having expired it first) is safe."""
    final = _manifest_path(base_dir, manifest["version"])
    if manifest["version"] <= _version_floor(base_dir):
        return False
    # commit wall-clock stamp (Delta's timestamp per table version):
    # set HERE, unconditionally, so every commit path gets one and a
    # manifest-copying commit (clone/restore/publish) cannot carry its
    # source's stamp — the basis for TIMESTAMP AS OF resolution. The
    # format stamp sits beside it: this is the one writer of v{N}.json
    manifest["committed_at"] = time.time()
    manifest["format"] = MANIFEST_FORMAT
    tmp = os.path.join(
        base_dir,
        f".v{manifest['version']}.{os.getpid()}.{threading.get_ident()}.tmp",
    )
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, final)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    if manifest["version"] <= _version_floor(base_dir):
        try:
            os.unlink(final)
        except FileNotFoundError:
            pass  # a concurrent vacuum already expired the slot again
        return False
    return True


def _transact(
    base_dir: str,
    kind: str,
    writer_id: str,
    build,
    max_retries: int,
    before_commit=None,
    on_lost_race=None,
):
    """The optimistic commit loop every re-pinning commit face runs
    through: pin the latest manifest, let ``build(snap, attempt,
    stage)`` stage files and derive the next manifest, CAS it into
    ``v{N+1}.json``, and on a lost race re-pin and rebuild.

    ``stage(prefix)`` mints an attempt-private ``_staging_path`` and
    records it. ``build`` returns ``(manifest, result)``; a ``None``
    manifest returns ``result`` without committing. Every face builds
    the next manifest the same way: ``_strip_commit_records({**snap,
    **overrides})`` — table-level keys carry by copy — and a face that
    writes data files splices them in with ``_stage_rewrite``. The
    loop stamps ``version`` / ``commit_kind`` / ``writer_id``, then
    checks that every ``.parquet`` file staged this attempt is
    referenced by the manifest (a staged file the manifest misses
    would be lost data the moment the commit lands; vacuum never
    reclaims it either), then calls ``before_commit(attempt)`` (the test seam into the
    pre-CAS window) and publishes.

    A lost CAS, or a missing-file error from a read of the pinned
    snapshot (a vacuum expired it mid-attempt), removes every dir
    staged this attempt and re-pins; any other exception removes them
    and propagates. ``on_lost_race(snap)`` runs after a lost CAS only
    (merge's serializable probe). After ``max_retries + 1`` lost races
    the commit raises MergeConflictError."""
    import shutil

    for attempt in range(max_retries + 1):
        snap = load_manifest(base_dir)
        staged: list[str] = []

        def stage(prefix: str) -> str:
            path = _staging_path(
                base_dir, prefix, snap["version"] + 1, writer_id
            )
            staged.append(path)
            return path

        def drop_staged() -> None:
            for d in staged:
                shutil.rmtree(d, ignore_errors=True)

        try:
            manifest, result = build(snap, attempt, stage)
            if manifest is None:
                return result
            manifest.update(
                version=snap["version"] + 1,
                commit_kind=kind,
                writer_id=writer_id,
            )
            _assert_staged_referenced(manifest, staged)
            if before_commit is not None:
                before_commit(attempt)
        except Exception as ex:
            drop_staged()
            if _is_missing_file_error(ex):
                continue
            raise
        if _publish_manifest(base_dir, manifest):
            return result
        # lost the CAS: this attempt's files are in NO manifest, so
        # vacuum would never reclaim them
        drop_staged()
        if on_lost_race is not None:
            on_lost_race(snap)
    raise MergeConflictError(
        f"{kind} by {writer_id} lost the commit race {max_retries + 1} times"
    )


def _assert_staged_referenced(manifest: dict, staged: list[str]) -> None:
    """Pre-publish exact-file-set check: every parquet file under the
    attempt's staged dirs must be referenced by ``manifest`` (a
    referenced dir, the quarantine side table, covers its files)."""
    refs = {os.path.abspath(p) for p in _manifest_refs(manifest)}
    stray = []
    for d in staged:
        if os.path.abspath(d) in refs:
            continue
        for root, _dirs, names in os.walk(d):
            stray.extend(
                p
                for p in (os.path.abspath(os.path.join(root, n)) for n in names)
                if p.endswith(".parquet") and p not in refs
            )
    if stray:
        raise AssertionError(
            f"{manifest['commit_kind']} by {manifest['writer_id']} staged "
            f"files outside the touched set {sorted(stray)} (stale "
            "bucket_hint?); publishing would lose their rows"
        )


def _carry_sidecars(
    manifest: dict, key: str, replaced=(), added=None
) -> None:
    """Update ``manifest[key]`` (``delete_files`` or ``dv_files``, as
    copied from the pinned snapshot) in place: buckets in ``replaced``
    drop theirs (a rewrite applied them physically, or a coalesce
    supersedes them), ``added`` ({bucket: files}) appends. Int-sorted,
    empty entries dropped, the key absent when nothing is pending."""
    replaced = {int(b) for b in replaced}
    out = {
        b: list(fs)
        for b, fs in (manifest.get(key) or {}).items()
        if int(b) not in replaced
    }
    for b, fs in (added or {}).items():
        out[str(b)] = out.get(str(b), []) + fs
    manifest.pop(key, None)
    out = {b: fs for b, fs in out.items() if fs}
    if out:
        manifest[key] = {b: out[b] for b in sorted(out, key=int)}


def _staged_tombstone_buckets(
    spark: SparkSession, by_bucket: dict[int, list[str]],
    types: dict[str, str],
) -> list[int]:
    """Buckets of a just-staged commit that hold at least one live
    tombstone row — read from the footers' boolean max when the column
    is a plain boolean (zero Spark jobs; footer max is NULL-skipping
    and an all-NULL chunk contributes nothing, exactly matching the
    ``max(_tomb_flag())`` the distributed pass computes); any other
    physical type, or a footer without usable stats, falls back to one
    scan of the marker at ``types`` grouped per file. ``by_bucket`` is
    the staging listing; it maps each file to its bucket."""
    from urllib.parse import unquote, urlparse

    files = [f for fs in by_bucket.values() for f in fs]
    tombed = None
    if types.get(TOMBSTONE_COL) == "boolean":
        stats, fallback = _footer_column_stats(files, [TOMBSTONE_COL])
        if not fallback:
            # [min, max, nulls]; an all-NULL file's max is None
            tombed = {
                f for f, d in stats.items()
                if d.get(TOMBSTONE_COL, [None, None])[1] is True
            }
    if tombed is None:
        tombed = {
            unquote(urlparse(r.f).path)
            for r in _read_parquet(
                spark, files, _ddl([TOMBSTONE_COL], types)
            )
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.max(_tomb_flag()).alias("has_tomb"))
            .collect()
            if r.has_tomb
        }
    return sorted(b for b, fs in by_bucket.items() if tombed.intersection(fs))


def _list_bucket_files(staging_dir: str) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for entry in os.listdir(staging_dir):
        if not entry.startswith("bucket="):
            continue
        b = int(entry.split("=", 1)[1])
        bdir = os.path.join(staging_dir, entry)
        out[b] = sorted(
            os.path.join(bdir, f) for f in os.listdir(bdir) if f.endswith(".parquet")
        )
    return out


def _write_sidecar(df: DataFrame, staging: str) -> dict[int, list[str]]:
    """Stage a per-bucket delete sidecar (MOR keys, DV bitmap words):
    ``df`` carries ``bucket``; one hash exchange on it under the
    session's AQE, which coalesces these metadata-sized writes to a
    few tasks. Returns the staging listing ({bucket: files})."""
    (
        df.repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staging)
    )
    return _list_bucket_files(staging)


def init_table(
    df: DataFrame,
    base_dir: str,
    key_col: str,
    n_buckets: int,
    cluster_col: str | None = None,
    cluster_bins: int = 4,
    bloom_col: str | None = None,
    identity_col: str | None = None,
) -> dict:
    """Commit version 1 of a manifest-tracked bucketed table.

    The bucket is DERIVED (pmod(xxhash64(key), B)) — data files do not
    store it, so any pinned-file read can recompute it from the key and
    no basePath gymnastics are needed. Raises if the table already has
    a committed version (init is not a merge).

    ``cluster_col`` (numeric, optional) declares the table's zorder-
    lite secondary layout: EVERY commit path that writes data files
    (init / merge / compact / optimize / replaceWhere / rebucket, all
    through ``_stage_rewrite``) range-bins each bucket's rows by this
    column, so the
    per-file [min, max] every commit records in ``column_stats`` makes
    ``read_snapshot(where=("range", lo, hi))`` skip most files — the
    property is table-wide and writer-independent, like the bucket
    count.

    ``bloom_col`` (optional) declares the table's point-lookup
    secondary index: every commit path builds a per-file Bloom filter
    over this column for the files it writes and carries untouched
    files' filters forward, so ``read_snapshot(where=("point", v))``
    opens only files whose filter holds the probe value (equality's
    answer to cluster_col's ranges — min/max stats cannot prune a
    high-cardinality equality probe whose value sits inside every
    file's span). Blooming the KEY column is redundant (bucket pruning
    already answers key lookups) but harmless.

    ``identity_col`` (integral, optional) declares a surrogate-key
    column with Delta/Iceberg identity semantics: the manifest carries
    an ``identity_high_water`` mark (max assigned id), and every
    partial-update MERGE assigns ``high_water + rank`` to NEW keys
    while matched keys keep their id via the carry join — assignment
    is transactional because the mark lives in the manifest the CAS
    publishes (a lost race re-pins the winner's mark and re-assigns;
    no global max(id) table scan, ever). The seed provides its own
    ids; init records their max as the initial mark."""
    import shutil

    os.makedirs(base_dir, exist_ok=True)
    if latest_version(base_dir) != 0:
        raise ValueError(f"table at {base_dir} already initialized")
    types0 = _column_types(df)
    if cluster_col is not None:
        t = types0.get(cluster_col)
        if t not in _CLUSTERABLE:
            raise ValueError(
                f"cluster_col {cluster_col!r} must be a numeric column "
                f"({_CLUSTERABLE}); got {t!r} — (min, max) stats must "
                "JSON-roundtrip and compare at plan time"
            )
    if bloom_col is not None and bloom_col not in types0:
        raise ValueError(
            f"bloom_col {bloom_col!r} is not a table column "
            f"({sorted(types0)})"
        )
    if identity_col is not None:
        t = types0.get(identity_col)
        if t not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"identity_col {identity_col!r} must be an integral "
                f"table column; got {t!r}"
            )
        if identity_col == key_col:
            raise ValueError(
                "identity_col cannot be the key column: the key buckets "
                "the table and arrives with the batch; the identity is "
                "ASSIGNED"
            )
    # attempt-private staging + clustered write (see _staging_path /
    # _write_clustered for the two hazard classes they close): a shared
    # 'commit_v1' dir with mode(overwrite) would let a concurrent-init
    # LOSER delete the CAS winner's part files before losing —
    # publishing a v1 manifest that names dead paths
    staging = _staging_path(base_dir, "commit", 1, "init")
    manifest = {
        "version": 1,
        "commit_kind": "init",
        "writer_id": "init",
        "n_buckets": n_buckets,
        "key_col": key_col,
        "columns": df.columns,
        "column_types": types0,
        # every column is first-epoch at init (see _dead_columns' epoch
        # rule — DROP + re-add needs per-column birth versions)
        "column_epochs": {c: 1 for c in df.columns},
    }
    if cluster_col is not None:
        manifest.update(cluster_col=cluster_col, cluster_bins=cluster_bins)
    if bloom_col is not None:
        manifest["bloom_col"] = bloom_col
    new = _stage_rewrite(df.sparkSession, manifest, 1, staging, df)
    # true per-bucket flags, not "every bucket": a seed carrying an
    # all-false marker column (the normal pattern) must not doom the
    # first compact_tombstones to a full-table scan. Computed from the
    # STAGED FILES, not by re-executing the seed frame: a second run of
    # a non-deterministic seed (rand/sample/limit) could place its
    # tombstones in different buckets than the ones actually committed,
    # and merges only ever ADD flags — a live tombstone in an unflagged
    # bucket would never be reclaimed.
    manifest["tombstone_buckets"] = (
        _staged_tombstone_buckets(df.sparkSession, new, types0)
        if TOMBSTONE_COL in df.columns
        else []
    )
    if identity_col is not None:
        manifest["identity_col"] = identity_col
        # integral column (validated above), so always stats-eligible:
        # the column_stats the staged-rewrite step just recorded hold
        # the exact max (None in an all-NULL file) — no re-execution of
        # the seed frame
        manifest["identity_high_water"] = max(
            (
                int(d[identity_col][1])
                for d in manifest["column_stats"].values()
                if identity_col in d and d[identity_col][1] is not None
            ),
            default=0,
        )
    if not _publish_manifest(base_dir, manifest):
        shutil.rmtree(staging, ignore_errors=True)  # loser leaves nothing
        raise ValueError(f"concurrent init of {base_dir}")
    return manifest


def read_snapshot(
    spark: SparkSession,
    base_dir: str,
    version: int | None = None,
    include_tombstones: bool = False,
    where: tuple | None = None,
) -> DataFrame:
    """Read the table AS OF ``version`` (default: latest) — exactly the
    manifest's file set, so concurrent commits can never tear the scan.
    Rows are aligned to the PINNED manifest's logical schema (a reader
    pinned before a schema evolution keeps its epoch's columns/types).
    Tombstoned keys (``_deleted`` true) are hidden and the marker
    column dropped unless ``include_tombstones=True``.

    ``where`` keeps only the rows matching a predicate spec, and files
    whose manifest metadata proves they hold none are never opened
    (plan_files — Delta/Iceberg data skipping):

    - ``("between", col, lo, hi)``: ``lo <= col <= hi`` on any
      stats-eligible column, pruned by per-file [min, max];
    - ``("is_null", col)``: the completeness audit, pruned by per-file
      null counts;
    - ``("range", lo, hi)``: a between on the table's ``cluster_col``;
    - ``("point", value)``: equality on the table's ``bloom_col``,
      pruned by per-file Bloom filters (a false keep costs one file
      read, never a wrong row).

    The exact row filter always runs on what is kept, and pending
    MOR/DV deletes apply to every read. A manifest of any format but
    ``MANIFEST_FORMAT`` raises ValueError (``load_manifest``)."""
    manifest = load_manifest(base_dir, version)
    kept, _ = plan_files(spark, manifest, where)
    # no kept file: the pinned-schema empty frame, zero files opened
    df = _read_visible_base(spark, manifest, kept)
    if where is not None:
        kind, col, *args = _bind_where(manifest, where)
        df = df.filter(
            F.col(col).isNull() if kind == "is_null"
            else F.col(col) == F.lit(args[0]) if kind == "point"
            else F.col(col).between(*args)
        )
    if not include_tombstones:
        df = _visible_rows(df)
    return df


def read_snapshot_range(
    spark: SparkSession, base_dir: str, lo, hi,
    version: int | None = None, include_tombstones: bool = False,
) -> DataFrame:
    """``read_snapshot(where=("range", lo, hi))``."""
    return read_snapshot(
        spark, base_dir, version, include_tombstones, ("range", lo, hi)
    )


def read_snapshot_point(
    spark: SparkSession, base_dir: str, value,
    version: int | None = None, include_tombstones: bool = False,
) -> DataFrame:
    """``read_snapshot(where=("point", value))``."""
    return read_snapshot(
        spark, base_dir, version, include_tombstones, ("point", value)
    )


def _tomb_flag():
    """A row's tombstone flag: the marker cast to boolean, NULL read as
    live — the same cast every write path applies, so a dirty-typed
    marker (int 0/1, string flags) is accepted everywhere alike."""
    return F.coalesce(F.col(TOMBSTONE_COL).cast("boolean"), F.lit(False))


def _visible_rows(df: DataFrame) -> DataFrame:
    """Hide tombstoned keys and drop the marker column — the ONE
    definition of 'visible', shared by read_snapshot and
    changes_between. Uses the same cast('boolean') the commit paths
    apply, so a dirty-typed marker (int 0/1, string flags) that every
    write path accepts is equally readable."""
    if TOMBSTONE_COL not in df.columns:
        return df
    return df.filter(~_tomb_flag()).drop(TOMBSTONE_COL)


def _mor_delete_files(manifest: dict) -> list[str]:
    """Every equality-delete sidecar the manifest references (the
    merge-on-read pending-delete set), flattened."""
    return [
        f
        for fs in (manifest.get("delete_files") or {}).values()
        for f in fs
    ]


def _apply_mor_deletes(
    spark: SparkSession, df: DataFrame, manifest: dict
) -> DataFrame:
    """Apply the manifest's PENDING merge-on-read deletes to a read:
    anti-join the union of equality-delete sidecars on the table key.
    Delete keys are bucket-scoped by construction (a key's sidecar
    lives in its own derived bucket), so the global anti-join is
    exactly the per-bucket application; the delete set is broadcast —
    it is O(pending deleted keys), the very quantity MOR keeps small
    between rewrites. No pending deletes → the plan is untouched."""
    files = _mor_delete_files(manifest)
    if not files:
        return df
    key_col = manifest["key_col"]
    dk = _read_parquet(
        spark, files, _ddl([key_col], manifest["column_types"])
    ).distinct()
    return df.join(F.broadcast(dk), key_col, "left_anti")


#: internal column names carrying the parquet reader's native file /
#: row-index metadata through an aligned read for DV application
DV_FILE_COL = "__dv_file"
DV_POS_COL = "__dv_pos"
#: a DV sidecar's schema: per data file, 64-row word index and bitmap
DV_SIDECAR_DDL = "file string, w int, word bigint"


def _dv_sidecar_files(manifest: dict) -> list[str]:
    """Every positional deletion-vector sidecar the manifest
    references (pending position deletes), flattened."""
    return [
        f
        for fs in (manifest.get("dv_files") or {}).values()
        for f in fs
    ]


def _apply_dv_deletes(
    spark: SparkSession,
    df: DataFrame,
    manifest: dict,
    keep_positions: bool = False,
) -> DataFrame:
    """Apply the manifest's pending POSITIONAL deletion vectors to an
    aligned read that carried ``carry_positions=True``: per-file
    64-bit word bitmaps (file, word index, word) anti-filter rows by
    their native parquet row index. Cost: a broadcast of O(deleted
    rows / 64) bitmap words joined on the COARSE (file, word) key —
    per surviving row the test is one AND+compare, independent of how
    many deletes are pending (the property equality-delete sidecars
    lack: their anti-join fan-in grows with every delete commit).
    Sidecars from separate commits may carry words for the same
    (file, word) slot — folded with bit_or before the join."""
    files = _dv_sidecar_files(manifest)
    if not files:
        return (
            df
            if keep_positions
            else df.drop(DV_FILE_COL, DV_POS_COL)
        )
    dv = (
        _read_parquet(spark, files, DV_SIDECAR_DDL)
        .groupBy("file", "w")
        .agg(F.bit_or("word").alias("word"))
    )
    out = (
        df.withColumn("__dv_w", (F.col(DV_POS_COL) / 64).cast("int"))
        .join(
            F.broadcast(dv),
            (F.col(DV_FILE_COL) == dv["file"])
            & (F.col("__dv_w") == dv["w"]),
            "left",
        )
        .filter(
            F.col("word").isNull()
            | (
                F.expr(
                    "word & shiftleft(CAST(1 AS BIGINT), "
                    f"CAST({DV_POS_COL} % 64 AS INT)) "
                )
                == 0
            )
        )
        .drop("file", "w", "word", "__dv_w")
    )
    return out if keep_positions else out.drop(DV_FILE_COL, DV_POS_COL)


def _read_visible_base(
    spark: SparkSession,
    manifest: dict,
    files: list,
    columns: list | None = None,
    column_types: dict | None = None,
    column_epochs: dict | None = None,
    carry_positions: bool = False,
) -> DataFrame:
    """Aligned read of ``manifest``'s ``files`` with BOTH pending-delete
    representations applied: positional deletion vectors (bitmap
    anti-filter on native row indexes) then equality-delete sidecars
    (broadcast key anti-join). The single choke point every read face,
    every rewrite's base read and the DV delete's position-finding
    read go through, so no path can forget one representation.

    ``columns``, ``column_types`` and ``column_epochs`` default to
    ``manifest``'s own schema; a caller passes them to read a column
    subset, or to align to another schema (a merge's result schema,
    the change feed's v_to). Birth versions are always ``manifest``'s
    (see _dead_columns). No files read as the empty frame of that
    schema. ``carry_positions`` keeps the native (file, row index)
    columns on the result (see _read_files_aligned)."""
    if columns is None:
        columns = manifest["columns"]
    if column_types is None:
        column_types = manifest["column_types"]
    if not files:
        # a plan that kept no file, or a fully-compacted table (every
        # key tombstoned, then compact_tombstones): the empty frame of
        # the schema IS the read, and no pending delete can apply
        return spark.createDataFrame([], _ddl(columns, column_types))
    has_dv = bool(manifest.get("dv_files"))
    df = _read_files_aligned(
        spark, files, columns, column_types,
        _dead_columns(manifest, files, column_epochs),
        carry_positions=has_dv or carry_positions,
    )
    if has_dv:
        df = _apply_dv_deletes(
            spark, df, manifest, keep_positions=carry_positions
        )
    return _apply_mor_deletes(spark, df, manifest)


def _gate_expectations(
    updates: DataFrame, expectations: dict[str, str]
) -> tuple[DataFrame, DataFrame, dict]:
    """Split a commit batch on write-side expectations — Delta CHECK
    constraints / Great Expectations moved to the write path: each
    value is a SQL boolean expression over the BATCH's columns, and a
    row passes an expectation iff it evaluates to exactly TRUE (NULL
    counts as a violation — invariant semantics, deliberately stricter
    than ANSI CHECK's unknown-passes, because a quality gate that
    waves NULLs through protects no downstream consumer).

    Returns ``(passing, quarantined, stats)``: passing rows keep the
    batch schema; quarantined rows gain QUARANTINE_REASON_COL holding
    the sorted comma-joined failed names; stats carries the batch
    size, quarantined count, and per-expectation violation counts from
    ONE aggregate pass over the (bounded) batch. The split is a
    deterministic function of the batch alone — snapshot-independent,
    so merge evaluates it ONCE outside the CAS retry loop and a lost
    race never re-gates."""
    if not expectations:
        raise ValueError("expectations must be a non-empty mapping")
    names = sorted(expectations)
    bad = [n for n in names if not n or "," in n]
    if bad:
        raise ValueError(
            f"expectation names must be non-empty and comma-free "
            f"(the reason column joins them with commas): {bad}"
        )
    if QUARANTINE_REASON_COL in updates.columns:
        raise ValueError(
            f"update batch may not carry the reserved quarantine "
            f"reason column {QUARANTINE_REASON_COL!r}"
        )
    failed = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.expr(expectations[n]).eqNullSafe(F.lit(True)),
                    F.lit(n),
                )
                for n in names
            ]
        )
    )
    tagged = updates.withColumn("__failed", failed)
    row = tagged.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum((F.size("__failed") > 0).cast("int")).alias("__q"),
        *[
            F.sum(F.array_contains("__failed", n).cast("int")).alias(f"__e{i}")
            for i, n in enumerate(names)
        ],
    ).first()
    stats = {
        "checked": names,
        "n_batch": int(row["__n"]),
        "quarantined": int(row["__q"] or 0),
        "by_expectation": {
            n: int(row[f"__e{i}"] or 0) for i, n in enumerate(names)
        },
    }
    passing = tagged.filter(F.size("__failed") == 0).drop("__failed")
    quarantined = (
        tagged.filter(F.size("__failed") > 0)
        .withColumn(QUARANTINE_REASON_COL, F.concat_ws(",", "__failed"))
        .drop("__failed")
    )
    return passing, quarantined, stats


def read_quarantine(
    spark: SparkSession, base_dir: str, version: int | None = None
) -> DataFrame | None:
    """Rows the expectations gate diverted at commit ``version``
    (default: the latest version), with QUARANTINE_REASON_COL naming
    the failed expectations per row — the triage surface an ingestion
    on-call reads to decide re-submit vs drop. Returns None when that
    commit carried no expectations or quarantined nothing (callers
    branch on the manifest's counters without a scan either way)."""
    snap = load_manifest(base_dir, version)
    info = snap.get("expectations")
    if not info or not info.get("path"):
        return None
    return spark.read.parquet(info["path"])


def _mint_identities(
    upd: DataFrame, ident: str, key_col: str, hw: int, ident_type
) -> tuple[DataFrame, int]:
    """Assign identities to the NULL-``ident`` rows of a commit batch:
    each distinct NULL-id key takes ``hw + dense_rank(key)`` — one id
    per KEY (duplicate batch rows for the same new key share it), so
    the high-water mark advances by exactly the distinct-key count and
    never leaves gaps, and which duplicate the latest-wins window
    keeps cannot change the key's identity. The window partitions on
    isNull so it ranks ONLY the unmatched rows — bounded by batch
    size, the one place a single-partition window is provably bounded.
    Returns (batch with ids filled, advanced high-water mark)."""
    n_new = (
        upd.filter(F.col(ident).isNull()).select(key_col).distinct().count()
    )
    if n_new == 0:
        return upd, hw
    wnew = Window.partitionBy(F.col(ident).isNull()).orderBy(F.col(key_col))
    upd = upd.withColumn(
        ident,
        F.coalesce(
            F.col(ident),
            (F.lit(hw) + F.dense_rank().over(wnew)).cast(ident_type),
        ),
    )
    return upd, hw + n_new


def table_history(base_dir: str) -> list[dict]:
    """DESCRIBE HISTORY for the manifest table (Delta DESCRIBE HISTORY
    / Iceberg snapshots metadata table): one entry per manifest version
    still on disk (vacuum-expired versions drop out — history IS the
    retention window), ordered oldest-first. Pure manifest metadata —
    zero data I/O, O(versions) regardless of table size. Every commit
    stamps ``commit_kind`` (init / clone, and ``_transact``'s kinds:
    merge / compact / optimize / evolve / delete / replace / rebucket /
    restore / publish) and ``writer_id``; per-commit records surface as
    ``quarantined`` (expectations gate) and ``restored_from``. A
    manifest of another format raises ValueError (load_manifest)."""
    versions = _list_versions(base_dir)
    out = []
    for v in versions:
        m = load_manifest(base_dir, v)
        out.append(
            {
                "version": v,
                "kind": m["commit_kind"],
                "writer_id": m["writer_id"],
                "committed_at": m["committed_at"],
                "n_buckets": int(m["n_buckets"]),
                "n_files": sum(len(fs) for fs in m["buckets"].values()),
                "quarantined": (m.get("expectations") or {}).get(
                    "quarantined"
                ),
                "restored_from": m.get("restored_from"),
                "identity_high_water": m.get("identity_high_water"),
            }
        )
    return out


def restore_table(
    base_dir: str,
    to_version: int,
    max_retries: int = 5,
    before_commit=None,
    writer_id: str = "w0",
) -> tuple[int, int]:
    """RESTORE the table to the logical state of ``to_version`` by
    COMMITTING A NEW VERSION whose manifest re-points at the old
    version's files (Delta ``RESTORE TABLE ... TO VERSION AS OF``):
    metadata-only — zero data rewritten, safe because committed files
    are immutable — and history-preserving: the versions between
    ``to_version`` and the restore stay readable via time travel until
    retention expires them (a restore is an ordinary commit through
    the same CAS, losing races and retrying like any writer).

    Two invariants survive the rewind:

    * ``identity_high_water`` takes max(old, current) — ids minted by
      the undone commits may already live in exports/clones, so a
      restore must never allow them to be re-minted;
    * the undone commits' ``expectations`` quarantine record is NOT
      carried (it describes a different commit's batch); the restored
      manifest records ``restored_from`` instead.

    Requires ``to_version`` to still exist (inside retention) — a
    vacuumed version cannot be restored, by definition of retention.

    Returns ``(committed_version, attempts)``."""
    old = load_manifest(base_dir, to_version)  # raises if expired

    def build(snap, attempt, stage):
        manifest = _strip_commit_records(dict(old))
        manifest["restored_from"] = to_version
        if snap.get("identity_col") is not None:
            # an old version need not declare identity_col (a publish
            # can bring it in later): no mark there to keep
            manifest["identity_high_water"] = max(
                old.get("identity_high_water", 0),
                snap["identity_high_water"],
            )
        return manifest, (snap["version"] + 1, attempt + 1)

    return _transact(
        base_dir, "restore", writer_id, build, max_retries, before_commit
    )


def clone_table(
    base_dir: str, target_dir: str, version: int | None = None
) -> dict:
    """SHALLOW CLONE: create a new manifest table at ``target_dir``
    whose v1 manifest is the source's manifest at ``version`` (default
    latest) — metadata only, ZERO data copied (Delta SHALLOW CLONE /
    Iceberg snapshot-ref semantics). Safe by the protocol's core
    invariant: committed data files are IMMUTABLE (commits only add
    files and publish manifests), so two tables referencing the same
    files can never corrupt each other. The clone evolves
    independently — its merges rewrite touched buckets into ITS OWN
    directory and carry untouched buckets by reference.

    Cross-table retention is handled on both sides:

    * source side — the clone registers a pin record under
      ``base_dir/clones/``; ``vacuum`` on the source treats every live
      clone's pinned version as KEPT (manifest and files survive any
      ``keep_last``), and drops records whose target table no longer
      exists. Vacuum on the source therefore cannot break a live clone
      (tests/test_lakehouse.py pins this).
    * clone side — ``vacuum`` only ever deletes files INSIDE its own
      table directory (ownership = directory containment), so expiring
      clone history merely drops references to source files, never the
      files themselves.

    The retention contract matches merge's: creating a clone
    concurrently with a vacuum that is expiring the very version being
    cloned is a race the retention window must prevent (clone inside
    the window, always). Refuses an existing ``target_dir``.

    Returns ``{"target", "source_version"}``."""
    snap = load_manifest(base_dir, version)
    v = snap["version"]
    os.makedirs(target_dir, exist_ok=False)
    manifest = _strip_commit_records({**snap, "version": 1})
    manifest.update(
        commit_kind="clone",
        writer_id="clone",
        cloned_from={
            "base_dir": os.path.abspath(base_dir),
            "version": v,
        },
    )
    if not _publish_manifest(target_dir, manifest):
        raise RuntimeError(f"clone target {target_dir} already has a v1")
    _pin_version(base_dir, target_dir, v)
    return {"target": os.path.abspath(target_dir), "source_version": v}


def publish_from(
    main_dir: str,
    source_dir: str,
    version: int | None = None,
    writer_id: str = "wap",
    max_retries: int = 5,
    before_commit=None,
) -> tuple[int, int]:
    """FAST-FORWARD PUBLISH (Iceberg write-audit-publish / branch
    fast-forward): commit ``main_dir``'s next version whose manifest
    is ``source_dir``'s manifest at ``version`` (default latest) —
    metadata-only, zero data copied. The WAP pattern this enables:
    clone main to a staging branch, merge the candidate batch into the
    BRANCH (with expectations — the audit is the branch commit's
    quarantine record), inspect, then publish; main never exposes the
    unaudited intermediate state, and an audit failure simply abandons
    the branch.

    Cross-table retention mirrors clone_table's, in the reverse
    direction: BEFORE the CAS, main registers a pin record under
    ``source_dir/clones/`` on the published version, so vacuum on the
    source/branch can never delete files main now references (and
    main's own vacuum only deletes main-directory files — containment
    ownership). The pin registers first so no vacuum window exists
    between publish and protection. Per-commit records (expectations,
    restored_from) are stripped exactly as restore does;
    ``published_from`` and commit kind 'publish' are recorded instead;
    ``identity_high_water`` takes max(source, main) so ids minted on
    either line are never re-mintable. A publish that ultimately fails
    leaves its pin behind — an over-conservative hold (released when
    the target table is deleted), never a correctness hazard: safety
    beats eager reclamation on the retention side.

    Returns ``(committed_version, attempts)``."""
    snap_src = load_manifest(source_dir, version)  # raises if expired
    v = snap_src["version"]
    _pin_version(source_dir, main_dir, v)

    def build(snap_main, attempt, stage):
        manifest = _strip_commit_records(dict(snap_src))
        manifest["published_from"] = {
            "base_dir": os.path.abspath(source_dir),
            "version": v,
        }
        if snap_src.get("identity_col") is not None:
            # a main without identity_col has no mark to keep
            manifest["identity_high_water"] = max(
                snap_src["identity_high_water"],
                snap_main.get("identity_high_water", 0),
            )
        return manifest, (snap_main["version"] + 1, attempt + 1)

    return _transact(
        main_dir, "publish", writer_id, build, max_retries, before_commit
    )


def _pin_version(base_dir: str, target_dir: str, version: int) -> None:
    """Record that the table at ``target_dir`` references ``base_dir``'s
    files as of ``version``: one ``clones/clone_{uuid4 hex}.json``
    record that ``_clone_pinned_versions`` reads."""
    cdir = os.path.join(base_dir, "clones")
    os.makedirs(cdir, exist_ok=True)
    rec_path = os.path.join(cdir, f"clone_{uuid.uuid4().hex}.json")
    with open(rec_path, "w") as fh:
        json.dump(
            {"target": os.path.abspath(target_dir), "version": version}, fh
        )


def _clone_pinned_versions(base_dir: str) -> set[int]:
    """Source versions pinned by LIVE clones (records under
    ``base_dir/clones/``); records whose target table vanished are
    garbage-collected here, so an rm -rf'd clone stops blocking
    retention at the next vacuum."""
    cdir = os.path.join(base_dir, "clones")
    pins: set[int] = set()
    if not os.path.isdir(cdir):
        return pins
    for fn in sorted(os.listdir(cdir)):
        path = os.path.join(cdir, fn)
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except (OSError, ValueError):
            continue
        target = rec.get("target", "")
        if latest_version(target) > 0:
            pins.add(int(rec["version"]))
        elif target and not os.path.exists(target):
            # target truly gone (ENOENT) → release the pin. A target
            # that EXISTS but lists no manifests (permission denied,
            # transient mount failure — latest_version swallows every
            # OSError as 0) keeps its pin conservatively: releasing it
            # on a transient error would let the next vacuum delete
            # files a live clone still references.
            os.remove(path)
        else:
            pins.add(int(rec["version"]))
    return pins


def _manifest_refs(manifest: dict) -> set[str]:
    """Every path ``manifest`` references: bucket data files, MOR and
    DV delete sidecars, and the quarantine side table's directory."""
    refs = {
        f
        for group in ("buckets", "delete_files", "dv_files")
        for fs in (manifest.get(group) or {}).values()
        for f in fs
    }
    q = (manifest.get("expectations") or {}).get("path")
    if q:
        refs.add(q)
    return refs


def vacuum(
    base_dir: str,
    keep_last: int = 2,
    orphan_grace_seconds: float | None = None,
) -> dict:
    """Retention cleanup — the VACUUM half of the MERGE story: expire
    every manifest older than the newest ``keep_last`` versions and
    delete the data files ONLY those expired versions reference.

    Versions pinned by LIVE shallow clones (see ``clone_table``) are
    always kept regardless of ``keep_last``; only files INSIDE this
    table's own directory are ever deleted (a clone's manifests
    reference the source's files — containment is ownership).

    A file is deleted iff it appears in some expired manifest and in NO
    kept manifest — untouched-bucket files carried forward across
    commits survive as long as any kept version names them. Readers
    pinned inside the retention window are untouched (their manifests
    and files remain intact); readers pinned to an expired version
    lose it — the same explicit retention contract Delta/Iceberg
    VACUUM/expire_snapshots ships with. Deletion order is files first,
    manifests last, so a crash mid-vacuum can never leave a live
    manifest naming a deleted file... only an expired one.

    ``orphan_grace_seconds`` additionally sweeps ORPHANED staging
    directories — debris of commit attempts that crashed between the
    staging write and the CAS (a lost race cleans after itself; a
    killed process cannot), plus directories whose last referenced
    file this vacuum just expired. A directory is swept iff NO file
    under it is referenced by ANY retained manifest (buckets, delete
    sidecars, deletion vectors, quarantine) AND its mtime is older
    than the grace window — the grace is what keeps an IN-FLIGHT
    attempt's staging (unreferenced by design until its CAS) safe,
    exactly Delta VACUUM's uncommitted-file retention-hours contract.
    Clone-referenced source files are protected transitively: clones
    pin their source VERSIONS, so those manifests sit in the kept set
    and their files count as referenced.

    Returns ``{"deleted_versions": [...], "deleted_files": N,
    "kept_versions": [...], "orphan_dirs_deleted": N}``."""
    import shutil

    latest = latest_version(base_dir)
    if latest == 0:
        raise ValueError(f"no committed table at {base_dir}")
    keep_last = max(1, keep_last)
    # enumerate versions that STILL EXIST on disk (an earlier vacuum
    # already removed older manifests — idempotency requires never
    # assuming a contiguous 1..latest range)
    existing = _list_versions(base_dir)
    pins = _clone_pinned_versions(base_dir)
    kept = [v for v in existing if v > latest - keep_last or v in pins]
    expired = [v for v in existing if v not in kept]
    kept_refs: set[str] = set()
    for v in kept:
        kept_refs |= _manifest_refs(load_manifest(base_dir, v))
    doomed: set[str] = set()
    own = os.path.abspath(base_dir) + os.sep
    for v in expired:
        # ownership = directory containment: a CLONE's manifests
        # reference files inside the SOURCE table's directory;
        # expiring clone history must drop the references, never
        # delete another table's files
        doomed.update(
            p
            for p in _manifest_refs(load_manifest(base_dir, v))
            if p not in kept_refs and os.path.abspath(p).startswith(own)
        )
    n_files = 0
    for p in sorted(doomed):
        if os.path.isdir(p):
            # a quarantine side table expires with its commit
            shutil.rmtree(p, ignore_errors=True)
            continue
        n_files += 1
        try:
            os.remove(p)
        except FileNotFoundError:
            pass  # an earlier interrupted vacuum already got it
    if expired:
        # persist the reopened-slot ceiling BEFORE any manifest
        # deletion: _publish_manifest rejects commits at versions
        # <= floor, so a straggler can never link into a slot this
        # vacuum is about to reopen (see _publish_manifest docstring)
        _raise_version_floor(base_dir, max(expired))
    for v in expired:
        os.remove(_manifest_path(base_dir, v))
    orphans: list[str] = []
    if orphan_grace_seconds is not None:
        import re as _re

        referenced = {os.path.abspath(p) for p in kept_refs}
        cutoff = time.time() - max(0.0, orphan_grace_seconds)
        for entry in sorted(os.listdir(base_dir)):
            d = os.path.join(base_dir, entry)
            if not os.path.isdir(d):
                continue
            if not _re.match(r"[a-z]+_v\d+_", entry):
                continue  # clones/, tmp files, anything non-staging
            if os.path.abspath(d) in referenced:
                continue  # a referenced quarantine dir
            try:
                if os.path.getmtime(d) >= cutoff:
                    continue  # possibly an in-flight attempt
                has_ref = any(
                    os.path.abspath(os.path.join(root, f)) in referenced
                    for root, _dirs, fnames in os.walk(d)
                    for f in fnames
                )
                if not has_ref:
                    shutil.rmtree(d, ignore_errors=True)
                    orphans.append(entry)
            except FileNotFoundError:
                continue  # a concurrent sweep got it
    return {
        "deleted_versions": expired,
        "deleted_files": n_files,
        "kept_versions": kept,
        "orphan_dirs_deleted": len(orphans),
    }


def _is_missing_file_error(ex: Exception) -> bool:
    """Structured detection of 'the pinned snapshot's files vanished'
    (a vacuum expired the version this merge attempt is reading) — the
    only exception class the commit loop may treat as retryable.

    Matches, in order of structure:
    * ``AnalysisException`` whose error condition is ``PATH_NOT_FOUND``
      — Spark's plan-time path-existence check in
      ``spark.read.parquet`` (Spark 4 exposes the condition via
      ``getCondition()``, older via ``getErrorClass()``);
    * a ``java.io.FileNotFoundException`` in the JVM cause chain — an
      executor task losing a file mid-scan surfaces wrapped in
      SparkException layers (some Spark versions wrap it in an
      AnalysisException whose condition is NOT PATH_NOT_FOUND, so a
      non-matching condition falls through to the cause walk rather
      than classifying non-retryable early), so walk ``getCause()``
      when the Java throwable is reachable, else match the
      fully-qualified class name token in the rendered trace
      (class-name token, NOT free text like 'does not exist', which
      misclassifies unrelated errors that merely mention a missing
      path)."""
    from pyspark.errors import AnalysisException

    if isinstance(ex, AnalysisException):
        cond = None
        for getter in ("getCondition", "getErrorClass"):
            fn = getattr(ex, getter, None)
            if fn is None:
                continue
            try:
                cond = fn()
            except Exception:
                continue
            if cond:
                break
        if cond and "PATH_NOT_FOUND" in cond:
            return True
        # fall through: an AnalysisException with a different (or no)
        # condition may still wrap a FileNotFoundException cause

    jt = getattr(ex, "java_exception", None)
    hops = 0
    while jt is not None and hops < 20:
        try:
            if jt.getClass().getName() == "java.io.FileNotFoundException":
                return True
            jt = jt.getCause()
        except Exception:
            break
        hops += 1
    return "java.io.FileNotFoundException" in str(ex)


class MergeConflictError(RuntimeError):
    """Raised when a commit (merge, delete, compaction, restore, any
    face that runs through ``_transact``) loses the commit CAS more
    than max_retries times in a row (livelock guard; production backs
    off instead)."""


class SerializationConflictError(MergeConflictError):
    """Raised under ``isolation='serializable'`` when a competing
    commit logically changed a key this merge also writes (or when
    retention expired the pinned version, making disjointness
    unprovable) — the WriteSerializable conflict Delta raises as
    ConcurrentAppendException. Subclasses MergeConflictError so callers
    treating every merge conflict uniformly keep working."""


def _check_serializable(
    spark: SparkSession,
    base_dir: str,
    pinned_version: int,
    updates: DataFrame,
    key_col: str,
    writer_id: str,
    bucket_hint: tuple[int, list[int]] | None = None,
) -> None:
    """Serializable-mode gate run after a lost CAS, BEFORE rebasing:
    diff the manifests committed since the pinned version
    (changes_between — O(changed data): only buckets whose file sets
    differ are read, so a metadata-only or compaction commit costs
    nothing) and raise if any logically-changed key intersects this
    writer's key set. Logical diffing is the precision that makes the
    mode usable: a concurrent compaction/rebucket churns every file
    yet changes no key, so it must NOT conflict — file-level
    comparison would deadlock maintenance against every writer."""
    current = latest_version(base_dir)
    try:
        # the probe only cares about keys THIS writer touches, whose
        # buckets the merge loop already knows — scope the diff's read
        # to them (exact: key→bucket is deterministic; changes_between
        # ignores the hint across a rebucket)
        delta = changes_between(
            spark, base_dir, pinned_version, current,
            within_buckets=bucket_hint,
        )
    except (FileNotFoundError, OSError) as ex:
        raise SerializationConflictError(
            f"serializable merge by {writer_id!r}: retention expired "
            f"pinned v{pinned_version}, so disjointness against "
            f"v{current} cannot be proven; re-read and re-merge"
        ) from ex
    hit = (
        delta.select(key_col)
        .distinct()
        .join(
            F.broadcast(updates.select(key_col).distinct()),
            on=key_col,
            how="inner",
        )
        .limit(5)
        .collect()
    )
    if hit:
        raise SerializationConflictError(
            f"serializable merge by {writer_id!r}: keys "
            f"{sorted(r[0] for r in hit)} (sample) were changed by a "
            f"commit between pinned v{pinned_version} and v{current}; "
            "re-read and re-merge"
        )


def merge_upsert_manifest(
    base_dir: str,
    updates: DataFrame,
    ver_col: str,
    tiebreak_col: str,
    writer_id: str = "w0",
    max_retries: int = 5,
    before_commit=None,
    evolve_schema: bool = False,
    write_salt: int = 1,
    patch_cols: list[str] | None = None,
    expectations: dict[str, str] | None = None,
    isolation: str = "latest_wins",
    bucket_hint: tuple[int, list[int]] | None = None,
) -> tuple[int, int]:
    """MERGE INTO the manifest table at ``base_dir``: latest-wins per
    key across (pinned snapshot ∪ updates), ordered by ``ver_col`` DESC
    with ``tiebreak_col`` for full determinism. Only buckets containing
    an updated key are read or rewritten; every other bucket's files
    carry over into the new manifest untouched (asserted file-identical
    in tests/test_lakehouse.py).

    ``patch_cols`` switches matched rows from full-row replacement to
    COLUMN-SUBSET UPDATE (Delta's ``whenMatchedUpdate(set={...})``,
    SQL MERGE's ``UPDATE SET c = ...``): the batch carries ONLY
    (key, ver_col, tiebreak_col, *patch_cols); every other table
    column is carried from the key's current visible row in the
    pinned snapshot (NULL when the key is new or tombstoned — the
    WHEN NOT MATCHED INSERT face). The patch enrichment runs INSIDE
    the retry loop against the SAME pinned manifest the CAS commits
    over: a writer that loses the race re-pins and RE-PATCHES against
    the winner's rows, so two writers patching different columns of
    the same key both survive (the lost-update anomaly a
    read-enrich-then-merge wrapper outside the loop would reintroduce;
    raced in tests/test_lakehouse.py). Costs one extra bucket-pruned
    scan of the touched buckets (the patch join's build side) — the
    same "read matched files" price Delta's MERGE pays. Mutually
    exclusive with ``evolve_schema`` (a patch never changes schema).

    ``evolve_schema=True`` relaxes the strict schema gates to SAFE
    evolution only (see _resolve_evolved_schema): new update columns
    append to the table (existing rows read them as NULL — no rewrite
    of untouched buckets, the alignment happens at read time), common
    columns may widen along the value-preserving lattice
    (int→bigint, float→double, …), and the key column may never change
    type. Rows are full-row replacements under latest-wins: an update
    row that omits a table column writes NULL there, it does not
    partially patch the previous row. Deletes ride the same path: an
    update row with ``_deleted`` true is a tombstone — it wins/loses
    latest-wins like any row, hides its key from default reads while
    it lives, and is reclaimed by compact_tombstones.

    ``expectations`` ({name: SQL boolean over the batch's columns})
    arms the write-side quality gate: rows failing any expectation are
    QUARANTINED — written to a commit-private side table tagged with
    QUARANTINE_REASON_COL (the sorted failed names) — and the commit
    carries only the passing subset; the manifest records the checked
    names, quarantine count, per-expectation violation counts, and the
    side table's path (``read_quarantine`` is the triage surface).
    Delta's CHECK-constraint semantics (a row passes iff the predicate
    is exactly TRUE — NULL violates), but quarantine-not-abort, so one
    bad row cannot wedge an ingestion pipeline while every downstream
    incremental consumer (CDC, CDF materialization) sees only clean
    rows. The split is computed ONCE before the CAS loop (it depends
    only on the batch); the quarantine files are staged per attempt and
    cleaned on a lost race exactly like commit staging. An
    all-violating batch still commits: version advances, no bucket is
    touched, and the manifest's quarantine record IS the result.

    ``isolation`` selects the conflict policy on a lost CAS:
    ``'latest_wins'`` (default) silently rebases — re-pin the winner's
    manifest, re-derive, retry — correct when updates are full-state
    ("the row IS this"); ``'serializable'`` additionally diffs the
    commits that landed since the pinned version (changes_between —
    O(changed data)) against this writer's key set and raises
    SerializationConflictError on overlap — required when updates are
    read-modify-write (increments, balance math), where silent rebase
    commits a lost update. Disjoint writers and key-preserving
    maintenance commits (compaction, rebucket) never conflict: the
    diff is LOGICAL, not file-level. If retention expired the pinned
    version, disjointness is unprovable and the merge conflicts
    conservatively. Delta's WriteSerializable / Iceberg's
    serializable-isolation validation, on the manifest CAS.

    ``before_commit(attempt)`` is a test seam invoked after the new
    files are written but before the CAS — the window in which a
    competing commit causes this writer to lose the race and retry.

    ``bucket_hint=(n_buckets, bucket_ids)`` lets a caller that already
    collected the batch's bucket set (the LSH admission path prunes
    its index read with exactly that set) skip the per-commit
    bucket-probe job — one fewer full pass over the batch lineage.
    Ignored (recomputed) when the pinned snapshot's n_buckets differs
    from the hint's or the batch carries a tombstone column; a wrong
    hint is caught by _transact's staged-file check before publish,
    so it can abort a commit but never corrupt one.

    Retention interaction (the same contract Delta documents for
    VACUUM): the retention window must exceed the longest-running
    merge. A vacuum that expires THIS writer's pinned version mid-merge
    deletes base files the attempt is reading; the loop treats that
    file-not-found exactly like a lost CAS — re-pin the (younger)
    latest manifest and retry — so the merge still converges unless it
    exhausts max_retries.

    Returns ``(committed_version, attempts)``."""
    spark = updates.sparkSession
    if patch_cols is not None and evolve_schema:
        raise ValueError(
            "patch_cols and evolve_schema are mutually exclusive: a "
            "column-subset patch is defined over the table's existing "
            "schema"
        )
    if isolation not in ("latest_wins", "serializable"):
        raise ValueError(
            f"isolation must be 'latest_wins' or 'serializable', got "
            f"{isolation!r}"
        )
    gate_stats = quarantined = None
    if expectations is not None:
        # snapshot-independent: gate once, OUTSIDE the retry loop — a
        # lost CAS re-merges the same passing subset, never re-gates
        updates, quarantined, gate_stats = _gate_expectations(
            updates, expectations
        )
    # the serializable probe's scope: the last attempt's buckets
    probe_scope: dict = {}

    def build(snap, attempt, stage):
        key_col, n_buckets = snap["key_col"], snap["n_buckets"]
        if tiebreak_col == key_col:
            # within a key every row shares the key, so it cannot break
            # ties — the resulting latest-wins winner among equal
            # versions would be partition-order-dependent (and the
            # duplicated projection breaks analysis downstream)
            raise ValueError(
                "tiebreak_col must differ from the table key "
                f"({key_col!r}): a key cannot break its own ties"
            )
        expected = snap["columns"]
        expected_types = snap["column_types"]
        if patch_cols is not None:
            bad = [
                c
                for c in patch_cols
                if c not in expected
                or c in (key_col, "bucket", "rn")
                or c == snap.get("identity_col")
            ]
            if bad:
                raise ValueError(
                    f"patch_cols {bad} must be existing non-key, "
                    f"non-identity table columns (table: {sorted(expected)})"
                )
            need = sorted({key_col, ver_col, tiebreak_col, *patch_cols})
            if sorted(updates.columns) != need:
                raise ValueError(
                    f"partial-update batch columns "
                    f"{sorted(updates.columns)} must be exactly {need}"
                )
        if evolve_schema:
            res_columns, res_types = _resolve_evolved_schema(
                expected, expected_types, updates, key_col
            )
            bcol = snap.get("bloom_col")
            if bcol is not None and res_types.get(bcol) != expected_types.get(
                bcol
            ):
                # cluster stats survive a widening (values preserved,
                # <= still true); bloom bits do NOT — they are xxhash64
                # over the BUILT type, and xxhash64(5 int) !=
                # xxhash64(5L), so a probe at the widened type would
                # silently skip files that hold the value
                raise ValueError(
                    f"schema evolution may not change the bloom column "
                    f"{bcol!r}'s type ({expected_types.get(bcol)} -> "
                    f"{res_types.get(bcol)}): per-file bloom bits hash "
                    "the built type; re-init or rebucket to re-index"
                )
        else:
            if patch_cols is None and sorted(updates.columns) != sorted(
                expected
            ):
                raise ValueError(
                    f"update batch columns {sorted(updates.columns)} do not "
                    f"match table columns {sorted(expected)}; MERGE does not "
                    "evolve the schema unless evolve_schema=True — align the "
                    "batch (or re-init) first"
                )
            got_types = _column_types(updates)
            drift = {
                c: (expected_types[c], got_types[c])
                for c in got_types
                if c in expected_types and got_types[c] != expected_types[c]
            }
            if drift:
                # name-only matching would let a type-drifted key column
                # re-bucket (xxhash64('5') != xxhash64(5L)) and leave TWO
                # live rows for one logical key across buckets
                raise ValueError(
                    f"update batch column types drift from the table's: "
                    f"{drift}; MERGE does not evolve the schema unless "
                    "evolve_schema=True (safe widenings only)"
                )
            res_columns, res_types = expected, expected_types
        cols = [key_col, ver_col, tiebreak_col] + [
            c
            for c in res_columns
            if c not in (key_col, ver_col, tiebreak_col)
        ]
        have = set(updates.columns)
        if patch_cols is not None:
            # batch stays NARROW here (key, ver, tiebreak, patch cols,
            # types aligned); the carry columns are filled from the
            # pinned snapshot's rows AFTER the touched buckets are
            # read, inside the retry guard — NULL-filling them now
            # would turn the patch into a full-row replacement
            upd = updates.select(
                *[F.col(c).cast(res_types[c]).alias(c) for c in cols if c in have]
            )
        else:
            # align the batch to the RESULT schema: evolution may add
            # table columns the batch omits (NULL — latest-wins rows are
            # full-row replacements) or leave the batch narrower than a
            # widened column (lossless upcast); same-type casts are
            # elided
            upd = updates.select(
                *[
                    (
                        F.col(c).cast(res_types[c])
                        if c in have
                        else F.lit(None).cast(res_types[c])
                    ).alias(c)
                    for c in cols
                ]
            )
        next_version = snap["version"] + 1
        staging = stage("commit")
        # one pass over the (small) batch keys plans the bucket
        # pruning, the tombstone bookkeeping the manifest carries for
        # compact_tombstones and the batch's cluster range — no second
        # job. The range is what the batch writes unless its cluster
        # values appear only after the probe: carried or NULL-filled
        # patch columns, minted identities
        ccol = snap.get("cluster_col")
        span_probe = (
            ccol is not None
            and patch_cols is None
            and ccol != snap.get("identity_col")
        )
        batch_spans = None
        if (
            bucket_hint is not None
            and TOMBSTONE_COL not in upd.columns
            and int(bucket_hint[0]) == n_buckets
        ):
            # caller already knows the batch's bucket set (e.g. the
            # LSH admission path collected it for its own index
            # pruning) — skip the bucket-probe job, which otherwise
            # re-runs the whole batch lineage once before the write
            # re-runs it again. Honored only when the hint was
            # derived under the SAME n_buckets (a racing rebucket
            # re-pins to a different count and the mapping moves)
            # and the batch carries no tombstone column (the probe
            # doubles as tombstone bookkeeping). A stale/short hint
            # cannot corrupt: _transact's staged-file check aborts
            # the commit before publish.
            touched = sorted({int(b) for b in bucket_hint[1]})
            tomb_buckets = sorted(
                set(int(b) for b in snap["tombstone_buckets"])
            )
        else:
            tomb_flag = (
                _tomb_flag() if TOMBSTONE_COL in upd.columns else F.lit(False)
            )
            aggs = [F.max(tomb_flag).alias("has_tomb")]
            if span_probe:
                c = F.col(ccol)
                aggs += [
                    F.min(c).alias("lo"), F.max(c).alias("hi"),
                    (F.count(F.lit(1)) > F.count(c)).alias("has_null"),
                ]
            bucket_info = (
                upd.groupBy(_bucket_of(key_col, n_buckets).alias("bucket"))
                .agg(*aggs)
                .collect()
            )
            touched = sorted(r.bucket for r in bucket_info)
            tomb_buckets = sorted(
                set(int(b) for b in snap["tombstone_buckets"])
                | {r.bucket for r in bucket_info if r.has_tomb}
            )
            if span_probe:
                batch_spans = [(r.lo, r.hi, r.has_null) for r in bucket_info]
        base_files = [
            f for b in touched for f in snap["buckets"].get(str(b), [])
        ]
        # THIS commit's column epochs, computed BEFORE the base
        # read: carried columns keep their birth version; columns
        # NEW to this commit (evolve-add, or a RE-ADD of a dropped
        # name) are born at next_version. The base read must use
        # THESE epochs, not the pinned snapshot's — the snapshot
        # has no entry for a column this merge introduces, and an
        # entry-less column would default to trusted, so a re-add
        # would read the dropped incarnation's stale bytes out of
        # old files and PERSIST them into the rewrite
        # (caught by the protocol model fuzz, seed 1337).
        new_epochs = {
            c: snap["column_epochs"].get(c, next_version) for c in res_columns
        }
        base_df = None
        if base_files:
            # aligned, not a plain read: files written before a
            # schema evolution physically lack added columns / carry
            # narrower widened types — and pending MOR deletes apply
            # BEFORE the merge fold, so this rewrite applies them
            # physically (its buckets' sidecars clear below) and a
            # deleted key patched/updated here re-inserts fresh
            # rather than carrying dead values
            base_df = _read_visible_base(
                spark, snap, base_files, cols, res_types, new_epochs
            )
        if patch_cols is not None:
            # fill the carry columns from the pinned snapshot's
            # visible rows (one row per key by the merge invariant).
            # Duplicate batch keys need no pre-dedup: both rows get
            # identical carry values — and, under identity_col, the
            # same minted id (dense_rank below is per-key) — so the
            # final latest-wins window picks the same winner it
            # would after a dedup, with the same identity.
            carry = [c for c in cols if c not in upd.columns]
            carry_data = [c for c in carry if c != TOMBSTONE_COL]
            if base_df is not None and carry_data:
                upd = upd.join(
                    _visible_rows(base_df).select(key_col, *carry_data),
                    on=key_col,
                    how="left",
                )
            else:
                for c in carry_data:
                    upd = upd.withColumn(c, F.lit(None).cast(res_types[c]))
            if TOMBSTONE_COL in carry:
                # a patch row is a live upsert: the key's previous
                # tombstone state never carries (visible rows are
                # all live, tombstoned/new keys re-insert live)
                upd = upd.withColumn(
                    TOMBSTONE_COL, F.lit(None).cast(res_types[TOMBSTONE_COL])
                )
        ident = snap.get("identity_col")
        new_hw = snap["identity_high_water"] if ident is not None else None
        if (
            patch_cols is not None
            and ident is not None
            and ident not in updates.columns
        ):
            # identity assignment: matched keys carried their id in
            # the join above; NEW keys (NULL id) take
            # high_water + dense_rank-by-key — a window over ONLY
            # the batch's unmatched rows (bounded by batch size, the
            # one place a single-partition window is provably
            # bounded); dense_rank (not row_number) so duplicate
            # batch rows for the same new key mint ONE id — no
            # high-water gaps, and the latest-wins winner's id is
            # tiebreak-independent. The advanced mark publishes WITH
            # this commit's manifest, so a lost CAS re-pins the
            # winner's mark and re-assigns — two racing inserters
            # can never mint the same id (raced in
            # tests/test_lakehouse.py)
            upd, new_hw = _mint_identities(
                upd, ident, key_col, new_hw, res_types[ident]
            )
        elif ident is not None and ident in upd.columns:
            # full-row mode: the batch carries caller-managed ids —
            # keep the invariant hw >= every assigned id, then close
            # the NULL-id hole: rows arriving without an id first
            # re-adopt the key's existing id from the pinned
            # snapshot (so a full-row rewrite cannot silently change
            # a key's identity), and genuinely new keys mint from
            # the raised mark exactly like the patch path — a
            # full-row batch can never publish NULL identities
            # one batch pass answers both questions (max assigned
            # id AND does-any-row-lack-one) — this ran as two jobs
            idstat = upd.agg(
                F.max(ident).alias("m"),
                F.sum(F.col(ident).isNull().cast("int")).alias("nn"),
            ).first()
            if idstat.m is not None:
                new_hw = max(new_hw, int(idstat.m))
            if int(idstat.nn or 0) > 0:
                if base_df is not None:
                    existing = _visible_rows(base_df).select(
                        key_col, F.col(ident).alias("__existing_id")
                    )
                    upd = (
                        upd.join(existing, on=key_col, how="left")
                        .withColumn(
                            ident,
                            F.coalesce(
                                F.col(ident),
                                F.col("__existing_id").cast(
                                    res_types[ident]
                                ),
                            ),
                        )
                        .drop("__existing_id")
                    )
                upd, new_hw = _mint_identities(
                    upd, ident, key_col, new_hw, res_types[ident]
                )
        unioned = upd if base_df is None else base_df.unionByName(upd)
        manifest = _strip_commit_records(
            {
                **snap,
                "columns": list(res_columns),
                "column_types": {c: res_types[c] for c in res_columns},
                # buckets that MAY hold live tombstone rows — a
                # conservative over-approximation maintained commit-side
                # so compact_tombstones never scans the whole table to
                # find work (at 100 TB that scan would dwarf the
                # compaction)
                "tombstone_buckets": tomb_buckets,
                # computed above, BEFORE the base read used them
                "column_epochs": new_epochs,
            }
        )
        if ident is not None:
            manifest["identity_high_water"] = new_hw
        # the lazy plan writes straight to staging: pinned base files
        # are IMMUTABLE under the protocol (commits only add files and
        # publish manifests; only vacuum deletes), so no checkpoint
        # barrier is needed — a materialize-then-rewrite here would
        # double the commit path's I/O for nothing. The touched
        # buckets' pending MOR deletes and deletion vectors were
        # applied by the base read and clear with the rewrite.
        _stage_rewrite(
            spark, manifest, next_version, staging, unioned, touched,
            salt=write_salt, latest_wins=(ver_col, tiebreak_col),
            bounds=(
                None
                if batch_spans is None
                else _cluster_bounds(manifest, base_files, batch_spans)
            ),
        )
        if gate_stats is not None:
            qpath = None
            if gate_stats["quarantined"]:
                # attempt-private like commit staging (same collision
                # reasoning as _staging_path's docstring); the manifest
                # pins the winning attempt's dir, vacuum reclaims it
                # with the version
                qpath = stage("quarantine")
                quarantined.write.mode("error").parquet(qpath)
            manifest["expectations"] = {**gate_stats, "path": qpath}
        probe_scope["buckets"] = (n_buckets, touched)
        return manifest, (next_version, attempt + 1)

    def serializable_probe(snap):
        # gated on the POST-expectations batch: quarantined rows
        # never commit, so they cannot lose an update either
        _check_serializable(
            spark, base_dir, snap["version"], updates, snap["key_col"],
            writer_id, bucket_hint=probe_scope["buckets"],
        )

    return _transact(
        base_dir, "merge", writer_id, build, max_retries, before_commit,
        serializable_probe if isolation == "serializable" else None,
    )


def compact_tombstones(
    spark: SparkSession,
    base_dir: str,
    writer_id: str = "w0",
    max_retries: int = 5,
) -> dict:
    """Physically reclaim tombstone rows — the retention half of the
    delete story. Reads ONLY the buckets the manifests flagged as
    possibly-tombstoned (commit-side bookkeeping; never a table scan),
    rewrites the ones that actually hold live tombstones without their
    tombstone rows, clears the flags, and publishes a new version
    through ``_transact``.

    Retention contract (identical to Delta vacuuming past its deletion
    retention window): while a tombstone lives, a late-arriving update
    with a LOWER version than the delete loses latest-wins and the key
    stays deleted; after compaction that guard is gone and such a
    straggler would resurrect the key. Compact only once stragglers
    older than the delete can no longer arrive
    (tests/test_lakehouse.py pins both halves of this contract).

    Returns ``{"version", "buckets_compacted", "tombstones_dropped"}``;
    a table with no flagged buckets returns its current version with
    no new commit."""
    tomb = _tomb_flag()

    def build(snap, attempt, stage):
        key_col, n_buckets = snap["key_col"], snap["n_buckets"]
        candidates = sorted(int(b) for b in snap["tombstone_buckets"])
        if not candidates or TOMBSTONE_COL not in snap["column_types"]:
            return None, {
                "version": snap["version"],
                "buckets_compacted": [],
                "tombstones_dropped": 0,
            }
        files = [
            f for b in candidates for f in snap["buckets"].get(str(b), [])
        ]
        df = _read_visible_base(spark, snap, files)
        bucket = _bucket_of(key_col, n_buckets)
        per = {
            r.bucket: r.n
            for r in df.groupBy(bucket.alias("bucket"))
            .agg(F.sum(tomb.cast("int")).alias("n"))
            .collect()
        }
        doomed = sorted(b for b, n in per.items() if n)
        dropped = int(sum(per[b] for b in doomed))
        result = {
            "version": snap["version"] + 1,
            "buckets_compacted": doomed,
            "tombstones_dropped": dropped,
        }
        manifest = _strip_commit_records(
            {**snap, "tombstone_buckets": []}
        )
        if doomed:
            # an all-tombstone bucket compacts to NO files at all
            _stage_rewrite(
                spark, manifest, snap["version"] + 1, stage("compact"),
                df.filter(bucket.isin(doomed)).filter(~tomb), doomed,
                bounds=_cluster_bounds(
                    snap,
                    [f for b in doomed for f in snap["buckets"][str(b)]],
                ),
            )
        # with nothing doomed the flags were conservative
        # over-approximations (the tombstones lost latest-wins at some
        # later merge) — clear them with a metadata-only commit
        return manifest, result

    return _transact(base_dir, "compact", writer_id, build, max_retries)


def optimize_compact(
    spark: SparkSession,
    base_dir: str,
    max_files_per_bucket: int = 1,
    writer_id: str = "w0",
    max_retries: int = 5,
    before_commit=None,
) -> dict:
    """OPTIMIZE — bin-pack fragmented buckets into right-sized files,
    as a first-class manifest commit (Delta OPTIMIZE / Iceberg
    rewrite_data_files). The per-commit file bound is O(buckets ×
    salt/bins), but salted hot-bucket merges and high-parallelism
    writes leave MORE than the steady-state file count per bucket;
    every extra file is a parquet footer open on every later read of
    that bucket. This commit face reclaims that: it reads ONLY the
    buckets whose manifest file list exceeds ``max_files_per_bucket``
    (a manifest inspection, never a table scan), rewrites each through
    the table's standard clustered write — a clustered table stays
    clustered (bins files per bucket, fresh zone-map stats); an
    unclustered one packs to one file per bucket — and commits
    ``commit_kind='optimize'`` through ``_transact``.

    Invariants (pinned in tests/test_lakehouse.py):
    * byte-identical visible rows — tombstone rows INCLUDED (dropping
      them is compact_tombstones' job, gated by its straggler
      contract); the CDF between pre/post versions diffs EMPTY
      (changes_between's file-churn invariance);
    * ``tombstone_buckets`` flags carry unchanged (rows unchanged ⇒
      flags stay exactly as conservative as they were);
    * pinned readers and clones are untouched (old manifests + files
      remain; vacuum reclaims the splinter files after retention).

    OPTIMIZE also COALESCES accumulated merge-on-read delete sidecars:
    a bucket that is NOT being rewritten but carries more than one
    pending sidecar parquet gets them folded into ONE (distinct keys,
    one metadata-sized job) — without this, a client issuing many tiny
    ``delete_keys_mor`` commits between rewrites would inflate every
    read's anti-join fan-in unboundedly (rewritten buckets need no
    coalesce: their deletes apply physically and their sidecars clear).

    Returns ``{"version", "buckets_optimized", "files_before",
    "files_after", "sidecars_coalesced"}``; a table with nothing to
    pack or coalesce returns its current version with no new commit."""
    def build(snap, attempt, stage):
        key_col, n_buckets = snap["key_col"], snap["n_buckets"]
        fragmented = sorted(
            int(b)
            for b, fs in snap["buckets"].items()
            if len(fs) > max(1, max_files_per_bucket)
        )
        dels_all = snap.get("delete_files") or {}
        side_frag = sorted(
            int(b)
            for b, fs in dels_all.items()
            if len(fs) > 1 and int(b) not in set(fragmented)
        )
        dvs_all = snap.get("dv_files") or {}
        dv_frag = sorted(
            int(b)
            for b, fs in dvs_all.items()
            if len(fs) > 1 and int(b) not in set(fragmented)
        )
        n_before = sum(len(fs) for fs in snap["buckets"].values())
        if not fragmented and not side_frag and not dv_frag:
            return None, {
                "version": snap["version"],
                "buckets_optimized": [],
                "files_before": n_before,
                "files_after": n_before,
                "sidecars_coalesced": [],
                "dv_coalesced": [],
            }
        manifest = _strip_commit_records(dict(snap))
        if fragmented:
            # pending MOR deletes of the rewritten buckets apply
            # physically here (visible rows unchanged — they were
            # already hidden at read); their sidecars clear with the
            # rewrite
            files = [f for b in fragmented for f in snap["buckets"][str(b)]]
            _stage_rewrite(
                spark, manifest, snap["version"] + 1, stage("optimize"),
                _read_visible_base(spark, snap, files),
                fragmented,
                bounds=_cluster_bounds(snap, files),
            )
        del_new: dict[int, list] = {}
        dv_new: dict[int, list] = {}
        if dv_frag:
            # deletion-vector sidecars coalesce by BIT_OR folding
            # the per-(file, word) bitmap slots — one job over
            # O(pending deleted rows / 64) words. The file column
            # keys each word to its data file, and a file belongs
            # to exactly one bucket, so re-deriving the bucket from
            # the sidecar's own partition layout is unnecessary:
            # fold per bucket's files directly
            bdf = spark.createDataFrame(
                [
                    (f, int(b))
                    for b in dv_frag
                    for f in snap["buckets"].get(str(b), [])
                ],
                "file string, bucket int",
            )
            dv_files_in = [f for b in dv_frag for f in dvs_all[str(b)]]
            dv_new = _write_sidecar(
                _read_parquet(spark, dv_files_in, DV_SIDECAR_DDL)
                .groupBy("file", "w")
                .agg(F.bit_or("word").alias("word"))
                # vectors only survive while their bucket is
                # unrewritten, so every referenced file is still a
                # current bucket file — the inner join drops nothing
                .join(F.broadcast(bdf), "file"),
                stage("optdv"),
            )
        if side_frag:
            # one job over O(pending deleted keys): keys re-derive
            # their own bucket (sidecars are bucket-scoped by the
            # same hash), so the rewrite is the delete_keys_mor
            # write shape with a fresh attempt-private dir
            side_files = [f for b in side_frag for f in dels_all[str(b)]]
            del_new = _write_sidecar(
                _read_parquet(
                    spark, side_files, _ddl([key_col], snap["column_types"])
                )
                .distinct()
                .withColumn("bucket", _bucket_of(key_col, n_buckets)),
                stage("optdel"),
            )
        # coalesced buckets swap their sidecars for the folded one (an
        # all-duplicate set can coalesce to zero files — the entry
        # drops)
        _carry_sidecars(manifest, "delete_files", side_frag, del_new)
        _carry_sidecars(manifest, "dv_files", dv_frag, dv_new)
        # sidecar-only commits change no data files: every per-file
        # map carried verbatim by the snapshot copy stays exact
        return manifest, {
            "version": snap["version"] + 1,
            "buckets_optimized": fragmented,
            "files_before": n_before,
            "files_after": sum(
                len(fs) for fs in manifest["buckets"].values()
            ),
            "sidecars_coalesced": side_frag,
            "dv_coalesced": dv_frag,
        }

    return _transact(
        base_dir, "optimize", writer_id, build, max_retries, before_commit
    )


def drop_column(
    base_dir: str,
    col: str,
    writer_id: str = "w0",
    max_retries: int = 5,
) -> tuple[int, int]:
    """DROP COLUMN as a metadata-only commit (Delta column-mapping
    drop / Iceberg drop-column): the new manifest simply omits the
    column from the logical schema — zero data files rewritten, O(1)
    in table size. The aligned read binds the MANIFEST's columns, so
    files still carrying the dropped column's bytes serve reads
    without it, readers pinned before the drop keep
    their epoch's schema (time travel shows the column), and the bytes
    are physically reclaimed whenever ordinary rewrites (merge /
    compact / optimize / rebucket) rewrite their buckets. A later
    evolving merge may re-add the name as a fresh column (NULL for
    existing rows) — Delta's re-add semantics.

    Structural columns refuse to drop: the table key, cluster_col,
    bloom_col, identity_col, and the tombstone marker.

    Returns ``(committed_version, attempts)``."""

    def build(snap, attempt, stage):
        if col not in snap["columns"]:
            raise ValueError(
                f"column {col!r} not in table schema {snap['columns']}"
            )
        protected = {
            snap["key_col"],
            snap.get("cluster_col"),
            snap.get("bloom_col"),
            snap.get("identity_col"),
            TOMBSTONE_COL,
        }
        if col in protected:
            raise ValueError(
                f"column {col!r} is structural (key/cluster/bloom/"
                "identity/tombstone) and cannot be dropped"
            )
        def without(d):
            return {c: v for c, v in d.items() if c != col}

        manifest = _strip_commit_records(
            {
                **snap,
                "columns": [c for c in snap["columns"] if c != col],
                "column_types": without(snap["column_types"]),
                "column_epochs": without(snap["column_epochs"]),
                # stats hygiene: the dropped column's per-file entries
                # go with it (a re-added column's stats must not alias
                # these)
                "column_stats": {
                    f: without(d) for f, d in snap["column_stats"].items()
                },
            }
        )
        return manifest, (snap["version"] + 1, attempt + 1)

    return _transact(base_dir, "evolve", writer_id, build, max_retries)


def delete_keys_mor(
    spark: SparkSession,
    base_dir: str,
    keys_df: DataFrame,
    writer_id: str = "w0",
    max_retries: int = 5,
    before_commit=None,
) -> tuple[int, int]:
    """Merge-on-read DELETE (Iceberg equality-delete files / Delta
    deletion-vector intent): commit the DELETED KEYS as per-bucket
    sidecar parquets and leave every data file untouched — the commit
    costs O(deleted keys), not O(touched buckets) of rewrite. Readers
    anti-join the pending delete set (``_apply_mor_deletes`` — wired
    into every read face and both CDF paths); any later rewrite of a
    bucket (merge / compact / optimize / rebucket) applies that
    bucket's pending deletes physically and clears its sidecars, so
    the read-side anti-join stays O(pending keys between rewrites).

    Contract vs tombstone DELETE (`merge_upsert_manifest` with
    ``_deleted`` rows): a tombstone is a versioned row — it wins
    latest-wins against lower-version stragglers until compaction. A
    MOR delete removes the key's CURRENT row immediately and keeps no
    guard: any later insert of the key resurrects it regardless of
    version (Delta DELETE semantics). Choose tombstones when
    out-of-order stragglers exist; choose MOR when delete latency and
    write amplification dominate (the GDPR-erasure shape: tiny key
    sets against huge buckets).

    Returns ``(committed_version, attempts)``. Keys are deduplicated;
    deleting an absent key is a harmless no-op at read time."""
    def build(snap, attempt, stage):
        key_col, n_buckets = snap["key_col"], snap["n_buckets"]
        key_type = snap["column_types"][key_col]
        staging = stage("mordel")
        keys = (
            keys_df.select(
                F.col(keys_df.columns[0]).cast(key_type).alias(key_col)
            )
            .distinct()
            .withColumn("bucket", _bucket_of(key_col, n_buckets))
        )
        manifest = _strip_commit_records(dict(snap))
        _carry_sidecars(
            manifest, "delete_files", added=_write_sidecar(keys, staging)
        )
        return manifest, (snap["version"] + 1, attempt + 1)

    return _transact(
        base_dir, "delete", writer_id, build, max_retries, before_commit
    )


def replace_where_range(
    spark: SparkSession,
    base_dir: str,
    col: str,
    lo,
    hi,
    new_rows: DataFrame,
    writer_id: str = "w0",
    max_retries: int = 5,
    before_commit=None,
) -> tuple[int, int]:
    """REPLACE WHERE — atomically swap the slice ``col BETWEEN lo AND
    hi`` for ``new_rows`` (Delta ``replaceWhere`` / dynamic partition
    overwrite, generalized from partitions to ANY stats-covered range):
    one commit after which the visible table is (rows outside the
    slice) ∪ ``new_rows``.

    Scale shape — FILE-level rewrite pruning from the all-column
    statistics: a file whose recorded [min, max] provably misses the
    slice is CARRIED VERBATIM (same file object in the next manifest,
    never opened); only possibly-matching files are read and
    rewritten without their in-slice rows, plus one new file group for
    the batch. On a ``cluster_col``-clustered table that is the
    difference between rewriting the table and rewriting one bin per
    bucket. Buckets carrying pending MOR/DV delete sidecars fall back
    to a FULL bucket rewrite (apply + clear): a partial rewrite would
    re-home surviving rows to new files and strand the positional
    vectors that hide them — resurrection, the class the protocol
    fuzz polices.

    Contract:
    * every ``new_rows`` row must lie INSIDE the slice (loud error —
      Delta's replaceWhere constraint);
    * a batch key whose existing VISIBLE row sits OUTSIDE the slice is
      a conflict (loud error): silently dropping it would be an
      undeclared upsert, keeping it would break the one-live-row-per-
      key invariant every merge relies on (checked column-pruned over
      only the batch keys' buckets);
    * tombstone rows are PRESERVED regardless of the predicate — they
      are invisible guards, not slice content; replacing them would
      re-open the straggler window compact_tombstones closes.

    Returns ``(committed_version, attempts)``."""

    def build(snap, attempt, stage):
        key_col, n_buckets = snap["key_col"], snap["n_buckets"]
        cols_, types_ = snap["columns"], snap["column_types"]
        if col not in types_:
            raise ValueError(
                f"replace column {col!r} not in table schema {cols_}"
            )
        if sorted(new_rows.columns) != sorted(cols_):
            raise ValueError(
                f"replacement batch columns {sorted(new_rows.columns)} "
                f"must match table columns {sorted(cols_)} exactly"
            )
        batch = new_rows.select(
            *[F.col(c).cast(types_[c]).alias(c) for c in cols_]
        )
        out_of_slice = ~F.col(col).between(F.lit(lo), F.lit(hi)) | F.col(
            col
        ).isNull()
        n_bad = batch.filter(out_of_slice).count()
        if n_bad:
            raise ValueError(
                f"replaceWhere constraint: {n_bad} batch rows lie "
                f"outside {col} BETWEEN {lo!r} AND {hi!r}"
            )
        kept, _skipped = plan_files(spark, snap, ("between", col, lo, hi))
        keptset = set(kept)
        bb = batch.withColumn("bucket", _bucket_of(key_col, n_buckets))
        new_buckets = {
            r.bucket for r in bb.select("bucket").distinct().collect()
        }
        dels_all = snap.get("delete_files") or {}
        dvs_all = snap.get("dv_files") or {}
        # a bucket that holds no file yet (never written, or emptied)
        # has no manifest entry; the batch may still land in it
        all_buckets = {
            **{str(b): [] for b in new_buckets}, **snap["buckets"]
        }
        plan: dict[str, str] = {}
        for b, fs in all_buckets.items():
            has_kept = any(f in keptset for f in fs)
            gets_new = int(b) in new_buckets
            if not has_kept and not gets_new:
                plan[b] = "carry"
            elif dels_all.get(b) or dvs_all.get(b):
                plan[b] = "full"
            else:
                plan[b] = "partial"
        # out-of-slice key-conflict check: visible rows sharing a
        # batch key, restricted to the batch keys' buckets and the
        # (key, col) columns — never a table scan
        check_files = [
            f
            for b, fs in snap["buckets"].items()
            if int(b) in new_buckets
            for f in fs
        ]
        if check_files:
            sub = list(
                dict.fromkeys(
                    [key_col, col]
                    + ([TOMBSTONE_COL] if TOMBSTONE_COL in types_ else [])
                )
            )
            probe = _visible_rows(
                _read_visible_base(spark, snap, check_files, sub)
            )
            clash = (
                probe.filter(out_of_slice)
                .join(
                    F.broadcast(batch.select(key_col).distinct()),
                    key_col,
                    "inner",
                )
                .limit(5)
                .collect()
            )
            if clash:
                raise ValueError(
                    "replaceWhere key conflict: batch keys "
                    f"{sorted(r[0] for r in clash)} (sample) have "
                    "visible rows OUTSIDE the slice; replace would "
                    "either drop them (undeclared upsert) or "
                    "duplicate the key"
                )
        to_rewrite = [
            f
            for b, fs in all_buckets.items()
            for f in fs
            if plan[b] == "full" or (plan[b] == "partial" and f in keptset)
        ]
        manifest = _strip_commit_records(dict(snap))
        if to_rewrite or new_buckets:
            out = batch
            if to_rewrite:
                tomb = _tomb_flag() if TOMBSTONE_COL in types_ else F.lit(False)
                out = (
                    _read_visible_base(spark, snap, to_rewrite)
                    .filter(tomb | out_of_slice)
                    .unionByName(batch)
                )
            # a partial bucket keeps its provably out-of-slice files;
            # full buckets' pending sidecars clear with the rewrite
            _stage_rewrite(
                spark, manifest, snap["version"] + 1, stage("replace"), out,
                [b for b, how in plan.items() if how != "carry"],
                keep={
                    int(b): [f for f in all_buckets[b] if f not in keptset]
                    for b, how in plan.items()
                    if how == "partial"
                },
            )
        # an empty slice over an empty batch stages nothing: the
        # snapshot copy's per-file maps stay exact, like OPTIMIZE's
        # metadata-only commits
        return manifest, (snap["version"] + 1, attempt + 1)

    return _transact(
        base_dir, "replace", writer_id, build, max_retries, before_commit
    )


def delete_where_range(
    spark: SparkSession,
    base_dir: str,
    col: str,
    lo,
    hi,
    writer_id: str = "w0",
    max_retries: int = 5,
    before_commit=None,
) -> tuple[int, int]:
    """Copy-on-write DELETE WHERE — drop every visible row with
    ``col BETWEEN lo AND hi`` (SQL ``DELETE FROM t WHERE ...``; Delta
    COW delete): REPLACE WHERE with an empty replacement batch, so it
    inherits the whole machinery — FILE-level stats pruning (provably
    out-of-slice files carry verbatim, never opened), sidecar-bucket
    full-rewrite fallback, tombstone-guard preservation, CAS retry.
    Unlike the key-based deletes (tombstone / equality MOR / positional
    DV) the predicate needs no key list and the removal is PHYSICAL in
    one commit — the right shape when the slice is cheap to locate by
    stats and re-reads should not pay a pending-delete filter.

    Returns ``(committed_version, attempts)``."""
    snap = load_manifest(base_dir)
    cols_, types_ = snap["columns"], snap["column_types"]
    empty = spark.createDataFrame([], _ddl(cols_, types_))
    return replace_where_range(
        spark, base_dir, col, lo, hi, empty,
        writer_id=writer_id, max_retries=max_retries,
        before_commit=before_commit,
    )


def delete_keys_dv(
    spark: SparkSession,
    base_dir: str,
    keys_df: DataFrame,
    writer_id: str = "w0",
    max_retries: int = 5,
    before_commit=None,
) -> tuple[int, int]:
    """Positional-deletion-vector DELETE (the representation Delta
    actually ships): find each doomed key's (file, row position) via
    ONE bucket-pruned, column-pruned read using the parquet reader's
    native row indexes, fold the positions into per-file 64-bit word
    BITMAPS, and commit them as per-bucket sidecar parquets — zero
    data files touched. Reads apply the bitmaps by POSITION
    anti-filter (_apply_dv_deletes): one AND+compare per row against
    a broadcast of O(deleted rows / 64) words, independent of how
    many delete commits are pending — the read-side property the
    equality-delete path (delete_keys_mor) lacks, where every commit
    grows the anti-join key set.

    Same retention contract as MOR: no straggler guard — a later
    insert of the key resurrects it (the new row lives in a NEW file
    the vector never references); tombstones are the guarded mode.
    Deleting an already-hidden key (tombstoned, MOR-pending, or
    DV-pending) finds no visible position and is a harmless no-op.
    Any bucket rewrite applies its pending vectors physically and
    clears them (the base read goes through _read_visible_base);
    vacuum retains/reclaims DV sidecars like data files.

    Write cost: O(touched buckets' data) for the position-finding
    scan — key + row-index columns only, never the payload — then
    O(deleted rows / 64) sidecar bytes. Choose DV over equality MOR
    when reads between rewrites dominate; choose MOR when even the
    pruned position scan at delete time is too much.

    Returns ``(committed_version, attempts)``."""

    def build(snap, attempt, stage):
        key_col, n_buckets = snap["key_col"], snap["n_buckets"]
        key_type = snap["column_types"][key_col]
        types_ = snap["column_types"]
        keys = (
            keys_df.select(
                F.col(keys_df.columns[0]).cast(key_type).alias(key_col)
            )
            .distinct()
            .withColumn("bucket", _bucket_of(key_col, n_buckets))
        )
        touched = sorted(
            r.bucket
            for r in keys.select("bucket").distinct().collect()
        )
        files = [
            f for b in touched for f in snap["buckets"].get(str(b), [])
        ]
        if files:
            # position-finding read: key + tombstone visibility +
            # native row indexes ONLY (column-pruned); every
            # pending delete representation applies first, so an
            # already-hidden key yields no position
            sub = [key_col] + (
                [TOMBSTONE_COL] if TOMBSTONE_COL in types_ else []
            )
            df = _visible_rows(
                _read_visible_base(
                    spark, snap, files, sub, carry_positions=True
                )
            )
            hits = df.join(
                F.broadcast(keys.select(key_col)), key_col, "inner"
            ).select(
                _bucket_of(key_col, n_buckets).alias("bucket"),
                F.col(DV_FILE_COL).alias("file"),
                (F.col(DV_POS_COL) / 64).cast("int").alias("w"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), "
                    f"CAST({DV_POS_COL} % 64 AS INT))"
                ).alias("bit"),
            )
            words = hits.groupBy("bucket", "file", "w").agg(
                F.bit_or("bit").alias("word")
            )
            new_files = _write_sidecar(words, stage("dv"))
        else:
            new_files = {}
        manifest = _strip_commit_records(dict(snap))
        _carry_sidecars(manifest, "dv_files", added=new_files)
        return manifest, (snap["version"] + 1, attempt + 1)

    return _transact(
        base_dir, "delete", writer_id, build, max_retries, before_commit
    )


@register(
    "merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price
      FROM orders
    ), u1 AS (
      SELECT o_orderkey, 2, o_orderstatus, o_totalprice * 2
      FROM orders WHERE o_orderkey % 5 = 0
    ), u2 AS (
      SELECT o_orderkey, 3, 'X', o_totalprice + 1000
      FROM orders WHERE o_orderkey % 7 = 0
    ), u AS (
      SELECT * FROM base UNION ALL SELECT * FROM u1 UNION ALL SELECT * FROM u2
    ), latest AS (
      SELECT k, ver, status, price,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY ver DESC, status) AS rn
      FROM u
    )
    -- CAST(SUM(ver) AS BIGINT): DuckDB's SUM over integers is HUGEINT,
    -- rendered float64 by its pandas conversion vs Spark's non-null
    -- int64 — the dtype split behind the r6 driver hash-FAILs on the
    -- drift family; pinned here preemptively before this op's
    -- first-ever driver check (r7 window)
    SELECT status,
           COUNT(*)                          AS n_rows,
           CAST(SUM(ver) AS BIGINT)          AS sum_ver,
           ROUND(SUM(price), 2)              AS sum_price
    FROM latest
    WHERE rn = 1
    GROUP BY status
    ORDER BY status
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of the manifest MERGE: seed orders as table
    version 1, merge two sequential update batches (every 5th key gets
    ver=2 at doubled price; every 7th key gets ver=3, status 'X',
    price+1000 — keys divisible by 35 take both, latest wins), and
    aggregate the final snapshot. ``sum_ver`` is the sensitive probe:
    any row surviving at a stale version shifts it. The update
    transforms (*2, +1000) are exact in IEEE double, so no per-row
    rounding is needed and the oracle comparison stays bit-clean
    (per-row ROUND of a *1.1 product was measured to split HALF_UP vs
    DuckDB's tie behavior).

    The op also asserts the protocol invariants inline (same pattern as
    scan_snapshot_time_travel): final manifest version is 3, a reader
    pinned at v1 still sees exactly the original row count, and both
    merges committed on their first attempt (no competing writer here —
    the two-writer conflict path is exercised in
    tests/test_lakehouse.py::test_two_writer_conflict_retries)."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_upsert_table")
    # rebuild per run: init_table forbids double-init by design, and a
    # stale half-committed dir from an interrupted run must not leak in
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=16)

    u1 = orders.filter(F.col("k") % 5 == 0).select(
        "k", F.lit(2).alias("ver"), "status",
        (F.col("price") * 2).alias("price"),
    )
    u2 = orders.filter(F.col("k") % 7 == 0).select(
        "k", F.lit(3).alias("ver"), F.lit("X").alias("status"),
        (F.col("price") + 1000).alias("price"),
    )
    v2, tries2 = merge_upsert_manifest(
        base_dir, u1, ver_col="ver", tiebreak_col="status", writer_id="u1"
    )
    v3, tries3 = merge_upsert_manifest(
        base_dir, u2, ver_col="ver", tiebreak_col="status", writer_id="u2"
    )
    if (v2, tries2, v3, tries3) != (2, 1, 3, 1):
        raise AssertionError(
            f"sequential merges must commit v2/v3 first-try, got "
            f"{(v2, tries2, v3, tries3)}"
        )
    n_orig = orders.count()
    if read_snapshot(spark, base_dir, version=1).count() != n_orig:
        raise AssertionError("v1 snapshot torn by later merges")

    return (
        read_snapshot(spark, base_dir)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "merge_schema_evolve",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             CAST(o_orderkey % 100 AS INTEGER) AS qty,
             CAST(NULL AS VARCHAR) AS src
      FROM orders
    ), u1 AS (
      SELECT o_orderkey, 2, o_orderstatus,
             CAST(o_orderkey * 100000 AS BIGINT), 'u1'
      FROM orders WHERE o_orderkey % 4 = 0
    ), u2 AS (
      SELECT o_orderkey, 3, 'E',
             CAST(o_orderkey * 200000 AS BIGINT), 'u2'
      FROM orders WHERE o_orderkey % 6 = 0
    ), u AS (
      SELECT k, ver, status, CAST(qty AS BIGINT) AS qty, src FROM base
      UNION ALL SELECT * FROM u1
      UNION ALL SELECT * FROM u2
    ), latest AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                   ORDER BY ver DESC, status) AS rn
      FROM u
    )
    -- BIGINT casts: DuckDB SUM over integers is HUGEINT -> float64 in
    -- pandas vs Spark's int64 (the r6 drift-family driver hash-FAIL)
    SELECT status,
           COUNT(*)                                              AS n_rows,
           CAST(SUM(qty) AS BIGINT)                              AS sum_qty,
           CAST(SUM(CASE WHEN src IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)                                       AS n_legacy,
           CAST(SUM(CASE WHEN src = 'u1' THEN 1 ELSE 0 END)
                AS BIGINT)                                       AS n_u1,
           CAST(SUM(CASE WHEN src = 'u2' THEN 1 ELSE 0 END)
                AS BIGINT)                                       AS n_u2
    FROM latest WHERE rn = 1
    GROUP BY status ORDER BY status
    """,
)
def merge_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of schema-evolving MERGE (generalizes A13's
    upsert the way Delta's mergeSchema does,
    parser_pinecone_storage.py:154 provenance via merge_upsert): seed
    orders as (k, ver, status, qty INT); batch u1 (every 4th key)
    WIDENS qty to BIGINT (values to 6e9 — genuinely outside int32) and
    ADDS column src; batch u2 (every 6th key) writes the already-
    evolved schema. Untouched buckets are never rewritten for the
    evolution — their int-typed, src-less files align at read time
    (missing column → NULL, narrow int → lossless bigint cast), which
    is what makes evolution affordable at 100 TB: a column add is a
    metadata commit plus the merge's own touched buckets, not a table
    rewrite.

    Inline protocol asserts: post-u1 manifest records qty=bigint and
    the src column; a reader pinned at v1 still sees the ORIGINAL
    int-typed, src-less epoch schema (per-version schema is part of
    the snapshot contract).

    The aggregate probes all three populations: n_legacy counts
    NULL-backfilled src on never-updated rows, n_u1/n_u2 count each
    batch's survivors, sum_qty mixes widened and legacy values."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_evolve_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders")
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_orderkey") % 100).cast("int").alias("qty"),
    )
    init_table(seed, base_dir, key_col="k", n_buckets=16)

    u1 = orders.filter(F.col("o_orderkey") % 4 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(2).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_orderkey") * 100000).cast("bigint").alias("qty"),
        F.lit("u1").alias("src"),
    )
    u2 = orders.filter(F.col("o_orderkey") % 6 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(3).alias("ver"),
        F.lit("E").alias("status"),
        (F.col("o_orderkey") * 200000).cast("bigint").alias("qty"),
        F.lit("u2").alias("src"),
    )
    v2, _ = merge_upsert_manifest(
        base_dir, u1, ver_col="ver", tiebreak_col="status",
        writer_id="u1", evolve_schema=True,
    )
    m2 = load_manifest(base_dir)
    if v2 != 2 or m2["column_types"]["qty"] != "bigint" or "src" not in m2["columns"]:
        raise AssertionError(f"evolution not recorded in manifest v2: {m2['column_types']}")
    # u2 matches the evolved schema exactly — no evolve flag needed
    merge_upsert_manifest(
        base_dir, u2, ver_col="ver", tiebreak_col="status", writer_id="u2"
    )
    pinned = read_snapshot(spark, base_dir, version=1)
    if dict(pinned.dtypes).get("qty") != "int" or "src" in pinned.columns:
        raise AssertionError("v1-pinned reader must keep its epoch schema")

    snap = read_snapshot(spark, base_dir)
    return (
        snap.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("qty").alias("sum_qty"),
            F.sum(F.when(F.col("src").isNull(), 1).otherwise(0)).alias("n_legacy"),
            F.sum(F.when(F.col("src") == "u1", 1).otherwise(0)).alias("n_u1"),
            F.sum(F.when(F.col("src") == "u2", 1).otherwise(0)).alias("n_u2"),
        )
        .orderBy("status")
    )


@register(
    "merge_delete_tombstones",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price, FALSE AS del
      FROM orders
    ), t1 AS (
      SELECT o_orderkey, 2, o_orderstatus, o_totalprice, TRUE
      FROM orders WHERE o_orderkey % 3 = 0
    ), r2 AS (
      SELECT o_orderkey, 3, 'R', o_totalprice + 5000, FALSE
      FROM orders WHERE o_orderkey % 9 = 0
    ), s3 AS (
      SELECT o_orderkey, 1, 'S', o_totalprice - 1, FALSE
      FROM orders WHERE o_orderkey % 15 = 0
    ), u AS (
      SELECT * FROM base
      UNION ALL SELECT * FROM t1
      UNION ALL SELECT * FROM r2
      UNION ALL SELECT * FROM s3
    ), latest AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                   ORDER BY ver DESC, status) AS rn
      FROM u
    ), live AS (SELECT * FROM latest WHERE rn = 1),
    tomb AS (SELECT COUNT(*) AS c FROM live WHERE del)
    SELECT status,
           COUNT(*)                 AS n_visible,
           ROUND(SUM(price), 2)     AS sum_price,
           CAST(tomb.c AS BIGINT)   AS n_tombstones
    FROM live CROSS JOIN tomb
    WHERE NOT del
    GROUP BY status, tomb.c
    ORDER BY status
    """,
)
def merge_delete_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of DELETE-via-tombstone (the reference's
    Pinecone index has per-id delete but its pipeline never reconciles
    deletes with re-ingest order — this op pins the semantics): seed
    orders, tombstone every 3rd key at ver=2 (`_deleted` true rides the
    normal MERGE path), re-insert every 9th key at ver=3, then merge a
    STRAGGLER batch at ver=1 for every 15th key. Latest-wins over
    (rows ∪ tombstones) yields exactly Delta's semantics: deleted keys
    vanish from default reads, re-inserts resurrect at a higher
    version, and the straggler — older than the delete — stays
    suppressed BECAUSE the tombstone row is physically retained until
    compact_tombstones (tests pin that compaction then reopens the
    straggler window; that is the documented retention contract).

    Output: per-status visible rows and price mass, plus the global
    live-tombstone count (the compaction backlog a lakehouse monitors),
    broadcast onto every row the way psi_total rides agg_psi_drift."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_tombstone_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders")
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(seed, base_dir, key_col="k", n_buckets=16)

    def batch(pred_mod, ver, status_col, price_col, deleted):
        return orders.filter(F.col("o_orderkey") % pred_mod == 0).select(
            F.col("o_orderkey").alias("k"),
            F.lit(ver).alias("ver"),
            status_col.alias("status"),
            price_col.alias("price"),
            F.lit(deleted).alias(TOMBSTONE_COL),
        )

    merge_upsert_manifest(
        base_dir,
        batch(3, 2, F.col("o_orderstatus"), F.col("o_totalprice"), True),
        ver_col="ver", tiebreak_col="status", writer_id="del",
    )
    merge_upsert_manifest(
        base_dir,
        batch(9, 3, F.lit("R"), F.col("o_totalprice") + 5000, False),
        ver_col="ver", tiebreak_col="status", writer_id="reins",
    )
    merge_upsert_manifest(
        base_dir,
        batch(15, 1, F.lit("S"), F.col("o_totalprice") - 1, False),
        ver_col="ver", tiebreak_col="status", writer_id="straggler",
    )

    vis = read_snapshot(spark, base_dir)
    if TOMBSTONE_COL in vis.columns:
        raise AssertionError("default read must hide the tombstone marker")
    tomb = (
        read_snapshot(spark, base_dir, include_tombstones=True)
        .filter(F.col(TOMBSTONE_COL))
        .agg(F.count(F.lit(1)).alias("n_tombstones"))
    )
    return (
        vis.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_visible"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .crossJoin(F.broadcast(tomb))
        .select("status", "n_visible", "sum_price", "n_tombstones")
        .orderBy("status")
    )


def _feed_stats(feed: DataFrame, expected_type: str) -> tuple[int, int]:
    """(total rows, rows whose change_type != ``expected_type``) of a
    CDF feed in ONE aggregation pass. Every action over the feed is a
    full changes_between recomputation — manifest-pruned reads of both
    sides plus the full-outer diff join — so two scalar asserts must
    not each run that O(changed data) pass (guide §1.2: don't compute
    the same thing twice)."""
    r = feed.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("change_type") != expected_type).alias("n_off"),
    ).first()
    return r.n, r.n_off


def plan_diff(
    m_from: dict,
    m_to: dict,
    within_buckets: tuple[int, list[int]] | None = None,
) -> list[tuple[dict, dict]]:
    """Plan the change feed between two manifests from metadata alone:
    a list of diff groups ``(old, new)`` whose keys can only be
    compared within the group. Each side is ``{"files", "dead",
    "deletes", "dvs"}``: its data files, their dead columns
    (``_dead_columns`` under ``m_to``'s epochs — both sides align to
    v_to's schema — and the side's own birth versions), and the MOR
    equality-delete and DV sidecars of the group's buckets.

    A bucket is changed when its data files, MOR sidecars or DV
    sidecars differ: commits rewrite whole touched buckets and a
    merge-on-read delete changes visibility without touching a data
    file, so an identical bucket cannot hold a logical change and is
    never read. With one ``n_buckets`` on both sides a key stays in
    its bucket, so each changed bucket is its own group; otherwise (a
    rebucket between the versions moves keys between buckets) all
    changed buckets form one group.

    ``within_buckets = (n_buckets, ids)`` scopes the diff to a caller's
    own buckets (the serializable conflict probe): a bucket is the
    pure function pmod(xxhash64(key), n_buckets), so changed buckets
    outside ``ids`` cannot hold a key the caller writes. It is honored
    ONLY when both manifests record that ``n_buckets`` (after a
    rebucket the restriction is unsound and the full diff runs). At
    100 TB this turns the probe's read from O(all concurrent churn)
    into O(churn ∩ writer's buckets)."""
    def state(m, b):
        return [
            (m.get(k) or {}).get(b, [])
            for k in ("buckets", "delete_files", "dv_files")
        ]

    changed = sorted(
        (
            b
            for b in set(m_from["buckets"]) | set(m_to["buckets"])
            if state(m_from, b) != state(m_to, b)
        ),
        key=int,
    )
    same_n = m_from["n_buckets"] == m_to["n_buckets"]
    if within_buckets is not None:
        nb, ids = within_buckets
        if same_n and m_to["n_buckets"] == nb:
            keep = {str(b) for b in ids}
            changed = [b for b in changed if b in keep]

    def side(m, bs):
        files, deletes, dvs = (
            [f for b in bs for f in state(m, b)[i]] for i in range(3)
        )
        dead = _dead_columns(m, files, m_to["column_epochs"])
        return {"files": files, "dead": dead, "deletes": deletes, "dvs": dvs}

    bucket_sets = [[b] for b in changed] if same_n else [changed]
    return [(side(m_from, bs), side(m_to, bs)) for bs in bucket_sets if bs]


def changes_between(
    spark: SparkSession,
    base_dir: str,
    v_from: int,
    v_to: int,
    within_buckets: tuple[int, list[int]] | None = None,
) -> DataFrame:
    """Change-data-feed between two committed versions, computed the
    way the manifests allow at 100 TB: only the changed buckets
    ``plan_diff`` names are read from either side — the diff costs
    O(changed data), not O(table). Both sides align to v_to's schema (v_from files may
    predate an evolution). Returns one row per logically-changed key:
    ``(key, change_type ∈ insert|update|delete, old/new columns)``.
    A key is 'deleted' when it was visible at v_from and is tombstoned
    or absent at v_to; 'inserted' when the reverse; 'updated' when
    visible on both sides with any differing column (bucket rewrites
    copy untouched rows into new files, so file-level churn alone never
    reports a change — compaction commits diff as empty)."""
    if v_from > v_to:
        # both sides align to v_to's schema; running the diff backwards
        # across a widening evolution would silently down-cast the
        # newer side (bigint→int wraps/NULLs under non-ANSI Cast) and
        # drop columns added after v_to — reject rather than corrupt
        raise ValueError(
            f"changes_between requires v_from <= v_to (got {v_from} > "
            f"{v_to}); swap the arguments to read the feed forward"
        )
    m_from = load_manifest(base_dir, v_from)
    m_to = load_manifest(base_dir, v_to)
    key_col = m_to["key_col"]
    data_cols = [
        c for c in m_to["columns"] if c != key_col and c != TOMBSTONE_COL
    ]
    groups = plan_diff(m_from, m_to, within_buckets)
    files_from = [f for old, _ in groups for f in old["files"]]
    files_to = [f for _, new in groups for f in new["files"]]

    def visible(files, manifest):
        # both sides align to v_to's LOGICAL schema (cols/types AND
        # column epochs): a column re-added at R reads as NULL from
        # any group older than R on either side. Birth versions come
        # from each SIDE's manifest (a file's birth version is
        # invariant; each manifest records its own referenced files)
        return _visible_rows(
            _read_visible_base(
                spark, manifest, files, m_to["columns"],
                m_to["column_types"], m_to["column_epochs"],
            )
        )

    old = visible(files_from, m_from).select(
        F.col(key_col).alias("_k"),
        *[F.col(c).alias(f"old_{c}") for c in data_cols],
        F.lit(True).alias("_in_old"),
    )
    new = visible(files_to, m_to).select(
        F.col(key_col).alias("_k"),
        *[F.col(c).alias(f"new_{c}") for c in data_cols],
        F.lit(True).alias("_in_new"),
    )
    j = old.join(new, "_k", "full_outer")
    # null-safe struct compare: NULL cells (evolution backfill) must
    # neither mask a change nor invent one
    same = F.struct(*[F.col(f"old_{c}") for c in data_cols]).eqNullSafe(
        F.struct(*[F.col(f"new_{c}") for c in data_cols])
    )
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(~same, F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.col("_k").alias(key_col),
            "change_type",
            *[F.col(f"old_{c}") for c in data_cols],
            *[F.col(f"new_{c}") for c in data_cols],
        )
    )


@register(
    "merge_changes_feed",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price, FALSE AS del
      FROM orders
    ), u1 AS (
      SELECT o_orderkey, 2, o_orderstatus, o_totalprice * 2, FALSE
      FROM orders WHERE o_orderkey % 5 = 0
    ), u2 AS (
      SELECT o_orderkey, 3,
             CASE WHEN o_orderkey % 10 = 0 THEN o_orderstatus ELSE 'C' END,
             o_totalprice + 7,
             o_orderkey % 10 = 0
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey + 1000000, 3, 'N', o_totalprice, FALSE
      FROM orders WHERE o_orderkey % 50 = 0
    ),
    cut2 AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                     ORDER BY ver DESC, status) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM u1)
      ) WHERE rn = 1 AND NOT del
    ),
    cut3 AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                     ORDER BY ver DESC, status) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM u1
              UNION ALL SELECT * FROM u2)
      ) WHERE rn = 1 AND NOT del
    )
    SELECT COALESCE(o.k, n.k) AS k,
           CASE WHEN o.k IS NULL THEN 'insert'
                WHEN n.k IS NULL THEN 'delete'
                WHEN o.status IS DISTINCT FROM n.status
                  OR o.price IS DISTINCT FROM n.price THEN 'update'
           END AS change_type,
           o.status AS old_status, o.price AS old_price,
           n.status AS new_status, n.price AS new_price
    FROM cut2 o FULL OUTER JOIN cut3 n ON o.k = n.k
    WHERE (o.k IS NULL) OR (n.k IS NULL)
       OR o.status IS DISTINCT FROM n.status
       OR o.price IS DISTINCT FROM n.price
    ORDER BY k
    """,
)
def merge_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of the change-data-feed (the incremental
    consumption story Delta calls CDF — what a downstream index or
    training-data materialization reads instead of re-scanning the
    table): seed orders (v1), merge u1 = every 5th key at doubled
    price (v2), merge u2 (v3) = the same keys again, where every 10th
    key becomes a TOMBSTONE (delete), the rest update to status 'C'
    price+7, plus brand-new keys (k+1,000,000 for every 50th) as
    inserts. The feed diffs v2→v3 via changes_between: manifest-level
    bucket pruning first, then a full-outer join over ONLY the changed
    buckets' rows, null-safe struct compare so copied-but-unchanged
    rows in rewritten buckets never report.

    Inline protocol asserts: v1→v2 feed contains no 'delete'/'insert'
    rows (u1 is pure updates) and the v2→v2 self-diff is EMPTY (the
    bucket file sets are identical, so the plan reads nothing)."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_cdc_table")
    shutil.rmtree(base_dir, ignore_errors=True)
    build_cdc_ladder(spark, sf_dir, base_dir)

    probe12 = changes_between(spark, base_dir, 1, 2)
    if probe12.filter(F.col("change_type") != "update").count() != 0:
        raise AssertionError("v1->v2 must be pure updates")
    if changes_between(spark, base_dir, 2, 2).count() != 0:
        raise AssertionError("self-diff must be empty (identical manifests)")

    return (
        changes_between(spark, base_dir, 2, 3)
        .select("k", "change_type", "old_status", "old_price",
                "new_status", "new_price")
        .orderBy("k")
    )


def build_cdc_ladder(spark: SparkSession, sf_dir: str, base_dir: str) -> None:
    """Commit the shared 3-version CDC fixture ladder at ``base_dir``:
    v1 = orders seed, v2 = every 5th key at doubled price (pure
    updates), v3 = the same keys again — every 10th key tombstoned
    (delete), the rest status 'C' / price+7 (updates) — plus brand-new
    keys (k+1,000,000 for every 50th) as inserts. ONE definition of
    the ladder feeds the batch CDF face (merge_changes_feed), the
    streaming consumer's batch declaration (stream_changes_feed), and
    both faces' oracles."""
    orders = table(spark, sf_dir, "orders")
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(seed, base_dir, key_col="k", n_buckets=16)

    fifth = orders.filter(F.col("o_orderkey") % 5 == 0)
    u1 = fifth.select(
        F.col("o_orderkey").alias("k"), F.lit(2).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_totalprice") * 2).alias("price"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    u2 = fifth.select(
        F.col("o_orderkey").alias("k"), F.lit(3).alias("ver"),
        F.when(F.col("o_orderkey") % 10 == 0, F.col("o_orderstatus"))
        .otherwise(F.lit("C")).alias("status"),
        (F.col("o_totalprice") + 7).alias("price"),
        (F.col("o_orderkey") % 10 == 0).alias(TOMBSTONE_COL),
    ).unionByName(
        orders.filter(F.col("o_orderkey") % 50 == 0).select(
            (F.col("o_orderkey") + 1_000_000).alias("k"),
            F.lit(3).alias("ver"),
            F.lit("N").alias("status"),
            F.col("o_totalprice").alias("price"),
            F.lit(False).alias(TOMBSTONE_COL),
        )
    )
    merge_upsert_manifest(base_dir, u1, ver_col="ver", tiebreak_col="status",
                          writer_id="u1")
    merge_upsert_manifest(base_dir, u2, ver_col="ver", tiebreak_col="status",
                          writer_id="u2")


def rebucket_table(
    spark: SparkSession,
    base_dir: str,
    new_n_buckets: int,
    writer_id: str = "w0",
    max_retries: int = 5,
    before_commit=None,
    write_salt: int = 1,
) -> tuple[int, int]:
    """Re-partition the table to ``new_n_buckets`` as ONE commit — the
    operational knob a growing table eventually needs (Iceberg calls it
    partition-spec evolution + rewrite): ``n_buckets`` is frozen at
    init because the bucket is pmod(xxhash64(key), B), so a table that
    outgrows its bucket count (every merge rewriting multi-GB buckets)
    had no path short of re-init. This reads every visible-and-
    tombstoned row once (tombstones carry forward — the straggler-
    suppression retention contract survives the rewrite), recomputes
    the bucket under the new B, writes clustered, and publishes a
    manifest with the new ``n_buckets`` through ``_transact``. Pinned readers keep their epoch: old manifests and their
    files are untouched (rebucket only ADDS files; vacuum reclaims the
    old generation later), so an in-flight reader pinned at v_N keeps
    planning from the OLD bucket map, while every post-commit merge
    prunes against the new one.

    A logical NO-OP by construction: changes_between(v_before,
    v_after) is empty — asserted inline by the registered face. A
    rebucket to the CURRENT bucket count returns ``(version, 0)``
    without committing (nothing to do; attempts=0 marks the no-op).

    Tombstone bookkeeping: per-new-bucket flags are recomputed FROM
    THE STAGED FILES (their footers, or a scan of only the marker
    column — never a re-execution of upstream lineage), so
    compact_tombstones keeps its never-scan-the-table guarantee across
    the rewrite.

    Returns ``(committed_version, attempts)``."""
    if new_n_buckets < 1:
        raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")

    def build(snap, attempt, stage):
        if snap["n_buckets"] == new_n_buckets:
            return None, (snap["version"], 0)
        staging = stage("rebucket")
        files = [f for fs in snap["buckets"].values() for f in fs]
        manifest = _strip_commit_records(
            {**snap, "n_buckets": new_n_buckets}
        )
        # include_tombstones semantics: NO visibility filter — a
        # live tombstone must keep suppressing lower-version
        # stragglers after the rewrite. Pending MOR deletes DO
        # apply (full rewrite = every sidecar applied + cleared)
        new = _stage_rewrite(
            spark, manifest, snap["version"] + 1, staging,
            _read_visible_base(spark, snap, files),
            salt=write_salt,
            bounds=_cluster_bounds(snap, files),
        )
        # footer-read boolean max when the marker is a plain boolean
        # (zero Spark jobs — the same _staged_tombstone_buckets init
        # uses), distributed scan otherwise
        types = snap["column_types"]
        manifest["tombstone_buckets"] = (
            _staged_tombstone_buckets(spark, new, types)
            if TOMBSTONE_COL in types
            else []
        )
        return manifest, (snap["version"] + 1, attempt + 1)

    return _transact(
        base_dir, "rebucket", writer_id, build, max_retries, before_commit
    )


@register(
    "merge_rebucket",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price
      FROM orders
    ), u1 AS (
      SELECT o_orderkey, 2, o_orderstatus, o_totalprice * 2
      FROM orders WHERE o_orderkey % 5 = 0
    ), u2 AS (
      SELECT o_orderkey, 3, 'R', o_totalprice + 500
      FROM orders WHERE o_orderkey % 9 = 0
    ), u AS (
      SELECT * FROM base UNION ALL SELECT * FROM u1 UNION ALL SELECT * FROM u2
    ), latest AS (
      SELECT k, ver, status, price,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY ver DESC, status) AS rn
      FROM u
    )
    SELECT status,
           COUNT(*)                 AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(price), 2)     AS sum_price
    FROM latest
    WHERE rn = 1
    GROUP BY status
    ORDER BY status
    """,
)
def merge_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of bucket-count re-partitioning: seed orders at
    8 buckets (v1), merge every 5th key at doubled price (v2), REBUCKET
    8→32 (v3 — the growth knob), then merge every 9th key (ver=3,
    status 'R', price+500) AGAINST THE NEW BUCKET MAP (v4) and
    aggregate the final snapshot. The oracle never sees the rebucket:
    it is the plain latest-wins replay of seed+u1+u2 — contents are
    invariant under re-bucketing, and THAT equality is the correctness
    claim at the oracle level.

    Inline protocol asserts: the rebucket commits v3 with
    n_buckets=32 while v2's manifest keeps 8 (pinned readers keep
    their epoch's bucket map); changes_between(2, 3) is EMPTY (a
    rebucket is a logical no-op — the CDC feed must not invent
    changes from pure file churn); and the post-rebucket merge prunes
    against 32 buckets (touched-bucket count ≤ its key count).

    Scale shape: one full-table read + clustered write — the same
    cost class as the compactions Iceberg/Delta schedule for spec
    evolution; every OTHER commit stays O(touched buckets), which is
    the point of paying it."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_rebucket_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=8)

    u1 = orders.filter(F.col("k") % 5 == 0).select(
        "k", F.lit(2).alias("ver"), "status",
        (F.col("price") * 2).alias("price"),
    )
    merge_upsert_manifest(
        base_dir, u1, ver_col="ver", tiebreak_col="status", writer_id="u1"
    )

    v3, tries = rebucket_table(spark, base_dir, 32, writer_id="grow")
    if (v3, tries) != (3, 1):
        raise AssertionError(f"rebucket must commit v3 first-try, got {(v3, tries)}")
    if load_manifest(base_dir, 3)["n_buckets"] != 32:
        raise AssertionError("v3 manifest must carry the new bucket count")
    if load_manifest(base_dir, 2)["n_buckets"] != 8:
        raise AssertionError("pinned v2 epoch must keep the old bucket count")
    if changes_between(spark, base_dir, 2, 3).count() != 0:
        raise AssertionError("rebucket must be a logical no-op in the CDC feed")

    u2 = orders.filter(F.col("k") % 9 == 0).select(
        "k", F.lit(3).alias("ver"), F.lit("R").alias("status"),
        (F.col("price") + 500).alias("price"),
    )
    merge_upsert_manifest(
        base_dir, u2, ver_col="ver", tiebreak_col="status", writer_id="u2"
    )

    return (
        read_snapshot(spark, base_dir)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "merge_optimize_compact",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price
      FROM orders
    ), u1 AS (
      SELECT o_orderkey, 2, o_orderstatus, o_totalprice + 1000
      FROM orders WHERE o_orderkey % 4 = 0
    ), u2 AS (
      SELECT o_orderkey, 3, 'Z', o_totalprice / 2
      FROM orders WHERE o_orderkey % 11 = 0
    ), u AS (
      SELECT * FROM base UNION ALL SELECT * FROM u1 UNION ALL SELECT * FROM u2
    ), latest AS (
      SELECT k, ver, status, price,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY ver DESC, status) AS rn
      FROM u
    )
    SELECT status,
           COUNT(*)                 AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           -- EXACT decimal sum, not double: the u2 branch's price/2
           -- creates half-cent values, so the Z group's true sum ends
           -- in .xx5 — a double SUM lands one ulp either side of that
           -- rounding boundary depending on accumulation order, and
           -- BOTH engines aggregate in parallel (measured: DuckDB at
           -- threads=8 returned .15 seven and .16 eight times in 15
           -- runs of this query; Spark's answer moves with core
           -- count). Decimal addition is associative, so the rounded
           -- cent is order-independent and engine-identical. The
           -- per-row double->DECIMAL(30,10) cast cannot tie-break
           -- differently across engines: a tie would need a double
           -- equal to x.00000000005 exactly, which is not a dyadic
           -- rational. The matching engine aggregation casts the same
           -- way; every other sum_price face sums 2dp-scale values
           -- whose exact sums sit a full half-cent from any boundary
           -- (oracle-stability sweep: this op was the suite's only
           -- thread-count flipper).
           CAST(ROUND(SUM(CAST(price AS DECIMAL(30,10))), 2) AS DOUBLE)
                                    AS sum_price
    FROM latest
    WHERE rn = 1
    GROUP BY status
    ORDER BY status
    """,
)
def merge_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of OPTIMIZE bin-packing: seed orders at 8
    buckets (v1), merge every 4th key with write_salt=4 — the
    hot-bucket escape hatch that deliberately trades files for write
    parallelism, leaving up to 4 splinter files in every touched
    bucket (v2) — OPTIMIZE back to ≤1 file per bucket (v3,
    commit_kind='optimize'), then merge every 11th key AGAINST the
    packed layout (v4) and aggregate the final snapshot. The oracle
    never sees the salt OR the optimize: it is the plain latest-wins
    replay of base+u1+u2 — contents are invariant under file
    re-packing, and THAT equality is the correctness claim.

    Inline protocol asserts: v2 really is fragmented (> 1 file in
    some bucket) and OPTIMIZE strictly shrinks the file count to
    ≤ 1/bucket; changes_between(2, 3) is EMPTY (the CDC feed must not
    invent changes from pure file churn); the history row stamps
    kind='optimize'; and the pinned v2 manifest still lists the
    splinter files (pinned readers unaffected — vacuum reclaims the
    splinters only after retention).

    Scale shape: OPTIMIZE reads only manifest-flagged fragmented
    buckets (manifest arithmetic, never a scan), rewrites O(flagged
    buckets) of data through the standard clustered write, and costs
    one CAS commit — the maintenance face Delta OPTIMIZE / Iceberg
    rewrite_data_files schedule nightly so read amplification never
    compounds.
    Reference provenance: none (the reference has no storage layer);
    public recipe = Delta OPTIMIZE bin-packing semantics."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_optimize_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=8)

    u1 = orders.filter(F.col("k") % 4 == 0).select(
        "k", F.lit(2).alias("ver"), "status",
        (F.col("price") + 1000).alias("price"),
    )
    merge_upsert_manifest(
        base_dir, u1, ver_col="ver", tiebreak_col="status",
        writer_id="u1", write_salt=4,
    )
    m2 = load_manifest(base_dir, 2)
    frag = {b: len(fs) for b, fs in m2["buckets"].items() if len(fs) > 1}
    if not frag:
        raise AssertionError("salted merge must fragment some bucket")

    out = optimize_compact(spark, base_dir, max_files_per_bucket=1)
    if out["version"] != 3 or out["files_after"] >= out["files_before"]:
        raise AssertionError(f"optimize must shrink files: {out}")
    m3 = load_manifest(base_dir, 3)
    if any(len(fs) > 1 for fs in m3["buckets"].values()):
        raise AssertionError("optimize must leave <= 1 file per bucket")
    if changes_between(spark, base_dir, 2, 3).count() != 0:
        raise AssertionError("optimize must be a logical no-op in the CDC feed")
    if table_history(base_dir)[-1]["kind"] != "optimize":
        raise AssertionError("history must stamp the optimize commit")
    if load_manifest(base_dir, 2)["buckets"] != m2["buckets"]:
        raise AssertionError("pinned v2 must keep its splinter files")

    u2 = orders.filter(F.col("k") % 11 == 0).select(
        "k", F.lit(3).alias("ver"), F.lit("Z").alias("status"),
        (F.col("price") / 2).alias("price"),
    )
    merge_upsert_manifest(
        base_dir, u2, ver_col="ver", tiebreak_col="status", writer_id="u2"
    )

    return (
        read_snapshot(spark, base_dir)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            # exact decimal sum — see the oracle comment: price/2
            # puts this group's true sum ON the half-cent boundary,
            # and a parallel double SUM is a coin flip there
            F.round(F.sum(F.col("price").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "scan_stats_pruned_filter",
    oracle="""
    -- latest-wins replay of seed + the value-bump batch, then the
    -- time-window filter the engine answers with stats-pruned file
    -- skipping on a NON-cluster column
    WITH base AS (
      SELECT event_id AS k, 1 AS ver, EPOCH_US(ts) AS ts_us,
             event_type AS etype, value
      FROM events
    ), u1 AS (
      SELECT event_id, 2, EPOCH_US(ts), event_type, value + 0.5
      FROM events WHERE event_id % 5 = 0
    ), u AS (
      SELECT * FROM base UNION ALL SELECT * FROM u1
    ), latest AS (
      SELECT k, ver, ts_us, etype, value,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY ver DESC) AS rn
      FROM u
    )
    SELECT etype,
           COUNT(*)                 AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(value), 2)     AS sum_value
    FROM latest
    WHERE rn = 1
      AND ts_us BETWEEN 1704844800000000 AND 1705104000000000
    GROUP BY etype
    ORDER BY etype
    """,
)
def scan_stats_pruned_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of generalized per-file column statistics
    (Delta data skipping): every commit path records [min, max,
    null_count] for EVERY stats-eligible column, so range predicates
    on columns OTHER than the declared cluster layout still plan
    file-skipping scans. The table buckets events by event_id and
    range-bins each bucket's files by event_id (cluster_col = the
    key); the read filters on ts_us — the event-time column, which
    carries NO declared index. Because event ids are minted in
    arrival order (id ~ ts correlation 0.99998 in the fixture — the
    monotonic-surrogate-id shape nearly every ingest pipeline has),
    each file's recorded ts_us slice is narrow and a 3-day window
    prunes most files; the inline assert pins files-read <
    files-written ON A NON-CLUSTER predicate — the thing the
    cluster-only zone maps (scan_file_skipping_stats,
    merge_clustered_read) cannot do. A value-bump merge (every 5th
    key, +0.5) proves stats are re-recorded at the merge commit path:
    every bucket is rewritten and its files' FRESH ts_us stats still
    prune. The oracle is the plain latest-wins replay + filter —
    pruning is invisible to results, by construction.

    Scale shape: stats cost one column-pruned metadata pass per
    commit (same class as the write); the read opens only surviving
    footers. At 100 TB this is the difference between scanning a
    table and scanning a predicate's slice of it.
    Reference provenance: none (the reference has no storage layer);
    public recipe = Delta file statistics / Iceberg manifests'
    lower_bounds-upper_bounds."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "scan_stats_pruned_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    ev = table(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"),
        F.lit(1).alias("ver"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_type").alias("etype"),
        F.col("value"),
    )
    init_table(
        ev, base_dir, key_col="k", n_buckets=8,
        cluster_col="k", cluster_bins=8,
    )
    u1 = ev.filter(F.col("k") % 5 == 0).select(
        "k", F.lit(2).alias("ver"), "ts_us", "etype",
        (F.col("value") + 0.5).alias("value"),
    )
    merge_upsert_manifest(base_dir, u1, ver_col="ver", tiebreak_col="etype")

    lo, hi = 1704844800000000, 1705104000000000  # 2024-01-10 .. -13 UTC
    where = ("between", "ts_us", lo, hi)
    kept, skipped = plan_files(spark, load_manifest(base_dir), where)
    if not skipped:
        raise AssertionError(
            f"non-cluster predicate must skip files: kept={len(kept)}"
        )

    return (
        read_snapshot(spark, base_dir, where=where)
        .groupBy("etype")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("etype")
    )


@register(
    "merge_delete_mor",
    oracle="""
    -- MOR delete replay: the delete removes every %7 key's CURRENT
    -- row; a later merge re-inserts/updates every %1000 key (keys on
    -- both grids resurrect — the documented no-straggler-guard
    -- contract); latest-wins over (surviving base ∪ update batch).
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price
      FROM orders
    ), vis0 AS (
      SELECT * FROM base WHERE k % 7 <> 0
    ), u AS (
      SELECT o_orderkey, 2, 'M', o_totalprice + 55
      FROM orders WHERE o_orderkey % 1000 = 0
    ), latest AS (
      SELECT k, ver, status, price,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY ver DESC, status) AS rn
      FROM (SELECT * FROM vis0 UNION ALL SELECT * FROM u)
    )
    SELECT status,
           COUNT(*)                 AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(price), 2)     AS sum_price
    FROM latest
    WHERE rn = 1
    GROUP BY status
    ORDER BY status
    """,
)
def merge_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of merge-on-read DELETE (Iceberg equality-delete
    files / the Delta deletion-vector intent): seed orders at 32
    buckets (v1), MOR-delete every 7th key (v2 — the commit writes
    ONLY per-bucket key sidecars; the inline assert pins that v2's
    data-file map is BYTE-IDENTICAL to v1's, the O(deleted keys) claim
    that distinguishes MOR from copy-on-write), then merge every
    1000th key (v3 — rewritten buckets apply their pending deletes
    physically and clear their sidecars; untouched buckets keep
    theirs, asserted both ways) and aggregate the final snapshot.

    Contract surfaced by the oracle: keys on BOTH grids (%7000)
    resurrect — a MOR delete removes the current row and keeps no
    straggler guard (Delta DELETE semantics); the tombstone path
    (merge_delete_tombstones) is the guarded alternative. The CDC
    feed sees the delete commit as real deletes (changes_between
    detects delete-sidecar changes even though no data file moved —
    inline-asserted), and DESCRIBE HISTORY stamps kind='delete'.

    Scale shape: the GDPR-erasure shape — a tiny key set against huge
    buckets costs one sidecar write per touched bucket instead of a
    bucket rewrite; reads pay one broadcast anti-join of O(pending
    keys) until the next rewrite absorbs them.
    Reference provenance: the reference's Pinecone index deletes by
    id with no reconciliation (SURVEY §2 A15); public recipe =
    Iceberg equality deletes / Delta deletion vectors."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_mor_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=32)
    m1 = load_manifest(base_dir)

    doomed_keys = orders.filter(F.col("k") % 7 == 0).select("k")
    v2, tries = delete_keys_mor(spark, base_dir, doomed_keys)
    if (v2, tries) != (2, 1):
        raise AssertionError(f"MOR delete must commit v2 first-try: {(v2, tries)}")
    m2 = load_manifest(base_dir, 2)
    if m2["buckets"] != m1["buckets"]:
        raise AssertionError("MOR delete must not touch any data file")
    if not m2.get("delete_files"):
        raise AssertionError("MOR delete must record sidecars")
    if table_history(base_dir)[-1]["kind"] != "delete":
        raise AssertionError("history must stamp the delete commit")
    feed = changes_between(spark, base_dir, 1, 2)
    n_del = doomed_keys.count()
    n_feed, n_off = _feed_stats(feed, "delete")
    if n_off != 0:
        raise AssertionError("the delete commit's CDF must be pure deletes")
    if n_feed != n_del:
        raise AssertionError("CDF must surface every MOR-deleted key")

    u = orders.filter(F.col("k") % 1000 == 0).select(
        "k", F.lit(2).alias("ver"), F.lit("M").alias("status"),
        (F.col("price") + 55).alias("price"),
    )
    merge_upsert_manifest(base_dir, u, ver_col="ver", tiebreak_col="status")
    m3 = load_manifest(base_dir, 3)
    touched = {
        b for b in m1["buckets"] if m3["buckets"][b] != m2["buckets"][b]
    }
    d3 = m3.get("delete_files") or {}
    if any(b in d3 for b in touched):
        raise AssertionError("rewritten buckets must clear their sidecars")
    survivors = set(m2["delete_files"]) - touched
    if survivors and not all(b in d3 for b in survivors):
        raise AssertionError("untouched buckets must keep their sidecars")

    return (
        read_snapshot(spark, base_dir)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "merge_delete_dv",
    oracle="""
    -- positional-DV delete replay: the delete removes every %9 key's
    -- CURRENT row; a later merge re-inserts/updates every %1500 key
    -- (keys on both grids resurrect — the documented
    -- no-straggler-guard contract shared with equality MOR);
    -- latest-wins over (surviving base ∪ update batch).
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price
      FROM orders
    ), vis0 AS (
      SELECT * FROM base WHERE k % 9 <> 0
    ), u AS (
      SELECT o_orderkey, 2, 'V', o_totalprice + 77
      FROM orders WHERE o_orderkey % 1500 = 0
    ), latest AS (
      SELECT k, ver, status, price,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY ver DESC, status) AS rn
      FROM (SELECT * FROM vis0 UNION ALL SELECT * FROM u)
    )
    SELECT status,
           COUNT(*)                 AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(price), 2)     AS sum_price
    FROM latest
    WHERE rn = 1
    GROUP BY status
    ORDER BY status
    """,
)
def merge_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of positional deletion vectors — the THIRD
    delete representation next to versioned tombstones and equality-
    key sidecars, and the one Delta ships as 'deletion vectors':
    per-FILE 64-bit-word bitmaps over the parquet reader's native row
    indexes, written at delete time by one bucket- and column-pruned
    position-finding scan, applied at read time by a position
    anti-filter (one AND+compare per row against a broadcast of
    O(deleted rows / 64) words — independent of how many delete
    commits are pending, unlike the equality anti-join whose fan-in
    grows with every commit).

    Seed orders at 32 buckets (v1), DV-delete every 9th key (v2 — the
    inline assert pins that v2's data-file map is BYTE-IDENTICAL to
    v1's and the bitmap sidecars are recorded), then merge every
    1500th key (v3 — rewritten buckets apply their pending vectors
    physically and clear them; untouched buckets keep theirs,
    asserted both ways) and aggregate the final snapshot. Keys on
    BOTH grids (%4500) resurrect — a positional delete references the
    OLD file, and the re-insert lives in a new file the vector never
    names (Delta DELETE semantics; tombstones are the guarded mode).
    The CDC feed surfaces the vector commit as real deletes
    (changes_between detects dv-sidecar changes even though no data
    file moved — inline-asserted) and DESCRIBE HISTORY stamps
    kind='delete'.
    Reference provenance: the reference's Pinecone index deletes by
    id with no reconciliation (SURVEY §2 A15); public recipe = Delta
    deletion vectors / Iceberg positional delete files."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_dv_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=32)
    m1 = load_manifest(base_dir)

    doomed_keys = orders.filter(F.col("k") % 9 == 0).select("k")
    v2, tries = delete_keys_dv(spark, base_dir, doomed_keys)
    if (v2, tries) != (2, 1):
        raise AssertionError(f"DV delete must commit v2 first-try: {(v2, tries)}")
    m2 = load_manifest(base_dir, 2)
    if m2["buckets"] != m1["buckets"]:
        raise AssertionError("DV delete must not touch any data file")
    if not m2.get("dv_files"):
        raise AssertionError("DV delete must record bitmap sidecars")
    if table_history(base_dir)[-1]["kind"] != "delete":
        raise AssertionError("history must stamp the delete commit")
    feed = changes_between(spark, base_dir, 1, 2)
    n_del = doomed_keys.count()
    n_feed, n_off = _feed_stats(feed, "delete")
    if n_off != 0:
        raise AssertionError("the DV commit's CDF must be pure deletes")
    if n_feed != n_del:
        raise AssertionError("CDF must surface every DV-deleted key")

    u = orders.filter(F.col("k") % 1500 == 0).select(
        "k", F.lit(2).alias("ver"), F.lit("V").alias("status"),
        (F.col("price") + 77).alias("price"),
    )
    merge_upsert_manifest(base_dir, u, ver_col="ver", tiebreak_col="status")
    m3 = load_manifest(base_dir, 3)
    touched = {
        b for b in m1["buckets"] if m3["buckets"][b] != m2["buckets"][b]
    }
    v3map = m3.get("dv_files") or {}
    if any(b in v3map for b in touched):
        raise AssertionError("rewritten buckets must clear their vectors")
    survivors = set(m2["dv_files"]) - touched
    if survivors and not all(b in v3map for b in survivors):
        raise AssertionError("untouched buckets must keep their vectors")

    return (
        read_snapshot(spark, base_dir)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "scan_null_pruned_audit",
    oracle="""
    -- latest-wins replay, then the IS NULL completeness audit the
    -- engine answers with null-count file skipping
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price, 'ok' AS note
      FROM orders
    ), u AS (
      SELECT o_orderkey, 2, o_orderstatus, o_totalprice,
             CAST(NULL AS VARCHAR)
      FROM orders WHERE o_orderkey % 3750 = 0
    ), latest AS (
      SELECT k, ver, status, price, note,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY ver DESC, status) AS rn
      FROM (SELECT * FROM base UNION ALL SELECT * FROM u)
    )
    SELECT status,
           COUNT(*)                 AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(price), 2)     AS sum_price
    FROM latest
    WHERE rn = 1 AND note IS NULL
    GROUP BY status
    ORDER BY status
    """,
)
def scan_null_pruned_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of null-count file skipping — the completeness
    audit ('which rows are missing this attribute?') planned from the
    per-file column statistics' null_count: files recording ZERO nulls
    for the column are never opened. Seed orders with a fully-populated
    note column (64 buckets), merge a sparse hole batch (every 3750th
    key, note = NULL — touching a few buckets at every fixture scale),
    then read the IS NULL rows via
    ``read_snapshot(where=("is_null", "note"))``: only the rewritten
    buckets' files
    record nulls, so the untouched majority of files skip — inline
    assert pins files-read < files-written. At 100 TB this turns a
    data-quality sweep from O(table) into O(files with holes).
    The oracle is the plain latest-wins replay + IS NULL filter —
    pruning is invisible to results, by construction.
    Reference provenance: none (the reference has no storage layer);
    public recipe = Delta file statistics nullCount skipping."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "scan_null_audit_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit("ok").alias("note"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=64)
    u = orders.filter(F.col("k") % 3750 == 0).select(
        "k", F.lit(2).alias("ver"), "status", "price",
        F.lit(None).cast("string").alias("note"),
    )
    merge_upsert_manifest(base_dir, u, ver_col="ver", tiebreak_col="status")

    where = ("is_null", "note")
    kept, skipped = plan_files(spark, load_manifest(base_dir), where)
    if not skipped or not kept:
        raise AssertionError(
            f"null audit must skip hole-free files and keep hole files: "
            f"kept={len(kept)} skipped={len(skipped)}"
        )

    return (
        read_snapshot(spark, base_dir, where=where)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "scan_time_travel_ts",
    oracle="""
    -- AS OF TIMESTAMP resolves to v2 (after the first update batch,
    -- before the second): latest-wins replay of base + u1 only
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price
      FROM orders
    ), u1 AS (
      SELECT o_orderkey, 2, 'T', o_totalprice * 3
      FROM orders WHERE o_orderkey % 11 = 0
    ), latest AS (
      SELECT k, ver, status, price,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY ver DESC, status) AS rn
      FROM (SELECT * FROM base UNION ALL SELECT * FROM u1)
    )
    SELECT status,
           COUNT(*)                 AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(price), 2)     AS sum_price
    FROM latest
    WHERE rn = 1
    GROUP BY status
    ORDER BY status
    """,
)
def scan_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF time travel (Delta's second travel axis next to
    VERSION AS OF, which scan_snapshot_time_travel covers): every
    commit path stamps ``committed_at`` wall-clock at the one choke
    point (_publish_manifest — a manifest-copying clone/restore can
    never carry its source's stamp), and ``version_as_of(base, ts)``
    resolves the LATEST version whose stamp is <= ts from O(retained
    versions) manifest metadata — zero data I/O, then the read is the
    ordinary pinned-version snapshot.

    Ladder: v1 = seed, v2 = every-11th-key update, v3 = every-13th-key
    update. Inline asserts pin the resolution contract: AS OF v2's
    exact stamp -> v2; AS OF the v2/v3 midpoint -> v2 (not v3); AS OF
    now -> v3 (latest); AS OF a pre-table instant -> loud ValueError
    (vacuum-expired or never-existed history is unresolvable — the
    retention contract). The returned aggregate is the v2 snapshot,
    so the oracle pins that timestamp resolution reads the RIGHT
    version's bytes, not just a version.
    Reference provenance: A13 has no version pinning at all (SURVEY
    §2); public recipe = Delta TIMESTAMP AS OF / Iceberg
    snapshot-at-timestamp lookup."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "time_travel_ts_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=16)
    u1 = orders.filter(F.col("k") % 11 == 0).select(
        "k", F.lit(2).alias("ver"), F.lit("T").alias("status"),
        (F.col("price") * 3).alias("price"),
    )
    merge_upsert_manifest(base_dir, u1, ver_col="ver", tiebreak_col="status")
    u2 = orders.filter(F.col("k") % 13 == 0).select(
        "k", F.lit(3).alias("ver"), F.lit("U").alias("status"),
        (F.col("price") + 1).alias("price"),
    )
    merge_upsert_manifest(base_dir, u2, ver_col="ver", tiebreak_col="status")

    hist = {h["version"]: h["committed_at"] for h in table_history(base_dir)}
    t1, t2, t3 = hist[1], hist[2], hist[3]
    if not (t1 <= t2 < t3):
        raise AssertionError(f"commit stamps must increase: {t1} {t2} {t3}")
    if version_as_of(base_dir, t2) != 2:
        raise AssertionError("AS OF v2's own stamp must resolve v2")
    if version_as_of(base_dir, (t2 + t3) / 2) != 2:
        raise AssertionError("AS OF between v2 and v3 must resolve v2")
    if version_as_of(base_dir, time.time() + 60) != 3:
        raise AssertionError("AS OF the future must resolve latest")
    try:
        version_as_of(base_dir, t1 - 3600)
        raise AssertionError("pre-table timestamp must be unresolvable")
    except ValueError:
        pass

    return (
        read_snapshot(spark, base_dir, version=version_as_of(base_dir, t2))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "merge_replace_where",
    oracle="""
    -- REPLACE WHERE replay: the visible table after the commit is
    -- (rows outside the slice, untouched) ∪ (the replacement batch)
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price
      FROM orders
    ), replaced AS (
      SELECT k, ver, status, price FROM base
      WHERE price IS NULL OR price < 250000 OR price > 550000
      UNION ALL
      SELECT k, 2, 'R', price FROM base
      WHERE price BETWEEN 250000 AND 550000
    )
    SELECT status,
           COUNT(*)                 AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(price), 2)     AS sum_price
    FROM replaced
    GROUP BY status
    ORDER BY status
    """,
)
def merge_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLACE WHERE as a first-class commit (Delta ``replaceWhere`` /
    dynamic partition overwrite, generalized from partitions to any
    stats-covered range): one atomic commit swaps the slice
    ``price BETWEEN 250k AND 550k`` for a recomputed batch (same keys,
    status 'R', ver 2) on a price-CLUSTERED table.

    The claim the inline asserts pin is the FILE-level rewrite
    pruning: files whose [min, max] price provably misses the slice
    are CARRIED VERBATIM into the new manifest (same file objects —
    asserted), never opened; only possibly-matching files rewrite. On
    a clustered 100 TB table that is rewriting one bin per bucket
    instead of the table. Also asserted: the CDF between the two
    versions is pure updates of exactly the slice keys (file churn on
    carried-vs-rewritten boundaries must not invent changes), and
    DESCRIBE HISTORY stamps kind='replace'.

    Contract (loud errors, pinned in tests/test_lakehouse.py): batch
    rows outside the slice refuse; a batch key whose visible row sits
    outside the slice refuses (undeclared upsert / duplicate key);
    tombstone rows survive regardless of predicate; sidecar-carrying
    buckets fall back to full rewrite (no stranded deletion vectors).
    Reference provenance: the reference re-upserts the whole corpus
    per run (SURVEY §2 A15); public recipe = Delta replaceWhere /
    Iceberg overwrite-by-filter."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "replace_where_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=16,
               cluster_col="price")
    m1 = load_manifest(base_dir)

    lo, hi = 250000.0, 550000.0
    batch = orders.filter(F.col("price").between(lo, hi)).select(
        "k", F.lit(2).alias("ver"), F.lit("R").alias("status"), "price"
    )
    v2, tries = replace_where_range(
        spark, base_dir, "price", lo, hi, batch
    )
    if (v2, tries) != (2, 1):
        raise AssertionError(f"replace must commit v2 first-try: {(v2, tries)}")
    m2 = load_manifest(base_dir)
    carried = sum(
        1
        for b in m1["buckets"]
        for f in m1["buckets"][b]
        if f in set(m2["buckets"].get(b, []))
    )
    total = sum(len(fs) for fs in m1["buckets"].values())
    if not (0 < carried < total):
        raise AssertionError(
            f"file-level pruning must carry SOME files verbatim and "
            f"rewrite the rest: carried {carried} of {total}"
        )
    if table_history(base_dir)[-1]["kind"] != "replace":
        raise AssertionError("history must stamp kind='replace'")
    feed = changes_between(spark, base_dir, 1, 2)
    n_slice = batch.count()
    n_feed, n_off = _feed_stats(feed, "update")
    if n_off != 0:
        raise AssertionError("replace CDF must be pure updates here")
    if n_feed != n_slice:
        raise AssertionError(
            "CDF must cover exactly the slice keys (no invented "
            "changes from carried/rewritten file churn)"
        )

    return (
        read_snapshot(spark, base_dir)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "merge_delete_where",
    oracle="""
    -- COW DELETE WHERE replay: visible table = rows outside the slice
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price
      FROM orders
    )
    SELECT status,
           COUNT(*)                 AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(price), 2)     AS sum_price
    FROM base
    WHERE price IS NULL OR price < 300000 OR price > 520000
    GROUP BY status
    ORDER BY status
    """,
)
def merge_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE WHERE (SQL ``DELETE FROM t WHERE price
    BETWEEN lo AND hi``; Delta COW delete) — the FOURTH delete face,
    predicate-shaped where the other three are key-shaped: no key
    list, physical removal in one commit, file-level stats pruning
    from the price-clustered layout (out-of-slice files carry
    verbatim — inline-asserted; only possibly-matching files rewrite
    without their in-slice rows).

    When to choose which delete: versioned tombstones when stragglers
    exist (guarded), equality MOR when delete latency dominates,
    positional DVs when reads between rewrites dominate, COW DELETE
    WHERE when the doomed rows are a stats-locatable SLICE — the
    retention purge / GDPR-date-range shape, where pending-delete
    filters on every later read would cost more than one pruned
    rewrite. Also asserted: CDF between the versions is pure deletes
    of exactly the slice keys, DESCRIBE HISTORY stamps the commit
    (kind='replace' — DELETE WHERE is REPLACE WHERE with an empty
    batch and inherits its machinery, sidecar fallback and tombstone
    guard included).
    Reference provenance: the reference deletes by id only (SURVEY
    §2 A15); public recipe = Delta DELETE (copy-on-write path) /
    Iceberg delete-by-filter."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "delete_where_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=16,
               cluster_col="price")
    m1 = load_manifest(base_dir)

    lo, hi = 300000.0, 520000.0
    n_slice = orders.filter(F.col("price").between(lo, hi)).count()
    v2, tries = delete_where_range(spark, base_dir, "price", lo, hi)
    if (v2, tries) != (2, 1):
        raise AssertionError(f"delete must commit v2 first-try: {(v2, tries)}")
    m2 = load_manifest(base_dir)
    carried = sum(
        1
        for b in m1["buckets"]
        for f in m1["buckets"][b]
        if f in set(m2["buckets"].get(b, []))
    )
    total = sum(len(fs) for fs in m1["buckets"].values())
    if not (0 < carried < total):
        raise AssertionError(
            f"stats pruning must carry SOME files and rewrite the "
            f"rest: carried {carried} of {total}"
        )
    feed = changes_between(spark, base_dir, 1, 2)
    n_feed, n_off = _feed_stats(feed, "delete")
    if n_off != 0:
        raise AssertionError("DELETE WHERE CDF must be pure deletes")
    if n_feed != n_slice:
        raise AssertionError("CDF must cover exactly the slice keys")

    return (
        read_snapshot(spark, base_dir)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "merge_schema_drop",
    oracle="""
    -- the dropped column never appears: latest-wins replay over the
    -- surviving schema only (the drop is invisible to values — THAT
    -- is the correctness claim)
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price
      FROM orders
    ), u1 AS (
      SELECT o_orderkey, 2, o_orderstatus, o_totalprice * 2
      FROM orders WHERE o_orderkey % 6 = 0
    ), u2 AS (
      SELECT o_orderkey, 3, 'D', o_totalprice + 11
      FROM orders WHERE o_orderkey % 13 = 0
    ), latest AS (
      SELECT k, ver, status, price,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY ver DESC, status) AS rn
      FROM (SELECT * FROM base UNION ALL SELECT * FROM u1
            UNION ALL SELECT * FROM u2)
    )
    SELECT status,
           COUNT(*)                 AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(price), 2)     AS sum_price
    FROM latest
    WHERE rn = 1
    GROUP BY status
    ORDER BY status
    """,
)
def merge_schema_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of DROP COLUMN (the shrink half of schema
    evolution — merge_schema_evolve is the grow half): seed orders
    WITH a legacy column (v1), merge a batch still carrying it (v2),
    `drop_column` (v3 — METADATA-ONLY, inline-asserted byte-identical
    bucket map and empty CDF: a schema shrink is not a data change),
    then merge a batch WITHOUT the column against the narrowed schema
    (v4) and aggregate the final snapshot. Pinned protocol asserts:
    the v2 reader still sees the legacy column (time travel keeps each
    epoch's schema); the post-drop snapshot does not; DESCRIBE HISTORY
    stamps kind='evolve'. The oracle replays latest-wins over the
    SURVIVING schema only — values are invariant under the drop.

    Scale shape: dropping a column from a 100 TB table costs one
    manifest write; the dead bytes reclaim incrementally as ordinary
    rewrites touch their buckets (Delta column-mapping semantics).
    Reference provenance: none (the reference has no schema
    management); public recipe = Delta DROP COLUMN / Iceberg
    drop-column metadata evolution."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_schema_drop_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.concat(F.lit("legacy-"), F.col("o_orderkey")).alias("legacy"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=8)
    u1 = orders.filter(F.col("k") % 6 == 0).select(
        "k", F.lit(2).alias("ver"), "status",
        (F.col("price") * 2).alias("price"), "legacy",
    )
    merge_upsert_manifest(base_dir, u1, ver_col="ver", tiebreak_col="status")
    m2 = load_manifest(base_dir)

    v3, tries = drop_column(base_dir, "legacy")
    if (v3, tries) != (3, 1):
        raise AssertionError(f"drop must commit v3 first-try: {(v3, tries)}")
    m3 = load_manifest(base_dir, 3)
    if m3["buckets"] != m2["buckets"]:
        raise AssertionError("DROP COLUMN must be metadata-only")
    if "legacy" in m3["columns"]:
        raise AssertionError("dropped column still in schema")
    if "legacy" not in read_snapshot(spark, base_dir, version=2).columns:
        raise AssertionError("pinned pre-drop reader must keep its epoch")
    if "legacy" in read_snapshot(spark, base_dir).columns:
        raise AssertionError("post-drop reader must not see the column")
    if changes_between(spark, base_dir, 2, 3).count() != 0:
        raise AssertionError("a schema shrink is not a data change")
    if table_history(base_dir)[-1]["kind"] != "evolve":
        raise AssertionError("history must stamp the evolve commit")

    u2 = orders.filter(F.col("k") % 13 == 0).select(
        "k", F.lit(3).alias("ver"), F.lit("D").alias("status"),
        (F.col("price") + 11).alias("price"),
    )
    merge_upsert_manifest(base_dir, u2, ver_col="ver", tiebreak_col="status")

    return (
        read_snapshot(spark, base_dir)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "merge_clustered_read",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price
      FROM orders
    ), u1 AS (
      SELECT o_orderkey, 2, o_orderstatus, o_totalprice * 2
      FROM orders WHERE o_orderkey % 5 = 0
    ), u AS (
      SELECT * FROM base UNION ALL SELECT * FROM u1
    ), latest AS (
      SELECT k, ver, status, price,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY ver DESC, status) AS rn
      FROM u
    )
    SELECT status,
           COUNT(*)                 AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(price), 2)     AS sum_price
    FROM latest
    WHERE rn = 1 AND price BETWEEN 1000 AND 25000
    GROUP BY status
    ORDER BY status
    """,
)
def merge_clustered_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zorder-lite on the MERGE write path: the table is initialized
    with ``cluster_col='price'``, so EVERY commit (init and the merge
    alike) range-bins each bucket's rows by price — one file per
    (bucket, value slice), rows sorted within — and records per-file
    (min, max) in the manifest. The range read then plans its file
    list FROM THE MANIFEST (``read_snapshot(where=("range", ...))``):
    files whose slice
    provably misses [1000, 25000] are never opened — the
    scan_file_skipping_stats idiom composed into the transactional
    write path, which at 100 TB turns a post-merge range scan from
    O(table) into O(matching slices). The hash bucket alone could
    never do this: a bucket's single unclustered file spans the full
    value range, so no secondary-column stat prunes it.

    Inline protocol asserts: the planner actually SKIPS files for
    this range (pruning is live, not vacuous), and pruning is
    conservative (kept ∪ skipped = every manifest file). The oracle
    never sees the layout: it is the plain latest-wins replay with
    the same WHERE — exactness under pruning IS the correctness
    claim."""
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_clustered_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=8,
               cluster_col="price")

    u1 = orders.filter(F.col("k") % 5 == 0).select(
        "k", F.lit(2).alias("ver"), "status",
        (F.col("price") * 2).alias("price"),
    )
    merge_upsert_manifest(
        base_dir, u1, ver_col="ver", tiebreak_col="status", writer_id="u1"
    )

    m = load_manifest(base_dir)
    where = ("range", 1000.0, 25000.0)
    kept, skipped = plan_files(spark, m, where)
    if not skipped:
        raise AssertionError("range plan skipped no files — stats dead")
    n_all = sum(len(fs) for fs in m["buckets"].values())
    if len(kept) + len(skipped) != n_all:
        raise AssertionError("pruning lost track of manifest files")

    return (
        read_snapshot(spark, base_dir, where=where)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("status")
    )


def cdf_deltas(changes: DataFrame, price_col_pair=("old_price", "new_price"),
               status_pair=("old_status", "new_status")) -> DataFrame:
    """Signed per-group deltas from a change feed — the map step of
    incremental view maintenance (what Materialize/Delta Live Tables
    do under the name 'incremental computation'): every insert/update
    contributes +1/+new to its NEW group, every delete/update
    contributes -1/-old to its OLD group, so a status flip moves the
    row between groups and a pure price change nets n=0 with the
    price delta. Money folds in BIGINT CENTS: incremental float
    addition is order-dependent (a replayed/reordered fold would
    drift low-order bits against the direct aggregate), integer cents
    are exact and associative — the same exact-inside rule the merge
    family's oracles follow."""
    old_p, new_p = price_col_pair
    old_s, new_s = status_pair
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("bigint")  # noqa: E731
    adds = changes.filter(
        F.col("change_type").isin("insert", "update")
    ).select(
        F.col(new_s).alias("status"),
        F.lit(1).cast("bigint").alias("dn"),
        cents(new_p).alias("dcents"),
    )
    subs = changes.filter(
        F.col("change_type").isin("delete", "update")
    ).select(
        F.col(old_s).alias("status"),
        F.lit(-1).cast("bigint").alias("dn"),
        (-cents(old_p)).alias("dcents"),
    )
    return (
        adds.unionByName(subs)
        .groupBy("status")
        .agg(F.sum("dn").alias("dn"), F.sum("dcents").alias("dcents"))
    )


def apply_cdf_deltas(
    spark: SparkSession,
    target_dir: str,
    deltas: DataFrame,
    thru_version: int,
) -> str:
    """Fold one change-feed batch's deltas into the materialized
    aggregate table at ``target_dir`` — the apply step of incremental
    view maintenance, EXACTLY-ONCE on an at-least-once channel via
    version watermarking: every row the apply writes carries
    ``ver = thru_version`` (the upstream commit version this batch
    covers), so the max ver over the target IS the applied-through
    watermark, and a replayed batch (thru_version <= watermark) is
    skipped before any arithmetic — the additive fold that latest-wins
    alone cannot make idempotent. Returns 'applied' | 'skipped' |
    'empty'.

    Cost shape: read current aggregate (O(groups)), outer-join the
    batch's deltas (O(groups changed)), one merge commit — state lives
    in the target TABLE, the stream holds none."""
    # the watermark is max(ver) over the target — read it from the
    # manifest's per-file column stats when that is provably exact
    # (guide §1.2: the answer already sits in driver-side metadata;
    # this was one full Spark aggregate job per apply call, including
    # every replayed/skipped batch). Load the manifest ONCE and pin
    # the merge's read to the same version so the watermark and the
    # frame it guards can never straddle a concurrent commit.
    manifest = load_manifest(target_dir)
    cur = read_snapshot(spark, target_dir, version=manifest["version"])
    watermark = _manifest_col_max(manifest, "ver")
    if watermark is None:
        watermark = (cur.agg(F.max("ver")).first()[0]) or 0
    if thru_version <= watermark:
        return "skipped"
    # materialize the batch's deltas ONCE: the lineage behind them is
    # typically a full changes_between diff + fold, and it otherwise
    # re-runs three times (this emptiness probe, the merge's bucket
    # probe, the commit write) — guide §5 reuse-vs-recompute. O(changed
    # groups) rows, so the checkpoint blocks are tiny; scoped to this
    # invocation (freed on GC), never a cross-run cache.
    deltas = deltas.localCheckpoint(eager=True)
    if deltas.isEmpty():
        return "empty"
    merged = (
        cur.select("status", "n_rows", "sum_price_cents")
        .join(deltas, "status", "full_outer")
        .select(
            "status",
            F.lit(thru_version).cast("int").alias("ver"),
            (F.coalesce(F.col("n_rows"), F.lit(0))
             + F.coalesce(F.col("dn"), F.lit(0))).alias("n_rows"),
            (F.coalesce(F.col("sum_price_cents"), F.lit(0))
             + F.coalesce(F.col("dcents"), F.lit(0))).alias("sum_price_cents"),
        )
    )
    # tiebreak on n_rows, not the key itself (key_col doubling as
    # tiebreak would project `status` twice and break the merge);
    # the ver ladder is strictly monotone per group anyway — the
    # tiebreak is unreachable, required only for the determinism
    # contract
    merge_upsert_manifest(
        target_dir, merged, ver_col="ver", tiebreak_col="n_rows",
        writer_id=f"ivm_v{thru_version}",
    )
    return "applied"


@register(
    "merge_partial_update",
    oracle="""
    -- closed form of the two sequential column-subset patches:
    -- u1 (every 4th key) patches ONLY price (*2), u2 (every 6th key)
    -- patches ONLY status ('P'); keys % 12 take both and must keep
    -- u1's price UNDER u2 — the probe a full-row MERGE fails (it
    -- would null the price when u2's batch omits it)
    WITH final AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 6 = 0 THEN 3
                  WHEN o_orderkey % 4 = 0 THEN 2
                  ELSE 1 END                                     AS ver,
             CASE WHEN o_orderkey % 6 = 0 THEN 'P'
                  ELSE o_orderstatus END                         AS status,
             CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END                          AS price,
             CAST(o_orderkey % 100 AS INTEGER)                   AS qty
      FROM orders
    )
    SELECT status,
           COUNT(*)                     AS n_rows,
           CAST(SUM(ver) AS BIGINT)     AS sum_ver,
           ROUND(SUM(price), 2)         AS sum_price,
           CAST(SUM(qty) AS BIGINT)     AS sum_qty
    FROM final
    GROUP BY status ORDER BY status
    """,
)
def merge_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of column-subset MERGE (Delta's
    ``whenMatchedUpdate(set={...})`` / SQL MERGE ``UPDATE SET c=...``;
    generalizes A13's full-row upsert, parser_pinecone_storage.py:154):
    seed orders as (k, ver, src, status, price, qty), then two patches
    that each name ONE column — u1 doubles price for every 4th key,
    u2 flips status to 'P' for every 6th key. Keys divisible by 12
    take both, and the final row must show u1's doubled price UNDER
    u2's status — the column-carry property that distinguishes a
    partial update from full-row latest-wins (which would write NULL
    price in u2's rows). ``qty`` is patched by NEITHER batch: any row
    whose qty nulls out means a patch degenerated to a replacement.

    The tiebreak column is the dedicated writer tag ``src`` (not a
    data column): a patch batch must carry (key, ver, tiebreak,
    *patch_cols), so tiebreaking on a data column would conscript it
    into every patch. Scale shape: each patch reads ONLY the touched
    buckets (once for the carry join's build side, once for the
    rewrite union — the "read matched files" price Delta's MERGE
    pays), never the table; the carry join is key-equi and
    broadcast-eligible. The two-writer lost-update race (re-pin must
    RE-PATCH against the winner's row) is proven in
    tests/test_lakehouse.py::test_partial_update_two_writers_keep_both_columns.
    """
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_partial_update_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.lit("seed").alias("src"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        (F.col("o_orderkey") % 100).cast("int").alias("qty"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=16)

    u1 = orders.filter(F.col("k") % 4 == 0).select(
        "k", F.lit(2).alias("ver"), F.lit("u1").alias("src"),
        (F.col("price") * 2).alias("price"),
    )
    u2 = orders.filter(F.col("k") % 6 == 0).select(
        "k", F.lit(3).alias("ver"), F.lit("u2").alias("src"),
    )
    v2, t2 = merge_upsert_manifest(
        base_dir, u1, ver_col="ver", tiebreak_col="src",
        writer_id="u1", patch_cols=["price"],
    )
    v3, t3 = merge_upsert_manifest(
        base_dir, u2.withColumn("status", F.lit("P")),
        ver_col="ver", tiebreak_col="src",
        writer_id="u2", patch_cols=["status"],
    )
    if (v2, t2, v3, t3) != (2, 1, 3, 1):
        raise AssertionError(
            f"sequential patches must commit v2/v3 first-try, got "
            f"{(v2, t2, v3, t3)}"
        )
    return (
        read_snapshot(spark, base_dir)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
            F.sum("qty").alias("sum_qty"),
        )
        .orderBy("status")
    )


@register(
    "merge_bloom_point_lookup",
    oracle="""
    -- closed form of the final table state: one merge patches every
    -- 100th orderkey (ver 2, price+1000); the probes read custkeys
    -- 0/1/2 — the bloom pruning is invisible to the values, which is
    -- exactly the claim
    SELECT o_custkey                                      AS custkey,
           COUNT(*)                                       AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 100 = 1
                         THEN 2 ELSE 1 END) AS BIGINT)    AS sum_ver,
           ROUND(SUM(CASE WHEN o_orderkey % 100 = 1
                          THEN o_totalprice + 1000
                          ELSE o_totalprice END), 2)      AS sum_price
    FROM orders
    WHERE o_custkey IN (0, 1, 2)
    GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def merge_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of the per-file Bloom point-lookup index
    (``bloom_col`` at init_table + ``read_snapshot(where=("point",
    v))`` — the
    file-level form of Parquet column bloom filters / Delta's
    bloom-filter index): orders keyed on o_orderkey (32 buckets) with
    a bloom over o_custkey — the NON-key lookup bucket pruning cannot
    serve (a customer's ~10 orders hash across every bucket) and
    min/max stats cannot serve either (any file's custkey span covers
    the probe). One merge (every 100th orderkey: ver 2, price+1000)
    exercises the sidecar carry: rewritten files get fresh blooms,
    untouched files keep theirs. Three point lookups (custkeys 0/1/2)
    then plan from the manifest blooms; the face inline-asserts that
    the planner skipped at least a third of the files per probe, that
    kept ∪ skipped covers the manifest exactly, and (via the oracle)
    that pruning never changed a value — a false-keep costs one file
    read, a false-skip is impossible because skipping requires a
    provably-absent probe bit.

    Scale shape: bloom build is one distributed pass per commit over
    the STAGED files only (explode k=4 positions → one
    map-side-combinable 4 KB bitmap per file); the driver collect is
    O(files × m/32768) bitmaps of metadata, independent of row count. Probe planning is
    manifest-only; the read opens O(rows-with-value / rows-per-file)
    files instead of O(table).
    Reference provenance: generalizes the reference's Pinecone id
    point-fetch (ra/agent.py:115-119) to a lakehouse secondary index.
    """
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_bloom_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=32, bloom_col="custkey")

    upd = orders.filter(F.col("k") % 100 == 1).select(
        "k", F.lit(2).alias("ver"), "custkey",
        (F.col("price") + 1000).alias("price"),
    )
    merge_upsert_manifest(
        base_dir, upd, ver_col="ver", tiebreak_col="custkey", writer_id="u1"
    )

    manifest = load_manifest(base_dir)
    all_files = {f for fs in manifest["buckets"].values() for f in fs}
    out = None
    for c in (0, 1, 2):
        kept, skipped = plan_files(spark, manifest, ("point", c))
        if set(kept) | set(skipped) != all_files or (set(kept) & set(skipped)):
            raise AssertionError("bloom plan must partition the file set")
        if len(skipped) < len(all_files) // 3:
            raise AssertionError(
                f"bloom index skipped only {len(skipped)}/{len(all_files)} "
                f"files for custkey={c} — the index is not pruning"
            )
        probe = read_snapshot(spark, base_dir, where=("point", c))
        out = probe if out is None else out.unionByName(probe)
    return (
        out.groupBy("custkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("custkey")
    )


@register(
    "merge_vacuum_retention",
    oracle="""
    -- closed form of the LATEST snapshot: u1 doubles price for every
    -- 4th key (ver 2), u2 flags every 6th key 'X' (ver 3, price+1000
    -- over the CURRENT price — sequential, so %12 keys compound);
    -- the vacuum between the reads is invisible to values, which is
    -- the retention contract itself
    WITH final AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 6 = 0 THEN 3
                  WHEN o_orderkey % 4 = 0 THEN 2
                  ELSE 1 END AS ver,
             CASE WHEN o_orderkey % 6 = 0 THEN 'X'
                  ELSE o_orderstatus END AS status,
             CASE WHEN o_orderkey % 6 = 0 THEN
                    (CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 2
                          ELSE o_totalprice END) + 1000
                  WHEN o_orderkey % 4 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS price
      FROM orders
    )
    SELECT status,
           COUNT(*)                 AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(price), 2)     AS sum_price
    FROM final
    GROUP BY status ORDER BY status
    """,
)
def merge_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of VACUUM — the retention half of the MERGE
    story (Delta VACUUM / Iceberg expire_snapshots), putting a driver
    row on the one lakehouse code path previously covered only by unit
    tests: seed orders (v1), two sequential merges (v2: every 4th key
    price*2; v3: every 6th key status 'X', price+1000 — %12 keys
    compound), then ``vacuum(keep_last=2)``. The face inline-asserts
    the full retention contract: the expired version is exactly v1 and
    at least one replaced file was physically deleted; v2 — pinned
    INSIDE the window — still reads its exact pre-v3 row count; a
    second vacuum is an idempotent no-op (0 files, 0 versions); and
    reading the expired v1 now fails LOUDLY (the documented contract —
    readers pinned past retention lose their snapshot, they never get
    silently re-routed). The returned aggregate reads the LATEST
    snapshot after all of it — the oracle seeing exact values proves
    vacuum deleted only unreachable files.

    Scale shape: vacuum is manifest arithmetic + unlink — O(versions ×
    buckets) metadata, no data read; the files-first/manifests-last
    deletion order (lakehouse.py:vacuum) makes a mid-crash re-runnable.
    Reference provenance: the reference's storage grows forever
    (parser_pinecone_storage.py re-upserts under fresh ids, nothing is
    ever reclaimed); this is the reclamation knob with a contract.
    """
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_vacuum_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(orders, base_dir, key_col="k", n_buckets=8)
    u1 = orders.filter(F.col("k") % 4 == 0).select(
        "k", F.lit(2).alias("ver"), "status",
        (F.col("price") * 2).alias("price"),
    )
    merge_upsert_manifest(base_dir, u1, "ver", "status", writer_id="u1")
    n_v2 = read_snapshot(spark, base_dir).count()
    u2 = (
        read_snapshot(spark, base_dir)
        .filter(F.col("k") % 6 == 0)
        .select(
            "k", F.lit(3).alias("ver"), F.lit("X").alias("status"),
            (F.col("price") + 1000).alias("price"),
        )
    )
    merge_upsert_manifest(base_dir, u2, "ver", "status", writer_id="u2")

    out = vacuum(base_dir, keep_last=2)
    if out["deleted_versions"] != [1] or out["deleted_files"] < 1:
        raise AssertionError(f"vacuum must expire exactly v1: {out}")
    if read_snapshot(spark, base_dir, version=2).count() != n_v2:
        raise AssertionError("v2 (inside the window) must survive vacuum")
    again = vacuum(base_dir, keep_last=2)
    if again["deleted_versions"] or again["deleted_files"]:
        raise AssertionError(f"vacuum must be idempotent: {again}")
    try:
        read_snapshot(spark, base_dir, version=1).count()
    except Exception:
        pass
    else:
        raise AssertionError("expired v1 must fail loudly, not read")

    return (
        read_snapshot(spark, base_dir)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "merge_identity_assign",
    oracle="""
    -- closed form: seed = even orderkeys with dense ids in key order;
    -- the patch touches every 3rd key — matched evens keep their id
    -- (price +1000), odd multiples of 3 INSERT and take
    -- high_water + rank-in-key-order
    WITH evens AS (
      SELECT o_orderkey AS k, o_totalprice AS p,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) AS sid
      FROM orders WHERE o_orderkey % 2 = 0
    ), inserts AS (
      SELECT o_orderkey AS k, o_totalprice AS p,
             (SELECT COUNT(*) FROM evens)
             + ROW_NUMBER() OVER (ORDER BY o_orderkey) AS sid
      FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0
    ), final AS (
      SELECT sid, CASE WHEN k % 3 = 0 THEN p + 1000 ELSE p END AS price,
             'seed' AS origin
      FROM evens
      UNION ALL
      SELECT sid, p + 1000, 'inserted' FROM inserts
    )
    SELECT origin,
           COUNT(*)                   AS n_rows,
           CAST(SUM(sid) AS BIGINT)   AS sum_sid,
           CAST(MAX(sid) AS BIGINT)   AS max_sid,
           ROUND(SUM(price), 2)       AS sum_price
    FROM final GROUP BY origin ORDER BY origin
    """,
)
def merge_identity_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of IDENTITY columns (Delta GENERATED ALWAYS AS
    IDENTITY / Iceberg sequence semantics on the manifest table): the
    table declares ``identity_col='sid'`` and the manifest carries an
    ``identity_high_water`` mark, so a partial-update MERGE assigns
    ``high_water + rank-by-key`` to NEW keys transactionally while
    matched keys KEEP their id through the carry join — no global
    max(id) scan ever runs (the mark is manifest metadata), and a lost
    CAS re-pins the winner's mark before re-assigning, so two racing
    inserters cannot mint the same id
    (tests/test_lakehouse.py::test_identity_two_writer_race_unique_ids).

    Face: even orderkeys seed the table with dense ids; one patch
    batch touches every 3rd key — the matched evens must keep their
    seed id under the price update (``sum_sid`` over 'seed' is the
    stability probe: one reassigned row shifts it) and the odd
    multiples of 3 insert with contiguous post-high-water ids
    (``max_sid`` pins the mark arithmetic). The oracle derives both
    populations in closed form. Inline asserts pin the mark after each
    commit and id uniqueness across the final snapshot.
    Reference provenance: the reference mints wall-clock-salted string
    ids (parser_pinecone_storage.py:154) — non-reproducible and
    collision-prone under retry; this is the transactional version.
    """
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_identity_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders")
    seed = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.lit(1).alias("ver"),
            F.lit("seed").alias("src"),
            F.col("o_totalprice").alias("price"),
        )
        # fixture seed ids via one global row_number — face SETUP, not
        # the operator (a production table starts empty and lets the
        # merge path mint every id)
        .withColumn("sid", F.row_number().over(Window.orderBy("k")).cast("bigint"))
    )
    init_table(seed, base_dir, key_col="k", n_buckets=16, identity_col="sid")
    n_seed = seed.count()
    if load_manifest(base_dir)["identity_high_water"] != n_seed:
        raise AssertionError("init mark must equal the seed max id")

    upd = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(2).alias("ver"),
        F.lit("u1").alias("src"),
        (F.col("o_totalprice") + 1000).alias("price"),
    )
    merge_upsert_manifest(
        base_dir, upd, ver_col="ver", tiebreak_col="src",
        writer_id="u1", patch_cols=["price"],
    )
    snap = read_snapshot(spark, base_dir)
    # row count + id-uniqueness in ONE snapshot pass (count then
    # distinct-count was two full reads of the table for two scalars)
    st = snap.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("sid")).alias("n_sid"),
    ).first()
    n_rows = st.n
    man = load_manifest(base_dir)
    if man["identity_high_water"] != n_rows:
        raise AssertionError(
            f"mark {man['identity_high_water']} must equal row count "
            f"{n_rows} (dense ids, no gaps in this scenario)"
        )
    if st.n_sid != n_rows:
        raise AssertionError("identity ids must be unique")

    return (
        snap.groupBy(
            F.when(F.col("k") % 2 == 0, "seed")
            .otherwise("inserted")
            .alias("origin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("sid").alias("sum_sid"),
            F.max("sid").alias("max_sid"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("origin")
    )


@register(
    "merge_expectations_gate",
    oracle="""
    -- closed form of one gated full-row MERGE: the batch touches every
    -- 3rd orderkey (ver 2, price+100); rows where k%9=0 arrive with a
    -- negated price (violates price_nonneg) and rows where k%15=0 with
    -- status 'X' (violates status_domain) — those quarantine and the
    -- table keeps the seed row, so the committed state is exactly the
    -- keys divisible by 3 but by neither 9 nor 15 updated, all else
    -- seed. k%45=0 rows violate BOTH (sorted comma-joined reason).
    WITH final AS (
      SELECT CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0
                       AND o_orderkey % 15 <> 0 THEN 2 ELSE 1 END AS ver,
             o_orderstatus AS status,
             CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0
                       AND o_orderkey % 15 <> 0 THEN o_totalprice + 100
                  ELSE o_totalprice END AS price
      FROM orders
    ), t AS (
      SELECT 'table' AS part, status AS grp,
             COUNT(*) AS n_rows, CAST(SUM(ver) AS BIGINT) AS sum_ver,
             ROUND(SUM(price), 2) AS sum_price
      FROM final GROUP BY status
    ), bad AS (
      SELECT CASE WHEN o_orderkey % 9 = 0 THEN -o_totalprice
                  ELSE o_totalprice + 100 END AS price,
             CASE WHEN o_orderkey % 45 = 0 THEN 'price_nonneg,status_domain'
                  WHEN o_orderkey % 9  = 0 THEN 'price_nonneg'
                  ELSE 'status_domain' END AS reason
      FROM orders
      WHERE o_orderkey % 3 = 0
        AND (o_orderkey % 9 = 0 OR o_orderkey % 15 = 0)
    ), q AS (
      SELECT 'quarantine' AS part, reason AS grp,
             COUNT(*) AS n_rows, CAST(2 * COUNT(*) AS BIGINT) AS sum_ver,
             ROUND(SUM(price), 2) AS sum_price
      FROM bad GROUP BY reason
    )
    SELECT part, grp, n_rows, sum_ver, sum_price FROM t
    UNION ALL
    SELECT part, grp, n_rows, sum_ver, sum_price FROM q
    ORDER BY part, grp
    """,
)
def merge_expectations_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of write-side expectations on MERGE (Delta CHECK
    constraints / Great Expectations at the write path, quarantine-not-
    abort): ``merge_upsert_manifest(..., expectations={...})`` splits
    the batch BEFORE the CAS loop — rows failing any declared SQL
    predicate are diverted to a commit-private quarantine side table
    tagged with the sorted failed-expectation names (_violation), the
    commit carries only the passing subset, and the manifest records
    the checked names + per-expectation violation counts + the side
    table path (``read_quarantine`` is the triage surface). NULL
    predicate results VIOLATE (invariant semantics, stricter than ANSI
    CHECK) — a gate that waves NULLs through protects no consumer.

    Face: orders seeds the table; one full-row batch updates every 3rd
    key but arrives dirty — k%9=0 rows carry a negated price
    (price_nonneg) and k%15=0 rows a status outside {O,F,P}
    (status_domain); k%45=0 rows violate BOTH and must show the
    comma-joined reason. The declared result is the post-gate table
    (only clean updates committed; violating keys keep their SEED row —
    the property an abort-style CHECK cannot give without failing the
    whole batch) UNION the per-reason quarantine summary. Inline
    asserts pin the manifest's quarantine counters to the side table's
    actual contents.

    Scale shape: the gate is one projection + one aggregate over the
    (bounded) batch — never the table; the quarantine write is
    batch-sized; the merge itself stays bucket-pruned. Downstream
    incremental consumers (changes_between / stream_cdf_materialize)
    see only gated rows by construction, which is the point.
    Reference provenance: none (the reference ingests unvalidated —
    SURVEY §0 gap); public recipe = Delta constraints quarantine
    pattern / Great Expectations checkpoints.
    """
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_expectations_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders")
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.lit("seed").alias("src"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        (F.col("o_orderkey") % 100).cast("int").alias("qty"),
    )
    init_table(seed, base_dir, key_col="k", n_buckets=16)

    batch = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(2).alias("ver"),
        F.lit("u1").alias("src"),
        F.when(F.col("o_orderkey") % 15 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
        F.when(F.col("o_orderkey") % 9 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice") + 100)
        .alias("price"),
        (F.col("o_orderkey") % 100).cast("int").alias("qty"),
    )
    merge_upsert_manifest(
        base_dir, batch, ver_col="ver", tiebreak_col="src", writer_id="u1",
        expectations={
            "price_nonneg": "price >= 0",
            "status_domain": "status IN ('O','F','P')",
        },
    )
    info = load_manifest(base_dir)["expectations"]
    quar = read_quarantine(spark, base_dir)
    n_quar = quar.count()
    if info["quarantined"] != n_quar:
        raise AssertionError(
            f"manifest quarantine count {info['quarantined']} != side "
            f"table rows {n_quar}"
        )
    by = {
        r.e: r.n
        for r in quar.select(
            F.explode(F.split(QUARANTINE_REASON_COL, ",")).alias("e")
        )
        .groupBy("e")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if by != info["by_expectation"]:
        raise AssertionError(
            f"per-expectation counters {info['by_expectation']} != side "
            f"table breakdown {by}"
        )

    tbl = (
        read_snapshot(spark, base_dir)
        .groupBy(F.col("status").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").cast("bigint").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .select(F.lit("table").alias("part"), "grp", "n_rows", "sum_ver",
                "sum_price")
    )
    qsum = (
        quar.groupBy(F.col(QUARANTINE_REASON_COL).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").cast("bigint").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .select(F.lit("quarantine").alias("part"), "grp", "n_rows",
                "sum_ver", "sum_price")
    )
    return tbl.unionByName(qsum).orderBy("part", "grp")


@register(
    "merge_serializable_check",
    oracle="""
    -- closed form of the two-scenario race: B commits keys %20=0
    -- (price+5) inside A's window; A (serializable) also writes every
    -- %10=0 key — overlap {%20=0} is non-empty, so A ABORTS whole
    -- (its %10=0-but-not-%20=0 keys stay seed). C writes %10=5 keys
    -- (price+2) while D commits the disjoint %10=3 set (price+3):
    -- C proves disjointness and rebases — both land.
    WITH final AS (
      SELECT CASE WHEN o_orderkey % 20 = 0 THEN 'B'
                  WHEN o_orderkey % 10 = 5 THEN 'C'
                  WHEN o_orderkey % 10 = 3 THEN 'D'
                  ELSE 'seed' END AS src,
             CASE WHEN o_orderkey % 20 = 0
                       OR o_orderkey % 10 IN (3, 5) THEN 2
                  ELSE 1 END AS ver,
             CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 5
                  WHEN o_orderkey % 10 = 5 THEN o_totalprice + 2
                  WHEN o_orderkey % 10 = 3 THEN o_totalprice + 3
                  ELSE o_totalprice END AS price
      FROM orders
    )
    SELECT src, COUNT(*) AS n_rows, CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(price), 2) AS sum_price
    FROM final GROUP BY src ORDER BY src
    """,
)
def merge_serializable_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of serializable conflict detection on the CAS
    loop (Delta's WriteSerializable ConcurrentAppendException /
    Iceberg's serializable-isolation validation):
    ``merge_upsert_manifest(..., isolation='serializable')`` diffs the
    commits that landed since the pinned version (changes_between —
    O(changed data), LOGICAL keys not files) against the writer's key
    set on every lost CAS — overlap raises SerializationConflictError
    instead of the silent rebase latest_wins performs, which is the
    difference between correct and lost-update for read-modify-write
    batches (increments, balance math). Disjoint writers rebase
    exactly like latest_wins; key-preserving maintenance (compaction,
    rebucket) never conflicts
    (tests/test_lakehouse.py::test_serializable_maintenance_commit_no_conflict);
    an expired pin conflicts conservatively.

    Face: orders seeds the table; writer B commits the %20=0 keys
    inside serializable writer A's pre-commit window — A writes every
    %10=0 key, the overlap is provably non-empty, and A must ABORT
    WHOLE (all-or-nothing: its non-overlapping keys stay seed — a
    partial landing would be worse than either policy). Writers C
    (%10=5) and D (%10=3) race disjointly — C proves disjointness
    against D's commit and rebases to v4. The declared result is the
    final table grouped by writer tag; the conflict path contributes
    by its ABSENCE (any A row means the gate failed), pinned by inline
    asserts on the raised error type and the exact version/attempt
    pairs. Also exercised in the same race harness: the vacuum
    slot-reuse publish guard
    (tests/test_lakehouse.py::test_vacuum_reopened_slot_cannot_resurrect_history).
    Scale shape: the conflict probe reads only buckets whose file sets
    changed between the two manifests, then a broadcast semi-join of
    the bounded batch key set — O(concurrent churn), never O(table).
    Reference provenance: none (the reference has no concurrent-writer
    story); public recipe = Delta WriteSerializable conflict detection.
    """
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_serializable_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders")
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.lit("seed").alias("src"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(seed, base_dir, key_col="k", n_buckets=16)

    def batch(mod, rem, tag, bump):
        return orders.filter(F.col("o_orderkey") % mod == rem).select(
            F.col("o_orderkey").alias("k"),
            F.lit(2).alias("ver"),
            F.lit(tag).alias("src"),
            (F.col("o_totalprice") + bump).alias("price"),
        )

    results = {}

    def b_commits(attempt):
        if attempt == 0:
            results["B"] = merge_upsert_manifest(
                base_dir, batch(20, 0, "B", 5), "ver", "src", writer_id="B"
            )

    conflicted = False
    try:
        merge_upsert_manifest(
            base_dir, batch(10, 0, "A", 1), "ver", "src", writer_id="A",
            before_commit=b_commits, isolation="serializable",
        )
    except SerializationConflictError:
        conflicted = True
    if not conflicted or results["B"] != (2, 1):
        raise AssertionError(
            f"overlapping serializable writer must conflict "
            f"(conflicted={conflicted}, B={results.get('B')})"
        )

    def d_commits(attempt):
        if attempt == 0:
            results["D"] = merge_upsert_manifest(
                base_dir, batch(10, 3, "D", 3), "ver", "src", writer_id="D"
            )

    results["C"] = merge_upsert_manifest(
        base_dir, batch(10, 5, "C", 2), "ver", "src", writer_id="C",
        before_commit=d_commits, isolation="serializable",
    )
    if results["D"] != (3, 1) or results["C"] != (4, 2):
        raise AssertionError(
            f"disjoint serializable writers must both land "
            f"(D={results['D']}, C={results['C']})"
        )

    return (
        read_snapshot(spark, base_dir)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").cast("bigint").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("src")
    )


@register(
    "merge_shallow_clone",
    oracle="""
    -- closed form of the clone scenario. SOURCE: v2 updates %4=0
    -- (price+10), clone pins v2, v3 updates %6=0 (+20), v4 updates
    -- %10=0 (+30), then vacuum keep_last=1 (keeps v4 + the pinned v2).
    -- CLONE: evolves independently with %5=0 (+50) on top of the
    -- pinned v2 state — it must see NEITHER v3 nor v4, and the source
    -- vacuum must not break it.
    WITH src AS (
      SELECT 'source' AS side,
             CASE WHEN o_orderkey % 10 = 0 THEN 's4'
                  WHEN o_orderkey % 6  = 0 THEN 's3'
                  WHEN o_orderkey % 4  = 0 THEN 's2'
                  ELSE 'seed' END AS src,
             CASE WHEN o_orderkey % 10 = 0 THEN 4
                  WHEN o_orderkey % 6  = 0 THEN 3
                  WHEN o_orderkey % 4  = 0 THEN 2
                  ELSE 1 END AS ver,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 30
                  WHEN o_orderkey % 6  = 0 THEN o_totalprice + 20
                  WHEN o_orderkey % 4  = 0 THEN o_totalprice + 10
                  ELSE o_totalprice END AS price
      FROM orders
    ), cln AS (
      SELECT 'clone' AS side,
             CASE WHEN o_orderkey % 5 = 0 THEN 'c3'
                  WHEN o_orderkey % 4 = 0 THEN 's2'
                  ELSE 'seed' END AS src,
             CASE WHEN o_orderkey % 5 = 0 THEN 3
                  WHEN o_orderkey % 4 = 0 THEN 2
                  ELSE 1 END AS ver,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 50
                  WHEN o_orderkey % 4 = 0 THEN o_totalprice + 10
                  ELSE o_totalprice END AS price
      FROM orders
    ), u AS (
      SELECT * FROM src UNION ALL SELECT * FROM cln
    )
    SELECT side, src, COUNT(*) AS n_rows,
           CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(price), 2) AS sum_price
    FROM u GROUP BY side, src ORDER BY side, src
    """,
)
def merge_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of SHALLOW CLONE (Delta SHALLOW CLONE / Iceberg
    snapshot refs): ``clone_table`` writes ONE manifest into the target
    directory — zero data copied (the face asserts the clone dir holds
    exactly v1.json) — safe by the protocol's file-immutability
    invariant. The clone evolves independently (its merges write into
    its own directory, untouched buckets stay source references), and
    retention is two-sided: vacuum on the SOURCE keeps every version a
    live clone pins (the face vacuums keep_last=1 AFTER cloning and
    the clone must still read its exact pinned state — the
    pre-migration-backup use case), while vacuum on the CLONE only
    deletes files inside its own directory (ownership = containment).

    Face: orders seeds the source; v2 lands, the clone pins it; v3/v4
    land on the source only; source vacuum keep_last=1 must keep
    {pinned v2, head v4} and delete {v1, v3}; the clone layers its own
    update over the pinned state. The declared result is both tables'
    states side-by-side — any v3/v4 leakage into the clone, or any
    clone write visible in the source, is a wrong row. Inline asserts
    pin the kept/deleted version sets and the metadata-only property.
    Scale shape: clone cost is one manifest write — O(1) regardless of
    table size (the 100 TB reason this exists); the pinned-version
    retention check is manifest metadata only.
    Reference provenance: none; public recipe = Delta/Iceberg CLONE
    before risky migrations.
    """
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_clone_source_table")
    clone_dir = _adir(sf_dir, "merge_clone_target_table")
    shutil.rmtree(base_dir, ignore_errors=True)
    shutil.rmtree(clone_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders")
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.lit("seed").alias("src"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(seed, base_dir, key_col="k", n_buckets=16)

    def batch(mod, ver, tag, bump):
        return orders.filter(F.col("o_orderkey") % mod == 0).select(
            F.col("o_orderkey").alias("k"),
            F.lit(ver).alias("ver"),
            F.lit(tag).alias("src"),
            (F.col("o_totalprice") + bump).alias("price"),
        )

    merge_upsert_manifest(base_dir, batch(4, 2, "s2", 10), "ver", "src")
    info = clone_table(base_dir, clone_dir)
    if info["source_version"] != 2:
        raise AssertionError(f"clone must pin v2, got {info}")
    if sorted(os.listdir(clone_dir)) != ["v1.json"]:
        raise AssertionError(
            f"clone must be metadata-only: {os.listdir(clone_dir)}"
        )
    merge_upsert_manifest(base_dir, batch(6, 3, "s3", 20), "ver", "src")
    merge_upsert_manifest(base_dir, batch(10, 4, "s4", 30), "ver", "src")
    out = vacuum(base_dir, keep_last=1)
    if set(out["deleted_versions"]) != {1, 3} or 2 not in out["kept_versions"]:
        raise AssertionError(
            f"source vacuum must keep the clone-pinned v2 and head v4, "
            f"expire v1/v3: {out}"
        )
    merge_upsert_manifest(clone_dir, batch(5, 3, "c3", 50), "ver", "src")

    def summarize(path, side):
        return (
            read_snapshot(spark, path)
            .groupBy("src")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("ver").cast("bigint").alias("sum_ver"),
                F.round(F.sum("price"), 2).alias("sum_price"),
            )
            .select(F.lit(side).alias("side"), "src", "n_rows", "sum_ver",
                    "sum_price")
        )

    return (
        summarize(base_dir, "source")
        .unionByName(summarize(clone_dir, "clone"))
        .orderBy("side", "src")
    )


@register(
    "merge_restore_version",
    oracle="""
    -- closed form: v2 updates %4=0 (+10), v3 updates %6=0 (+20),
    -- RESTORE to v2 (undoes u3 logically, history stays readable),
    -- then u5 updates %10=0 (ver 4, +30) on top of the restored state
    -- — u3 must be invisible in the final table.
    WITH final AS (
      SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'u5'
                  WHEN o_orderkey % 4  = 0 THEN 'u2'
                  ELSE 'seed' END AS src,
             CASE WHEN o_orderkey % 10 = 0 THEN 4
                  WHEN o_orderkey % 4  = 0 THEN 2
                  ELSE 1 END AS ver,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 30
                  WHEN o_orderkey % 4  = 0 THEN o_totalprice + 10
                  ELSE o_totalprice END AS price
      FROM orders
    )
    SELECT src, COUNT(*) AS n_rows, CAST(SUM(ver) AS BIGINT) AS sum_ver,
           ROUND(SUM(price), 2) AS sum_price
    FROM final GROUP BY src ORDER BY src
    """,
)
def merge_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of RESTORE (Delta ``RESTORE TABLE ... TO VERSION
    AS OF``): ``restore_table`` commits a NEW version whose manifest
    re-points at the target version's files — metadata-only (zero data
    rewritten; immutable files make the re-point safe) and
    history-preserving (the undone versions stay time-travel-readable
    until retention expires them, because a restore is an ordinary
    commit through the same CAS). The write half of the time-travel
    story whose read half is ``scan_snapshot_time_travel``.

    Face: v2 updates the %4=0 keys, v3 the %6=0 keys; restore to v2
    lands as v4 (inline-asserted), a fresh update (%10=0, ver 4) lands
    as v5 on the RESTORED base — the declared result must show u3
    nowhere while the inline time-travel read of v3 still sees u3's
    rows intact (bad-deploy rollback without losing forensics). The
    oracle derives the final state in closed form.
    Scale shape: restore = one manifest write, O(1) in table size —
    rolling back a 100 TB table costs the same as a 100 MB one; the
    undone data files are reclaimed later by ordinary vacuum
    retention, never eagerly.
    Reference provenance: none; public recipe = Delta RESTORE /
    Iceberg rollback-to-snapshot.
    """
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "merge_restore_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders")
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.lit("seed").alias("src"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(seed, base_dir, key_col="k", n_buckets=16)

    def batch(mod, ver, tag, bump):
        return orders.filter(F.col("o_orderkey") % mod == 0).select(
            F.col("o_orderkey").alias("k"),
            F.lit(ver).alias("ver"),
            F.lit(tag).alias("src"),
            (F.col("o_totalprice") + bump).alias("price"),
        )

    merge_upsert_manifest(base_dir, batch(4, 2, "u2", 10), "ver", "src")
    merge_upsert_manifest(base_dir, batch(6, 3, "u3", 20), "ver", "src")
    rv, tries = restore_table(base_dir, 2)
    if (rv, tries) != (4, 1):
        raise AssertionError(f"restore must land as v4 first-try: {(rv, tries)}")
    # both probe counts in ONE job: tag each AS-OF read and aggregate
    # the union once (two sequential count() jobs paid the per-job
    # floor twice for two scalars over tiny filtered reads)
    u3 = (
        read_snapshot(spark, base_dir)
        .filter(F.col("src") == "u3")
        .select(F.lit("cur").alias("_side"))
        .unionAll(
            read_snapshot(spark, base_dir, version=3)
            .filter(F.col("src") == "u3")
            .select(F.lit("v3").alias("_side"))
        )
        .agg(
            F.count_if(F.col("_side") == "cur").alias("n_cur"),
            F.count_if(F.col("_side") == "v3").alias("n_v3"),
        )
        .first()
    )
    n_u3_restored, n_u3_history = u3.n_cur, u3.n_v3
    if n_u3_restored != 0 or n_u3_history == 0:
        raise AssertionError(
            f"restore must undo u3 logically ({n_u3_restored} rows) while "
            f"v3 stays time-travel-readable ({n_u3_history} rows)"
        )
    merge_upsert_manifest(base_dir, batch(10, 4, "u5", 30), "ver", "src")

    return (
        read_snapshot(spark, base_dir)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").cast("bigint").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .orderBy("src")
    )


@register(
    "scan_manifest_history",
    oracle="""
    -- closed form of the scripted six-commit history: the version
    -- ladder's kinds/writers are constants; the data-derived cells are
    -- the gated commit's quarantine count (every %9=0 orderkey — the
    -- batch is %3=0 with %9=0 prices negated, and 9|k implies 3|k) and
    -- the live row count, which only moves when v5 INSERTS the %50=0
    -- shadow keys.
    WITH n AS (
      SELECT COUNT(*) AS c,
             COUNT(*) FILTER (WHERE o_orderkey % 9 = 0)  AS q9,
             COUNT(*) FILTER (WHERE o_orderkey % 50 = 0) AS i50
      FROM orders
    )
    SELECT * FROM (
      SELECT 1 AS version, 'init' AS kind, 'init' AS writer,
             CAST(NULL AS BIGINT) AS quarantined,
             CAST(NULL AS BIGINT) AS restored_from,
             c AS n_live FROM n
      UNION ALL SELECT 2, 'merge', 'u2', NULL, NULL, c FROM n
      UNION ALL SELECT 3, 'merge', 'u3', q9, NULL, c FROM n
      UNION ALL SELECT 4, 'restore', 'ops', NULL, 2, c FROM n
      UNION ALL SELECT 5, 'merge', 'u5', NULL, NULL, c + i50 FROM n
      UNION ALL SELECT 6, 'rebucket', 'maint', NULL, NULL, c + i50 FROM n
    ) ORDER BY version
    """,
)
def scan_manifest_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of DESCRIBE HISTORY (`table_history` — Delta
    DESCRIBE HISTORY / Iceberg's snapshots metadata table): every
    commit path stamps its kind and writer into the manifest, so the
    audit surface an on-call reads ("who wrote v3, did it quarantine
    anything, what did the restore undo") is pure manifest metadata —
    zero data I/O, O(versions) whatever the table size.

    Face: a scripted six-commit ladder on orders — init; plain merge;
    GATED merge (every %9=0 price arrives negated → quarantined =
    count(%9=0), recorded in the manifest); RESTORE to v2
    (restored_from surfaces); an INSERT merge (%50=0 shadow keys — the
    one commit that moves the live count); a REBUCKET (maintenance
    kind). Declared result = the history joined with each version's
    live row count (read_snapshot AS OF — proving every history row is
    still time-travel-consistent, not just present). The oracle derives
    all six rows in closed form from orders aggregates.
    Scale shape: history = one manifest read per version; the per-
    version counts here are fixture-scale proof reads, not part of the
    operator's cost model.
    Reference provenance: none; public recipe = Delta DESCRIBE HISTORY.
    """
    import shutil

    from .scans import _adir

    base_dir = _adir(sf_dir, "scan_history_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders")
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.lit("seed").alias("src"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(seed, base_dir, key_col="k", n_buckets=8)
    merge_upsert_manifest(
        base_dir,
        orders.filter(F.col("o_orderkey") % 4 == 0).select(
            F.col("o_orderkey").alias("k"), F.lit(2).alias("ver"),
            F.lit("u2").alias("src"),
            (F.col("o_totalprice") + 10).alias("price"),
        ),
        "ver", "src", writer_id="u2",
    )
    merge_upsert_manifest(
        base_dir,
        orders.filter(F.col("o_orderkey") % 3 == 0).select(
            F.col("o_orderkey").alias("k"), F.lit(3).alias("ver"),
            F.lit("u3").alias("src"),
            F.when(F.col("o_orderkey") % 9 == 0, -F.col("o_totalprice"))
            .otherwise(F.col("o_totalprice") + 20)
            .alias("price"),
        ),
        "ver", "src", writer_id="u3",
        expectations={"price_nonneg": "price >= 0"},
    )
    restore_table(base_dir, 2, writer_id="ops")
    merge_upsert_manifest(
        base_dir,
        orders.filter(F.col("o_orderkey") % 50 == 0).select(
            (F.col("o_orderkey") + 10_000_000).alias("k"),
            F.lit(3).alias("ver"), F.lit("u5").alias("src"),
            F.col("o_totalprice").alias("price"),
        ),
        "ver", "src", writer_id="u5",
    )
    rebucket_table(spark, base_dir, 16, writer_id="maint")

    hist = table_history(base_dir)
    # live counts for ALL versions in ONE job: a per-version count()
    # is a full job each (six sequential jobs at the local job floor;
    # six sequential passes on a cluster) — tag each AS-OF read with
    # its version and aggregate the union once
    tagged = None
    for h in hist:
        s = read_snapshot(spark, base_dir, version=h["version"]).select(
            F.lit(int(h["version"])).alias("_v")
        )
        tagged = s if tagged is None else tagged.unionAll(s)
    n_live = {
        r["_v"]: r["n"]
        for r in tagged.groupBy("_v")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = [
        (
            h["version"], h["kind"], h["writer_id"], h["quarantined"],
            h["restored_from"], n_live.get(h["version"], 0),
        )
        for h in hist
    ]
    return spark.createDataFrame(
        rows,
        "version int, kind string, writer string, quarantined long, "
        "restored_from long, n_live long",
    ).orderBy("version")


@register(
    "merge_wap_publish",
    oracle="""
    -- closed form of the audited publish: the branch's gated merge
    -- updates every 5th key (ver 2, price+100), rows with k%25=0
    -- arrive price-negated (price_nonneg) and k%35=0 with status 'Z'
    -- (status_domain) — those quarantine ON THE BRANCH, the publish
    -- fast-forwards main to the branch's clean state, so the final
    -- main table equals the gate's closed form (k%175=0 violates
    -- BOTH — sorted comma-joined reason).
    WITH final AS (
      SELECT CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 25 <> 0
                       AND o_orderkey % 35 <> 0 THEN 2 ELSE 1 END AS ver,
             o_orderstatus AS status,
             CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 25 <> 0
                       AND o_orderkey % 35 <> 0 THEN o_totalprice + 100
                  ELSE o_totalprice END AS price
      FROM orders
    ), t AS (
      SELECT 'table' AS part, status AS grp,
             COUNT(*) AS n_rows, CAST(SUM(ver) AS BIGINT) AS sum_ver,
             ROUND(SUM(price), 2) AS sum_price
      FROM final GROUP BY status
    ), bad AS (
      SELECT CASE WHEN o_orderkey % 25 = 0 THEN -o_totalprice
                  ELSE o_totalprice + 100 END AS price,
             CASE WHEN o_orderkey % 175 = 0 THEN 'price_nonneg,status_domain'
                  WHEN o_orderkey % 25  = 0 THEN 'price_nonneg'
                  ELSE 'status_domain' END AS reason
      FROM orders
      WHERE o_orderkey % 5 = 0
        AND (o_orderkey % 25 = 0 OR o_orderkey % 35 = 0)
    ), q AS (
      SELECT 'quarantine' AS part, reason AS grp,
             COUNT(*) AS n_rows, CAST(2 * COUNT(*) AS BIGINT) AS sum_ver,
             ROUND(SUM(price), 2) AS sum_price
      FROM bad GROUP BY reason
    )
    SELECT part, grp, n_rows, sum_ver, sum_price FROM t
    UNION ALL
    SELECT part, grp, n_rows, sum_ver, sum_price FROM q
    ORDER BY part, grp
    """,
)
def merge_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of WRITE-AUDIT-PUBLISH (Iceberg's WAP pattern /
    branch fast-forward, composed from this round's primitives): main
    is cloned to a staging BRANCH (metadata-only), the candidate batch
    merges into the branch under the expectations gate (the AUDIT is
    the branch commit's quarantine record — inspected before anyone
    depends on it), and ``publish_from`` fast-forwards main to the
    audited branch state in one metadata-only commit. Main NEVER
    exposes the unaudited intermediate state — inline-asserted by
    time-traveling main v1 (zero updated rows) and by main's history
    (v1 init → v2 publish, nothing between); an audit failure would
    simply abandon the branch, costing main nothing.

    Retention safety is exercised live: after the publish, the branch
    takes another commit and vacuums keep_last=1 — the publish-pinned
    branch version must survive (main references its files), which the
    face asserts by re-reading main AFTER the branch vacuum.

    Face batch: every 5th orderkey updates (ver 2, price+100); k%25=0
    rows arrive price-negated, k%35=0 with an out-of-domain status,
    k%175=0 violate both. Declared result = main's published table +
    the branch audit's per-reason quarantine summary, both closed-form.
    Scale shape: clone + publish are one manifest write each — the
    audit isolation costs O(1) in table size (the 100 TB reason WAP
    exists); the gate and merge costs are the batch-bounded ones the
    component ops document.
    Reference provenance: none; public recipe = Iceberg WAP /
    Databricks staging-branch publish.
    """
    import shutil

    from .scans import _adir

    main_dir = _adir(sf_dir, "merge_wap_main_table")
    branch_dir = _adir(sf_dir, "merge_wap_branch_table")
    shutil.rmtree(main_dir, ignore_errors=True)
    shutil.rmtree(branch_dir, ignore_errors=True)

    orders = table(spark, sf_dir, "orders")
    seed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("ver"),
        F.lit("seed").alias("src"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    init_table(seed, main_dir, key_col="k", n_buckets=16)
    clone_table(main_dir, branch_dir)

    batch = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(2).alias("ver"),
        F.lit("wap").alias("src"),
        F.when(F.col("o_orderkey") % 35 == 0, F.lit("Z"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
        F.when(F.col("o_orderkey") % 25 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice") + 100)
        .alias("price"),
    )
    merge_upsert_manifest(
        base_dir=branch_dir, updates=batch, ver_col="ver",
        tiebreak_col="src", writer_id="wap",
        expectations={
            "price_nonneg": "price >= 0",
            "status_domain": "status IN ('O','F','P')",
        },
    )
    # AUDIT: the branch commit's quarantine record gates the publish
    audit = load_manifest(branch_dir)["expectations"]
    if audit["quarantined"] == 0 or audit["quarantined"] >= audit["n_batch"]:
        raise AssertionError(f"audit fixture must be mixed: {audit}")
    quar = read_quarantine(spark, branch_dir)

    pv, tries = publish_from(main_dir, branch_dir, writer_id="wap")
    if (pv, tries) != (2, 1):
        raise AssertionError(f"publish must land as main v2: {(pv, tries)}")
    hist = table_history(main_dir)
    if [(h["version"], h["kind"]) for h in hist] != [
        (1, "init"), (2, "publish"),
    ]:
        raise AssertionError(f"main must go init→publish, nothing between: {hist}")
    if hist[1]["quarantined"] is not None:
        raise AssertionError("publish must not carry the branch's record")
    n_before = (
        read_snapshot(spark, main_dir, version=1)
        .filter(F.col("ver") == 2)
        .count()
    )
    if n_before != 0:
        raise AssertionError("main v1 must never expose the unaudited batch")

    # retention: branch moves on and vacuums aggressively — the
    # publish-pinned version must survive for main
    merge_upsert_manifest(
        branch_dir,
        orders.filter(F.col("o_orderkey") % 500 == 1).select(
            F.col("o_orderkey").alias("k"), F.lit(3).alias("ver"),
            F.lit("b3").alias("src"), F.col("o_orderstatus").alias("status"),
            (F.col("o_totalprice") + 1).alias("price"),
        ),
        "ver", "src", writer_id="b3",
    )
    vacuum(branch_dir, keep_last=1)

    tbl = (
        read_snapshot(spark, main_dir)
        .groupBy(F.col("status").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").cast("bigint").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .select(F.lit("table").alias("part"), "grp", "n_rows", "sum_ver",
                "sum_price")
    )
    qsum = (
        quar.groupBy(F.col(QUARANTINE_REASON_COL).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ver").cast("bigint").alias("sum_ver"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        .select(F.lit("quarantine").alias("part"), "grp", "n_rows",
                "sum_ver", "sum_price")
    )
    return tbl.unionByName(qsum).orderBy("part", "grp")
