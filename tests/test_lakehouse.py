"""MERGE INTO protocol tests (operators/lakehouse.py): the properties
the registered `merge_upsert` op cannot exercise alone — two-writer
conflict/retry, file-level pruning of untouched buckets, snapshot
pinning under concurrent commits, and CAS atomicity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from assignment4_spark.operators.lakehouse import (
    MergeConflictError,
    init_table,
    latest_version,
    load_manifest,
    merge_upsert_manifest,
    read_snapshot,
)


def _mk_table(spark, tmp_path, n=200, n_buckets=8):
    base = str(tmp_path / "tbl")
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
    )
    init_table(df, base, key_col="k", n_buckets=n_buckets)
    return base


def _upd(spark, keys, ver, tag):
    return spark.createDataFrame(
        [(k, ver, f"{tag}{k}") for k in keys], "k long, ver int, payload string"
    )


def test_sequential_merge_latest_wins(spark, tmp_path):
    base = _mk_table(spark, tmp_path)
    v, tries = merge_upsert_manifest(
        base, _upd(spark, [3, 50, 199, 777], 2, "u"), "ver", "payload"
    )
    assert (v, tries) == (2, 1)
    rows = {r.k: (r.ver, r.payload) for r in read_snapshot(spark, base).collect()}
    assert len(rows) == 201  # 200 base + 1 insert (777)
    assert rows[3] == (2, "u3") and rows[777] == (2, "u777")
    assert rows[4] == (1, "p4")


def test_bucket_hint_matches_probe_path_and_rejects_short_hint(spark, tmp_path):
    """bucket_hint (the admission path's probe-job skip): same
    committed state as the probe path; a SHORT hint aborts before
    publish (manifest unchanged); a stale-n_buckets hint is ignored
    and the probe path commits normally."""
    from assignment4_spark.operators.lakehouse import _bucket_of

    base = _mk_table(spark, tmp_path)
    keys = [3, 50, 199, 777]
    upd = _upd(spark, keys, 2, "u")
    n_buckets = load_manifest(base)["n_buckets"]
    hint = sorted(
        r.b
        for r in upd.select(_bucket_of("k", n_buckets).alias("b"))
        .distinct()
        .collect()
    )
    assert len(hint) >= 2, "fixture keys must span buckets for the short-hint probe"
    v, tries = merge_upsert_manifest(
        base, upd, "ver", "payload", bucket_hint=(n_buckets, hint)
    )
    assert (v, tries) == (2, 1)
    rows = {r.k: (r.ver, r.payload) for r in read_snapshot(spark, base).collect()}
    assert len(rows) == 201
    assert rows[3] == (2, "u3") and rows[777] == (2, "u777")
    assert rows[4] == (1, "p4")

    m2 = load_manifest(base)
    upd3 = _upd(spark, keys, 3, "w")
    with pytest.raises(AssertionError, match="outside the touched set"):
        merge_upsert_manifest(
            base, upd3, "ver", "payload", bucket_hint=(n_buckets, hint[:1])
        )
    assert load_manifest(base) == m2, "aborted commit must not publish"

    v3, _ = merge_upsert_manifest(
        base, upd3, "ver", "payload", bucket_hint=(n_buckets + 1, [0])
    )
    assert v3 == 3
    rows3 = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows3[3] == "w3" and rows3[50] == "w50"


def test_untouched_buckets_carry_over_file_identical(spark, tmp_path):
    """The pruning invariant that makes MERGE affordable at 100 TB:
    buckets without an updated key keep the SAME file objects across
    the commit — not re-written copies."""
    base = _mk_table(spark, tmp_path)
    m1 = load_manifest(base)
    merge_upsert_manifest(base, _upd(spark, [7], 2, "u"), "ver", "payload")
    m2 = load_manifest(base)
    changed = [b for b in m1["buckets"] if m1["buckets"][b] != m2["buckets"][b]]
    assert len(changed) == 1, f"one key must touch one bucket, got {changed}"
    untouched = [b for b in m1["buckets"] if b not in changed]
    assert untouched, "fixture must have untouched buckets"
    for b in untouched:
        assert m2["buckets"][b] == m1["buckets"][b]


def test_two_writer_conflict_retries(spark, tmp_path):
    """Optimistic concurrency end-to-end: writer B commits v2 inside
    writer A's pre-commit window; A's CAS for v2 must fail, and A must
    re-merge against B's state and commit v3 containing BOTH updates —
    the serial result, not a last-writer-wins clobber of B."""
    base = _mk_table(spark, tmp_path)
    a_updates = _upd(spark, [10, 20], 2, "a")
    b_updates = _upd(spark, [20, 30], 2, "b")
    b_result = {}

    def interleave(attempt):
        if attempt == 0:
            b_result["commit"] = merge_upsert_manifest(
                base, b_updates, "ver", "payload", writer_id="B"
            )

    v, tries = merge_upsert_manifest(
        base, a_updates, "ver", "payload", writer_id="A", before_commit=interleave
    )
    assert b_result["commit"] == (2, 1)
    assert (v, tries) == (3, 2), "A must lose v2 and retry into v3"
    assert latest_version(base) == 3
    rows = {r.k: (r.ver, r.payload) for r in read_snapshot(spark, base).collect()}
    assert rows[10] == (2, "a10")
    assert rows[30] == (2, "b30"), "retry must preserve the winner's rows"
    # contended key: both wrote ver=2; tiebreak_col (payload ASC) is
    # deterministic and 'a20' < 'b20'
    assert rows[20] == (2, "a20")
    # pinned reads survive both commits
    assert read_snapshot(spark, base, version=1).count() == 200


def test_conflict_exhaustion_raises(spark, tmp_path):
    """A writer that loses the CAS on every attempt must fail loudly
    (MergeConflictError), never publish a torn manifest."""
    base = _mk_table(spark, tmp_path)
    counter = {"n": 0}

    def always_lose(attempt):
        counter["n"] += 1
        merge_upsert_manifest(
            base, _upd(spark, [attempt + 100], 2, "spoiler"), "ver", "payload",
            writer_id=f"S{attempt}",
        )

    with pytest.raises(MergeConflictError):
        merge_upsert_manifest(
            base, _upd(spark, [1], 2, "loser"), "ver", "payload",
            writer_id="L", max_retries=2, before_commit=always_lose,
        )
    assert counter["n"] == 3  # initial try + 2 retries, each spoiled
    # every committed version is a spoiler's — the loser left nothing
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows[1] == "p1", "loser's update must not be visible"
    assert {"spoiler100", "spoiler101", "spoiler102"} <= set(rows.values())


def test_init_twice_rejected(spark, tmp_path):
    base = _mk_table(spark, tmp_path)
    df = spark.range(5).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"), F.lit("x").alias("payload")
    )
    with pytest.raises(ValueError, match="already initialized"):
        init_table(df, base, key_col="k", n_buckets=8)


from hypothesis import given, settings
from hypothesis import strategies as st

_batches_strategy = st.lists(
    st.lists(
        st.tuples(
            st.integers(0, 30),          # key
            st.integers(2, 5),           # version
            st.text("abcde", min_size=1, max_size=4),  # payload/tiebreak
        ),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=3,
)


@settings(max_examples=5, deadline=None)
@given(batches=_batches_strategy, n_buckets=st.integers(1, 8))
def test_merge_protocol_matches_pure_replay(spark, batches, n_buckets):
    """For ANY sequence of update batches (duplicate keys, duplicate
    versions, any bucket count) the committed final state must equal a
    pure-Python latest-wins replay: max by (ver DESC, payload ASC) per
    key across base ∪ all updates, applied batch-by-batch."""
    import shutil
    import tempfile

    base_dir = tempfile.mkdtemp(prefix="merge_prop_")
    try:
        base_rows = [(k, 1, f"base{k}") for k in range(0, 31, 3)]
        df = spark.createDataFrame(base_rows, "k long, ver int, payload string")
        init_table(df, base_dir, key_col="k", n_buckets=n_buckets)

        state = {k: (v, p) for k, v, p in base_rows}
        expect_version = 1
        for batch in batches:
            upd = spark.createDataFrame(
                [(k, v, p) for k, v, p in batch], "k long, ver int, payload string"
            )
            got_v, tries = merge_upsert_manifest(base_dir, upd, "ver", "payload")
            expect_version += 1
            assert (got_v, tries) == (expect_version, 1)
            # replay: within one batch AND against current state, the
            # single latest-wins window picks max(ver DESC, payload ASC)
            for k in {k for k, _, _ in batch}:
                cands = [(-v, p) for kk, v, p in batch if kk == k]
                if k in state:
                    cands.append((-state[k][0], state[k][1]))
                nv, np_ = min(cands)
                state[k] = (-nv, np_)
        got = {r.k: (r.ver, r.payload) for r in read_snapshot(spark, base_dir).collect()}
        assert got == state
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


def test_merge_rejects_schema_drift(spark, tmp_path):
    """MERGE does not evolve the schema: an update batch whose columns
    differ from the table's manifest-recorded columns must fail fast
    with a named error, not an opaque mid-plan analysis exception."""
    base = _mk_table(spark, tmp_path)
    drifted = spark.createDataFrame(
        [(1, 2, "x", 9.9)], "k long, ver int, payload string, extra double"
    )
    with pytest.raises(ValueError, match="do not match table columns"):
        merge_upsert_manifest(base, drifted, "ver", "payload")


def test_vacuum_retention_window(spark, tmp_path):
    """VACUUM deletes exactly the files only-expired manifests name:
    after two merges (3 versions) and vacuum(keep_last=2), v1 is gone,
    v2/v3 read byte-identically to before, and every untouched-bucket
    file carried forward into a kept manifest SURVIVES even though v1
    also named it."""
    import os

    from assignment4_spark.operators.lakehouse import vacuum

    base = _mk_table(spark, tmp_path, n=100, n_buckets=4)
    merge_upsert_manifest(base, _upd(spark, [5], 2, "u"), "ver", "payload")
    merge_upsert_manifest(base, _upd(spark, [6], 3, "w"), "ver", "payload")
    before_v2 = sorted(map(tuple, read_snapshot(spark, base, 2).collect()))
    before_v3 = sorted(map(tuple, read_snapshot(spark, base, 3).collect()))
    m1_files = {f for fs in load_manifest(base, 1)["buckets"].values() for f in fs}
    kept_files = {
        f
        for v in (2, 3)
        for fs in load_manifest(base, v)["buckets"].values()
        for f in fs
    }

    out = vacuum(base, keep_last=2)
    assert out["deleted_versions"] == [1] and out["kept_versions"] == [2, 3]
    # v1-only files deleted, shared carry-over files intact
    for f in m1_files - kept_files:
        assert not os.path.exists(f), f
    for f in kept_files:
        assert os.path.exists(f), f
    assert sorted(map(tuple, read_snapshot(spark, base, 2).collect())) == before_v2
    assert sorted(map(tuple, read_snapshot(spark, base, 3).collect())) == before_v3
    with pytest.raises(FileNotFoundError):
        load_manifest(base, 1)
    assert latest_version(base) == 3
    # vacuum is idempotent inside the window
    out2 = vacuum(base, keep_last=2)
    assert out2["deleted_versions"] == [] and out2["deleted_files"] == 0
    # and the table still merges normally afterwards
    v, tries = merge_upsert_manifest(base, _upd(spark, [7], 4, "z"), "ver", "payload")
    assert (v, tries) == (4, 1)


def _staging_dirs(base):
    """Top-level staging directories on disk (vacuum's naming regex)."""
    import os
    import re

    return {
        d
        for d in os.listdir(base)
        if re.match(r"[a-z]+_v\d+_", d) and os.path.isdir(os.path.join(base, d))
    }


def _lost_cas_face(spark, base, face, before_commit):
    """Run one staging commit face with ``before_commit`` armed; returns
    the staging-dir prefixes the face must stage on every attempt."""
    from assignment4_spark.operators.lakehouse import (
        _bucket_of,
        delete_keys_dv,
        delete_keys_mor,
        optimize_compact,
        rebucket_table,
        replace_where_range,
    )

    def keys(ks):
        return spark.createDataFrame([(k,) for k in ks], "k long")

    if face == "merge":
        merge_upsert_manifest(
            base, _upd(spark, [10], 2, "a"), "ver", "payload",
            writer_id="A", before_commit=before_commit,
        )
        return {"commit"}
    if face == "merge_quarantine":
        merge_upsert_manifest(
            base, _upd(spark, [10, 11], 2, "a"), "ver", "payload",
            writer_id="A", before_commit=before_commit,
            expectations={"not_eleven": "k <> 11"},
        )
        return {"commit", "quarantine"}
    if face == "optimize":
        # fragment one bucket (salted merge) and pile two MOR and two
        # DV sidecars on two other, unrewritten buckets
        by_bucket: dict[int, list[int]] = {}
        for r in spark.range(200).select(
            F.col("id").alias("k"), _bucket_of("k", 8).alias("b")
        ).collect():
            by_bucket.setdefault(r.b, []).append(r.k)
        frag, mor, dv = (by_bucket[b] for b in sorted(by_bucket)[1:4])
        merge_upsert_manifest(
            base, _upd(spark, frag[:3], 2, "f"), "ver", "payload",
            write_salt=4,
        )
        for k in mor[:2]:
            delete_keys_mor(spark, base, keys([k]))
        for k in dv[:2]:
            delete_keys_dv(spark, base, keys([k]))
        optimize_compact(spark, base, before_commit=before_commit)
        return {"optimize", "optdel", "optdv"}
    if face == "mor":
        delete_keys_mor(spark, base, keys([10, 11]), before_commit=before_commit)
        return {"mordel"}
    if face == "dv":
        delete_keys_dv(spark, base, keys([10, 11]), before_commit=before_commit)
        return {"dv"}
    if face == "replace":
        replace_where_range(
            spark, base, "k", 10, 14, _upd(spark, [10, 12], 2, "r"),
            before_commit=before_commit,
        )
        return {"replace"}
    assert face == "rebucket"
    rebucket_table(spark, base, 4, before_commit=before_commit)
    return {"rebucket"}


@pytest.mark.parametrize(
    "face",
    ["merge", "merge_quarantine", "optimize", "mor", "dv", "replace",
     "rebucket"],
)
def test_lost_cas_leaves_no_orphan_staging(spark, tmp_path, face):
    """A lost CAS must clean up every directory its attempt staged
    (commit data, quarantine side table, OPTIMIZE's packed files and
    coalesced MOR/DV sidecars, delete sidecars, rebucket output): those
    files appear in no manifest, so vacuum would never reclaim them and
    every conflict would otherwise leak a touched-bucket-sized copy of
    the data forever."""
    import os

    from assignment4_spark.operators.lakehouse import _manifest_refs

    base = _mk_table(spark, tmp_path)
    staged_by_loser: set[str] = set()

    def spoil(attempt):
        if attempt == 0:
            staged_by_loser.update(_staging_dirs(base))
            merge_upsert_manifest(
                base, _upd(spark, [199], 9, "s"), "ver", "payload",
                writer_id="S",
            )

    expected = _lost_cas_face(spark, base, face, spoil)
    referenced = {
        os.path.relpath(p, base).split(os.sep)[0]
        for v in range(1, latest_version(base) + 1)
        for p in _manifest_refs(load_manifest(base, v))
    }
    lost = staged_by_loser - referenced
    assert {d.split("_v")[0] for d in lost} >= expected, (
        f"losing attempt must have staged {sorted(expected)}: {sorted(lost)}"
    )
    on_disk = _staging_dirs(base)
    assert on_disk == referenced, f"orphans: {sorted(on_disk - referenced)}"


def test_merge_rejects_type_drift(spark, tmp_path):
    """Same column NAMES but a drifted KEY TYPE must fail fast: a
    string '5' hashes to a different bucket than long 5, so a
    type-drifted batch would leave two live rows for one logical key
    across buckets (and mixed-type parquet files behind them)."""
    base = _mk_table(spark, tmp_path)
    drifted = spark.createDataFrame(
        [("5", 2, "x")], "k string, ver int, payload string"
    )
    with pytest.raises(ValueError, match="column types drift"):
        merge_upsert_manifest(base, drifted, "ver", "payload")


def test_concurrent_writers_free_running(spark, tmp_path):
    """FOUR writers merging simultaneously with no orchestration seam —
    the CAS must serialize them into versions 2..5 (each writer commits
    exactly one), natural lost races must resolve by retry, and the
    final state must contain every writer's update. This is the
    protocol under true thread concurrency; the seam-driven test above
    pins the interleaving, this one pins liveness + convergence."""
    import threading as th

    base = _mk_table(spark, tmp_path)
    results: dict[str, tuple[int, int]] = {}
    errors: list[Exception] = []

    def writer(wid: int) -> None:
        try:
            upd = _upd(spark, [wid, 1000 + wid], 2, f"w{wid}_")
            results[f"w{wid}"] = merge_upsert_manifest(
                base, upd, "ver", "payload", writer_id=f"w{wid}", max_retries=12
            )
        except Exception as ex:  # surfaced after join
            errors.append(ex)

    threads = [th.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert sorted(v for v, _ in results.values()) == [2, 3, 4, 5]
    assert latest_version(base) == 5
    rows = {r.k: (r.ver, r.payload) for r in read_snapshot(spark, base).collect()}
    for i in range(4):
        assert rows[i] == (2, f"w{i}_{i}"), rows.get(i)
        assert rows[1000 + i] == (2, f"w{i}_{1000 + i}")  # insert path
    assert len(rows) == 204  # 200 base + 4 inserts (1000..1003)


def test_vacuum_race_repins_and_retries(spark, tmp_path, monkeypatch):
    """A vacuum expiring the pinned version between load_manifest and
    the snapshot read must be treated as a lost CAS — re-pin the
    (younger) latest manifest and retry — not surface AnalysisException.
    Simulated deterministically: the first load_manifest call is
    patched to return the STALE v1 manifest after v2 superseded (and a
    keep_last=1 vacuum deleted) its rewritten bucket files; the plan-
    time PATH_NOT_FOUND from spark.read.parquet must be caught, the
    loop must re-pin the real latest, and the merge must land as v3 on
    attempt 2."""
    from assignment4_spark.operators import lakehouse as lh

    base = _mk_table(spark, tmp_path)
    stale = load_manifest(base)  # v1, pinned before the race
    merge_upsert_manifest(base, _upd(spark, [7], 2, "u"), "ver", "payload")
    lh.vacuum(base, keep_last=1)  # v1's superseded bucket files are gone

    real_load = lh.load_manifest
    calls = {"n": 0}

    def racing_load(base_dir, version=None):
        calls["n"] += 1
        if calls["n"] == 1:
            return stale  # the expired pin the docstring promises to survive
        return real_load(base_dir, version)

    monkeypatch.setattr(lh, "load_manifest", racing_load)
    # key 7 targets the bucket whose v1 files were vacuumed
    v, tries = lh.merge_upsert_manifest(
        base, _upd(spark, [7], 3, "w"), "ver", "payload"
    )
    assert (v, tries) == (3, 2), "must lose attempt 0 to the vacuum, win attempt 1"
    rows = {r.k: (r.ver, r.payload) for r in read_snapshot(spark, base).collect()}
    assert rows[7] == (3, "w7")
    assert len(rows) == 200


def test_missing_file_error_matcher_is_structured(spark):
    """_is_missing_file_error must key on the structured error class:
    PATH_NOT_FOUND matches; an unrelated AnalysisException whose
    MESSAGE merely mentions a missing path must not (the free-text
    matcher this replaced would misclassify it and silently re-run a
    broken merge)."""
    from assignment4_spark.operators.lakehouse import _is_missing_file_error

    with pytest.raises(Exception) as missing:
        spark.read.parquet("/tmp/lh_no_such_path_zzz.parquet")
    assert _is_missing_file_error(missing.value)

    # negative control: resolution failure whose text says 'not found'
    with pytest.raises(Exception) as unrelated:
        spark.sql("SELECT * FROM `table that does not exist`")
    assert not _is_missing_file_error(unrelated.value)
    assert not _is_missing_file_error(ValueError("file does not exist"))


def _snap(spark, base):
    return {r.k: r for r in read_snapshot(spark, base).collect()}


def test_schema_evolve_add_column_widen_and_pinned_epoch(spark, tmp_path):
    """evolve_schema=True: a batch may add columns (old rows read NULL,
    no rewrite of untouched buckets) and widen int→bigint; the manifest
    records the evolved schema; a reader pinned BEFORE the evolution
    keeps its epoch's columns and types."""
    from assignment4_spark.operators.lakehouse import load_manifest as lm

    base = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        (F.col("id") % 7).cast("int").alias("qty"),
    )
    init_table(df, base, key_col="k", n_buckets=4)
    upd = spark.createDataFrame(
        [(5, 2, "u5", 5_000_000_000, "extra5")],
        "k long, ver int, payload string, qty bigint, note string",
    )
    v, tries = merge_upsert_manifest(
        base, upd, "ver", "payload", evolve_schema=True
    )
    assert (v, tries) == (2, 1)
    m2 = lm(base)
    assert m2["column_types"]["qty"] == "bigint" and "note" in m2["columns"]
    rows = _snap(spark, base)
    assert rows[5].qty == 5_000_000_000 and rows[5].note == "extra5"
    assert rows[6].qty == 6 and rows[6].note is None, "NULL backfill"
    assert len(rows) == 100
    # pinned reader keeps the pre-evolution epoch
    pinned = read_snapshot(spark, base, version=1)
    assert dict(pinned.dtypes)["qty"] == "int" and "note" not in pinned.columns


def test_schema_evolve_gates(spark, tmp_path):
    """Without the flag, column/type drift still fails fast; with it,
    key-type changes and non-widening changes are still rejected."""
    base = _mk_table(spark, tmp_path)
    added = spark.createDataFrame(
        [(1, 2, "u1", "x")], "k long, ver int, payload string, extra string"
    )
    with pytest.raises(ValueError, match="evolve_schema=True"):
        merge_upsert_manifest(base, added, "ver", "payload")
    key_widened = spark.createDataFrame(
        [(1, 2, "u1")], "k int, ver int, payload string"
    )
    with pytest.raises(ValueError, match="key column"):
        merge_upsert_manifest(
            base, key_widened, "ver", "payload", evolve_schema=True
        )
    unsafe = spark.createDataFrame(
        [(1, 2, 3)], "k long, ver int, payload int"
    )
    with pytest.raises(ValueError, match="not a safe"):
        merge_upsert_manifest(
            base, unsafe, "ver", "payload", evolve_schema=True
        )


def test_evolve_full_row_replacement_nulls_omitted_column(spark, tmp_path):
    """Latest-wins rows are FULL-ROW replacements: an evolved batch that
    omits a table column writes NULL there (documented; not a partial
    patch)."""
    base = str(tmp_path / "tbl")
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        (F.col("id") % 7).cast("int").alias("qty"),
    )
    init_table(df, base, key_col="k", n_buckets=2)
    upd = spark.createDataFrame([(3, 2, "u3")], "k long, ver int, payload string")
    merge_upsert_manifest(base, upd, "ver", "payload", evolve_schema=True)
    rows = _snap(spark, base)
    assert rows[3].payload == "u3" and rows[3].qty is None
    assert rows[4].qty == 4


def test_tombstone_hides_key_and_suppresses_straggler(spark, tmp_path):
    """A _deleted=true row wins latest-wins, hides its key from default
    reads (marker column dropped), stays visible via
    include_tombstones, and a LOWER-version late update cannot
    resurrect the key while the tombstone lives."""
    from assignment4_spark.operators.lakehouse import TOMBSTONE_COL

    base = str(tmp_path / "tbl")
    df = spark.range(20).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(df, base, key_col="k", n_buckets=2)
    tomb = spark.createDataFrame(
        [(7, 2, "del7", True)],
        f"k long, ver int, payload string, {TOMBSTONE_COL} boolean",
    )
    merge_upsert_manifest(base, tomb, "ver", "payload")
    vis = read_snapshot(spark, base)
    assert TOMBSTONE_COL not in vis.columns
    keys = {r.k for r in vis.collect()}
    assert 7 not in keys and len(keys) == 19
    allrows = read_snapshot(spark, base, include_tombstones=True)
    assert allrows.filter(F.col(TOMBSTONE_COL)).count() == 1
    # straggler older than the delete: must stay suppressed
    late = spark.createDataFrame(
        [(7, 1, "late7", False)],
        f"k long, ver int, payload string, {TOMBSTONE_COL} boolean",
    )
    merge_upsert_manifest(base, late, "ver", "payload")
    assert 7 not in {r.k for r in read_snapshot(spark, base).collect()}
    # re-insert ABOVE the delete resurrects
    reins = spark.createDataFrame(
        [(7, 3, "back7", False)],
        f"k long, ver int, payload string, {TOMBSTONE_COL} boolean",
    )
    merge_upsert_manifest(base, reins, "ver", "payload")
    assert _snap(spark, base)[7].payload == "back7"


def test_compact_tombstones_reclaims_and_reopens_straggler_window(spark, tmp_path):
    """compact_tombstones physically drops tombstone rows from exactly
    the flagged buckets, clears the manifest flags, and — the
    documented retention contract — a straggler arriving AFTER
    compaction is no longer suppressed and resurrects the key."""
    from assignment4_spark.operators.lakehouse import (
        TOMBSTONE_COL,
        compact_tombstones,
        load_manifest as lm,
    )

    base = str(tmp_path / "tbl")
    df = spark.range(30).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(df, base, key_col="k", n_buckets=4)
    tombs = spark.createDataFrame(
        [(k, 2, f"del{k}", True) for k in (3, 9, 21)],
        f"k long, ver int, payload string, {TOMBSTONE_COL} boolean",
    )
    merge_upsert_manifest(base, tombs, "ver", "payload")
    assert lm(base)["tombstone_buckets"], "merge must flag tombstone buckets"
    out = compact_tombstones(spark, base)
    assert out["tombstones_dropped"] == 3
    assert out["buckets_compacted"], out
    m = lm(base)
    assert m["version"] == out["version"] and m["tombstone_buckets"] == []
    allrows = read_snapshot(spark, base, include_tombstones=True)
    assert allrows.filter(F.col(TOMBSTONE_COL)).count() == 0
    assert read_snapshot(spark, base).count() == 27
    # idempotent: nothing flagged -> no new commit
    again = compact_tombstones(spark, base)
    assert again["version"] == m["version"] and again["tombstones_dropped"] == 0
    # retention contract: the straggler window is now OPEN
    late = spark.createDataFrame(
        [(9, 1, "late9", False)],
        f"k long, ver int, payload string, {TOMBSTONE_COL} boolean",
    )
    merge_upsert_manifest(base, late, "ver", "payload")
    assert _snap(spark, base)[9].payload == "late9"


def test_compact_metadata_only_when_flags_stale(spark, tmp_path):
    """A tombstone that later LOSES latest-wins (higher-version
    re-insert rewrote its bucket) leaves a stale flag; compaction must
    detect zero live tombstones and clear flags with a metadata-only
    commit — no bucket rewrite, file set unchanged."""
    from assignment4_spark.operators.lakehouse import (
        TOMBSTONE_COL,
        compact_tombstones,
        load_manifest as lm,
    )

    base = str(tmp_path / "tbl")
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(df, base, key_col="k", n_buckets=2)
    schema = f"k long, ver int, payload string, {TOMBSTONE_COL} boolean"
    merge_upsert_manifest(
        base, spark.createDataFrame([(4, 2, "del4", True)], schema),
        "ver", "payload",
    )
    merge_upsert_manifest(
        base, spark.createDataFrame([(4, 3, "back4", False)], schema),
        "ver", "payload",
    )
    before = lm(base)
    out = compact_tombstones(spark, base)
    assert out["tombstones_dropped"] == 0 and out["buckets_compacted"] == []
    after = lm(base)
    assert after["version"] == before["version"] + 1
    assert after["tombstone_buckets"] == []
    assert after["buckets"] == before["buckets"], "metadata-only commit"


def test_cas_loser_retry_revalidates_against_evolved_winner(spark, tmp_path):
    """A CAS loser whose retry re-pins a manifest the WINNER evolved
    must fail its (non-evolve) schema gate with the named error — never
    silently merge a now-mismatched batch."""
    base = _mk_table(spark, tmp_path)

    def winner_evolves(attempt):
        if attempt == 0:
            evolved = spark.createDataFrame(
                [(50, 2, "w50", "x")],
                "k long, ver int, payload string, extra string",
            )
            merge_upsert_manifest(
                base, evolved, "ver", "payload", writer_id="W",
                evolve_schema=True,
            )

    loser = _upd(spark, [60], 2, "l")
    with pytest.raises(ValueError, match="do not match"):
        merge_upsert_manifest(
            base, loser, "ver", "payload", writer_id="L",
            before_commit=winner_evolves,
        )


def test_commit_writes_o_buckets_files(spark, tmp_path):
    """The staging write must leave O(buckets) files per commit, not
    O(tasks × buckets): under local[32] a 200-row spark.range seed
    plans ~32 upstream tasks, and without the pre-write repartition on
    bucket each task opened a writer per bucket it held (measured
    20-30 files in a SINGLE bucket) — the lakehouse file explosion
    that multiplies footer opens on every later bucket-pruned read."""
    from assignment4_spark.operators.lakehouse import load_manifest as lm

    base = _mk_table(spark, tmp_path, n=200, n_buckets=8)
    m1 = lm(base)
    for b, fs in m1["buckets"].items():
        assert len(fs) <= 1, f"bucket {b}: {len(fs)} files after init"
    merge_upsert_manifest(base, _upd(spark, [1, 2, 3], 2, "u"), "ver", "payload")
    m2 = lm(base)
    for b, fs in m2["buckets"].items():
        assert len(fs) <= 1, f"bucket {b}: {len(fs)} files after merge"


def test_fully_compacted_table_reads_empty_with_schema(spark, tmp_path):
    """Tombstoning EVERY key then compacting leaves an all-empty bucket
    map — a legitimate table state; read_snapshot must return an empty
    frame with the manifest schema, not crash (review finding r7)."""
    from assignment4_spark.operators.lakehouse import (
        TOMBSTONE_COL,
        compact_tombstones,
    )

    base = str(tmp_path / "tbl")
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(df, base, key_col="k", n_buckets=2)
    tombs = spark.createDataFrame(
        [(k, 2, f"d{k}", True) for k in range(10)],
        f"k long, ver int, payload string, {TOMBSTONE_COL} boolean",
    )
    merge_upsert_manifest(base, tombs, "ver", "payload")
    out = compact_tombstones(spark, base)
    assert out["tombstones_dropped"] == 10
    empty = read_snapshot(spark, base)
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "ver", "payload"}
    withtombs = read_snapshot(spark, base, include_tombstones=True)
    assert withtombs.count() == 0 and TOMBSTONE_COL in withtombs.columns


def test_init_records_true_tombstone_flags(spark, tmp_path):
    """A seed carrying an all-false _deleted column must record NO
    tombstone buckets (the old conservative 'all buckets' flag doomed
    the first compaction to a full-table scan); a seed with real
    tombstones records exactly their buckets."""
    from assignment4_spark.operators.lakehouse import (
        TOMBSTONE_COL,
        load_manifest as lm,
    )

    clean = str(tmp_path / "clean")
    df = spark.range(50).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(df, clean, key_col="k", n_buckets=4)
    assert lm(clean)["tombstone_buckets"] == []

    dirty = str(tmp_path / "dirty")
    df2 = spark.range(50).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        (F.col("id") == 7).alias(TOMBSTONE_COL),
    )
    init_table(df2, dirty, key_col="k", n_buckets=4)
    flagged = lm(dirty)["tombstone_buckets"]
    assert len(flagged) == 1
    # and compaction honors it
    from assignment4_spark.operators.lakehouse import compact_tombstones

    out = compact_tombstones(spark, dirty)
    assert out["tombstones_dropped"] == 1 and out["buckets_compacted"] == flagged


def test_changes_between_prunes_evolution_and_compaction(spark, tmp_path):
    """CDC edge cases: (a) a key copied unchanged into a rewritten
    bucket never reports; (b) a diff spanning a schema evolution aligns
    the old side to the new schema (NULL backfill compares equal to
    NULL, added values report as updates); (c) a compaction commit —
    file churn with identical visible rows — diffs empty; (d) the
    self-diff reads nothing and is empty."""
    from assignment4_spark.operators.lakehouse import (
        TOMBSTONE_COL,
        changes_between,
        compact_tombstones,
    )

    base = str(tmp_path / "tbl")
    schema = f"k long, ver int, payload string, {TOMBSTONE_COL} boolean"
    df = spark.range(40).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(df, base, key_col="k", n_buckets=2)  # 2 buckets => rewrites copy neighbors
    # v2: update k=3, tombstone k=5 (both buckets likely rewritten)
    merge_upsert_manifest(
        base,
        spark.createDataFrame([(3, 2, "u3", False), (5, 2, "d5", True)], schema),
        "ver", "payload",
    )
    d12 = {r.k: r for r in changes_between(spark, base, 1, 2).collect()}
    assert set(d12) == {3, 5}, "copied-unchanged neighbors must not report"
    assert d12[3].change_type == "update" and d12[3].new_payload == "u3"
    assert d12[5].change_type == "delete" and d12[5].new_payload is None
    # v3: evolution adds a column while updating k=7 and inserting k=100
    evolved = spark.createDataFrame(
        [(7, 3, "u7", False, "x7"), (100, 3, "n100", False, "x100")],
        f"k long, ver int, payload string, {TOMBSTONE_COL} boolean, note string",
    )
    merge_upsert_manifest(base, evolved, "ver", "payload", evolve_schema=True)
    d23 = {r.k: r for r in changes_between(spark, base, 2, 3).collect()}
    assert set(d23) == {7, 100}, "NULL-backfilled note must not report a change"
    assert d23[7].change_type == "update" and d23[7].new_note == "x7"
    assert d23[7].old_note is None
    assert d23[100].change_type == "insert"
    # v4: compaction (reclaims k=5's tombstone) — visible rows identical
    out = compact_tombstones(spark, base)
    assert out["tombstones_dropped"] == 1
    assert changes_between(spark, base, 3, out["version"]).count() == 0
    assert changes_between(spark, base, 3, 3).count() == 0


def test_changes_between_rejects_reverse_range(spark, tmp_path):
    """A backwards diff across a widening evolution would silently
    down-cast the newer side (non-ANSI Cast wraps/NULLs) — the range
    must be rejected, not corrupted."""
    from assignment4_spark.operators.lakehouse import changes_between

    base = _mk_table(spark, tmp_path)
    merge_upsert_manifest(base, _upd(spark, [1], 2, "u"), "ver", "payload")
    with pytest.raises(ValueError, match="v_from <= v_to"):
        changes_between(spark, base, 2, 1)


def test_dirty_typed_tombstone_marker_roundtrips(spark, tmp_path):
    """Every write path casts the marker to boolean; the read paths
    (read_snapshot AND changes_between) must accept the same dirty
    int-typed marker instead of dying in COALESCE type resolution."""
    from assignment4_spark.operators.lakehouse import (
        TOMBSTONE_COL,
        changes_between,
    )

    base = str(tmp_path / "tbl")
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        (F.col("id") == 4).cast("int").alias(TOMBSTONE_COL),  # int 0/1
    )
    init_table(df, base, key_col="k", n_buckets=2)
    assert read_snapshot(spark, base).count() == 9
    upd = spark.createDataFrame(
        [(7, 2, "d7", 1)],
        f"k long, ver int, payload string, {TOMBSTONE_COL} int",
    )
    merge_upsert_manifest(base, upd, "ver", "payload")
    assert read_snapshot(spark, base).count() == 8
    d = {r.k: r.change_type for r in changes_between(spark, base, 1, 2).collect()}
    assert d == {7: "delete"}


def test_evolution_rejects_internal_column_collision(spark, tmp_path):
    """evolve_schema=True must reject a new column named after an
    internal merge column ('bucket'/'rn'): withColumn('bucket', ...)
    would silently overwrite the user data with the derived bucket id
    before the partitioned write, and reads would project the
    physically-absent column as NULL — silent data loss (ADVICE r7)."""
    base = _mk_table(spark, tmp_path)
    for bad in ("bucket", "rn"):
        upd = spark.createDataFrame(
            [(1, 2, "u1", 9)], f"k long, ver int, payload string, {bad} int"
        )
        with pytest.raises(ValueError, match="internal merge"):
            merge_upsert_manifest(
                base, upd, "ver", "payload", evolve_schema=True
            )
    # table unchanged
    assert read_snapshot(spark, base).count() == 200


def test_missing_file_matcher_falls_through_analysis_condition(spark):
    """An AnalysisException whose condition is NOT PATH_NOT_FOUND but
    which wraps/renders a java.io.FileNotFoundException (some Spark
    versions surface mid-scan file loss this way) must still classify
    retryable: the condition check may not return early on a
    non-matching condition (ADVICE r7)."""
    from pyspark.errors import AnalysisException

    from assignment4_spark.operators.lakehouse import _is_missing_file_error

    wrapped = AnalysisException(
        "Job aborted: java.io.FileNotFoundException: /tbl/b=1/part-0.parquet"
    )
    assert _is_missing_file_error(wrapped)
    # negative control unchanged: unrelated AnalysisException stays
    # non-retryable even though its message mentions a missing thing
    benign = AnalysisException("Table or view not found: nope")
    assert not _is_missing_file_error(benign)


def test_changes_between_tolerates_legacy_manifest(spark, tmp_path):
    """Manifests written before schema tracking lack columns/
    column_types; read_snapshot tolerates them via .get — changes_
    between must too (derive the schema from v_to's files) instead of
    KeyErroring (ADVICE r7)."""
    import json as _json
    import os as _os

    from assignment4_spark.operators.lakehouse import (
        _manifest_path,
        changes_between,
    )

    base = _mk_table(spark, tmp_path, n=50, n_buckets=4)
    merge_upsert_manifest(base, _upd(spark, [3, 999], 2, "u"), "ver", "payload")
    for v in (1, 2):
        p = _manifest_path(base, v)
        with open(p) as fh:
            m = _json.load(fh)
        m.pop("columns", None)
        m.pop("column_types", None)
        _os.remove(p)
        with open(p, "w") as fh:
            _json.dump(m, fh)
    d = {r.k: r.change_type for r in changes_between(spark, base, 1, 2).collect()}
    assert d == {3: "update", 999: "insert"}


def test_legacy_manifest_merge_preserves_base_rows(spark, tmp_path):
    """MERGE against a pre-schema manifest (no columns/column_types/
    column_epochs recorded) must treat every batch column as CARRIED —
    not born-at-next-version. Stamping them new would make
    _read_files_aligned NULL every base column (key included) and fold
    the table into NULL-keyed wreckage (ADVICE r10 medium)."""
    import json as _json
    import os as _os

    from assignment4_spark.operators.lakehouse import _manifest_path

    base = _mk_table(spark, tmp_path, n=50, n_buckets=4)
    p = _manifest_path(base, 1)
    with open(p) as fh:
        m = _json.load(fh)
    for key in ("columns", "column_types", "column_epochs"):
        m.pop(key, None)
    _os.remove(p)
    with open(p, "w") as fh:
        _json.dump(m, fh)

    merge_upsert_manifest(base, _upd(spark, [3, 999], 2, "u"), "ver", "payload")
    rows = {r.k: (r.ver, r.payload) for r in read_snapshot(spark, base).collect()}
    assert len(rows) == 51, f"base rows destroyed: {len(rows)} keys"
    assert rows[3] == (2, "u3") and rows[999] == (2, "u999")
    # untouched base rows keep their original bytes
    assert rows[4] == (1, "p4") and rows[49] == (1, "p49")


def test_legacy_manifest_pruned_reads(spark, tmp_path):
    """Pruned reads of a pre-schema manifest (no columns/column_types/
    column_epochs recorded) take read_snapshot's legacy branch — every
    file read plainly, pending deletes applied, the exact filter on
    top — instead of raising KeyError on the missing schema keys."""
    import json as _json
    import os as _os

    from assignment4_spark.operators.lakehouse import (
        _manifest_path,
        read_snapshot_null,
        read_snapshot_point,
        read_snapshot_range,
        read_snapshot_where,
    )

    base = str(tmp_path / "legacy_pruned")
    df = spark.range(60).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        (F.col("id") * 1.0).alias("x"),
        F.concat(F.lit("u"), F.col("id")).alias("tag"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id"))
        .alias("maybe"),
    )
    init_table(
        df, base, key_col="k", n_buckets=4, cluster_col="x",
        bloom_col="tag",
    )
    p = _manifest_path(base, 1)
    with open(p) as fh:
        m = _json.load(fh)
    for key in ("columns", "column_types", "column_epochs"):
        m.pop(key, None)
    _os.remove(p)
    with open(p, "w") as fh:
        _json.dump(m, fh)

    def keys(df):
        return {r.k for r in df.collect()}

    band = set(range(10, 21))
    assert keys(read_snapshot_range(spark, base, 10.0, 20.0)) == band
    assert keys(read_snapshot_where(spark, base, "x", 10.0, 20.0)) == band
    assert keys(read_snapshot_null(spark, base, "maybe")) == set(
        range(0, 60, 10)
    )
    assert keys(read_snapshot_point(spark, base, "u7")) == {7}


def test_file_stats_manifest_plans_from_column_stats(spark, tmp_path):
    """Manifests written before the cluster-only ``file_stats`` map was
    dropped still carry it; range reads plan from ``column_stats``
    alone. Here one file's column_stats lost the cluster column while
    its stale file_stats entry claims the file misses the range: the
    planner must keep the file (no entry, no proof) and the read must
    return exactly the matching rows."""
    import json as _json
    import os as _os

    from assignment4_spark.operators.lakehouse import (
        _manifest_path,
        plan_files,
    )

    base = str(tmp_path / "fstats")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        (F.col("id") * 1.0).alias("x"),
    )
    init_table(df, base, key_col="k", n_buckets=2, cluster_col="x")
    p = _manifest_path(base, 1)
    with open(p) as fh:
        m = _json.load(fh)
    stats = m["column_stats"]
    m["file_stats"] = {f: d["x"][:2] for f, d in stats.items()}
    lo, hi = 100.0, 140.0
    # a file holding rows in [lo, hi]; its stale map entry says it misses
    hit = next(
        f for f, d in stats.items() if d["x"][0] <= hi and d["x"][1] >= lo
    )
    m["file_stats"][hit] = [1e9, 2e9]
    del stats[hit]["x"]
    _os.remove(p)
    with open(p, "w") as fh:
        _json.dump(m, fh)

    kept, skipped = plan_files(spark, load_manifest(base), ("range", lo, hi))
    assert hit in kept and skipped, "missing stats keep; the rest still prune"
    got = read_snapshot(spark, base, where=("range", lo, hi)).collect()
    assert sorted(r.k for r in got) == list(range(100, 141))


def test_rebucket_preserves_contents_and_old_epoch(spark, tmp_path):
    """rebucket_table: contents are invariant, the new manifest carries
    the new bucket count, PINNED readers keep the old epoch's bucket
    map (old manifests/files untouched), and a post-rebucket merge
    prunes against the NEW map (only touched buckets' file lists
    change between v3 and v4)."""
    from assignment4_spark.operators.lakehouse import rebucket_table

    base = _mk_table(spark, tmp_path, n=200, n_buckets=8)
    merge_upsert_manifest(base, _upd(spark, [3, 50], 2, "u"), "ver", "payload")
    before = {r.k: (r.ver, r.payload) for r in read_snapshot(spark, base).collect()}

    v3, tries = rebucket_table(spark, base, 32)
    assert (v3, tries) == (3, 1)
    assert load_manifest(base, 3)["n_buckets"] == 32
    assert load_manifest(base, 2)["n_buckets"] == 8
    after = {r.k: (r.ver, r.payload) for r in read_snapshot(spark, base).collect()}
    assert after == before, "rebucket changed table contents"
    # pinned v2 reader still plans from the old generation's files
    assert read_snapshot(spark, base, version=2).count() == 200

    # post-rebucket merge prunes against the new 32-bucket map
    merge_upsert_manifest(base, _upd(spark, [7], 3, "w"), "ver", "payload")
    m3, m4 = load_manifest(base, 3)["buckets"], load_manifest(base, 4)["buckets"]
    changed = [b for b in set(m3) | set(m4) if m3.get(b) != m4.get(b)]
    assert len(changed) == 1, f"single-key merge must touch 1 of 32 buckets, got {changed}"
    assert {r.k: r.payload for r in read_snapshot(spark, base).collect()}[7] == "w7"


def test_rebucket_carries_tombstones_and_flags(spark, tmp_path):
    """A live tombstone must survive the rewrite (straggler suppression
    keeps working under the new bucket map) and the new manifest's
    tombstone_buckets flags must be recomputed under the NEW bucket
    fn so compact_tombstones still never scans the table."""
    from assignment4_spark.operators.lakehouse import (
        TOMBSTONE_COL,
        compact_tombstones,
        rebucket_table,
    )

    base = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(df, base, key_col="k", n_buckets=4)
    tomb = spark.createDataFrame(
        [(13, 5, "gone", True)],
        f"k long, ver int, payload string, {TOMBSTONE_COL} boolean",
    )
    merge_upsert_manifest(base, tomb, "ver", "payload")
    assert read_snapshot(spark, base).count() == 99

    v, _ = rebucket_table(spark, base, 16)
    m = load_manifest(base, v)
    assert m["n_buckets"] == 16
    assert read_snapshot(spark, base).count() == 99, "tombstone lost in rewrite"
    # flags recomputed under the new bucket fn: exactly one flagged
    assert len(m["tombstone_buckets"]) == 1

    # straggler suppression survives: a LOWER-version update loses
    straggler = spark.createDataFrame(
        [(13, 2, "zombie", False)],
        f"k long, ver int, payload string, {TOMBSTONE_COL} boolean",
    )
    merge_upsert_manifest(base, straggler, "ver", "payload")
    assert read_snapshot(spark, base).count() == 99, "straggler resurrected key"

    out = compact_tombstones(spark, base)
    assert out["tombstones_dropped"] == 1
    assert read_snapshot(spark, base).count() == 99


def test_rebucket_noop_and_lost_cas_repins(spark, tmp_path):
    """Rebucket to the current bucket count is a commit-free no-op;
    a lost CAS re-pins and retries, and the retry's rewrite INCLUDES
    the competing writer's rows (snapshot re-read, not replay)."""
    from assignment4_spark.operators.lakehouse import rebucket_table

    base = _mk_table(spark, tmp_path, n=50, n_buckets=8)
    v, tries = rebucket_table(spark, base, 8)
    assert (v, tries) == (1, 0)
    assert latest_version(base) == 1, "no-op must not commit"

    fired = {"n": 0}

    def competing_commit(attempt):
        if fired["n"] == 0:
            fired["n"] = 1
            merge_upsert_manifest(
                base, _upd(spark, [1], 9, "late"), "ver", "payload",
                writer_id="rival",
            )

    v, tries = rebucket_table(spark, base, 32, before_commit=competing_commit)
    assert tries == 2 and v == 3, f"expected retry win at v3, got {(v, tries)}"
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows[1] == "late1", "retry must carry the competing commit's row"
    assert load_manifest(base)["n_buckets"] == 32


def test_salted_clustered_write_bounds_hot_bucket_files(spark, tmp_path):
    """The hot-bucket escape hatch at _write_clustered: a skewed update
    batch whose rows ALL land in one bucket serializes that bucket's
    write through one task under plain clustering (exactly 1 file);
    write_salt=4 spreads it over up to 4 tasks while keeping the file
    count bounded at O(salt) — and the table contents are identical
    either way (the salt is key-derived, a pure write-layout knob)."""
    from assignment4_spark.operators.lakehouse import _bucket_of

    # keys that all hash into bucket 0 of 4 — the hot-bucket fixture
    hot = (
        spark.range(4000)
        .select(F.col("id").alias("k"))
        .withColumn("b", _bucket_of("k", 4))
        .filter(F.col("b") == 0)
        .drop("b")
    )
    n_hot = hot.count()
    assert n_hot > 300, "fixture needs a meaningfully hot bucket"

    def mk(base, salt):
        seed = spark.range(100).select(
            F.col("id").alias("k"), F.lit(1).alias("ver"),
            F.concat(F.lit("p"), F.col("id")).alias("payload"),
        )
        init_table(seed, base, key_col="k", n_buckets=4)
        upd = hot.select(
            "k", F.lit(2).alias("ver"),
            F.concat(F.lit("u"), F.col("k")).alias("payload"),
        )
        merge_upsert_manifest(base, upd, "ver", "payload", write_salt=salt)
        return load_manifest(base)["buckets"]["0"]

    plain = mk(str(tmp_path / "plain"), 1)
    salted = mk(str(tmp_path / "salted"), 4)
    assert len(plain) == 1, f"unsalted hot bucket must be 1 file, got {len(plain)}"
    assert 2 <= len(salted) <= 4, (
        f"salted hot bucket must spread over 2..4 files, got {len(salted)}"
    )
    a = read_snapshot(spark, str(tmp_path / "plain")).orderBy("k")
    b = read_snapshot(spark, str(tmp_path / "salted")).orderBy("k")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_cluster_stats_prune_and_exact_range_read(spark, tmp_path):
    """Zorder-lite layout: init with cluster_col, merge, then a range
    read planned from the manifest stats must SKIP files and still be
    exactly equal to the filter over the full snapshot (pruning is an
    optimization, never a filter)."""
    from assignment4_spark.operators.lakehouse import (
        plan_files,
        read_snapshot_range,
    )

    base = str(tmp_path / "tbl")
    df = spark.range(2000).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        (F.col("id") * 3).cast("double").alias("val"),
    )
    init_table(df, base, key_col="k", n_buckets=4, cluster_col="val")
    upd = spark.range(0, 2000, 10).select(
        F.col("id").alias("k"), F.lit(2).alias("ver"),
        (F.col("id") * 3 + 1).cast("double").alias("val"),
    )
    merge_upsert_manifest(base, upd, "ver", "val")

    m = load_manifest(base)
    kept, skipped = plan_files(spark, m, ("range", 100.0, 400.0))
    assert skipped, "narrow range must skip files"
    n_all = sum(len(fs) for fs in m["buckets"].values())
    assert len(kept) + len(skipped) == n_all

    got = read_snapshot_range(spark, base, 100.0, 400.0)
    want = read_snapshot(spark, base).filter(F.col("val").between(100.0, 400.0))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0


def test_cluster_layout_survives_compact_and_rebucket(spark, tmp_path):
    """cluster_col is a TABLE property: compact_tombstones and
    rebucket_table must keep maintaining the layout + stats without
    being told — post-rebucket range reads still skip and still match
    the full scan."""
    from assignment4_spark.operators.lakehouse import (
        TOMBSTONE_COL,
        compact_tombstones,
        plan_files,
        read_snapshot_range,
        rebucket_table,
    )

    base = str(tmp_path / "tbl")
    df = spark.range(2000).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        (F.col("id") * 3).cast("double").alias("val"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(df, base, key_col="k", n_buckets=4, cluster_col="val")
    tomb = spark.createDataFrame(
        [(7, 5, 21.0, True)],
        f"k long, ver int, val double, {TOMBSTONE_COL} boolean",
    )
    merge_upsert_manifest(base, tomb, "ver", "val")
    compact_tombstones(spark, base)
    m = load_manifest(base)
    live = {f for fs in m["buckets"].values() for f in fs}
    assert m.get("cluster_col") == "val"
    # the compaction carried or re-recorded every live file's val stats
    assert all("val" in m["column_stats"].get(f, {}) for f in live)

    rebucket_table(spark, base, 8)
    m = load_manifest(base)
    assert m["n_buckets"] == 8 and m.get("cluster_col") == "val"
    # every live file has fresh stats after the full rewrite
    live = {f for fs in m["buckets"].values() for f in fs}
    assert set(m["column_stats"]) == live
    assert all("val" in m["column_stats"][f] for f in live)

    kept, skipped = plan_files(spark, m, ("range", 0.0, 900.0))
    assert skipped, "post-rebucket range must still skip"
    got = read_snapshot_range(spark, base, 0.0, 900.0)
    want = read_snapshot(spark, base).filter(F.col("val").between(0.0, 900.0))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_cluster_init_gates_non_numeric(spark, tmp_path):
    """(min, max) stats must JSON-roundtrip and compare at plan time:
    a string/date cluster_col is rejected at init, loudly."""
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
    )
    with pytest.raises(ValueError, match="numeric"):
        init_table(df, str(tmp_path / "t"), key_col="k", n_buckets=2,
                   cluster_col="payload")


def test_clustered_commit_file_count_bounded(spark, tmp_path):
    """The layout's file cost is the documented O(buckets x bins)
    bound, not an explosion."""
    base = str(tmp_path / "tbl")
    df = spark.range(5000).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        (F.col("id") % 997).cast("double").alias("val"),
    )
    init_table(df, base, key_col="k", n_buckets=4, cluster_col="val",
               cluster_bins=4)
    m = load_manifest(base)
    n_files = sum(len(fs) for fs in m["buckets"].values())
    assert n_files <= 16, f"init must leave <= buckets*bins files, got {n_files}"
    assert n_files >= 8, f"binning must actually split buckets, got {n_files}"


def _mk_wide_table(spark, tmp_path, n=100, n_buckets=8):
    base = str(tmp_path / "wtbl")
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        F.lit("seed").alias("src"),
        (F.col("id") * 10.0).alias("price"),
        F.concat(F.lit("s"), F.col("id")).alias("status"),
    )
    init_table(df, base, key_col="k", n_buckets=n_buckets)
    return base


def test_partial_update_carries_unpatched_columns(spark, tmp_path):
    """A patch batch naming only `price` must keep every key's current
    `status`, and a patch-batch key absent from the table inserts with
    NULL carry columns (WHEN NOT MATCHED INSERT)."""
    base = _mk_wide_table(spark, tmp_path)
    upd = spark.createDataFrame(
        [(5, 2, "u1", 555.0), (900, 2, "u1", 9.0)],
        "k long, ver int, src string, price double",
    )
    v, tries = merge_upsert_manifest(
        base, upd, "ver", "src", writer_id="u1", patch_cols=["price"]
    )
    assert (v, tries) == (2, 1)
    rows = {r.k: r for r in read_snapshot(spark, base).collect()}
    assert (rows[5].price, rows[5].status, rows[5].ver) == (555.0, "s5", 2)
    assert (rows[900].price, rows[900].status) == (9.0, None)
    assert rows[7].price == 70.0 and rows[7].ver == 1


def test_partial_update_two_writers_keep_both_columns(spark, tmp_path):
    """The lost-update anomaly: A patches price, B patches status of
    the SAME key; B commits inside A's pre-commit window. A's retry
    must RE-PATCH against B's committed row, so the final row carries
    BOTH column updates — an enrich-outside-the-retry-loop
    implementation would resurrect the pre-B status here."""
    base = _mk_wide_table(spark, tmp_path)
    a_upd = spark.createDataFrame(
        [(10, 3, "A", 111.0)], "k long, ver int, src string, price double"
    )
    b_upd = spark.createDataFrame(
        [(10, 2, "B", "flipped")], "k long, ver int, src string, status string"
    )
    b_result = {}

    def interleave(attempt):
        if attempt == 0:
            b_result["commit"] = merge_upsert_manifest(
                base, b_upd, "ver", "src", writer_id="B",
                patch_cols=["status"],
            )

    v, tries = merge_upsert_manifest(
        base, a_upd, "ver", "src", writer_id="A",
        before_commit=interleave, patch_cols=["price"],
    )
    assert b_result["commit"] == (2, 1)
    assert (v, tries) == (3, 2), "A must lose v2 and retry into v3"
    row = {r.k: r for r in read_snapshot(spark, base).collect()}[10]
    assert (row.price, row.status, row.ver) == (111.0, "flipped", 3), (
        "both writers' columns must survive the race"
    )


def test_partial_update_rejects_bad_batches(spark, tmp_path):
    """Patch gates: unknown/key/internal patch columns, batch column
    drift from the declared patch set, and evolve_schema+patch_cols
    are all loud errors."""
    base = _mk_wide_table(spark, tmp_path)
    good = spark.createDataFrame(
        [(1, 2, "u", 1.0)], "k long, ver int, src string, price double"
    )
    with pytest.raises(ValueError, match="existing non-key"):
        merge_upsert_manifest(base, good, "ver", "src", patch_cols=["nope"])
    with pytest.raises(ValueError, match="existing non-key"):
        merge_upsert_manifest(base, good, "ver", "src", patch_cols=["k"])
    with pytest.raises(ValueError, match="must be exactly"):
        merge_upsert_manifest(base, good, "ver", "src", patch_cols=["status"])
    with pytest.raises(ValueError, match="mutually exclusive"):
        merge_upsert_manifest(
            base, good, "ver", "src", patch_cols=["price"], evolve_schema=True
        )


def test_partial_update_reinserts_tombstoned_key_live(spark, tmp_path):
    """A patch hitting a tombstoned key treats it as NOT MATCHED: the
    key re-inserts live (visible) with NULL carry columns — the
    previous tombstone state never carries into the patched row."""
    from assignment4_spark.operators.lakehouse import TOMBSTONE_COL

    base = str(tmp_path / "ttbl")
    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        F.lit("seed").alias("src"),
        (F.col("id") * 10.0).alias("price"),
        F.lit("live").alias("status"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(df, base, key_col="k", n_buckets=4)
    tomb = spark.createDataFrame(
        [(3, 2, "del", None, None, True)],
        f"k long, ver int, src string, price double, status string, "
        f"{TOMBSTONE_COL} boolean",
    )
    merge_upsert_manifest(base, tomb, "ver", "src", writer_id="del")
    assert 3 not in {r.k for r in read_snapshot(spark, base).collect()}
    patch = spark.createDataFrame(
        [(3, 3, "u", 999.0)], "k long, ver int, src string, price double"
    )
    merge_upsert_manifest(base, patch, "ver", "src", patch_cols=["price"])
    rows = {r.k: r for r in read_snapshot(spark, base).collect()}
    assert (rows[3].price, rows[3].status) == (999.0, None), (
        "tombstoned key must re-insert live with NULL carry columns"
    )


def _mk_bloom_table(spark, tmp_path, n=400, n_buckets=8):
    base = str(tmp_path / "btbl")
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        (F.col("id") % 40).alias("grp"),
        (F.col("id") * 1.5).alias("val"),
    )
    init_table(df, base, key_col="k", n_buckets=n_buckets, bloom_col="grp")
    return base


def test_bloom_point_lookup_exact_and_prunes(spark, tmp_path):
    """read_snapshot_point must equal the unpruned filter for present
    values (pruning is invisible), return empty for absent values, and
    actually skip files."""
    from assignment4_spark.operators.lakehouse import (
        load_manifest,
        plan_files,
        read_snapshot_point,
    )

    base = _mk_bloom_table(spark, tmp_path)
    full = read_snapshot(spark, base)
    for g in (0, 7, 39):
        got = sorted(r.k for r in read_snapshot_point(spark, base, g).collect())
        want = sorted(r.k for r in full.filter(F.col("grp") == g).collect())
        assert got == want and len(got) == 10
    assert read_snapshot_point(spark, base, 12345).count() == 0
    m = load_manifest(base)
    kept, skipped = plan_files(spark, m, ("point", 7))
    n_files = sum(len(fs) for fs in m["buckets"].values())
    assert len(kept) + len(skipped) == n_files and skipped, (
        "bloom must skip at least one file on a sparse value"
    )


def test_bloom_carry_and_recompute_across_merge(spark, tmp_path):
    """A merge touching few buckets must keep untouched files' bloom
    entries BY IDENTITY and index the rewritten files fresh — a lookup
    for a value moved INTO a rewritten file must find it."""
    from assignment4_spark.operators.lakehouse import (
        load_manifest,
        read_snapshot_point,
    )

    base = _mk_bloom_table(spark, tmp_path)
    m1 = load_manifest(base)
    # single-key update: touches exactly one bucket; grp flips to 999
    upd = spark.createDataFrame(
        [(5, 2, 999, 0.0)], "k long, ver int, grp long, val double"
    )
    merge_upsert_manifest(base, upd, "ver", "grp", writer_id="u")
    m2 = load_manifest(base)
    untouched = [
        b for b in m1["buckets"] if m1["buckets"][b] == m2["buckets"][b]
    ]
    assert untouched, "a 1-key merge must leave some buckets untouched"
    for b in untouched:
        for f in m1["buckets"][b]:
            assert m2["file_blooms"][f] == m1["file_blooms"][f]
    got = [r.k for r in read_snapshot_point(spark, base, 999).collect()]
    assert got == [5], "fresh bloom must index the rewritten file"
    # key 5 left grp 5: the OLD file's bloom still says maybe (blooms
    # cannot unset bits) but the exact filter hides it
    assert sorted(
        r.k for r in read_snapshot_point(spark, base, 5).collect()
    ) == [45, 85, 125, 165, 205, 245, 285, 325, 365]


def test_bloom_missing_entry_is_kept(spark, tmp_path):
    """A file without a bloom entry (pre-index commits) must always be
    kept — pruning is an optimization, never a filter."""
    from assignment4_spark.operators.lakehouse import plan_files

    manifest = {
        "buckets": {"0": ["/a", "/b"]},
        "column_types": {"grp": "bigint"},
        "bloom_col": "grp",
        "bloom_m": 64,
        "bloom_k": 3,
        "file_blooms": {"/a": {}},  # /b has no entry at all
    }
    kept, skipped = plan_files(spark, manifest, ("point", 7))
    assert kept == ["/b"] and skipped == ["/a"], (
        "empty filter skips, missing filter keeps"
    )


def test_bloom_survives_compaction_and_rebucket(spark, tmp_path):
    """compact_tombstones and rebucket_table must republish a working
    bloom index (fresh entries for rewritten files), and evolution may
    not change the bloom column's type."""
    from assignment4_spark.operators.lakehouse import (
        TOMBSTONE_COL,
        compact_tombstones,
        load_manifest,
        read_snapshot_point,
        rebucket_table,
    )

    base = str(tmp_path / "ctbl")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        (F.col("id") % 10).cast("int").alias("grp"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(df, base, key_col="k", n_buckets=4, bloom_col="grp")
    tomb = spark.createDataFrame(
        [(7, 2, None, True)], f"k long, ver int, grp int, {TOMBSTONE_COL} boolean"
    )
    merge_upsert_manifest(base, tomb, "ver", "grp", writer_id="del")
    compact_tombstones(spark, base)
    assert load_manifest(base).get("file_blooms"), "compaction dropped the index"
    assert sorted(
        r.k for r in read_snapshot_point(spark, base, 7).collect()
    ) == [17, 27, 37, 47, 57, 67, 77, 87, 97]
    rebucket_table(spark, base, 8)
    m = load_manifest(base)
    assert m["n_buckets"] == 8 and m.get("file_blooms")
    assert sorted(
        r.k for r in read_snapshot_point(spark, base, 3).collect()
    ) == [3, 13, 23, 33, 43, 53, 63, 73, 83, 93]
    widen = spark.createDataFrame(
        [(1, 9, 5, False)], f"k long, ver int, grp long, {TOMBSTONE_COL} boolean"
    )
    with pytest.raises(ValueError, match="bloom column"):
        merge_upsert_manifest(
            base, widen, "ver", "grp", writer_id="w", evolve_schema=True
        )


def test_bloom_survives_two_writer_race(spark, tmp_path):
    """Sidecar consistency under optimistic concurrency: B commits a
    bloom-indexed value inside A's pre-commit window; A's retry rebuilds
    its staged blooms against B's manifest, so the final index must
    locate BOTH writers' values — a loser that carried its first
    attempt's sidecars would orphan B's."""
    from assignment4_spark.operators.lakehouse import read_snapshot_point

    base = _mk_bloom_table(spark, tmp_path)
    a_upd = spark.createDataFrame(
        [(401, 2, 777, 1.0)], "k long, ver int, grp long, val double"
    )
    b_upd = spark.createDataFrame(
        [(402, 2, 888, 2.0)], "k long, ver int, grp long, val double"
    )
    b_result = {}

    def interleave(attempt):
        if attempt == 0:
            b_result["commit"] = merge_upsert_manifest(
                base, b_upd, "ver", "val", writer_id="B"
            )

    v, tries = merge_upsert_manifest(
        base, a_upd, "ver", "val", writer_id="A", before_commit=interleave
    )
    assert b_result["commit"] == (2, 1) and (v, tries) == (3, 2)
    assert [r.k for r in read_snapshot_point(spark, base, 777).collect()] == [401]
    assert [r.k for r in read_snapshot_point(spark, base, 888).collect()] == [402]


def test_identity_two_writer_race_unique_ids(spark, tmp_path):
    """Two writers inserting DIFFERENT new keys race; B commits inside
    A's pre-commit window. A's retry must re-pin B's ADVANCED
    high-water mark before re-assigning, so the union of minted ids is
    gap-free and collision-free — an assignment computed outside the
    retry loop would give both writers the same id block."""
    from assignment4_spark.operators.lakehouse import load_manifest

    base = str(tmp_path / "idtbl")
    seed = spark.range(1, 11).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        F.lit("s").alias("src"),
        F.col("id").cast("bigint").alias("sid"),
        (F.col("id") * 1.0).alias("price"),
    )
    init_table(seed, base, key_col="k", n_buckets=4, identity_col="sid")
    a_upd = spark.createDataFrame(
        [(101, 2, "A", 1.0), (102, 2, "A", 2.0)],
        "k long, ver int, src string, price double",
    )
    b_upd = spark.createDataFrame(
        [(201, 2, "B", 3.0), (202, 2, "B", 4.0), (203, 2, "B", 5.0)],
        "k long, ver int, src string, price double",
    )
    b_result = {}

    def interleave(attempt):
        if attempt == 0:
            b_result["commit"] = merge_upsert_manifest(
                base, b_upd, "ver", "src", writer_id="B",
                patch_cols=["price"],
            )

    v, tries = merge_upsert_manifest(
        base, a_upd, "ver", "src", writer_id="A",
        before_commit=interleave, patch_cols=["price"],
    )
    assert b_result["commit"] == (2, 1) and (v, tries) == (3, 2)
    rows = {r.k: r.sid for r in read_snapshot(spark, base).collect()}
    minted = sorted(rows[k] for k in (101, 102, 201, 202, 203))
    assert minted == [11, 12, 13, 14, 15], (
        f"ids must be gap-free and collision-free across the race: {minted}"
    )
    # B won the race: B's keys hold the first block (11-13), A re-pinned
    # and took 14-15
    assert sorted(rows[k] for k in (201, 202, 203)) == [11, 12, 13]
    assert load_manifest(base)["identity_high_water"] == 15


def test_identity_gates_and_survival(spark, tmp_path):
    """Identity gates: non-integral/key identity columns rejected at
    init, identity col rejected in patch_cols; the mark survives
    compaction and rebucket as pure metadata."""
    from assignment4_spark.operators.lakehouse import (
        load_manifest,
        rebucket_table,
    )

    bad = spark.range(3).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.lit("s").alias("src"), F.col("id").cast("string").alias("sid"),
    )
    with pytest.raises(ValueError, match="integral"):
        init_table(bad, str(tmp_path / "b1"), key_col="k", n_buckets=2,
                   identity_col="sid")
    with pytest.raises(ValueError, match="cannot be the key"):
        init_table(
            spark.range(3).select(F.col("id").alias("k"), F.lit(1).alias("v")),
            str(tmp_path / "b2"), key_col="k", n_buckets=2, identity_col="k",
        )

    base = str(tmp_path / "g1")
    seed = spark.range(1, 6).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.lit("s").alias("src"), F.col("id").cast("bigint").alias("sid"),
        (F.col("id") * 1.0).alias("price"),
    )
    init_table(seed, base, key_col="k", n_buckets=2, identity_col="sid")
    good = spark.createDataFrame(
        [(1, 2, "u", 9.0)], "k long, ver int, src string, price double"
    )
    with pytest.raises(ValueError, match="non-identity"):
        merge_upsert_manifest(base, good, "ver", "src", patch_cols=["sid"])
    rebucket_table(spark, base, 4)
    m = load_manifest(base)
    assert m["identity_col"] == "sid" and m["identity_high_water"] == 5
    # and the mark still drives assignment after the rebucket
    merge_upsert_manifest(
        base,
        spark.createDataFrame([(99, 2, "u", 1.0)],
                              "k long, ver int, src string, price double"),
        "ver", "src", patch_cols=["price"],
    )
    assert {r.k: r.sid for r in read_snapshot(spark, base).collect()}[99] == 6


def _mk_identity_table(spark, tmp_path, name="idt"):
    from assignment4_spark.operators.lakehouse import init_table

    base = str(tmp_path / name)
    seed = spark.range(1, 6).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.lit("s").alias("src"), F.col("id").cast("bigint").alias("sid"),
        (F.col("id") * 1.0).alias("price"),
    )
    init_table(seed, base, key_col="k", n_buckets=2, identity_col="sid")
    return base


def test_identity_duplicate_new_keys_mint_one_id(spark, tmp_path):
    """A patch batch carrying the same NEW key twice (latest-wins race
    inside one batch) must mint exactly ONE id for that key: the
    high-water mark advances by the distinct-key count (no permanent
    gaps) and the surviving row's id is tiebreak-independent."""
    from assignment4_spark.operators.lakehouse import load_manifest

    base = _mk_identity_table(spark, tmp_path)
    batch = spark.createDataFrame(
        [(101, 2, "a", 1.0), (101, 3, "b", 2.0), (102, 2, "c", 3.0)],
        "k long, ver int, src string, price double",
    )
    merge_upsert_manifest(base, batch, "ver", "src", patch_cols=["price"])
    rows = {r.k: r.sid for r in read_snapshot(spark, base).collect()}
    # 2 distinct new keys → ids 6 and 7, hw == 7 (a row_number over the
    # 3 NULL-id rows would have burnt 8 and left a gap)
    assert sorted([rows[101], rows[102]]) == [6, 7]
    assert load_manifest(base)["identity_high_water"] == 7


def test_identity_full_row_null_ids_assigned(spark, tmp_path):
    """Full-row batches may arrive with NULL ids: an existing key must
    re-adopt its current id (a full-row rewrite cannot change a key's
    identity), a new key mints from the high-water mark, and the mark
    keeps the hw >= max(assigned) invariant when the batch also carries
    caller-managed ids above it. No NULL identity is ever published."""
    from assignment4_spark.operators.lakehouse import load_manifest

    base = _mk_identity_table(spark, tmp_path)
    batch = spark.createDataFrame(
        [
            (3, 2, "u", None, 9.0),      # existing key, NULL id → keeps 3
            (201, 2, "u", None, 1.0),    # new key, NULL id → mints
            (202, 2, "u", 50, 2.0),      # caller-managed id raises hw
        ],
        "k long, ver int, src string, sid long, price double",
    )
    merge_upsert_manifest(base, batch, "ver", "src")
    rows = {r.k: r.sid for r in read_snapshot(spark, base).collect()}
    assert rows[3] == 3 and rows[202] == 50
    # hw was raised to 50 by the caller-managed id BEFORE minting
    assert rows[201] == 51
    assert all(v is not None for v in rows.values())
    assert load_manifest(base)["identity_high_water"] == 51


def test_expectations_gate_commits_clean_subset_once(spark, tmp_path):
    """A violating batch commits its CLEAN subset exactly once: one new
    version, passing rows visible, violating rows quarantined with the
    sorted comma-joined reasons, the violating key's SEED row untouched,
    and the manifest's counters match the side table exactly."""
    from assignment4_spark.operators.lakehouse import (
        QUARANTINE_REASON_COL,
        read_quarantine,
    )

    base = _mk_table(spark, tmp_path, n=20)
    batch = spark.createDataFrame(
        [(1, 2, "ok"), (2, 2, ""), (3, 2, None), (21, 2, "new")],
        "k long, ver int, payload string",
    )
    exp = {
        "payload_not_null": "payload IS NOT NULL",
        "payload_nonempty": "length(payload) > 0",
    }
    v, tries = merge_upsert_manifest(
        base, batch, "ver", "payload", writer_id="g", expectations=exp
    )
    assert (v, tries) == (2, 1) and latest_version(base) == 2
    rows = {r.k: (r.ver, r.payload) for r in read_snapshot(spark, base).collect()}
    assert rows[1] == (2, "ok") and rows[21] == (2, "new")
    # violating keys keep their seed rows — quarantine, not abort
    assert rows[2] == (1, "p2") and rows[3] == (1, "p3")
    quar = {
        r.k: r[QUARANTINE_REASON_COL]
        for r in read_quarantine(spark, base).collect()
    }
    # NULL predicate result (length(NULL)>0) VIOLATES: k=3 fails BOTH
    assert quar == {
        2: "payload_nonempty",
        3: "payload_nonempty,payload_not_null",
    }
    info = load_manifest(base)["expectations"]
    assert info["checked"] == ["payload_nonempty", "payload_not_null"]
    assert info["n_batch"] == 4 and info["quarantined"] == 2
    assert info["by_expectation"] == {
        "payload_nonempty": 2,
        "payload_not_null": 1,
    }


def test_expectations_gate_all_violating_batch_still_commits(spark, tmp_path):
    """An all-violating batch advances the version with NO bucket
    rewritten: the quarantine record IS the commit, every data file
    carries over untouched, and a clean follow-up merge still works."""
    from assignment4_spark.operators.lakehouse import read_quarantine

    base = _mk_table(spark, tmp_path, n=10)
    before = load_manifest(base)["buckets"]
    bad = _upd(spark, [1, 2], 2, "x")
    v, _ = merge_upsert_manifest(
        base, bad, "ver", "payload",
        expectations={"never": "1 = 0"},
    )
    m = load_manifest(base)
    assert v == 2 and m["buckets"] == before
    assert m["expectations"]["quarantined"] == 2
    assert read_quarantine(spark, base).count() == 2
    assert {r.ver for r in read_snapshot(spark, base).collect()} == {1}
    v3, _ = merge_upsert_manifest(base, _upd(spark, [1], 3, "y"), "ver", "payload")
    assert v3 == 3
    # a commit WITHOUT expectations records no quarantine
    assert read_quarantine(spark, base) is None


def test_expectations_gate_lost_race_cleans_loser_quarantine(spark, tmp_path):
    """A gated writer that loses the CAS must delete its attempt's
    quarantine files (they are referenced by NO manifest, so vacuum
    could never reclaim them) and the retry re-commits the SAME passing
    subset — the gate ran once, outside the loop."""
    import os

    from assignment4_spark.operators.lakehouse import read_quarantine

    base = _mk_table(spark, tmp_path, n=20)
    a_upd = spark.createDataFrame(
        [(5, 2, "Apass"), (6, 2, "")], "k long, ver int, payload string"
    )
    b_result = {}

    def interleave(attempt):
        if attempt == 0:
            b_result["commit"] = merge_upsert_manifest(
                base, _upd(spark, [15], 2, "B"), "ver", "payload",
                writer_id="B",
            )

    v, tries = merge_upsert_manifest(
        base, a_upd, "ver", "payload", writer_id="A",
        before_commit=interleave,
        expectations={"nonempty": "length(payload) > 0"},
    )
    assert b_result["commit"] == (2, 1) and (v, tries) == (3, 2)
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows[5] == "Apass" and rows[15] == "B15" and rows[6] == "p6"
    assert [r.k for r in read_quarantine(spark, base).collect()] == [6]
    # exactly ONE quarantine dir survives: the winning attempt's
    qdirs = [d for d in os.listdir(base) if d.startswith("quarantine_")]
    assert len(qdirs) == 1 and "_a1" in qdirs[0]


def test_expectations_gate_vacuum_reclaims_expired_quarantine(spark, tmp_path):
    """Quarantine side tables expire with their manifest: vacuum deletes
    the dirs only expired versions reference and keeps the window's."""
    import os

    from assignment4_spark.operators.lakehouse import read_quarantine, vacuum

    base = _mk_table(spark, tmp_path, n=10)
    exp = {"nonempty": "length(payload) > 0"}
    for ver, tag in ((2, "a"), (3, "b"), (4, "c")):
        batch = spark.createDataFrame(
            [(1, ver, f"{tag}1"), (2, ver, "")],
            "k long, ver int, payload string",
        )
        merge_upsert_manifest(
            base, batch, "ver", "payload", expectations=exp
        )
    paths = {
        v: load_manifest(base, v)["expectations"]["path"] for v in (2, 3, 4)
    }
    assert all(os.path.isdir(p) for p in paths.values())
    out = vacuum(base, keep_last=2)
    assert out["deleted_versions"] == [1, 2]
    assert not os.path.exists(paths[2])
    assert os.path.isdir(paths[3]) and os.path.isdir(paths[4])
    assert read_quarantine(spark, base).count() == 1


def test_expectations_gate_rejects_bad_declarations(spark, tmp_path):
    from assignment4_spark.operators.lakehouse import QUARANTINE_REASON_COL

    base = _mk_table(spark, tmp_path, n=5)
    u = _upd(spark, [1], 2, "x")
    with pytest.raises(ValueError, match="non-empty mapping"):
        merge_upsert_manifest(base, u, "ver", "payload", expectations={})
    with pytest.raises(ValueError, match="comma-free"):
        merge_upsert_manifest(
            base, u, "ver", "payload", expectations={"a,b": "1=1"}
        )
    with pytest.raises(ValueError, match="reserved quarantine"):
        merge_upsert_manifest(
            base,
            u.withColumn(QUARANTINE_REASON_COL, F.lit("x")),
            "ver", "payload", expectations={"ok": "1=1"},
        )


def test_serializable_overlapping_keys_conflict(spark, tmp_path):
    """Under isolation='serializable', a competing commit that changed
    a key this writer also writes must raise instead of silently
    rebasing — the lost-update anomaly latest_wins accepts. The loser's
    staging is cleaned and the winner's row survives untouched."""
    import os

    from assignment4_spark.operators.lakehouse import (
        SerializationConflictError,
    )

    base = _mk_table(spark, tmp_path, n=20)

    def interleave(attempt):
        if attempt == 0:
            merge_upsert_manifest(
                base, _upd(spark, [5, 15], 2, "B"), "ver", "payload",
                writer_id="B",
            )

    with pytest.raises(SerializationConflictError, match=r"keys \[5\]"):
        merge_upsert_manifest(
            base, _upd(spark, [5, 6], 2, "A"), "ver", "payload",
            writer_id="A", before_commit=interleave,
            isolation="serializable",
        )
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows[5] == "B5" and rows[15] == "B15" and rows[6] == "p6"
    assert latest_version(base) == 2
    leftovers = [d for d in os.listdir(base) if d.startswith("commit_v3")]
    assert leftovers == [], f"loser left staging behind: {leftovers}"


def test_serializable_disjoint_keys_both_commit(spark, tmp_path):
    """Disjoint writers under serializable behave exactly like
    latest_wins: the loser proves disjointness against the winner's
    commit and rebases."""
    base = _mk_table(spark, tmp_path, n=20)
    b_result = {}

    def interleave(attempt):
        if attempt == 0:
            b_result["commit"] = merge_upsert_manifest(
                base, _upd(spark, [15], 2, "B"), "ver", "payload",
                writer_id="B",
            )

    v, tries = merge_upsert_manifest(
        base, _upd(spark, [5, 6], 2, "A"), "ver", "payload",
        writer_id="A", before_commit=interleave, isolation="serializable",
    )
    assert b_result["commit"] == (2, 1) and (v, tries) == (3, 2)
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows[5] == "A5" and rows[6] == "A6" and rows[15] == "B15"


def test_serializable_maintenance_commit_no_conflict(spark, tmp_path):
    """A concurrent REBUCKET rewrites every file but changes no key —
    the serializable gate diffs LOGICALLY, so maintenance never
    deadlocks writers (file-level comparison would conflict here)."""
    from assignment4_spark.operators.lakehouse import rebucket_table

    base = _mk_table(spark, tmp_path, n=20, n_buckets=4)

    def interleave(attempt):
        if attempt == 0:
            rebucket_table(spark, base, 8)

    v, tries = merge_upsert_manifest(
        base, _upd(spark, [5], 2, "A"), "ver", "payload",
        writer_id="A", before_commit=interleave, isolation="serializable",
    )
    assert (v, tries) == (3, 2)
    m = load_manifest(base)
    assert m["n_buckets"] == 8
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows[5] == "A5" and len(rows) == 20


def test_serializable_expired_pin_conflicts(spark, tmp_path):
    """If retention expired the pinned version, disjointness cannot be
    proven — the merge must conflict conservatively, never guess."""
    from assignment4_spark.operators.lakehouse import (
        SerializationConflictError,
        vacuum,
    )

    base = _mk_table(spark, tmp_path, n=20)

    def interleave(attempt):
        if attempt == 0:
            merge_upsert_manifest(
                base, _upd(spark, [15], 2, "B"), "ver", "payload",
            )
            merge_upsert_manifest(
                base, _upd(spark, [16], 3, "B"), "ver", "payload",
            )
            vacuum(base, keep_last=1)

    with pytest.raises(SerializationConflictError, match="retention"):
        merge_upsert_manifest(
            base, _upd(spark, [5], 2, "A"), "ver", "payload",
            writer_id="A", before_commit=interleave,
            isolation="serializable",
        )


def test_isolation_value_validated(spark, tmp_path):
    base = _mk_table(spark, tmp_path, n=5)
    with pytest.raises(ValueError, match="isolation"):
        merge_upsert_manifest(
            base, _upd(spark, [1], 2, "x"), "ver", "payload",
            isolation="snapshot",
        )


def test_vacuum_reopened_slot_cannot_resurrect_history(spark, tmp_path):
    """Vacuum deleting an expired manifest REOPENS its version slot: a
    straggler pinned far in the past would link v2.json 'successfully'
    while v3 is latest — an invisible commit into history that the
    writer reports as success. The publish guard must detect the
    higher version, treat it as a lost race, and land the straggler's
    commit at the real head instead."""
    import os

    from assignment4_spark.operators.lakehouse import vacuum

    base = _mk_table(spark, tmp_path, n=20)

    def interleave(attempt):
        if attempt == 0:
            merge_upsert_manifest(
                base, _upd(spark, [15], 2, "B"), "ver", "payload",
            )
            merge_upsert_manifest(
                base, _upd(spark, [16], 3, "B"), "ver", "payload",
            )
            vacuum(base, keep_last=1)  # deletes v1+v2 → v2 slot reopens

    v, tries = merge_upsert_manifest(
        base, _upd(spark, [5], 4, "A"), "ver", "payload",
        writer_id="A", before_commit=interleave,
    )
    assert (v, tries) == (4, 2), "straggler must land at the head, not v2"
    assert not os.path.exists(os.path.join(base, "v2.json")), (
        "resurrected v2 manifest left behind"
    )
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows[5] == "A5" and rows[15] == "B15" and rows[16] == "B16"


def test_shallow_clone_reads_pinned_state_and_evolves(spark, tmp_path):
    """A shallow clone is metadata-only: zero data files copied, reads
    the pinned source state exactly, and evolves independently — its
    merges never touch the source and vice versa."""
    import os

    from assignment4_spark.operators.lakehouse import clone_table

    base = _mk_table(spark, tmp_path, n=20)
    merge_upsert_manifest(base, _upd(spark, [1, 2], 2, "s"), "ver", "payload")
    clone = str(tmp_path / "clone")
    out = clone_table(base, clone)
    assert out["source_version"] == 2
    # metadata-only: the clone dir holds ONE manifest, no parquet
    assert sorted(os.listdir(clone)) == ["v1.json"]
    crows = {r.k: r.payload for r in read_snapshot(spark, clone).collect()}
    assert crows[1] == "s1" and len(crows) == 20
    # both sides evolve independently
    merge_upsert_manifest(base, _upd(spark, [3], 3, "src"), "ver", "payload")
    merge_upsert_manifest(clone, _upd(spark, [4], 3, "cln"), "ver", "payload")
    srows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    crows = {r.k: r.payload for r in read_snapshot(spark, clone).collect()}
    assert srows[3] == "src3" and srows[4] == "p4"
    assert crows[4] == "cln4" and crows[3] == "p3"
    with pytest.raises(FileExistsError):
        clone_table(base, clone)


def test_vacuum_on_source_cannot_break_live_clone(spark, tmp_path):
    """Vacuum on the source must keep every version a live clone pins
    (manifest AND files), however aggressive keep_last is; once the
    clone is deleted, the next vacuum reclaims the pin."""
    import shutil

    from assignment4_spark.operators.lakehouse import clone_table, vacuum

    base = _mk_table(spark, tmp_path, n=20)
    merge_upsert_manifest(base, _upd(spark, [1], 2, "a"), "ver", "payload")
    clone = str(tmp_path / "clone")
    clone_table(base, clone)  # pins v2
    merge_upsert_manifest(base, _upd(spark, [2], 3, "b"), "ver", "payload")
    merge_upsert_manifest(base, _upd(spark, [3], 4, "c"), "ver", "payload")
    out = vacuum(base, keep_last=1)
    assert 2 in out["kept_versions"], "clone-pinned version must survive"
    assert set(out["deleted_versions"]) == {1, 3}
    # the clone still reads its exact pinned state AFTER the vacuum
    crows = {r.k: r.payload for r in read_snapshot(spark, clone).collect()}
    assert crows[1] == "a1" and crows[2] == "p2" and len(crows) == 20
    # deleting the clone table releases the pin
    shutil.rmtree(clone)
    out2 = vacuum(base, keep_last=1)
    assert out2["deleted_versions"] == [2]


def test_vacuum_on_clone_never_deletes_source_files(spark, tmp_path):
    """Expiring CLONE history drops references to source files, never
    the files: after the clone churns versions and vacuums with
    keep_last=1, the SOURCE still reads perfectly."""
    from assignment4_spark.operators.lakehouse import clone_table, vacuum

    base = _mk_table(spark, tmp_path, n=20)
    clone = str(tmp_path / "clone")
    clone_table(base, clone)
    for ver, keys in ((2, [1]), (3, [2]), (4, [3])):
        merge_upsert_manifest(
            clone, _upd(spark, keys, ver, "c"), "ver", "payload"
        )
    out = vacuum(clone, keep_last=1)
    assert out["deleted_versions"] == [1, 2, 3]
    srows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert len(srows) == 20 and srows[1] == "p1"
    crows = {r.k: r.payload for r in read_snapshot(spark, clone).collect()}
    assert crows[1] == "c1" and crows[3] == "c3"


def test_restore_preserves_invariants(spark, tmp_path):
    """RESTORE rewinds logical state metadata-only while (a) keeping
    identity_high_water monotonic (undone commits' minted ids may live
    in exports — never re-mintable), (b) dropping the undone commit's
    quarantine record, (c) keeping undone versions time-travel-readable,
    and (d) losing CAS races like any writer."""
    from assignment4_spark.operators.lakehouse import restore_table

    base = str(tmp_path / "rt")
    seed = spark.range(1, 6).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.lit("s").alias("src"), F.col("id").cast("bigint").alias("sid"),
        (F.col("id") * 1.0).alias("price"),
    )
    init_table(seed, base, key_col="k", n_buckets=2, identity_col="sid")
    # v2: gated commit that quarantines + mints ids 6-7 via new keys
    batch = spark.createDataFrame(
        [(101, 2, "a", 1.0), (102, 2, "b", -5.0)],
        "k long, ver int, src string, price double",
    )
    merge_upsert_manifest(
        base, batch, "ver", "src", patch_cols=["price"],
        expectations={"nonneg": "price >= 0"},
    )
    m2 = load_manifest(base)
    assert m2["identity_high_water"] == 6 and m2["expectations"]["quarantined"] == 1
    v, tries = restore_table(base, 1)
    m3 = load_manifest(base)
    assert (v, tries) == (3, 1)
    # (a) the mark NEVER rewinds; (b) no stale quarantine record
    assert m3["identity_high_water"] == 6
    assert "expectations" not in m3 and m3["restored_from"] == 1
    assert read_snapshot(spark, base).count() == 5
    # (c) the undone v2 stays readable
    assert read_snapshot(spark, base, version=2).count() == 6
    # (d) a competing commit inside the restore window forces a retry
    def interleave(attempt):
        if attempt == 0:
            merge_upsert_manifest(
                base,
                spark.createDataFrame(
                    [(1, 9, "z", 9.0)],
                    "k long, ver int, src string, price double",
                ),
                "ver", "src", patch_cols=["price"],
            )

    v2, tries2 = restore_table(base, 1, before_commit=interleave)
    assert (v2, tries2) == (5, 2)
    assert read_snapshot(spark, base).count() == 5


def test_restore_expired_version_refused(spark, tmp_path):
    from assignment4_spark.operators.lakehouse import restore_table, vacuum

    base = _mk_table(spark, tmp_path, n=10)
    merge_upsert_manifest(base, _upd(spark, [1], 2, "a"), "ver", "payload")
    merge_upsert_manifest(base, _upd(spark, [2], 3, "b"), "ver", "payload")
    vacuum(base, keep_last=1)
    with pytest.raises(FileNotFoundError):
        restore_table(base, 1)


@pytest.mark.slow
def test_stream_expectations_slicing_invariance(spark, tmp_path):
    """The gated merge-sink fold is slicing-invariant on BOTH halves:
    any slicing of the feed into micro-batches converges to the same
    final table AND the same cumulative quarantine (each violating row
    lands exactly once, in whichever slice carried it)."""
    from assignment4_spark.operators.lakehouse import (
        init_table,
        latest_version,
        merge_upsert_manifest,
        read_quarantine,
        read_snapshot,
    )

    rows = [
        (i % 7, 1000 + i, i, float((-1 if i % 5 == 0 else 1) * (i + 1)))
        for i in range(30)
    ]
    feed = spark.createDataFrame(
        rows, "k long, ver long, tie long, value double"
    )
    exp = {"value_nonneg": "value >= 0"}

    def run(n_slices, name):
        base = str(tmp_path / name)
        init_table(feed.limit(0), base, key_col="k", n_buckets=4)
        for i in range(n_slices):
            merge_upsert_manifest(
                base, feed.filter(F.col("tie") % n_slices == i),
                "ver", "tie", writer_id=f"s{i}", expectations=exp,
            )
        table_rows = sorted(
            (r.k, r.ver, r.tie, r.value)
            for r in read_snapshot(spark, base).collect()
        )
        quar = []
        for v in range(2, latest_version(base) + 1):
            q = read_quarantine(spark, base, v)
            if q is not None:
                quar.extend(
                    (r.k, r.tie, r.value, r._violation) for r in q.collect()
                )
        return table_rows, sorted(quar)

    t2, q2 = run(2, "two")
    t5, q5 = run(5, "five")
    assert t2 == t5, "final table must be slicing-invariant"
    assert q2 == q5 and len(q2) == 6, (
        f"cumulative quarantine must be slicing-invariant: {len(q2)} vs "
        f"{len(q5)}"
    )
    assert all(v < 0 for (_, _, v, _) in q2)


def test_table_history_stamps_every_commit_kind(spark, tmp_path):
    """Every commit path stamps kind+writer; per-commit records
    (quarantine, restored_from) never leak into later commits that
    copy a prior manifest (metadata-only compact, clone)."""
    from assignment4_spark.operators.lakehouse import (
        TOMBSTONE_COL,
        clone_table,
        compact_tombstones,
        restore_table,
        table_history,
    )

    base = str(tmp_path / "ht")
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(df, base, key_col="k", n_buckets=2)
    merge_upsert_manifest(
        base,
        spark.createDataFrame(
            [(1, 2, "", False), (2, 2, "x2", False)],
            f"k long, ver int, payload string, {TOMBSTONE_COL} boolean",
        ),
        "ver", "payload", writer_id="w1",
        expectations={"nonempty": "length(payload) > 0"},
    )
    restore_table(base, 1, writer_id="ops")
    merge_upsert_manifest(
        base,
        spark.createDataFrame(
            [(3, 9, "del", True)],
            f"k long, ver int, payload string, {TOMBSTONE_COL} boolean",
        ),
        "ver", "payload", writer_id="w2",
    )
    compact_tombstones(spark, base, writer_id="gc")
    clone = str(tmp_path / "htc")
    clone_table(base, clone)

    hist = table_history(base)
    assert [(h["version"], h["kind"], h["writer_id"]) for h in hist] == [
        (1, "init", "init"), (2, "merge", "w1"), (3, "restore", "ops"),
        (4, "merge", "w2"), (5, "compact", "gc"),
    ]
    assert hist[1]["quarantined"] == 1 and hist[2]["restored_from"] == 1
    # copies of prior manifests must not leak per-commit records
    assert hist[4]["quarantined"] is None and hist[4]["restored_from"] is None
    chist = table_history(clone)
    assert [(h["version"], h["kind"]) for h in chist] == [(1, "clone")]
    assert chist[0]["quarantined"] is None and chist[0]["restored_from"] is None


def test_publish_from_races_pins_and_survives_vacuum(spark, tmp_path):
    """publish_from: (a) loses the CAS like any writer and retries onto
    the new head; (b) records published_from and takes max identity
    mark across both lines; (c) the publish-pin survives source vacuum
    AND main's own vacuum only deletes main-directory files, so the
    published state outlives retention on both sides."""
    from assignment4_spark.operators.lakehouse import (
        clone_table,
        publish_from,
        table_history,
        vacuum,
    )

    main = str(tmp_path / "wmain")
    seed = spark.range(1, 6).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.lit("s").alias("src"), F.col("id").cast("bigint").alias("sid"),
        (F.col("id") * 1.0).alias("price"),
    )
    init_table(seed, main, key_col="k", n_buckets=2, identity_col="sid")
    branch = str(tmp_path / "wbranch")
    clone_table(main, branch)
    # branch mints ids 6-7 via two new keys (patch path)
    merge_upsert_manifest(
        branch,
        spark.createDataFrame(
            [(101, 2, "b", 1.0), (102, 2, "b", 2.0)],
            "k long, ver int, src string, price double",
        ),
        "ver", "src", patch_cols=["price"],
    )
    # main independently mints id 6 too (divergent lines)
    merge_upsert_manifest(
        main,
        spark.createDataFrame(
            [(201, 2, "m", 3.0)], "k long, ver int, src string, price double"
        ),
        "ver", "src", patch_cols=["price"],
    )

    def interleave(attempt):
        if attempt == 0:
            merge_upsert_manifest(
                main,
                spark.createDataFrame(
                    [(202, 3, "m2", 4.0)],
                    "k long, ver int, src string, price double",
                ),
                "ver", "src", patch_cols=["price"],
            )

    v, tries = publish_from(main, branch, before_commit=interleave)
    assert (v, tries) == (4, 2), "publish must rebase onto the new head"
    m = load_manifest(main)
    assert m["published_from"]["version"] == 2
    # branch hw = 7 (ids 6,7), main hw was 7 after its two inserts —
    # the publish takes the max so NO line's minted ids are reusable
    assert m["identity_high_water"] == 7
    rows = {r.k: r.sid for r in read_snapshot(spark, main).collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 101, 102}, rows
    # retention, both directions
    merge_upsert_manifest(
        branch,
        spark.createDataFrame(
            [(1, 9, "z", 0.0)], "k long, ver int, src string, price double"
        ),
        "ver", "src", patch_cols=["price"],
    )
    out_b = vacuum(branch, keep_last=1)
    assert 2 in out_b["kept_versions"], "publish pin must hold on the branch"
    out_m = vacuum(main, keep_last=1)
    # v1 is ALSO kept: the live branch is a clone of main v1 (its
    # untouched buckets reference main-directory files) — the pin
    # system protects the reverse direction too
    assert out_m["kept_versions"] == [1, 4]
    after = {r.k: r.sid for r in read_snapshot(spark, main).collect()}
    assert after == rows, "published state must survive both vacuums"
    assert table_history(main)[-1]["kind"] == "publish"


def test_publish_never_unlinks_live_history(spark, tmp_path):
    """ADVICE r9 (medium): a successfully LINKED manifest is live
    history — a competing writer may already have committed v+1 on top
    of it. The old post-link latest_version compare couldn't tell that
    apart from a vacuum-reopened slot and would unlink a manifest other
    commits reference (time-travel hole) while reporting a lost race
    for a commit that took effect. Deterministic emulation of the race
    window: the higher version already exists when the straggler's
    link lands — with NO vacuum in play the commit must stand."""
    import json
    import os

    from assignment4_spark.operators.lakehouse import _publish_manifest

    base = _mk_table(spark, tmp_path, n=20)
    merge_upsert_manifest(base, _upd(spark, [1], 2, "b"), "ver", "payload")
    m2 = load_manifest(base, 2)
    merge_upsert_manifest(base, _upd(spark, [2], 3, "c"), "ver", "payload")
    # simulate: my v2 link landed, THEN the competitor's v3 appeared
    # before my liveness re-check ran (same on-disk state)
    os.unlink(os.path.join(base, "v2.json"))
    assert _publish_manifest(base, m2) is True, (
        "a linked commit above the vacuum floor took effect — reporting "
        "a lost race invites a double-apply under serializable isolation"
    )
    assert os.path.exists(os.path.join(base, "v2.json"))
    with open(os.path.join(base, "v2.json")) as fh:
        assert json.load(fh)["version"] == 2


def test_publish_rejects_vacuum_reopened_slot_before_link(spark, tmp_path):
    """Vacuum persists a version floor BEFORE deleting manifests; a
    straggler targeting a slot <= floor is rejected WITHOUT linking
    (no transient manifest ever appears in the reopened slot)."""
    import os

    from assignment4_spark.operators.lakehouse import (
        _publish_manifest,
        _version_floor,
        vacuum,
    )

    base = _mk_table(spark, tmp_path, n=20)
    merge_upsert_manifest(base, _upd(spark, [1], 2, "b"), "ver", "payload")
    m2 = load_manifest(base, 2)
    merge_upsert_manifest(base, _upd(spark, [2], 3, "c"), "ver", "payload")
    vacuum(base, keep_last=1)  # expires v1+v2 → floor = 2
    assert _version_floor(base) == 2
    assert _publish_manifest(base, m2) is False
    assert not os.path.exists(os.path.join(base, "v2.json"))


def test_publish_unlink_survives_concurrent_vacuum(monkeypatch, spark, tmp_path):
    """The post-link floor re-check (the read-floor/raise-floor TOCTOU
    narrowing) unlinks its own transient manifest — if a concurrent
    vacuum expired that slot first, the unlink must swallow
    FileNotFoundError and still report the lost race, not crash."""
    import os

    from assignment4_spark.operators import lakehouse

    base = _mk_table(spark, tmp_path, n=20)
    m2 = dict(load_manifest(base, 1), version=2)
    final = os.path.join(base, "v2.json")
    calls = {"n": 0}

    def racing_floor(base_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            return 0  # pre-link: no vacuum yet
        # post-link: a vacuum raised the floor past us AND already
        # expired our just-linked manifest
        if os.path.exists(final):
            os.unlink(final)
        return 99

    monkeypatch.setattr(lakehouse, "_version_floor", racing_floor)
    assert lakehouse._publish_manifest(base, m2) is False
    assert calls["n"] == 2
    assert not os.path.exists(final)


def test_restore_strips_stale_lineage_keys(spark, tmp_path):
    """ADVICE r9: restoring TO a publish/clone commit must not carry
    that commit's published_from/cloned_from into the new manifest —
    the restore commit's lineage is restored_from, nothing else."""
    import json
    import os

    from assignment4_spark.operators.lakehouse import restore_table

    base = _mk_table(spark, tmp_path, n=20)
    merge_upsert_manifest(base, _upd(spark, [1], 2, "b"), "ver", "payload")
    # doctor v2 into a publish-commit shape (cheaper than building a
    # real WAP branch; only the key hygiene is under test)
    p2 = os.path.join(base, "v2.json")
    with open(p2) as fh:
        m2 = json.load(fh)
    m2["published_from"] = {"base_dir": "/elsewhere", "version": 7}
    m2["cloned_from"] = {"base_dir": "/old", "version": 1}
    with open(p2, "w") as fh:
        json.dump(m2, fh)
    merge_upsert_manifest(base, _upd(spark, [2], 3, "c"), "ver", "payload")
    v, _ = restore_table(base, 2)
    m = load_manifest(base, v)
    assert m["commit_kind"] == "restore" and m["restored_from"] == 2
    assert "published_from" not in m and "cloned_from" not in m
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows[1] == "b1" and rows[2] == "p2"


def test_clone_pin_survives_unreadable_target(spark, tmp_path):
    """ADVICE r9: a pin whose target is temporarily UNREADABLE (an
    OSError that is not ENOENT — here a file where a directory should
    be, raising NotADirectoryError from listdir) must be KEPT; only a
    target that truly no longer exists releases the pin."""
    import json
    import os

    from assignment4_spark.operators.lakehouse import (
        _clone_pinned_versions,
        clone_table,
    )

    base = _mk_table(spark, tmp_path, n=20)
    merge_upsert_manifest(base, _upd(spark, [1], 2, "b"), "ver", "payload")
    clone_table(base, str(tmp_path / "clone"))
    cdir = os.path.join(base, "clones")
    rec = os.path.join(cdir, sorted(os.listdir(cdir))[0])

    # unreadable-but-existing target: pin kept, record kept
    blocker = str(tmp_path / "blocker")
    with open(blocker, "w") as fh:
        fh.write("not a directory")
    with open(rec) as fh:
        r = json.load(fh)
    with open(rec, "w") as fh:
        json.dump({**r, "target": blocker}, fh)
    assert _clone_pinned_versions(base) == {2}
    assert os.path.exists(rec), "transient error must not GC the pin"

    # truly-gone target (ENOENT): pin released, record GC'd
    with open(rec, "w") as fh:
        json.dump({**r, "target": str(tmp_path / "gone")}, fh)
    assert _clone_pinned_versions(base) == set()
    assert not os.path.exists(rec)


def test_optimize_compact_binpacks_and_preserves_rows(spark, tmp_path):
    """OPTIMIZE is a physical-only commit: byte-identical visible rows
    (tombstones included — dropping them is compact_tombstones' job),
    empty CDF, carried tombstone flags, and vacuum reclaims the
    splinter files after retention while the packed snapshot reads."""
    import os

    from assignment4_spark.operators.lakehouse import (
        changes_between,
        optimize_compact,
        table_history,
        vacuum,
    )

    base = _mk_table(spark, tmp_path, n=100)
    merge_upsert_manifest(
        base, _upd(spark, list(range(0, 100, 3)), 2, "u"),
        "ver", "payload", write_salt=4,
    )
    m2 = load_manifest(base)
    assert any(len(fs) > 1 for fs in m2["buckets"].values()), (
        "salted merge must fragment"
    )
    pre = sorted(
        (r.k, r.ver, r.payload) for r in read_snapshot(spark, base).collect()
    )

    out = optimize_compact(spark, base, max_files_per_bucket=1)
    assert out["version"] == 3
    assert out["files_after"] < out["files_before"]
    m3 = load_manifest(base, 3)
    assert all(len(fs) <= 1 for fs in m3["buckets"].values())
    assert table_history(base)[-1]["kind"] == "optimize"
    # rows byte-identical, CDF empty
    post = sorted(
        (r.k, r.ver, r.payload) for r in read_snapshot(spark, base).collect()
    )
    assert post == pre
    assert changes_between(spark, base, 2, 3).count() == 0
    # idempotent: already-packed table commits nothing
    again = optimize_compact(spark, base, max_files_per_bucket=1)
    assert again["version"] == 3 and again["buckets_optimized"] == []
    # vacuum reclaims the splinters; the packed snapshot still reads
    splinters = {
        f for fs in m2["buckets"].values() for f in fs
    } - {f for fs in m3["buckets"].values() for f in fs}
    assert splinters
    vacuum(base, keep_last=1)
    assert all(not os.path.exists(f) for f in splinters)
    assert sorted(
        (r.k, r.ver, r.payload) for r in read_snapshot(spark, base).collect()
    ) == pre


def test_optimize_preserves_tombstone_flags_and_rows(spark, tmp_path):
    """A bucket flagged possibly-tombstoned stays flagged across
    OPTIMIZE (rows unchanged ⇒ flags exactly as conservative as
    before), and the tombstone rows themselves survive the rewrite so
    the late-straggler guard still holds."""
    from assignment4_spark.operators.lakehouse import (
        TOMBSTONE_COL,
        init_table,
        optimize_compact,
    )

    base = str(tmp_path / "ttbl")
    seed = spark.range(60).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(seed, base, key_col="k", n_buckets=8)

    def tupd(keys, ver, tag, dead):
        return spark.createDataFrame(
            [(k, ver, f"{tag}{k}", dead) for k in keys],
            f"k long, ver int, payload string, {TOMBSTONE_COL} boolean",
        )

    merge_upsert_manifest(base, tupd([5, 17], 2, "d", True), "ver", "payload")
    merge_upsert_manifest(
        base, tupd(list(range(0, 60, 2)), 3, "u", False),
        "ver", "payload", write_salt=3,
    )
    m = load_manifest(base)
    flagged = set(m.get("tombstone_buckets", []))
    assert flagged, "delete must flag buckets"
    out = optimize_compact(spark, base, max_files_per_bucket=1)
    m2 = load_manifest(base, out["version"])
    assert set(m2.get("tombstone_buckets", [])) == flagged
    rows = {r.k for r in read_snapshot(spark, base).collect()}
    assert 5 not in rows and 17 not in rows
    # straggler older than the delete still loses latest-wins
    merge_upsert_manifest(base, tupd([5], 1, "late", False), "ver", "payload")
    rows = {r.k for r in read_snapshot(spark, base).collect()}
    assert 5 not in rows, "optimize must not drop the tombstone guard"


def test_optimize_preserves_cluster_layout_and_stats(spark, tmp_path):
    """On a clustered table OPTIMIZE re-packs THROUGH the clustered
    write: bins per bucket survive, fresh per-file stats land in the
    manifest, and range pruning still skips files afterwards."""
    from assignment4_spark.operators.lakehouse import (
        init_table,
        optimize_compact,
        plan_files,
    )

    base = str(tmp_path / "ctbl")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        (F.col("id") * 10).cast("double").alias("price"),
    )
    init_table(df, base, key_col="k", n_buckets=4, cluster_col="price")
    merge_upsert_manifest(
        base,
        spark.range(0, 400, 2).select(
            F.col("id").alias("k"), F.lit(2).alias("ver"),
            (F.col("id") * 10.0 + 1).alias("price"),
        ),
        "ver", "price", write_salt=4,
    )
    out = optimize_compact(spark, base, max_files_per_bucket=4)
    assert out["version"] == 3 and out["buckets_optimized"]
    m = load_manifest(base, 3)
    for b in out["buckets_optimized"]:
        # clustered steady-state: one file per bin (+1 for the
        # width_bucket hi-edge overflow bin), never unbounded splinters
        assert 1 <= len(m["buckets"][str(b)]) <= 5
        for f in m["buckets"][str(b)]:
            assert "price" in m["column_stats"].get(f, {}), (
                "fresh stats must cover new files"
            )
    kept, skipped = plan_files(spark, m, ("range", 0.0, 100.0))
    assert skipped, "zone-map pruning must survive the optimize"


def test_column_stats_recorded_carried_and_refreshed(spark, tmp_path):
    """All-column file stats (Delta data skipping): init records
    [min, max, null_count] for every eligible column; a merge
    REPLACES the rewritten buckets' entries and CARRIES untouched
    buckets' entries verbatim; pruning on a never-declared column
    skips provably-missing files and keeps stats-less ones."""
    from assignment4_spark.operators.lakehouse import (
        init_table,
        plan_files,
        read_snapshot_where,
    )

    base = str(tmp_path / "cstbl")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        (F.col("id") * 2.0).alias("x"),
        F.concat(F.lit("s"), F.format_string("%03d", F.col("id"))).alias("s"),
        F.when(F.col("id") % 4 == 0, F.col("id")).alias("maybe"),
    )
    init_table(df, base, key_col="k", n_buckets=4, cluster_col="x")
    m1 = load_manifest(base)
    allfiles = [f for fs in m1["buckets"].values() for f in fs]
    assert set(m1["column_stats"]) == set(allfiles)
    some = m1["column_stats"][allfiles[0]]
    assert set(some) >= {"k", "ver", "x", "s", "maybe"}
    assert some["maybe"][2] > 0, "null_count must be recorded"
    # string stats compare lexicographically
    assert some["s"][0].startswith("s")

    upd = spark.createDataFrame(
        [(7, 2, 14.0, "zz", None)],
        "k long, ver int, x double, s string, maybe long",
    )
    merge_upsert_manifest(base, upd, "ver", "s")
    m2 = load_manifest(base)
    changed = [
        b for b in m1["buckets"] if m1["buckets"][b] != m2["buckets"][b]
    ]
    assert len(changed) == 1
    for b in m1["buckets"]:
        for f in m2["buckets"][b]:
            assert f in m2["column_stats"], f
            if b not in changed:
                assert m2["column_stats"][f] == m1["column_stats"][f]
    # prune on the never-declared string column
    kept, skipped = plan_files(spark, m2, ("between", "s", "zz", "zz"))
    assert skipped, "most files cannot hold 'zz'"
    got = {
        r.k for r in read_snapshot_where(spark, base, "s", "zz", "zz").collect()
    }
    assert got == {7}


def test_column_prune_timestamp_probe_shapes(spark, tmp_path):
    """Timestamp stats are stored as 'T'-separated isoformat strings; a
    probe supplied as a datetime OBJECT (TypeError against str) or as a
    space-separated datetime STRING (' ' sorts before 'T', so a raw
    compare wrongly skips files holding matching rows) must both prune
    EXACTLY like the canonical ISO probe (ADVICE r10)."""
    import datetime

    from assignment4_spark.operators.lakehouse import (
        init_table,
        plan_files,
        read_snapshot_where,
    )

    base = str(tmp_path / "tstbl")
    df = spark.range(96).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        (
            F.lit("2024-03-01 00:00:00").cast("timestamp")
            + F.make_interval(hours=F.col("id"))
        ).alias("ts"),
    )
    init_table(df, base, key_col="k", n_buckets=4)
    m = load_manifest(base)
    iso_lo, iso_hi = "2024-03-02T05:00:00", "2024-03-02T07:00:00"
    ref_kept, ref_skip = plan_files(spark, m, ("between", "ts", iso_lo, iso_hi))
    probes = [
        ("2024-03-02 05:00:00", "2024-03-02 07:00:00"),
        (
            datetime.datetime(2024, 3, 2, 5),
            datetime.datetime(2024, 3, 2, 7),
        ),
    ]
    for lo, hi in probes:
        kept, skipped = plan_files(spark, m, ("between", "ts", lo, hi))
        assert (sorted(kept), sorted(skipped)) == (
            sorted(ref_kept),
            sorted(ref_skip),
        ), f"probe shape {type(lo).__name__} diverged"
    # end-to-end: the space-separated read returns the matching rows
    got = {
        r.k
        for r in read_snapshot_where(
            spark, base, "ts", "2024-03-02 05:00:00", "2024-03-02 07:00:00"
        ).collect()
    }
    assert got == {29, 30, 31}, got


def test_version_floor_propagates_read_errors(tmp_path):
    """Only FileNotFoundError means 'no vacuum ever ran' (floor 0); any
    other read failure must PROPAGATE — swallowing it as 0 would let a
    straggler commit link into a vacuum-reopened slot, the exact
    history-resurrection hazard the floor closes (ADVICE r10)."""
    import os as _os

    from assignment4_spark.operators.lakehouse import (
        _floor_path,
        _version_floor,
    )

    base = str(tmp_path / "floortbl")
    _os.makedirs(base)
    assert _version_floor(base) == 0  # genuinely absent
    # a directory at the floor path raises IsADirectoryError (OSError,
    # not FileNotFoundError) on open — must not be treated as floor 0
    _os.makedirs(_floor_path(base))
    with pytest.raises(OSError):
        _version_floor(base)


def test_column_stats_fresh_after_rebucket_and_all_null(spark, tmp_path):
    """Rebucket (carry=False) rebuilds stats fresh for every file — no
    dead paths carried; an all-NULL column gets no stats entry and its
    files are conservatively kept by pruning."""
    from assignment4_spark.operators.lakehouse import (
        init_table,
        plan_files,
        rebucket_table,
    )

    base = str(tmp_path / "rbtbl")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        F.lit(None).cast("double").alias("allnull"),
        (F.col("id") % 10).cast("double").alias("y"),
    )
    init_table(df, base, key_col="k", n_buckets=4)
    rebucket_table(spark, base, 8)
    m = load_manifest(base)
    allfiles = {f for fs in m["buckets"].values() for f in fs}
    assert set(m["column_stats"]) == allfiles
    for f, d in m["column_stats"].items():
        assert "allnull" not in d
        assert "y" in d
    kept, skipped = plan_files(spark, m, ("between", "allnull", 0.0, 1.0))
    assert skipped == [] and len(kept) == len(allfiles)


def test_mor_delete_removes_now_and_resurrects_on_insert(spark, tmp_path):
    """MOR delete contract: the key's CURRENT row vanishes from every
    read immediately (no data file rewritten), and — unlike tombstones
    — a later insert resurrects it regardless of version (Delta DELETE
    semantics, no straggler guard). Two MOR deletes stack."""
    from assignment4_spark.operators.lakehouse import delete_keys_mor

    base = _mk_table(spark, tmp_path, n=100)
    m1 = load_manifest(base)
    v, tries = delete_keys_mor(
        spark, base, spark.createDataFrame([(5,), (17,)], "k long")
    )
    assert (v, tries) == (2, 1)
    m2 = load_manifest(base)
    assert m2["buckets"] == m1["buckets"], "no data file may move"
    rows = {r.k for r in read_snapshot(spark, base).collect()}
    assert 5 not in rows and 17 not in rows and len(rows) == 98
    # pinned v1 still sees everything
    assert len(read_snapshot(spark, base, version=1).collect()) == 100
    # second MOR delete stacks
    delete_keys_mor(spark, base, spark.createDataFrame([(30,)], "k long"))
    rows = {r.k for r in read_snapshot(spark, base).collect()}
    assert rows.isdisjoint({5, 17, 30}) and len(rows) == 97
    # resurrection: ver=0 is LOWER than the seed's ver=1 — a tombstone
    # would suppress it; MOR must not
    merge_upsert_manifest(base, _upd(spark, [5], 0, "back"), "ver", "payload")
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows[5] == "back5" and 17 not in rows


def test_mor_rewrite_applies_and_clears_sidecars(spark, tmp_path):
    """Any bucket rewrite applies that bucket's pending deletes
    PHYSICALLY (the key is gone from the new files, not just hidden)
    and clears its sidecars; untouched buckets keep theirs."""
    from assignment4_spark.operators.lakehouse import (
        _bucket_of,
        _read_files_aligned,
        delete_keys_mor,
    )

    base = _mk_table(spark, tmp_path, n=200, n_buckets=8)
    delete_keys_mor(
        spark, base, spark.createDataFrame([(7,), (8,), (9,)], "k long")
    )
    m2 = load_manifest(base)
    assert m2.get("delete_files")
    # which bucket holds key 7?
    b7 = spark.range(1).select(
        F.lit(7).cast("long").alias("k")
    ).withColumn("b", _bucket_of("k", 8)).first().b
    # rewrite key 7's bucket by updating a key that hashes there — key
    # 7 itself works (an update of a MOR-deleted key re-inserts it, so
    # use a DIFFERENT key in the same bucket if any; key 7+8k hashing
    # is not guaranteed, so update key 7 and check keys 8/9 instead)
    merge_upsert_manifest(base, _upd(spark, [7], 2, "u"), "ver", "payload")
    m3 = load_manifest(base)
    assert str(b7) not in (m3.get("delete_files") or {}), "sidecar must clear"
    # the rewritten bucket's files physically lack every OTHER pending
    # key of that bucket
    dead_in_b7 = {
        k for k in (8, 9)
        if spark.range(1).select(F.lit(k).cast("long").alias("k"))
        .withColumn("b", _bucket_of("k", 8)).first().b == b7
    }
    files = m3["buckets"][str(b7)]
    physical = {
        r.k
        for r in _read_files_aligned(
            spark, files, m3["columns"], m3["column_types"]
        ).collect()
    }
    assert 7 in physical and physical.isdisjoint(dead_in_b7)
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows[7] == "u7" and 8 not in rows and 9 not in rows


@pytest.mark.parametrize("how", ["mor", "dv"])
def test_deletes_apply_on_every_pruned_read_face(spark, tmp_path, how):
    """Every pruned read (range / between / point / is_null) applies the
    pending deletes of both representations — MOR equality-delete
    sidecars and positional deletion vectors — so a stats- or
    bloom-pruned scan never leaks a deleted row."""
    from assignment4_spark.operators.lakehouse import (
        delete_keys_dv,
        delete_keys_mor,
        init_table,
    )

    base = str(tmp_path / f"{how}_pruned")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        (F.col("id") * 1.0).alias("x"),
        F.concat(F.lit("u"), F.col("id")).alias("tag"),
        F.when(F.col("id") == 50, None).otherwise(F.col("id")).alias("maybe"),
    )
    init_table(
        df, base, key_col="k", n_buckets=4, cluster_col="x",
        bloom_col="tag",
    )
    delete = delete_keys_mor if how == "mor" else delete_keys_dv
    delete(spark, base, spark.createDataFrame([(50,)], "k long"))
    for where in (("range", 40.0, 60.0), ("between", "x", 40.0, 60.0)):
        got = {r.k for r in read_snapshot(spark, base, where=where).collect()}
        assert got == set(range(40, 61)) - {50}, where
    assert read_snapshot(spark, base, where=("point", "u50")).count() == 0
    assert read_snapshot(spark, base, where=("is_null", "maybe")).count() == 0


def test_read_job_counts_pinned(spark, tmp_path):
    """Job-count pin for every read kind: ``.count()`` of a plain,
    between, range, is_null and point read of a small clustered,
    bloom-indexed table with one pending DV sidecar launches exactly
    these Spark jobs, counted per job group the way
    scripts/count_jobs.py counts an op — a perf gate that timing noise
    cannot fake. The point read's extra job is the 1-row job hashing
    the probe into its Bloom bit positions."""
    import uuid

    from assignment4_spark.operators.lakehouse import (
        delete_keys_dv,
        init_table,
    )

    base = str(tmp_path / "jobpin")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        (F.col("id") * 1.0).alias("x"),
        F.concat(F.lit("u"), F.col("id")).alias("tag"),
        F.when(F.col("id") % 50 == 0, None)
        .otherwise(F.col("id"))
        .alias("maybe"),
    )
    init_table(
        df, base, key_col="k", n_buckets=4, cluster_col="x",
        bloom_col="tag",
    )
    delete_keys_dv(spark, base, spark.createDataFrame([(60,)], "k long"))
    want = {
        None: (5, 199),
        ("between", "x", 40.0, 70.0): (5, 30),
        ("range", 40.0, 70.0): (5, 30),
        ("is_null", "maybe"): (5, 4),
        ("point", "u61"): (6, 1),
    }
    sc = spark.sparkContext
    got = {}
    for where in want:
        group = f"read-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, str(where))
        try:
            n = read_snapshot(spark, base, where=where).count()
        finally:
            sc.setJobGroup(None, None)
        got[where] = (len(sc.statusTracker().getJobIdsForGroup(group)), n)
    assert got == want


def test_mor_vacuum_retention_of_sidecars(spark, tmp_path):
    """Delete sidecars live like data files under retention: kept
    versions' sidecars survive vacuum; expired-only sidecars are
    reclaimed; a post-rewrite vacuum reclaims the applied sidecars."""
    import os

    from assignment4_spark.operators.lakehouse import (
        _mor_delete_files,
        delete_keys_mor,
        vacuum,
    )

    base = _mk_table(spark, tmp_path, n=60)
    delete_keys_mor(spark, base, spark.createDataFrame([(3,)], "k long"))
    m2 = load_manifest(base)
    sidecars = _mor_delete_files(m2)
    assert sidecars
    merge_upsert_manifest(base, _upd(spark, [40], 2, "u"), "ver", "payload")
    vacuum(base, keep_last=2)  # keeps v2+v3; v2's sidecars still live
    assert all(os.path.exists(f) for f in sidecars)
    rows = {r.k for r in read_snapshot(spark, base).collect()}
    assert 3 not in rows
    # rebucket applies EVERY pending delete and clears all sidecars;
    # the next vacuum (expiring the pre-rewrite versions) reclaims them
    from assignment4_spark.operators.lakehouse import rebucket_table

    rebucket_table(spark, base, 16)
    assert load_manifest(base).get("delete_files") in (None, {})
    vacuum(base, keep_last=1)
    assert all(not os.path.exists(f) for f in sidecars)
    rows = {r.k for r in read_snapshot(spark, base).collect()}
    assert 3 not in rows and 40 in rows


def test_mor_optimize_applies_pending_deletes(spark, tmp_path):
    """OPTIMIZE of a fragmented bucket with pending MOR deletes keeps
    visible rows byte-identical, clears the bucket's sidecars, and the
    pre/post CDF still diffs empty."""
    from assignment4_spark.operators.lakehouse import (
        changes_between,
        delete_keys_mor,
        optimize_compact,
    )

    base = _mk_table(spark, tmp_path, n=100)
    merge_upsert_manifest(
        base, _upd(spark, list(range(0, 100, 2)), 2, "u"),
        "ver", "payload", write_salt=4,
    )
    delete_keys_mor(
        spark, base, spark.createDataFrame([(2,), (4,)], "k long")
    )
    pre = sorted(
        (r.k, r.ver, r.payload) for r in read_snapshot(spark, base).collect()
    )
    out = optimize_compact(spark, base, max_files_per_bucket=1)
    assert out["version"] == 4
    assert load_manifest(base).get("delete_files") in (None, {})
    post = sorted(
        (r.k, r.ver, r.payload) for r in read_snapshot(spark, base).collect()
    )
    assert post == pre and all(k not in (2, 4) for k, _, _ in post)
    assert changes_between(spark, base, 3, 4).count() == 0


def test_mor_cdf_surfaces_delete_without_file_churn(spark, tmp_path):
    """changes_between must detect a MOR delete commit even though NO
    data file changed — the sidecar diff is the change signal."""
    from assignment4_spark.operators.lakehouse import (
        changes_between,
        delete_keys_mor,
    )

    base = _mk_table(spark, tmp_path, n=50)
    delete_keys_mor(
        spark, base, spark.createDataFrame([(10,), (11,)], "k long")
    )
    feed = changes_between(spark, base, 1, 2).collect()
    assert {r.k for r in feed} == {10, 11}
    assert all(r.change_type == "delete" for r in feed)


def test_null_pruning_conservative_and_exact(spark, tmp_path):
    """IS NULL pruning: zero-null files skip, files with holes keep,
    stats-less/all-null files keep conservatively; the read's rows
    equal the unpruned filter exactly, and MOR deletes still apply."""
    from assignment4_spark.operators.lakehouse import (
        delete_keys_mor,
        init_table,
        plan_files,
        read_snapshot_null,
    )

    base = str(tmp_path / "nulltbl")
    df = spark.range(120).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        F.when(F.col("id") % 40 == 0, None)
        .otherwise(F.concat(F.lit("v"), F.col("id")))
        .alias("attr"),
        F.lit(None).cast("double").alias("allnull"),
    )
    init_table(df, base, key_col="k", n_buckets=6)
    m = load_manifest(base)
    kept, skipped = plan_files(spark, m, ("is_null", "attr"))
    got = {r.k for r in read_snapshot_null(spark, base, "attr").collect()}
    assert got == {0, 40, 80}
    # all-null column: no stats entry → every file kept, all rows out
    k2, s2 = plan_files(spark, m, ("is_null", "allnull"))
    assert s2 == []
    assert read_snapshot_null(spark, base, "allnull").count() == 120
    # MOR delete applies on the audit read too
    delete_keys_mor(spark, base, spark.createDataFrame([(40,)], "k long"))
    got = {r.k for r in read_snapshot_null(spark, base, "attr").collect()}
    assert got == {0, 80}


def test_drop_column_guards_and_readd(spark, tmp_path):
    """DROP COLUMN: structural columns refuse; a later evolving merge
    re-adds the name as a FRESH column (NULL for untouched rows —
    Delta re-add semantics); the dropped column's per-file stats go
    with it so the re-added column's stats cannot alias stale bounds."""
    from assignment4_spark.operators.lakehouse import drop_column

    base = str(tmp_path / "droptbl")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        (F.col("id") * 1.0).alias("x"),
        F.concat(F.lit("old"), F.col("id")).alias("attr"),
    )
    from assignment4_spark.operators.lakehouse import init_table

    init_table(df, base, key_col="k", n_buckets=4, cluster_col="x")
    with pytest.raises(ValueError, match="structural"):
        drop_column(base, "k")
    with pytest.raises(ValueError, match="structural"):
        drop_column(base, "x")
    with pytest.raises(ValueError, match="not in table schema"):
        drop_column(base, "nope")
    drop_column(base, "attr")
    m = load_manifest(base)
    assert all("attr" not in d for d in m["column_stats"].values())
    # re-add via evolving merge: fresh column, NULL for old rows
    upd = spark.createDataFrame(
        [(1, 2, 2.0, "fresh")], "k long, ver int, x double, attr string"
    )
    merge_upsert_manifest(base, upd, "ver", "x", evolve_schema=True)
    rows = {r.k: r.attr for r in read_snapshot(spark, base).collect()}
    assert rows[1] == "fresh" and rows[2] is None


def test_optimize_coalesces_mor_sidecars(spark, tmp_path):
    """N tiny MOR-delete commits pile up N sidecar parquets per touched
    bucket; OPTIMIZE must fold them to <= 1 per bucket (the read-side
    anti-join fan-in stays O(buckets), not O(delete commits)) with
    byte-identical visible rows and an EMPTY change feed — and stay a
    no-op when there is nothing to pack or coalesce."""
    from assignment4_spark.operators.lakehouse import (
        changes_between,
        delete_keys_mor,
        optimize_compact,
    )

    base = _mk_table(spark, tmp_path, n=200, n_buckets=4)
    for k in (3, 7, 11, 15, 19):
        delete_keys_mor(
            spark, base, spark.createDataFrame([(k,)], "k long")
        )
    m = load_manifest(base)
    assert sum(len(fs) for fs in m["delete_files"].values()) >= 5
    multi = [b for b, fs in m["delete_files"].items() if len(fs) > 1]
    assert multi, "fixture must pile >1 sidecar on some bucket"
    before = {
        r.k: (r.ver, r.payload)
        for r in read_snapshot(spark, base).collect()
    }
    assert len(before) == 195

    res = optimize_compact(spark, base)
    assert sorted(res["sidecars_coalesced"]) == sorted(int(b) for b in multi)
    m2 = load_manifest(base)
    assert all(len(fs) <= 1 for fs in (m2.get("delete_files") or {}).values())
    after = {
        r.k: (r.ver, r.payload)
        for r in read_snapshot(spark, base).collect()
    }
    assert after == before, "sidecar coalesce changed visible rows"
    assert (
        changes_between(
            spark, base, res["version"] - 1, res["version"]
        ).count()
        == 0
    ), "metadata-only coalesce must produce an empty CDF"
    # idempotent: nothing left to do -> no new commit
    res2 = optimize_compact(spark, base)
    assert res2["version"] == res["version"]
    assert res2["sidecars_coalesced"] == []
    # the deletes still apply after coalesce + a later rewrite clears
    merge_upsert_manifest(base, _upd(spark, [3], 2, "back"), "ver", "payload")
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows[3] == "back3" and 7 not in rows and len(rows) == 196


def test_epoch_guard_is_manifest_backed_not_name_parsed(spark, tmp_path):
    """The column-epoch guard must read birth versions from the
    manifest's ``file_versions`` records, NEVER from the staging-
    directory name: (a) a file group under an arbitrary, pattern-free
    directory name still NULLs old-epoch bytes when the manifest says
    so; (b) an epoch-evolved read with NO file_versions entry raises
    loudly instead of silently trusting physical bytes (VERDICT r10
    item 3 — a rename degrading the guard re-opens the fuzz-caught
    stale-byte-resurrection class)."""
    import os as _os

    from assignment4_spark.operators.lakehouse import _read_files_aligned

    # stage a parquet file under a name _staging_path would never emit
    gdir = str(tmp_path / "relocated-data" / "bucket=0")
    _os.makedirs(gdir)
    spark.createDataFrame(
        [(1, 1, "stale")], "k long, ver int, attr string"
    ).coalesce(1).write.mode("overwrite").parquet(gdir)
    f = [
        _os.path.join(gdir, x)
        for x in _os.listdir(gdir)
        if x.endswith(".parquet")
    ]
    assert len(f) == 1
    cols = ["k", "ver", "attr"]
    types = {"k": "bigint", "ver": "int", "attr": "string"}
    epochs = {"k": 1, "ver": 1, "attr": 3}  # attr re-added at v3

    # (a) manifest says the group was born at v1 -> attr is the
    # DROPPED incarnation's bytes and must read NULL
    rows = _read_files_aligned(
        spark, f, cols, types, epochs, {f[0]: 1}
    ).collect()
    assert rows[0].attr is None, "old-epoch bytes leaked through"
    # ...born at v3 -> same-named bytes are the fresh incarnation
    rows = _read_files_aligned(
        spark, f, cols, types, epochs, {f[0]: 3}
    ).collect()
    assert rows[0].attr == "stale"

    # (b) no recorded birth version on an epoch-evolved table: loud
    with pytest.raises(ValueError, match="file_versions"):
        _read_files_aligned(spark, f, cols, types, epochs, None)
    # inert guard (never-evolved table): no records needed
    rows = _read_files_aligned(
        spark, f, cols, types, {c: 1 for c in cols}, None
    ).collect()
    assert rows[0].attr == "stale"


def test_file_versions_recorded_and_carried(spark, tmp_path):
    """Every commit path records per-file birth versions covering
    exactly the manifest's referenced files: init stamps v1, a merge
    stamps only its rewritten buckets' files at the new version and
    carries untouched entries verbatim."""
    base = _mk_table(spark, tmp_path, n=200, n_buckets=8)
    m1 = load_manifest(base)
    files1 = {f for fs in m1["buckets"].values() for f in fs}
    assert set(m1["file_versions"]) == files1
    assert set(m1["file_versions"].values()) == {1}

    merge_upsert_manifest(base, _upd(spark, [7], 2, "u"), "ver", "payload")
    m2 = load_manifest(base)
    files2 = {f for fs in m2["buckets"].values() for f in fs}
    assert set(m2["file_versions"]) == files2
    fresh = files2 - files1
    assert fresh and all(m2["file_versions"][f] == 2 for f in fresh)
    for f in files2 & files1:
        assert m2["file_versions"][f] == 1


@pytest.mark.parametrize(
    "seed",
    [pytest.param(11, marks=pytest.mark.slow), 42, 1337],
)
def test_protocol_model_fuzz(spark, tmp_path, seed):
    """Model-based fuzz of the full commit-protocol interaction matrix:
    a seeded random sequence of MERGE / tombstone-DELETE / MOR-DELETE /
    OPTIMIZE / REBUCKET / DROP+re-add / VACUUM steps runs against both
    the real table and a 40-line in-memory model of the declared
    semantics; after EVERY step the visible snapshot must equal the
    model exactly. Individual tests pin each pairwise interaction —
    this pins the whole matrix (e.g. a MOR delete pending across a
    rebucket that follows a tombstone compact after a column drop)."""
    import random

    import copy

    from assignment4_spark.operators.lakehouse import (
        _PER_COMMIT_KEYS,
        TOMBSTONE_COL,
        delete_keys_dv,
        delete_keys_mor,
        drop_column,
        init_table,
        optimize_compact,
        plan_files,
        rebucket_table,
        replace_where_range,
        restore_table,
        table_history,
        vacuum,
    )

    rng = random.Random(seed)
    base = str(tmp_path / "fuzz_tbl")
    keys = list(range(60))

    # model: k -> dict(ver=..., attr=..., dead=bool). Latest-wins on
    # ver (vers strictly increase per step, so no tiebreak ambiguity);
    # a tombstone row is a versioned row (guards lower-ver stragglers);
    # a MOR delete removes the current row NOW with no guard.
    model: dict[int, dict] = {
        k: {"ver": 1, "attr": f"a{k}", "dead": False} for k in keys
    }
    seed_df = spark.createDataFrame(
        [(k, 1, f"a{k}", False) for k in keys],
        f"k long, ver int, attr string, {TOMBSTONE_COL} boolean",
    )
    init_table(seed_df, base, key_col="k", n_buckets=8)
    attr_live = True  # is the attr column currently in the schema?
    ver = 1
    # per-committed-version model snapshots: the RESTORE arm jumps the
    # model (and the live column set) back to exactly what the target
    # version recorded — time travel composed with every other op
    hist = {1: (copy.deepcopy(model), attr_live)}

    def batch(rows):
        cols = (
            f"k long, ver int, attr string, {TOMBSTONE_COL} boolean"
            if attr_live
            else f"k long, ver int, {TOMBSTONE_COL} boolean"
        )
        return spark.createDataFrame(rows, cols)

    # the pruned-read arm draws from its own stream so the op sequence
    # stays the one each seed always produced
    where_rng = random.Random(seed + 1)

    def check(step):
        def rows(where=None):
            return {
                r.k: (r.ver, (r.attr if attr_live else None))
                for r in read_snapshot(spark, base, where=where).collect()
            }

        want = {
            k: (v["ver"], (v["attr"] if attr_live else None))
            for k, v in model.items()
            if not v["dead"]
        }
        got = rows()
        assert got == want, (
            f"seed={seed} step={step}: snapshot diverged from model\n"
            f"extra={set(got) - set(want)} missing={set(want) - set(got)}"
        )
        # one pruned read per step, against the model under the same
        # predicate; its plan must partition the manifest's files
        if attr_live and where_rng.random() < 0.5:
            where = ("is_null", "attr")
            want = {k: v for k, v in want.items() if v[1] is None}
        else:
            lo = where_rng.randint(1, ver)
            hi = lo + where_rng.randint(0, 3)
            where = ("between", "ver", lo, hi)
            want = {k: v for k, v in want.items() if lo <= v[0] <= hi}
        m = load_manifest(base)
        kept, skipped = plan_files(spark, m, where)
        files = [f for fs in m["buckets"].values() for f in fs]
        assert set(kept) | set(skipped) == set(files), (seed, step, where)
        assert not set(kept) & set(skipped), (seed, step, where)
        assert rows(where) == want, (
            f"seed={seed} step={step}: pruned read {where} diverged"
        )

    for step in range(18):
        op = rng.choice(
            ["merge", "merge", "tomb", "mor", "dv", "optimize",
             "rebucket", "dropadd", "vacuum", "restore", "replace"]
        )
        ver += 1
        head = latest_version(base)
        if op == "merge":
            ks = rng.sample(keys, rng.randint(1, 10))
            rows = [
                (k, ver, *((f"s{step}k{k}",) if attr_live else ()), False)
                for k in ks
            ]
            merge_upsert_manifest(base, batch(rows), "ver", TOMBSTONE_COL)
            for k in ks:
                cur = model.get(k)
                if cur is None or ver >= cur["ver"]:
                    model[k] = {
                        "ver": ver,
                        "attr": f"s{step}k{k}" if attr_live else None,
                        "dead": False,
                    }
        elif op == "tomb":
            ks = rng.sample(keys, rng.randint(1, 4))
            rows = [
                (k, ver, *((None,) if attr_live else ()), True) for k in ks
            ]
            merge_upsert_manifest(base, batch(rows), "ver", TOMBSTONE_COL)
            for k in ks:
                cur = model.get(k)
                if cur is None or ver >= cur["ver"]:
                    model[k] = {"ver": ver, "attr": None, "dead": True}
        elif op == "mor":
            ks = rng.sample(keys, rng.randint(1, 5))
            delete_keys_mor(
                spark, base, spark.createDataFrame([(k,) for k in ks], "k long")
            )
            for k in ks:
                model.pop(k, None)
        elif op == "dv":
            ks = rng.sample(keys, rng.randint(1, 5))
            delete_keys_dv(
                spark, base, spark.createDataFrame([(k,) for k in ks], "k long")
            )
            for k in ks:
                # a DV deletes the key's VISIBLE row; a tombstoned
                # key has none, so its (hidden, guarding) row persists
                cur = model.get(k)
                if cur is not None and not cur["dead"]:
                    model.pop(k)
        elif op == "optimize":
            optimize_compact(spark, base, max_files_per_bucket=1)
        elif op == "rebucket":
            rebucket_table(spark, base, rng.choice([4, 8, 16]))
        elif op == "dropadd":
            if attr_live:
                drop_column(base, "attr")
                attr_live = False
                for v in model.values():
                    v["attr"] = None
            else:
                # re-add via evolving merge: fresh column, NULL for
                # every row this batch does not touch
                ks = rng.sample(keys, 3)
                rows = [(k, ver, f"re{step}k{k}", False) for k in ks]
                merge_upsert_manifest(
                    base,
                    spark.createDataFrame(
                        rows,
                        "k long, ver int, attr string, "
                        f"{TOMBSTONE_COL} boolean",
                    ),
                    "ver", TOMBSTONE_COL, evolve_schema=True,
                )
                attr_live = True
                for k, v in model.items():
                    v["attr"] = None
                for k in ks:
                    cur = model.get(k)
                    if cur is None or ver >= cur["ver"]:
                        model[k] = {
                            "ver": ver, "attr": f"re{step}k{k}",
                            "dead": False,
                        }
        elif op == "replace":
            # slice on the KEY itself: containment/conflict-free by
            # construction; a random subset of slice keys is recomputed
            # and the rest of the slice's LIVE rows vanish; tombstoned
            # slice rows survive as guards (dead entries keep)
            a = rng.randint(0, 50)
            b_hi = a + rng.randint(2, 9)
            cand = [k for k in keys if a <= k <= b_hi]
            chosen = [k for k in cand if rng.random() < 0.6]
            rows = [
                (k, ver, *((f"r{step}k{k}",) if attr_live else ()), False)
                for k in chosen
            ]
            replace_where_range(
                spark, base, "k", a, b_hi, batch(rows)
            )
            for k in cand:
                cur = model.get(k)
                if cur is not None and not cur["dead"]:
                    del model[k]
            for k in chosen:
                cur = model.get(k)
                if cur is None or ver >= cur["ver"]:
                    model[k] = {
                        "ver": ver,
                        "attr": f"r{step}k{k}" if attr_live else None,
                        "dead": False,
                    }
        elif op == "vacuum":
            vacuum(base, keep_last=rng.choice([1, 2]))
        elif op == "restore":
            cur = latest_version(base)
            retained = [
                h["version"] for h in table_history(base)
                if h["version"] < cur and h["version"] in hist
            ]
            if retained:
                target = rng.choice(retained)
                restore_table(base, target)
                model = copy.deepcopy(hist[target][0])
                attr_live = hist[target][1]
        # the new head is stamped with this step's kind and writer, and
        # carries no per-commit record it did not set itself
        m = load_manifest(base)
        if m["version"] == head:
            assert op in ("vacuum", "optimize", "rebucket", "restore"), (
                f"seed={seed} step={step}: {op} did not commit"
            )
        else:
            kind = {
                "merge": "merge", "tomb": "merge", "mor": "delete",
                "dv": "delete", "optimize": "optimize",
                "rebucket": "rebucket", "replace": "replace",
                "restore": "restore",
                "dropadd": "merge" if attr_live else "evolve",
            }[op]
            assert (m["commit_kind"], m["writer_id"]) == (kind, "w0"), (
                f"seed={seed} step={step}: {op} stamped "
                f"{m['commit_kind']!r}/{m['writer_id']!r}"
            )
            own = ("restored_from",) if op == "restore" else ()
            leaked = [k for k in _PER_COMMIT_KEYS if k in m and k not in own]
            assert not leaked, f"seed={seed} step={step}: {op} leaked {leaked}"
        hist[latest_version(base)] = (copy.deepcopy(model), attr_live)
        check(step)


@pytest.mark.parametrize(
    "seed",
    [
        7,
        pytest.param(23, marks=pytest.mark.slow),
        pytest.param(4242, marks=pytest.mark.slow),
    ],
)
def test_protocol_two_writer_fuzz(spark, tmp_path, seed):
    """Two-writer CAS-race fuzz: every step, writer A (merge / tombstone
    / PATCH / MOR delete / OPTIMIZE) starts a commit and writer B
    (merge / tombstone / MOR delete) commits INSIDE A's pre-CAS window
    via the before_commit seam — forcing A to lose and rebase.
    Declared semantics: the outcome equals SERIAL B-then-A (the rebase
    re-pins, re-reads, and re-derives patch carries against B's
    state), and under isolation='serializable' an overlapping-key loss
    ABORTS A with only B's commit applied. The pairwise conflict tests
    pin individual races; this pins the matrix (e.g. a PATCH racing a
    tombstone of its carry row, a MOR delete racing an OPTIMIZE that
    coalesces the sidecar it is appending next to)."""
    import random

    from assignment4_spark.operators.lakehouse import (
        TOMBSTONE_COL,
        SerializationConflictError,
        delete_keys_dv,
        delete_keys_mor,
        init_table,
        optimize_compact,
        replace_where_range,
    )

    rng = random.Random(seed)
    base = str(tmp_path / "fuzz2w")
    keys = list(range(50))
    model: dict[int, dict] = {
        k: {"ver": 1, "attr": f"a{k}", "val": float(k), "dead": False}
        for k in keys
    }
    seed_df = spark.createDataFrame(
        [(k, 1, f"a{k}", float(k), False) for k in keys],
        f"k long, ver int, attr string, val double, {TOMBSTONE_COL} boolean",
    )
    init_table(seed_df, base, key_col="k", n_buckets=8)
    ver = 1
    SCHEMA = (
        f"k long, ver int, attr string, val double, {TOMBSTONE_COL} boolean"
    )

    def apply_merge(m, rows):
        # latest-wins fold of full rows (k, ver, attr, val, dead)
        for k, v, attr, val, dead in rows:
            cur = m.get(k)
            if cur is None or v >= cur["ver"]:
                m[k] = {"ver": v, "attr": attr, "val": val, "dead": dead}

    def apply_patch(m, rows):
        # (k, ver, val): live upsert patching val, carrying attr from
        # the VISIBLE row (None when the key is absent or tombstoned)
        for k, v, val in rows:
            cur = m.get(k)
            carry = (
                cur["attr"] if cur is not None and not cur["dead"] else None
            )
            if cur is None or v >= cur["ver"]:
                m[k] = {"ver": v, "attr": carry, "val": val, "dead": False}

    def apply_mor(m, ks):
        for k in ks:
            m.pop(k, None)

    def apply_dv(m, ks):
        for k in ks:
            cur = m.get(k)
            if cur is not None and not cur["dead"]:
                m.pop(k)

    def run_b(bop, bver, bks):
        """Writer B's plain commit + its model application."""
        if bop == "b_merge":
            rows = [(k, bver, f"b{bver}k{k}", k + 0.5, False) for k in bks]
            merge_upsert_manifest(
                base, spark.createDataFrame(rows, SCHEMA),
                "ver", TOMBSTONE_COL, writer_id="B",
            )
            apply_merge(model, rows)
        elif bop == "b_tomb":
            rows = [(k, bver, None, None, True) for k in bks]
            merge_upsert_manifest(
                base, spark.createDataFrame(rows, SCHEMA),
                "ver", TOMBSTONE_COL, writer_id="B",
            )
            apply_merge(model, rows)
        elif bop == "b_mor":
            delete_keys_mor(
                spark, base,
                spark.createDataFrame([(k,) for k in bks], "k long"),
                writer_id="B",
            )
            apply_mor(model, bks)
        else:  # b_dv
            delete_keys_dv(
                spark, base,
                spark.createDataFrame([(k,) for k in bks], "k long"),
                writer_id="B",
            )
            apply_dv(model, bks)

    def check(step):
        got = {
            r.k: (r.ver, r.attr, r.val)
            for r in read_snapshot(spark, base).collect()
        }
        want = {
            k: (v["ver"], v["attr"], v["val"])
            for k, v in model.items()
            if not v["dead"]
        }
        assert got == want, (
            f"seed={seed} step={step}: diverged\n"
            f"extra={set(got) - set(want)} missing={set(want) - set(got)}\n"
            f"diffs={ {k: (got.get(k), want.get(k)) for k in (set(got) | set(want)) if got.get(k) != want.get(k)} }"
        )

    for step in range(10):
        aop = rng.choice(["a_merge", "a_tomb", "a_patch", "a_mor",
                          "a_dv", "a_optimize", "a_serial", "a_replace"])
        bop = rng.choice(["b_merge", "b_tomb", "b_mor", "b_dv"])
        bks = rng.sample(keys, rng.randint(1, 6))
        double = rng.random() < 0.3  # occasionally force TWO losses
        bks2 = rng.sample(keys, rng.randint(1, 4)) if double else []
        bver = ver + 1
        bver2 = ver + 2 if double else None
        aver = ver + (3 if double else 2)
        ver = aver
        fired = []

        def interleave(attempt):
            if attempt == 0:
                fired.append(0)
                run_b(bop, bver, bks)
            elif attempt == 1 and double:
                fired.append(1)
                run_b("b_merge", bver2, bks2)

        if aop == "a_merge":
            aks = rng.sample(keys, rng.randint(1, 8))
            rows = [(k, aver, f"A{aver}k{k}", k + 0.25, False) for k in aks]
            merge_upsert_manifest(
                base, spark.createDataFrame(rows, SCHEMA),
                "ver", TOMBSTONE_COL, writer_id="A",
                before_commit=interleave,
            )
            apply_merge(model, rows)
        elif aop == "a_tomb":
            aks = rng.sample(keys, rng.randint(1, 3))
            rows = [(k, aver, None, None, True) for k in aks]
            merge_upsert_manifest(
                base, spark.createDataFrame(rows, SCHEMA),
                "ver", TOMBSTONE_COL, writer_id="A",
                before_commit=interleave,
            )
            apply_merge(model, rows)
        elif aop == "a_patch":
            aks = rng.sample(keys, rng.randint(1, 5))
            rows = [(k, aver, k + 0.125) for k in aks]
            merge_upsert_manifest(
                base,
                spark.createDataFrame(rows, "k long, ver int, val double")
                .withColumn(TOMBSTONE_COL, F.lit(None).cast("boolean"))
                .select("k", "ver", TOMBSTONE_COL, "val"),
                "ver", TOMBSTONE_COL, writer_id="A",
                before_commit=interleave, patch_cols=["val"],
            )
            # the rebase re-derives the carry against B's state: B ran
            # first in the serial order, so apply B's model before A's
            apply_patch(model, rows)
        elif aop == "a_mor":
            aks = rng.sample(keys, rng.randint(1, 5))
            delete_keys_mor(
                spark, base,
                spark.createDataFrame([(k,) for k in aks], "k long"),
                writer_id="A", before_commit=interleave,
            )
            apply_mor(model, aks)
        elif aop == "a_dv":
            aks = rng.sample(keys, rng.randint(1, 5))
            delete_keys_dv(
                spark, base,
                spark.createDataFrame([(k,) for k in aks], "k long"),
                writer_id="A", before_commit=interleave,
            )
            apply_dv(model, aks)
        elif aop == "a_optimize":
            optimize_compact(
                spark, base, max_files_per_bucket=1,
                before_commit=interleave,
            )
        elif aop == "a_replace":
            # slice on the key (conflict-free); the rebase after B's
            # interleaved commit must re-plan pruning and re-read the
            # slice against B's state — serial model: B, then replace
            a = rng.randint(0, 40)
            b_hi = a + rng.randint(2, 8)
            chosen = [
                k for k in keys if a <= k <= b_hi and rng.random() < 0.6
            ]
            rows = [
                (k, aver, f"R{aver}k{k}", k + 0.5, False) for k in chosen
            ]
            replace_where_range(
                spark, base, "k", a, b_hi,
                spark.createDataFrame(rows, SCHEMA),
                before_commit=interleave,
            )
            for k in [k for k in keys if a <= k <= b_hi]:
                cur = model.get(k)
                if cur is not None and not cur["dead"]:
                    del model[k]
            for k, v, attr, val, dead in rows:
                cur = model.get(k)
                if cur is None or v >= cur["ver"]:
                    model[k] = {
                        "ver": v, "attr": attr, "val": val, "dead": dead,
                    }
        elif aop == "a_serial":
            # serializable MERGE racing B: the conflict gate is a
            # LOGICAL diff, so the expected outcome derives from the
            # model — A aborts iff some key whose VISIBLE state B's
            # commit(s) actually changed intersects A's keys (a
            # delete of an already-hidden key or a re-tombstone
            # changes nothing and must not conflict)
            aks = rng.sample(keys, rng.randint(1, 6))
            rows = [(k, aver, f"S{aver}k{k}", k + 0.75, False) for k in aks]

            def vis():
                return {
                    k: (v["ver"], v["attr"], v["val"])
                    for k, v in model.items()
                    if not v["dead"]
                }

            vis_pre = vis()
            try:
                merge_upsert_manifest(
                    base, spark.createDataFrame(rows, SCHEMA),
                    "ver", TOMBSTONE_COL, writer_id="A",
                    before_commit=interleave, isolation="serializable",
                )
                committed = True
            except SerializationConflictError:
                committed = False
            vis_post = vis()  # model now carries B's effect, not A's
            changed = {
                k
                for k in set(vis_pre) | set(vis_post)
                if vis_pre.get(k) != vis_post.get(k)
            }
            overlap = changed & set(aks)
            assert committed == (not overlap), (
                f"seed={seed} step={step}: serializable outcome "
                f"committed={committed} but overlap={sorted(overlap)}"
            )
            if committed:
                apply_merge(model, rows)
        # an OPTIMIZE with nothing to pack or coalesce early-returns
        # without opening a CAS window (and a mid-retry re-pin can find
        # its work gone) — any unfired B commit then just runs serially
        # after A; for every other arm B must have fired inside A's
        # window. Model outcomes agree because optimize is identity.
        if aop != "a_optimize":
            assert fired == ([0, 1] if double else [0]), (
                f"seed={seed} step={step} aop={aop}: B fired {fired}"
            )
        if 0 not in fired:
            run_b(bop, bver, bks)
        if double and 1 not in fired:
            run_b("b_merge", bver2, bks2)
        check(step)


def test_dv_delete_contract(spark, tmp_path):
    """Positional deletion vectors: the commit touches ZERO data files
    (byte-identical bucket map), hides the keys from every read, CDFs
    as pure deletes, stacks across commits, resurrects on later insert
    (no straggler guard — the documented MOR-family semantics), and a
    bucket rewrite applies its pending vectors physically and clears
    them while untouched buckets keep theirs."""
    from assignment4_spark.operators.lakehouse import (
        _bucket_of,
        changes_between,
        delete_keys_dv,
        table_history,
    )

    base = _mk_table(spark, tmp_path, n=100, n_buckets=8)
    m1 = load_manifest(base)
    v, tries = delete_keys_dv(
        spark, base, spark.createDataFrame([(7,), (8,), (9,), (500,)], "k long")
    )
    assert (v, tries) == (2, 1)
    m2 = load_manifest(base)
    assert m2["buckets"] == m1["buckets"], "data files must be untouched"
    assert m2.get("dv_files"), "bitmap sidecars must be recorded"
    assert table_history(base)[-1]["kind"] == "delete"
    rows = {r.k for r in read_snapshot(spark, base).collect()}
    assert len(rows) == 97 and not {7, 8, 9} & rows
    d = {
        r.k: r.change_type
        for r in changes_between(spark, base, 1, 2).collect()
    }
    assert d == {7: "delete", 8: "delete", 9: "delete"}, d

    # stacking: a second DV commit; deleting an already-hidden key is
    # a no-op at read time
    delete_keys_dv(spark, base, spark.createDataFrame([(9,), (10,)], "k long"))
    rows = {r.k for r in read_snapshot(spark, base).collect()}
    assert len(rows) == 96 and 10 not in rows

    # rewrite absorption + resurrect: merging key 7 re-inserts it (the
    # new row lives in a file no vector references) and clears its
    # bucket's vectors; other buckets' vectors keep applying
    merge_upsert_manifest(base, _upd(spark, [7], 2, "back"), "ver", "payload")
    m4 = load_manifest(base)
    b7 = (
        spark.range(1)
        .select(F.lit(7).cast("long").alias("k"))
        .withColumn("b", _bucket_of("k", 8))
        .first()
        .b
    )
    assert str(b7) not in (m4.get("dv_files") or {})
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows[7] == "back7"
    others = {
        k
        for k in (8, 9, 10)
        if spark.range(1)
        .select(F.lit(k).cast("long").alias("k"))
        .withColumn("b", _bucket_of("k", 8))
        .first()
        .b
        != b7
    }
    assert others.isdisjoint(rows), f"leaked through rewrite: {others & set(rows)}"


def test_optimize_coalesces_dv_sidecars(spark, tmp_path):
    """N tiny DV commits pile up N bitmap sidecars per touched bucket;
    OPTIMIZE folds them to <= 1 per bucket by bit_or over (file, word)
    slots — identical visible rows, empty CDF, and the vectors still
    apply afterwards."""
    from assignment4_spark.operators.lakehouse import (
        changes_between,
        delete_keys_dv,
        optimize_compact,
    )

    base = _mk_table(spark, tmp_path, n=200, n_buckets=4)
    for k in (3, 7, 11, 15, 19):
        delete_keys_dv(
            spark, base, spark.createDataFrame([(k,)], "k long")
        )
    m = load_manifest(base)
    multi = [b for b, fs in m["dv_files"].items() if len(fs) > 1]
    assert multi, "fixture must pile >1 DV sidecar on some bucket"
    before = {
        r.k: (r.ver, r.payload)
        for r in read_snapshot(spark, base).collect()
    }
    assert len(before) == 195

    res = optimize_compact(spark, base)
    assert sorted(res["dv_coalesced"]) == sorted(int(b) for b in multi)
    m2 = load_manifest(base)
    assert all(len(fs) <= 1 for fs in (m2.get("dv_files") or {}).values())
    after = {
        r.k: (r.ver, r.payload)
        for r in read_snapshot(spark, base).collect()
    }
    assert after == before
    assert (
        changes_between(
            spark, base, res["version"] - 1, res["version"]
        ).count()
        == 0
    )
    res2 = optimize_compact(spark, base)
    assert res2["version"] == res["version"] and res2["dv_coalesced"] == []


def test_version_as_of_timestamp_resolution(spark, tmp_path):
    """TIMESTAMP AS OF: every commit stamps committed_at at the
    publish choke point (clone/restore cannot carry a source stamp);
    resolution returns the latest version at-or-before the probe,
    raises before the oldest RETAINED commit, and vacuum moves that
    boundary forward (expired history is unresolvable — the retention
    contract)."""
    import time as _t

    from assignment4_spark.operators.lakehouse import (
        clone_table,
        load_manifest,
        vacuum,
        version_as_of,
    )

    base = _mk_table(spark, tmp_path, n=40, n_buckets=4)
    merge_upsert_manifest(base, _upd(spark, [3], 2, "u"), "ver", "payload")
    merge_upsert_manifest(base, _upd(spark, [4], 3, "w"), "ver", "payload")
    stamps = {
        v: load_manifest(base, v)["committed_at"] for v in (1, 2, 3)
    }
    assert stamps[1] <= stamps[2] <= stamps[3]
    assert version_as_of(base, stamps[1]) == 1
    assert version_as_of(base, stamps[3]) == 3
    assert version_as_of(base, _t.time() + 60) == 3
    with pytest.raises(ValueError, match="predates"):
        version_as_of(base, stamps[1] - 3600)

    # a clone's manifest carries its OWN commit stamp, not the source's
    clone = str(tmp_path / "ttclone")
    clone_table(base, clone)
    assert load_manifest(clone, 1)["committed_at"] >= stamps[3]

    # vacuum expires v1 -> its stamp becomes unresolvable
    vacuum(base, keep_last=2)
    with pytest.raises(ValueError, match="predates"):
        version_as_of(base, stamps[1])
    assert version_as_of(base, stamps[3]) == 3


def test_replace_where_contract(spark, tmp_path):
    """REPLACE WHERE: file-level stats pruning carries out-of-slice
    files verbatim; visible table = outside-slice ∪ batch; CDF is the
    exact slice diff; out-of-slice batch rows and out-of-slice key
    conflicts refuse loudly; a DV-pending bucket falls back to full
    rewrite without resurrecting vectored rows."""
    from assignment4_spark.operators.lakehouse import (
        changes_between,
        delete_keys_dv,
        init_table,
        replace_where_range,
    )

    base = str(tmp_path / "rwtbl")
    df = spark.range(200).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        (F.col("id") * 10.0).alias("x"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
    )
    init_table(df, base, key_col="k", n_buckets=4, cluster_col="x")
    m1 = load_manifest(base)
    newb = df.filter(F.col("x").between(500, 1000)).select(
        "k", F.lit(2).alias("ver"), "x", F.lit("R").alias("payload")
    )
    v, tries = replace_where_range(spark, base, "x", 500.0, 1000.0, newb)
    assert (v, tries) == (2, 1)
    m2 = load_manifest(base)
    carried = sum(
        1 for b in m1["buckets"] for f in m1["buckets"][b]
        if f in set(m2["buckets"][b])
    )
    total = sum(len(fs) for fs in m1["buckets"].values())
    assert 0 < carried < total, (carried, total)
    rows = {r.k: (r.ver, r.payload) for r in read_snapshot(spark, base).collect()}
    assert len(rows) == 200
    assert rows[60] == (2, "R") and rows[10] == (1, "p10")
    d = {r.k: r.change_type for r in changes_between(spark, base, 1, 2).collect()}
    assert set(d.values()) == {"update"} and set(d) == set(range(50, 101))

    with pytest.raises(ValueError, match="outside"):
        replace_where_range(
            spark, base, "x", 500.0, 1000.0,
            df.filter(F.col("k") == 5).select(
                "k", F.lit(3).alias("ver"), "x", F.lit("Z").alias("payload")
            ),
        )
    with pytest.raises(ValueError, match="key conflict"):
        replace_where_range(
            spark, base, "x", 500.0, 1000.0,
            spark.createDataFrame(
                [(10, 3, 600.0, "C")],
                "k long, ver int, x double, payload string",
            ),
        )

    # DV-pending bucket: full-rewrite fallback, no resurrection
    delete_keys_dv(
        spark, base, spark.createDataFrame([(20,), (70,)], "k long")
    )
    replace_where_range(
        spark, base, "x", 650.0, 750.0,
        spark.createDataFrame(
            [(70, 4, 700.0, "R2")],
            "k long, ver int, x double, payload string",
        ),
    )
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert 20 not in rows, "pending DV must keep hiding key 20"
    assert rows[70] == "R2"


def test_replace_where_into_unwritten_bucket(spark, tmp_path):
    """A bucket no commit has written yet has no manifest entry; a
    REPLACE WHERE batch row hashing into it must still commit (its
    staged file referenced by the new manifest), not vanish."""
    from assignment4_spark.operators.lakehouse import replace_where_range

    base = _mk_table(spark, tmp_path, n=2, n_buckets=8)
    assert len(load_manifest(base)["buckets"]) <= 2
    replace_where_range(
        spark, base, "k", 0, 99, _upd(spark, list(range(10)), 2, "r")
    )
    assert len(load_manifest(base)["buckets"]) > 2
    rows = {r.k: r.payload for r in read_snapshot(spark, base).collect()}
    assert rows == {k: f"r{k}" for k in range(10)}


def test_replace_where_preserves_tombstone_guard(spark, tmp_path):
    """A tombstone row inside the replaced slice must SURVIVE the
    replace (it is an invisible straggler guard, not slice content):
    after replacing the slice without that key, a LOWER-version
    straggler update of the tombstoned key still loses latest-wins."""
    from assignment4_spark.operators.lakehouse import (
        TOMBSTONE_COL,
        init_table,
        replace_where_range,
    )

    base = str(tmp_path / "rwtomb")
    df = spark.range(40).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        (F.col("id") * 10.0).alias("x"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        F.lit(False).alias(TOMBSTONE_COL),
    )
    init_table(df, base, key_col="k", n_buckets=4)
    # tombstone key 12 (x=120) at ver 5
    merge_upsert_manifest(
        base,
        spark.createDataFrame(
            [(12, 5, None, None, True)],
            f"k long, ver int, x double, payload string, {TOMBSTONE_COL} boolean",
        ),
        "ver", "payload",
    )
    # replace slice x in [100, 200] WITHOUT key 12
    batch = (
        df.filter(F.col("x").between(100, 200) & (F.col("k") != 12))
        .select("k", F.lit(6).alias("ver"), "x",
                F.lit("R").alias("payload"), F.col(TOMBSTONE_COL))
    )
    replace_where_range(spark, base, "x", 100.0, 200.0, batch)
    rows = {r.k for r in read_snapshot(spark, base).collect()}
    assert 12 not in rows
    # straggler with ver 3 < tombstone's 5: must stay dead
    merge_upsert_manifest(
        base,
        spark.createDataFrame(
            [(12, 3, 120.0, "straggle", False)],
            f"k long, ver int, x double, payload string, {TOMBSTONE_COL} boolean",
        ),
        "ver", "payload",
    )
    rows = {r.k for r in read_snapshot(spark, base).collect()}
    assert 12 not in rows, "tombstone guard must survive the replace"


def test_delete_where_cow_contract(spark, tmp_path):
    """COW DELETE WHERE: physical slice removal in one commit with
    file-level stats carry; CDF pure deletes of exactly the slice;
    empty-slice delete is a clean no-op commit."""
    from assignment4_spark.operators.lakehouse import (
        changes_between,
        delete_where_range,
        init_table,
    )

    base = str(tmp_path / "dwtbl")
    df = spark.range(200).select(
        F.col("id").alias("k"), F.lit(1).alias("ver"),
        (F.col("id") * 10.0).alias("x"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
    )
    init_table(df, base, key_col="k", n_buckets=4, cluster_col="x")
    m1 = load_manifest(base)
    v, tries = delete_where_range(spark, base, "x", 500.0, 1000.0)
    assert (v, tries) == (2, 1)
    m2 = load_manifest(base)
    carried = sum(
        1 for b in m1["buckets"] for f in m1["buckets"][b]
        if f in set(m2["buckets"][b])
    )
    assert 0 < carried < sum(len(fs) for fs in m1["buckets"].values())
    rows = {r.k for r in read_snapshot(spark, base).collect()}
    assert len(rows) == 149 and not (set(range(50, 101)) & rows)
    d = {r.k: r.change_type for r in changes_between(spark, base, 1, 2).collect()}
    assert set(d.values()) == {"delete"} and set(d) == set(range(50, 101))
    # empty slice: commits a no-change version, CDF empty
    v3, _ = delete_where_range(spark, base, "x", 90000.0, 99000.0)
    assert changes_between(spark, base, v, v3).count() == 0
    assert read_snapshot(spark, base).count() == 149


def test_vacuum_sweeps_orphaned_staging(spark, tmp_path):
    """Orphan sweep: a crashed attempt's staging dir (unreferenced,
    old mtime) is reclaimed; a FRESH unreferenced dir survives the
    grace window (in-flight protection); referenced commit dirs are
    never touched; a dir whose files this vacuum just expired becomes
    an orphan and goes too."""
    import os as _os
    import time as _t

    from assignment4_spark.operators.lakehouse import vacuum

    base = _mk_table(spark, tmp_path, n=50, n_buckets=4)
    merge_upsert_manifest(base, _upd(spark, [3], 2, "u"), "ver", "payload")
    merge_upsert_manifest(base, _upd(spark, [4], 3, "w"), "ver", "payload")

    # crashed attempt: staged files, no manifest link
    dead = _os.path.join(base, "commit_v99_dead_1_1_s999_a0")
    _os.makedirs(_os.path.join(dead, "bucket=0"))
    with open(_os.path.join(dead, "bucket=0", "part-0.parquet"), "w") as fh:
        fh.write("x")
    old = _t.time() - 7200
    _os.utime(dead, (old, old))
    # fresh in-flight attempt
    fresh = _os.path.join(base, "commit_v98_live_1_1_s998_a0")
    _os.makedirs(fresh)

    res = vacuum(base, keep_last=2, orphan_grace_seconds=3600)
    assert res["orphan_dirs_deleted"] >= 1
    assert not _os.path.exists(dead), "crashed staging must be swept"
    assert _os.path.exists(fresh), "fresh staging must survive grace"
    # live table intact
    assert read_snapshot(spark, base).count() == 50

    # v1's dirs: expired by the version vacuum above; their remaining
    # unreferenced dirs sweep once old enough
    _os.utime(fresh, (old, old))
    for entry in _os.listdir(base):
        d = _os.path.join(base, entry)
        if _os.path.isdir(d):
            _os.utime(d, (old, old))
    res2 = vacuum(base, keep_last=2, orphan_grace_seconds=3600)
    assert not _os.path.exists(fresh), "aged-out unreferenced dir sweeps"
    # every remaining staging dir holds a referenced file
    assert read_snapshot(spark, base).count() == 50
    assert read_snapshot(spark, base, version=2).count() == 50


def test_footer_stats_parity_with_spark_pass(spark, tmp_path):
    """The footer-read stats path (zero Spark jobs per commit) must be
    BYTE-IDENTICAL to the distributed aggregation pass for every
    stats-eligible type — including the >2 KiB string case, where
    parquet-java omits footer min/max and the implementation must fall
    back to the scan for that column (identical manifests, not merely
    conservative ones: declared ops surface skipped-file counts)."""
    import datetime

    from assignment4_spark.operators.lakehouse import (
        _bucket_of,
        _column_types,
        _COLUMN_STATS_TYPES,
        _footer_column_stats,
        _list_bucket_files,
        _spark_column_stats,
        _staged_column_stats,
        _write_clustered,
    )

    big = "B" * 3000  # over parquet-java's footer stats cap -> fallback
    rows = []
    for i in range(60):
        rows.append(
            (
                i,
                i * (1 << 33),
                float(i) / 7.0 if i % 5 else None,
                f"s{i:03d}" if i % 7 else None,
                big + str(i),
                datetime.date(2024, 1 + i % 12, 1 + i % 28),
                datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i),
                None,
            )
        )
    df = spark.createDataFrame(
        rows,
        "k int, l bigint, d double, s string, huge string, "
        "dt date, ts timestamp, dead string",
    )
    staging = str(tmp_path / "staged")
    _write_clustered(df.withColumn("bucket", _bucket_of("k", 4)), staging)

    types = _column_types(df)
    eligible = sorted(
        c for c, t in types.items() if t in _COLUMN_STATS_TYPES
    )
    fast = _staged_column_stats(spark, staging, types)
    slow = _spark_column_stats(spark, staging, eligible)
    assert fast == slow

    # and the footer reader itself must have flagged ONLY the huge col
    files = [f for fs in _list_bucket_files(staging).values() for f in fs]
    _, fallback = _footer_column_stats(files, eligible)
    assert fallback == {"huge"}


def test_footer_tombstone_and_identity_parity(spark, tmp_path):
    """init_table's footer-derived tombstone flags and identity
    high-water must match what the distributed scans computed."""
    from assignment4_spark.operators.lakehouse import (
        init_table,
        load_manifest,
    )

    df = spark.createDataFrame(
        [
            (1, 10, False),
            (2, 25, None),
            (3, 7, True),  # the only live tombstone
            (4, 99, False),
        ],
        "k int, ident int, _deleted boolean",
    )
    base = str(tmp_path / "tbl")
    init_table(df, base, key_col="k", n_buckets=4, identity_col="ident")
    m = load_manifest(base)
    assert m["identity_high_water"] == 99
    # recompute the flags the old way from the committed files
    flagged = sorted(
        r.bucket
        for r in spark.read.parquet(
            *[f for fs in m["buckets"].values() for f in fs]
        )
        .withColumn(
            "bucket",
            F.regexp_extract(F.input_file_name(), r"bucket=(\d+)", 1).cast(
                "int"
            ),
        )
        .groupBy("bucket")
        .agg(
            F.max(
                F.coalesce(F.col("_deleted").cast("boolean"), F.lit(False))
            ).alias("has_tomb")
        )
        .collect()
        if r.has_tomb
    )
    assert m["tombstone_buckets"] == flagged and len(flagged) == 1


def test_concurrent_commit_writes_restore_aqe(spark, tmp_path):
    """Overlapping commit writes (session conf is session-global; the
    two-writer fuzz really does overlap them on threads) must restore
    spark.sql.adaptive.enabled once the LAST writer exits — a naive
    per-call save/restore interleaving captures the other writer's
    'false' as the value to restore and leaves AQE off for the rest of
    the session (caught by the full suite: the threaded fuzz ran before
    the plan gates, which then saw non-adaptive plans)."""
    import threading

    from pyspark.sql import functions as F

    from assignment4_spark.operators.lakehouse import (
        _bucket_of,
        _write_clustered,
    )

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = spark.range(500).select(
        F.col("id").alias("k"), F.lit("x").alias("v")
    ).withColumn("bucket", _bucket_of("k", 4))
    errs = []

    def write(i):
        try:
            _write_clustered(df, str(tmp_path / f"w{i}"), "k", 1, 4)
        except Exception as e:  # surface thread failures in the assert
            errs.append(e)

    threads = [threading.Thread(target=write, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_fused_latest_wins_single_exchange_and_parity(spark, tmp_path):
    """The merge write's fused winner selection (window PARTITION BY
    (bucket, key) riding the write's own bucket exchange) must plan
    exactly ONE Exchange where the two-step form (window by key, then
    repartition by bucket) plans TWO — and pick byte-identical
    winners, plain and salted."""
    import re

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from assignment4_spark.operators.lakehouse import (
        _bucket_of,
        _fused_latest_wins,
    )

    def n_exchanges(df):
        return len(
            re.findall(
                r"\bExchange\b",
                df._jdf.queryExecution().executedPlan().toString(),
            )
        )

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # 300 keys x ~7 versions: real latest-wins work in every group
        df = spark.range(2000).select(
            (F.col("id") % 300).alias("k"),
            (F.col("id") % 7).alias("ver"),
            F.col("id").alias("tb"),
            (F.col("id") * 2).alias("val"),
        ).withColumn("bucket", _bucket_of("k", 8))

        w = Window.partitionBy("k").orderBy(F.col("ver").desc(), F.col("tb"))
        two_step = (
            df.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .drop("rn")
            .repartition(8, F.col("bucket"))
        )
        fused = _fused_latest_wins(
            df.repartition(8, F.col("bucket")),
            [F.col("bucket"), F.col("k")],
            ("ver", "tb"),
        )
        assert n_exchanges(two_step) == 2
        assert n_exchanges(fused) == 1
        expect = sorted(map(tuple, two_step.collect()))
        assert sorted(map(tuple, fused.collect())) == expect

        # salted: (bucket, salt) are both key-derived, so partitioning
        # the window by (bucket, salt, key) reuses the salted exchange
        salt_expr = F.pmod(F.xxhash64(F.col("k"), F.lit("salt")), F.lit(4))
        fused_salt = _fused_latest_wins(
            df.repartition(32, F.col("bucket"), salt_expr),
            [F.col("bucket"), salt_expr, F.col("k")],
            ("ver", "tb"),
        )
        assert n_exchanges(fused_salt) == 1
        assert sorted(map(tuple, fused_salt.collect())) == expect
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_staged_blooms_explicit_schema_matches_inferred(spark, tmp_path):
    """The bloom sidecar's explicit-schema scan (no inference job) must
    produce bit-identical filters to the inferring read it replaced."""
    from pyspark.sql import functions as F

    from assignment4_spark.operators.lakehouse import (
        _bucket_of,
        _staged_file_blooms,
        _write_clustered,
    )

    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.concat(F.lit("u"), F.col("id")))
        .alias("u"),
    ).withColumn("bucket", _bucket_of("k", 4))
    staging = str(tmp_path / "staged")
    _write_clustered(df, staging, "k", 1, 4)
    fast = _staged_file_blooms(spark, staging, "u", 1024, 3, bloom_type="string")
    slow = _staged_file_blooms(spark, staging, "u", 1024, 3)
    assert fast == slow and fast  # non-empty and identical bits


def test_footer_stats_unreadable_file_falls_back(spark, tmp_path):
    """A file pyarrow cannot open must route the WHOLE stats call to
    the distributed fallback, never abort the commit (ADVICE r11)."""
    from pyspark.sql import functions as F

    from assignment4_spark.operators.lakehouse import (
        _bucket_of,
        _footer_col_max,
        _footer_column_stats,
        _list_bucket_files,
        _write_clustered,
    )

    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).withColumn("bucket", _bucket_of("k", 2))
    staging = str(tmp_path / "staged")
    _write_clustered(df, staging, "k", 1, 2)
    files = [f for fs in _list_bucket_files(staging).values() for f in fs]
    bad = str(tmp_path / "staged" / "bucket=0" / "zz-corrupt.parquet")
    with open(bad, "wb") as f:
        f.write(b"not a parquet file")
    stats, fallback = _footer_column_stats(files + [bad], ["k", "v"])
    assert stats == {} and fallback == {"k", "v"}
    maxes, usable = _footer_col_max(files + [bad], "v")
    assert maxes == {} and usable is False


def test_uniform_schema_read_case_variant_column(spark, tmp_path):
    """Spark resolves parquet columns case-insensitively by default, so
    a physical column differing only in case from a manifest column
    must still pass the footer type-parity gate: a case-variant with a
    DIVERGENT type forces the per-group fallback instead of binding
    unvalidated bytes (ADVICE r11)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from assignment4_spark.operators.lakehouse import _uniform_schema_read

    d = tmp_path / "cv"
    d.mkdir()
    f_bad = str(d / "upper_int.parquet")
    # physical 'K' is int32; the manifest wants bigint 'k'
    pq.write_table(pa.table({"K": pa.array([1, 2], type=pa.int32())}), f_bad)
    assert (
        _uniform_schema_read(
            spark, {str(d): [f_bad]}, ["k"], {"k": "bigint"}
        )
        is None
    )
    # matching type under a case variant: fast path stays available
    f_ok = str(d / "upper_ok.parquet")
    pq.write_table(pa.table({"K": pa.array([1, 2], type=pa.int64())}), f_ok)
    fast = _uniform_schema_read(
        spark, {str(d): [f_ok]}, ["k"], {"k": "bigint"}
    )
    assert fast is not None
    assert sorted(r.k for r in fast.collect()) == [1, 2]


def test_shuffle_partitions_derived_from_cores(spark):
    """Local sessions must size shuffle partitions from their OWN core
    count (floored at the fixture-measured 16), not a constant tuned
    for one machine (VERDICT r11: the 16-pin made core count a
    non-binding resource for every wide exchange)."""
    cores = spark.sparkContext.defaultParallelism
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == max(
        cores, 16
    )


def test_manifest_watermark_exact_and_gated(spark, tmp_path):
    """apply_cdf_deltas's watermark fast path: _manifest_col_max must
    equal the distributed max(ver) whenever it answers, and must
    REFUSE (None -> Spark fallback) whenever exactness is unprovable —
    a tombstone column (hidden rows could hold the max), pending
    MOR/DV sidecars, a missing per-file stats entry, or a non-integer
    column type (stats re-encode those)."""
    from assignment4_spark.operators.lakehouse import (
        _manifest_col_max,
        delete_keys_mor,
        init_table,
        load_manifest,
        merge_upsert_manifest,
        read_snapshot,
    )

    base = str(tmp_path / "wm_tbl")
    seed = spark.createDataFrame(
        [(k, 1, "a", float(k)) for k in range(40)],
        "k int, ver int, src string, price double",
    )
    init_table(seed, base, key_col="k", n_buckets=4)
    up = spark.createDataFrame(
        [(k, 3, "b", float(k)) for k in range(0, 40, 5)],
        "k int, ver int, src string, price double",
    )
    merge_upsert_manifest(base, up, ver_col="ver", tiebreak_col="src")

    m = load_manifest(base)
    fast = _manifest_col_max(m, "ver")
    slow = read_snapshot(spark, base).agg(F.max("ver")).first()[0]
    assert fast == slow == 3

    # non-integer column: stats may re-encode -> must refuse
    assert _manifest_col_max(m, "price") is None
    # missing stats entry for one live file -> must refuse
    m2 = load_manifest(base)
    first_file = next(iter(next(iter(m2["buckets"].values()))))
    m2["column_stats"].get(first_file, {}).pop("ver", None)
    assert _manifest_col_max(m2, "ver") is None
    # pending MOR delete sidecar: hidden rows could hold the max
    delete_keys_mor(spark, base, spark.createDataFrame([(0,)], "k int"))
    m3 = load_manifest(base)
    assert _manifest_col_max(m3, "ver") is None
    # tombstone column present -> must refuse
    m4 = dict(m3, columns=list(m3["columns"]) + ["_deleted"])
    m4["delete_files"] = {}
    assert _manifest_col_max(m4, "ver") is None
    # column epochs present -> must refuse (pre-epoch files hold
    # physical values the aligned read NULLs out; stats would
    # overestimate the visible max)
    m5 = dict(m3, column_epochs={"ver": 2}, delete_files={})
    assert _manifest_col_max(m5, "ver") is None


def test_listing_threshold_raised_for_local_fs(spark):
    """Local sessions must not launch a distributed listing job for
    every >32-file snapshot read: on a local filesystem a path stat is
    ~10 us, so the job's fixed scheduling floor can never win at the
    file counts manifests produce (cluster tables are 64 files). The
    threshold is env-overridable and applied to local masters only."""
    assert int(
        spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold"
        )
    ) >= 4096


def test_serializable_probe_scoped_to_writer_buckets(spark, tmp_path):
    """changes_between's within_buckets restriction (the serializable
    conflict probe's scope): a hint covering every bucket changes
    nothing, an empty hint proves the prune actually applies, and a
    hint derived under a DIFFERENT n_buckets is ignored (rebucket
    soundness) — the full diff is the fallback, never a wrong one."""
    from assignment4_spark.operators.lakehouse import (
        changes_between,
        init_table,
        load_manifest,
        merge_upsert_manifest,
    )

    base = str(tmp_path / "ser_scope")
    seed = spark.createDataFrame(
        [(k, 1, "s", float(k)) for k in range(200)],
        "k int, ver int, src string, price double",
    )
    init_table(seed, base, key_col="k", n_buckets=8)
    up = spark.createDataFrame(
        [(k, 2, "b", float(k)) for k in range(0, 200, 20)],
        "k int, ver int, src string, price double",
    )
    merge_upsert_manifest(base, up, ver_col="ver", tiebreak_col="src")

    nb = load_manifest(base)["n_buckets"]
    full = changes_between(spark, base, 1, 2)
    n_full = full.count()
    assert n_full == 10
    all_b = changes_between(
        spark, base, 1, 2, within_buckets=(nb, list(range(nb)))
    )
    assert sorted(map(tuple, all_b.collect())) == sorted(
        map(tuple, full.collect())
    )
    assert (
        changes_between(
            spark, base, 1, 2, within_buckets=(nb, [])
        ).count()
        == 0
    )
    # wrong n_buckets: hint ignored, full diff returned
    assert (
        changes_between(
            spark, base, 1, 2, within_buckets=(nb + 1, [])
        ).count()
        == n_full
    )
