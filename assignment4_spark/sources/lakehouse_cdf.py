"""Lakehouse change-data-feed streaming source (Spark 4 Python
DataSource API): ``readStream.format("lakehouse_cdf")`` over a
manifest-tracked table's version feed — the CONSUME half of the CDC
story whose PRODUCE half is ``operators.lakehouse.changes_between``
(the idiom Delta ships as ``readChangeFeed``).

Reference provenance: the reference's re-ingest DAG re-upserts the
whole corpus every run and downstream consumers re-read everything
(parser_pinecone_storage.py:118-190 — no notion of "what changed");
this source is the missing incremental face: a downstream index or
training-data materialization tails committed versions and receives
exactly the logical row changes, O(changed data) per micro-batch.

Design (scale-first):

* **Offsets are table versions** — ``{"version": N}`` checkpoints; the
  manifest ladder on disk IS the cursor (the broker-metadata analogue),
  so ``latestOffset`` is derived state and can never regress across
  restarts in the default unbounded-admission mode.
* **Per-commit granularity**: a micro-batch covering versions
  ``(start, end]`` plans one diff per commit STEP ``v → v+1`` — every
  emitted row is tagged ``_commit_version`` (Delta CDF semantics), so
  a catch-up batch is the union of per-commit feeds, not a net blur.
* **One set of visibility rules**: partition planning runs
  ``operators.lakehouse.plan_diff`` — the planner ``changes_between``
  uses — so every decision (which buckets changed, which group a
  rebucket forms, which columns a file's epoch NULLs, which MOR/DV
  sidecars apply) is made once, on the driver, and shipped resolved
  in each task. A bucket identical across a step is never read;
  executors fan the diff out group-parallel over changed data only.
* **Executor-side diff without a SparkSession**: ``read()`` runs in a
  Python worker and performs only the mechanical steps over the
  task's files with pyarrow — drop DV positions, hide tombstones
  exactly as Spark's ``cast(... AS boolean)`` does, NULL absent and
  dead columns, anti-join MOR keys — then the null-safe compare of
  ``changes_between``. ``test_protocol_model_fuzz``'s CDF arm
  (tests/test_lakehouse.py) is the equivalence proof: after every
  commit of a random merge / tombstone / MOR / DV / optimize /
  rebucket / drop+re-add / restore / replaceWhere history, the
  reader's rows for the step equal ``changes_between``'s.
* **Schema pinned at query start**: all steps project to the LATEST
  manifest's logical schema (columns added by a mid-range evolution
  read as NULL on the old side — the same alignment read_snapshot
  applies to pre-evolution files).

Restart contract: offsets come from the checkpoint; ``latestOffset``
re-derives from the manifest directory, so a restarted query resumes
at the committed version with no re-emission (exactly-once delivery
of change rows given Spark's offset-log replay of the one uncommitted
batch — replay re-plans the same version range and the diff of two
immutable manifests is byte-deterministic). A vacuum that expired a
manifest inside a pending range surfaces as a loud, named error — the
retention contract, not silent data loss.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

# ---------------------------------------------------------------------------
# executor-side helpers (module-level for picklability; no SparkSession)
# ---------------------------------------------------------------------------


def _dv_positions(sidecars: list) -> dict:
    """Decode positional deletion-vector sidecars — rows of
    (file, word index, 64-bit word) — into {file: set(row positions)}
    (sidecars from separate commits OR together)."""
    import pyarrow.parquet as pq

    out: dict[str, set] = {}
    for f in sidecars:
        t = pq.read_table(f).to_pydict()
        for file, w, word in zip(t["file"], t["w"], t["word"]):
            s = out.setdefault(file, set())
            s.update(int(w) * 64 + b for b in range(64) if (word >> b) & 1)
    return out


#: the strings Spark's cast(string AS boolean) reads as true (trimmed,
#: case-insensitive)
_TRUE_STRINGS = ("t", "true", "y", "yes", "1")


def _hidden(marker):
    """coalesce(cast(marker AS boolean), false) — the tombstone test of
    operators.lakehouse._visible_rows — over one arrow column of
    boolean, numeric or string markers."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_boolean(marker.type):
        hit = marker
    elif pa.types.is_string(marker.type) or pa.types.is_large_string(
        marker.type
    ):
        hit = pc.is_in(
            pc.utf8_lower(pc.utf8_trim_whitespace(marker)),
            value_set=pa.array(_TRUE_STRINGS),
        )
    else:
        hit = pc.not_equal(marker, 0)
    return pc.fill_null(hit, False).to_numpy(zero_copy_only=False)


def _visible_side(side: dict, schema: tuple, band) -> dict:
    """{key: data values} of one side's visible rows, applying the
    decisions ``plan_diff`` resolved on the driver: per file, drop its
    DV positions (pyarrow keeps physical row order, so a row's index
    IS the parquet row position Spark's _metadata.row_index reports),
    hide tombstones, keep the band and read physically-absent and dead
    columns as NULL; then anti-join the MOR delete keys. A row whose
    band column is NULL is never in band, matching SQL BETWEEN."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key, data, _, tomb = schema
    gone = {
        k
        for f in side["deletes"]
        for k in pq.read_table(f, columns=[key]).column(key).to_pylist()
    }
    dv = _dv_positions(side["dvs"])
    rows = {}
    for f in side["files"]:
        t = pq.read_table(f)
        live = set(t.column_names) - side["dead"].get(f, frozenset())
        keep = np.ones(t.num_rows, dtype=bool)
        keep[list(dv.get(f, ()))] = False
        if tomb in live:
            keep &= ~_hidden(t.column(tomb))
        if band is not None:
            col, lo, hi = band
            if col in live:
                c = t.column(col)
                keep &= pc.fill_null(
                    pc.and_(pc.greater_equal(c, lo), pc.less_equal(c, hi)),
                    False,
                ).to_numpy(zero_copy_only=False)
            else:
                keep[:] = False
        t = t.filter(keep)
        cols = [
            t.column(c).to_pylist() if c in live else [None] * t.num_rows
            for c in [key] + data
        ]
        for k, *vals in zip(*cols):
            if k not in gone:
                rows[k] = vals
    return rows


class _StepBucketDiff(InputPartition):
    """One diff group of one commit step: the pinned logical schema,
    the two sides ``plan_diff`` resolved (files, dead columns, MOR and
    DV sidecars) and the optional band — self-contained, so read()
    needs no driver callback and no SparkSession."""

    def __init__(self, schema, old, new, commit_version, band):
        self.schema = schema
        self.old = old
        self.new = new
        self.commit_version = commit_version
        # optional (col, lo, hi) band: the diff is then RELATIVE TO THE
        # BAND-VISIBLE state (filtered-view maintenance semantics)
        self.band = band


def _diff_group(part: _StepBucketDiff):
    """Yield (key, change_type, old_*..., new_*..., _commit_version)
    rows for one diff group — insert/update/delete classification
    with the null-safe compare of changes_between (NULL == NULL and
    NaN == NaN are 'same'; copied-but-unchanged rows never report)."""
    old = _visible_side(part.old, part.schema, part.band)
    new = _visible_side(part.new, part.schema, part.band)
    blank = [None] * len(part.schema[1])
    for k in old.keys() | new.keys():
        a, b = old.get(k), new.get(k)
        if a is None:
            change = "insert"
        elif b is None:
            change = "delete"
        elif all(x == y or (x != x and y != y) for x, y in zip(a, b)):
            continue  # copied row, no logical change
        else:
            change = "update"
        yield (k, change, *(a or blank), *(b or blank), part.commit_version)


# ---------------------------------------------------------------------------
# driver-side planning
# ---------------------------------------------------------------------------


def _table_meta(base_dir: str) -> tuple:
    """(key_col, data_cols, types, tombstone_col) from the LATEST
    manifest — the schema every step of the feed projects to."""
    from ..operators.lakehouse import TOMBSTONE_COL, load_manifest

    m = load_manifest(base_dir)
    key_col = m["key_col"]
    data_cols = [
        c for c in m["columns"] if c != key_col and c != TOMBSTONE_COL
    ]
    return key_col, data_cols, m["column_types"], TOMBSTONE_COL


def _band_files(manifest: dict, band: tuple) -> dict:
    """``manifest`` keeping only the files whose column statistics can
    hold a band row (``plan_files``). Sound because the diff runs over
    the BAND-VISIBLE state: a file provably out of band holds no
    band-visible row on its side."""
    from ..operators.lakehouse import plan_files

    kept = set(plan_files(None, manifest, ("between", *band))[0])
    return {
        **manifest,
        "buckets": {
            b: [f for f in fs if f in kept]
            for b, fs in manifest["buckets"].items()
        },
    }


class LakehouseCDFDataSource(DataSource):
    """``spark.readStream.format("lakehouse_cdf").option("path", dir)``.

    Options: ``path`` (required) — the manifest table's base_dir;
    ``start_version`` (default: latest at attach — consume only new
    commits); ``versions_per_batch`` (default unbounded) — admission
    control, at most N commit steps per micro-batch;
    ``prune_column`` / ``prune_lo`` / ``prune_hi`` (optional) — a
    numeric band turning the feed into BAND-RELATIVE CDC for
    filtered-view maintenance: partition planning keeps only files
    whose per-file column statistics can hold a band row (the
    streaming face of ``read_snapshot(where=("between", ...))``'s
    pruning — a clustered table's out-of-band files are never opened),
    the executor diff runs over the band-visible state, and
    change_type is relative to the band (a row crossing INTO the band
    is an insert, OUT a delete — exactly the upsert/remove feed the
    downstream filtered materialization applies)."""

    @classmethod
    def name(cls) -> str:
        return "lakehouse_cdf"

    def schema(self):
        key_col, data_cols, types, _ = _table_meta(self.options["path"])
        parts = [f"`{key_col}` {types[key_col]}", "`change_type` string"]
        parts += [f"`old_{c}` {types[c]}" for c in data_cols]
        parts += [f"`new_{c}` {types[c]}" for c in data_cols]
        parts.append("`_commit_version` bigint")
        return ", ".join(parts)

    def streamReader(self, schema):
        return LakehouseCDFStreamReader(self.options)


class LakehouseCDFStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        from ..operators.lakehouse import latest_version

        self._base = options["path"]
        self._vpb = int(options.get("versions_per_batch", 0)) or None
        latest = latest_version(self._base)
        if latest == 0:
            raise ValueError(f"no committed table at {self._base}")
        self._start = int(options.get("start_version", latest))
        # driver-side admission cursor (bounded mode only); the
        # manifest ladder itself is the authoritative cursor
        self._cur = self._start
        self._meta = _table_meta(self._base)
        self._band = None
        pcol = options.get("prune_column")
        if pcol:
            types = self._meta[2]
            if types.get(pcol) not in (
                "tinyint", "smallint", "int", "bigint", "float", "double",
            ):
                raise ValueError(
                    f"prune_column {pcol!r} must be a numeric table "
                    f"column (got {types.get(pcol)!r})"
                )
            self._band = (
                pcol,
                float(options["prune_lo"]),
                float(options["prune_hi"]),
            )

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        from ..operators.lakehouse import latest_version

        latest = latest_version(self._base)
        if self._vpb is None:
            return {"version": max(latest, self._start)}
        self._cur = min(self._cur + self._vpb, max(latest, self._start))
        return {"version": self._cur}

    def partitions(self, start: dict, end: dict):
        from ..operators.lakehouse import load_manifest, plan_diff

        lo, hi = start["version"], end["version"]
        if hi < lo:
            # bounded-admission restart regression (fresh cursor below
            # the checkpointed offset): repair and emit nothing — the
            # next latestOffset resumes forward (rest_feed pattern)
            self._cur = lo
            return []
        parts = []
        for v in range(lo, hi):
            try:
                m_from = load_manifest(self._base, v)
                m_to = load_manifest(self._base, v + 1)
            except FileNotFoundError as ex:
                raise RuntimeError(
                    f"CDF range ({lo}, {hi}] needs manifest v{v}/v{v + 1} "
                    f"but it was vacuumed past retention at {self._base}; "
                    "restart the stream from a retained start_version"
                ) from ex
            if self._band is not None:
                m_from, m_to = (
                    _band_files(m, self._band) for m in (m_from, m_to)
                )
            parts += [
                _StepBucketDiff(self._meta, old, new, v + 1, self._band)
                for old, new in plan_diff(m_from, m_to)
            ]
        return parts

    def read(self, partition: _StepBucketDiff):
        return _diff_group(partition)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass
