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
* **Manifest pruning before any I/O**: a bucket whose file set is
  identical across a step cannot hold a logical change (commits
  rewrite whole touched buckets), so partition planning emits one
  input partition per (step, CHANGED bucket) — executors fan the diff
  out bucket-parallel and read only changed data.
* **Executor-side diff without a SparkSession**: ``read()`` runs in a
  Python worker, so the per-bucket diff is Arrow/pandas over exactly
  the partition's file lists — the same visible-rows / null-safe
  compare semantics as ``changes_between`` (tombstone hiding, NULL
  backfill neither masks nor invents a change), proven equivalent in
  tests/test_streaming.py against the Spark-side batch declaration.
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


def _dv_positions(dv_files: list) -> dict:
    """Decode positional deletion-vector sidecars — rows of
    (file, word index, 64-bit word) — into {file: set(row positions)}
    (the pandas mirror of _apply_dv_deletes's bitmap anti-filter;
    sidecars from separate commits OR together)."""
    import pyarrow.parquet as pq

    out: dict[str, set] = {}
    for f in dv_files:
        t = pq.read_table(f).to_pandas()
        for file, w, word in zip(t["file"], t["w"], t["word"]):
            base, word = int(w) * 64, int(word)
            s = out.setdefault(file, set())
            for b in range(64):
                if (word >> b) & 1:
                    s.add(base + b)
    return out


def _read_aligned_pandas(files: list, columns: list, types: dict,
                         epochs: dict | None = None,
                         file_versions: dict | None = None,
                         drop_positions: dict | None = None):
    """Read parquet ``files`` with pyarrow and align every frame to the
    logical ``columns`` (missing columns — files written before a
    schema evolution — become NULL, the pandas mirror of
    operators.lakehouse._read_files_aligned, including its
    column-epoch guard: a column (re-)introduced at version R reads
    as NULL from any file older than R). Birth versions come from the
    manifest's ``file_versions`` records shipped in the partition —
    never parsed from directory names, which a rename would silently
    invalidate (the stale-byte-resurrection class the protocol fuzz
    caught)."""
    import pandas as pd
    import pyarrow.parquet as pq

    guard = bool(epochs) and any(int(v) > 1 for v in epochs.values())
    frames = []
    for f in files:
        df = pq.read_table(f).to_pandas()
        dead = (drop_positions or {}).get(f)
        if dead:
            # pyarrow preserves physical row order, so the frame index
            # IS the parquet row position Spark's _metadata.row_index
            # reports — drop the vectored positions
            df = df[~df.reset_index(drop=True).index.isin(dead)]
        gv = None
        if guard:
            gv = (file_versions or {}).get(f)
            if gv is None:
                raise ValueError(
                    "column-epoch read needs the manifest's per-file "
                    f"birth versions, but {f!r} has no file_versions "
                    "entry — refusing to trust physical bytes on an "
                    "epoch-evolved table"
                )
        for c in columns:
            if c not in df.columns or (
                guard and int(epochs.get(c, 0)) > int(gv)
            ):
                df[c] = None
        frames.append(df[columns])
    if not frames:
        return pd.DataFrame({c: [] for c in columns})
    return pd.concat(frames, ignore_index=True)


def _visible_pandas(df, tombstone_col: str):
    """Hide tombstoned keys — the pandas mirror of _visible_rows
    (same coalesce(cast(boolean), false) tolerance for dirty-typed
    markers: any truthy non-null marker hides the row)."""
    if tombstone_col not in df.columns:
        return df
    flags = df[tombstone_col].map(lambda v: bool(v) if v == v and v is not None else False)
    return df[~flags].drop(columns=[tombstone_col])


def _cell(v, spark_type: str):
    """NaN/NaT-safe cell emission coerced to the declared Spark type
    (an outer merge upcasts absent-side ints to float64 — 1.0 must go
    back out as bigint 1, None as NULL)."""
    if v is None or v != v:  # catches NaN and NaT, not just float nan
        return None
    base = spark_type.split("(")[0]
    if base in ("tinyint", "smallint", "int", "bigint"):
        return int(v)
    if base in ("float", "double"):
        return float(v)
    if base == "boolean":
        return bool(v)
    return v


class _StepBucketDiff(InputPartition):
    """One (commit step, changed bucket) diff task: carries the two
    file lists plus the pinned logical schema — fully self-contained,
    so read() needs no driver callback and no SparkSession."""

    def __init__(self, files_from, files_to, commit_version,
                 key_col, data_cols, types, tombstone_col,
                 dels_from=(), dels_to=(), epochs=None,
                 file_versions=None, dvs_from=(), dvs_to=(),
                 band=None):
        self.files_from = files_from
        self.files_to = files_to
        self.commit_version = commit_version
        self.key_col = key_col
        self.data_cols = data_cols
        self.types = types
        self.tombstone_col = tombstone_col
        # per-side equality-delete sidecars for THIS bucket (merge-on-
        # read deletes change visibility without touching data files)
        self.dels_from = list(dels_from)
        self.dels_to = list(dels_to)
        # v_to's column birth versions (the epoch guard's input) and
        # this bucket's per-file birth versions (the guard's manifest-
        # backed file side)
        self.epochs = dict(epochs or {})
        self.file_versions = dict(file_versions or {})
        # per-side positional deletion-vector sidecars for THIS bucket
        self.dvs_from = list(dvs_from)
        self.dvs_to = list(dvs_to)
        # optional (col, lo, hi) band: the diff is then RELATIVE TO THE
        # BAND-VISIBLE state (filtered-view maintenance semantics)
        self.band = tuple(band) if band else None


def _diff_bucket(part: _StepBucketDiff):
    """Yield (key, change_type, old_*..., new_*..., _commit_version)
    rows for one changed bucket — insert/update/delete classification
    with the null-safe compare of changes_between (NULL == NULL is
    'same'; copied-but-unchanged rows never report)."""
    key, data = part.key_col, part.data_cols
    cols = [key] + data + [part.tombstone_col]

    def _in_band(df):
        # band-visible state: rows whose prune column is inside
        # [lo, hi] (NULL is never in band, matching SQL BETWEEN).
        # Classification shifts at band crossings — a row moving INTO
        # the band is an insert, OUT a delete — which is exactly the
        # upsert/remove feed a band-filtered materialization applies.
        if part.band is None or df.empty:
            return df
        col, lo, hi = part.band
        s = df[col]
        return df[s.notna() & (s >= lo) & (s <= hi)]

    def _minus_mor(df, del_files):
        # apply the side's pending MOR deletes: anti-filter on the key
        # (the pandas mirror of _apply_mor_deletes)
        if not del_files or df.empty:
            return df
        dead = _read_aligned_pandas(del_files, [key], part.types)
        return df[~df[key].isin(set(dead[key]))]

    # tombstone col may predate tombstone support in old files; the
    # aligned read backfills it as NULL either way
    old = _visible_pandas(
        _minus_mor(
            _in_band(
                _read_aligned_pandas(
                    part.files_from, cols, part.types, part.epochs,
                    part.file_versions, _dv_positions(part.dvs_from),
                )
            ),
            part.dels_from,
        ),
        part.tombstone_col,
    )
    new = _visible_pandas(
        _minus_mor(
            _in_band(
                _read_aligned_pandas(
                    part.files_to, cols, part.types, part.epochs,
                    part.file_versions, _dv_positions(part.dvs_to),
                )
            ),
            part.dels_to,
        ),
        part.tombstone_col,
    )
    # indicator name must not start with '_' (itertuples would mangle
    # it) and plain-tuple itertuples avoids all field-name rewriting
    m = old.merge(
        new, on=key, how="outer", suffixes=("_o", "_n"), indicator="mergeside"
    )
    key_t = part.types[key]
    for row in m.itertuples(index=False, name=None):
        d = dict(zip(m.columns, row))
        side = d["mergeside"]
        if side == "left_only":
            change = "delete"
        elif side == "right_only":
            change = "insert"
        else:
            change = None
            for c in data:
                a, b = d.get(f"{c}_o"), d.get(f"{c}_n")
                a_null = a is None or a != a
                b_null = b is None or b != b
                if a_null and b_null:
                    continue
                if a_null != b_null or a != b:
                    change = "update"
                    break
            if change is None:
                continue  # copied row, no logical change
        yield tuple(
            [_cell(d[key], key_t), change]
            + [_cell(d.get(f"{c}_o"), part.types[c]) for c in data]
            + [_cell(d.get(f"{c}_n"), part.types[c]) for c in data]
            + [int(part.commit_version)]
        )


# ---------------------------------------------------------------------------
# driver-side planning
# ---------------------------------------------------------------------------


def _table_meta(base_dir: str) -> tuple:
    """(key_col, data_cols, types, tombstone_col) from the LATEST
    manifest — the schema every step of the feed projects to."""
    from ..operators.lakehouse import TOMBSTONE_COL, load_manifest

    m = load_manifest(base_dir)
    key_col = m["key_col"]
    cols, types = m.get("columns"), m.get("column_types")
    if cols is None or types is None:
        raise ValueError(
            f"table at {base_dir} has no logical schema in its manifest "
            "(pre-evolution legacy table); re-commit once to record it "
            "before attaching a CDF stream"
        )
    data_cols = [c for c in cols if c != key_col and c != TOMBSTONE_COL]
    return key_col, data_cols, types, TOMBSTONE_COL


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
        from ..operators.lakehouse import load_manifest

        lo, hi = start["version"], end["version"]
        if hi < lo:
            # bounded-admission restart regression (fresh cursor below
            # the checkpointed offset): repair and emit nothing — the
            # next latestOffset resumes forward (rest_feed pattern)
            self._cur = lo
            return []
        key_col, data_cols, types, tomb = self._meta
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
            d_from_all = m_from.get("delete_files") or {}
            d_to_all = m_to.get("delete_files") or {}
            v_from_all = m_from.get("dv_files") or {}
            v_to_all = m_to.get("dv_files") or {}
            # a file's birth version is invariant; union the two sides'
            # records so each bucket task ships only its own files' rows
            fv_all = {
                **(m_from.get("file_versions") or {}),
                **(m_to.get("file_versions") or {}),
            }
            kept_from = kept_to = None
            if self._band is not None:
                from ..operators.lakehouse import plan_files

                where = ("between", *self._band)
                kept_from = set(plan_files(None, m_from, where)[0])
                kept_to = set(plan_files(None, m_to, where)[0])
            for b in sorted(set(m_from["buckets"]) | set(m_to["buckets"])):
                f_from = m_from["buckets"].get(b, [])
                f_to = m_to["buckets"].get(b, [])
                if kept_from is not None:
                    # stats pruning is sound here because the diff is
                    # over the BAND-VISIBLE state: a file provably out
                    # of band holds no band-visible row on its side
                    f_from = [f for f in f_from if f in kept_from]
                    f_to = [f for f in f_to if f in kept_to]
                d_from = d_from_all.get(b, [])
                d_to = d_to_all.get(b, [])
                dv_from = v_from_all.get(b, [])
                dv_to = v_to_all.get(b, [])
                # manifest pruning: identical data-file AND delete-
                # sidecar sets (equality keys AND deletion vectors)
                # cannot hold a logical change
                if f_from != f_to or d_from != d_to or dv_from != dv_to:
                    parts.append(
                        _StepBucketDiff(
                            f_from, f_to, v + 1,
                            key_col, data_cols, types, tomb,
                            d_from, d_to,
                            m_to.get("column_epochs"),
                            {
                                f: fv_all[f]
                                for f in set(f_from) | set(f_to)
                                if f in fv_all
                            },
                            dv_from, dv_to,
                            self._band,
                        )
                    )
        return parts

    def read(self, partition: _StepBucketDiff):
        return _diff_bucket(partition)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass
