"""Per-layer metrics of a traced run.

A layer is the module that registers a face (``operators.rag``), or the
``api`` call kind for ``lakehouse_rw`` (``lakehouse.upsert_small``). The
event log (``eventlog.py``) gives each measured call its jobs, busy time
and bytes; this module sums them per layer, adds what the benchmark saw
from outside (files written, manifest size, rows returned), and emits
the fixed metric list named in ``BENCHMARK.json``.

Every workload prints every metric; a layer the workload does not reach
reads 0. A face called in several timed passes counts once: each of its
fields is the median over its calls. Per-layer seconds (job-busy and driver time per module,
commit/read percentiles, manifest load time) change which layers exist
per workload, so they go to the run's record and stderr only, as
``layers`` in ``perfbench/results/<workload>-seed<n>-trace1.json``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

import eventlog
import harness
from lakehouse import READ_KINDS, WRITE_KINDS
from workloads import PYTHON_WORKER_MODULES, face_modules

MB = 1024 * 1024


def metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in output order."""
    out = [
        ("session.get_spark_s", "s"),
        ("session.warmup_s", "s"),
        ("ops.jobs", "count"),
        ("ops.job_busy_s", "s"),
        ("ops.driver_s", "s"),
        ("ops.shuffle_mb", "MB"),
        ("ops.python_mb", "MB"),
        ("process.peak_rss_mb", "MB"),
        ("trace.op_p50_ms", "ms"),
        ("trace.ops_per_s", "1/s"),
        ("trace.jobs_repeat_checked", "count"),
        ("trace.jobs_repeat_mismatch", "count"),
    ]
    for m in face_modules():
        out += [(f"{m}.jobs", "count"), (f"{m}.shuffle_mb", "MB")]
    out += [(f"{m}.python_mb", "MB") for m in PYTHON_WORKER_MODULES]
    for k in WRITE_KINDS:
        out += [
            (f"lakehouse.{k}.jobs", "count"),
            (f"lakehouse.{k}.bytes_written", "bytes"),
            (f"lakehouse.{k}.files_written", "count"),
        ]
    for k in READ_KINDS:
        out += [
            (f"lakehouse.{k}.jobs", "count"),
            (f"lakehouse.{k}.files_opened", "count"),
            (f"lakehouse.{k}.rows_scanned_per_row_returned", "ratio"),
        ]
    out += [
        ("lakehouse.manifest_bytes", "bytes"),
        ("lakehouse.live_files", "count"),
        ("lakehouse.write_amp", "ratio"),
        ("lakehouse.space_amp", "ratio"),
        ("lakehouse.vacuum.files_deleted", "count"),
    ]
    return out


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(record: dict, event_log_dir: str, app_id: str) -> dict:
    """Attach per-op event-log counters and a per-layer table to
    ``record``; return the metric dict for the result line."""
    by_group = eventlog.parse(os.path.join(event_log_dir, app_id))
    ops = record["ops"]
    for i, op in enumerate(ops):
        ev = by_group.get(f"op{i}", dict.fromkeys(eventlog.FIELDS, 0))
        op.update({f: ev[f] for f in eventlog.FIELDS})
        op["driver_ms"] = op["ms"] - op["busy_ms"]

    checked, mismatch = repeat_check(record)
    ops = representatives(ops)
    layers: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    lists: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for op in ops:
        row = layers[op["layer"]]
        row["ops"] += 1
        row["wall_s"] += op["ms"] / 1000
        row["job_busy_s"] += op["busy_ms"] / 1000
        row["driver_s"] += op["driver_ms"] / 1000
        for f in ("jobs", "tasks", "records_read", "files_read", "python_bytes", "shuffle_bytes"):
            row[f] += op[f]
        for f in ("bytes_written", "files_written", "files_deleted", "rows_returned"):
            row[f] += op.get(f, 0)
        lists[op["layer"]]["ms"].append(op["ms"])
        for f in ("load_manifest_ms", "manifest_bytes", "live_files"):
            if f in op:
                lists["lakehouse"][f].append(op[f])
    commits = [op["ms"] for op in ops if op["name"] in WRITE_KINDS]
    reads = [op["ms"] for op in ops if op["name"] in READ_KINDS]
    record["layers"] = {k: dict(v) for k, v in layers.items()}
    record["lakehouse_times"] = {
        "commit_p50_ms": _median(commits),
        "read_p50_ms": _median(reads),
        "read_p90_ms": statistics.quantiles(reads, n=10)[-1] if len(reads) > 1 else _median(reads),
        "load_manifest_ms": _median(lists["lakehouse"]["load_manifest_ms"]),
        "vacuum_s": layers.get("lakehouse.vacuum", {}).get("wall_s", 0.0),
    }

    values: dict[str, float] = {}
    values["session.get_spark_s"] = statistics.median(record["setup"]["session_s"])
    values["session.warmup_s"] = record["setup"]["warmup_s"]
    values["ops.jobs"] = sum(op["jobs"] for op in ops)
    values["ops.job_busy_s"] = sum(op["busy_ms"] for op in ops) / 1000
    values["ops.driver_s"] = sum(op["driver_ms"] for op in ops) / 1000
    values["ops.shuffle_mb"] = sum(op["shuffle_bytes"] for op in ops) / MB
    values["ops.python_mb"] = sum(op["python_bytes"] for op in ops) / MB
    values["process.peak_rss_mb"] = record["peak_rss_mb"]
    values["trace.op_p50_ms"] = record["op_p50_ms"]
    values["trace.ops_per_s"] = record["end_to_end"]["ops_per_s"]
    values["trace.jobs_repeat_checked"] = checked
    values["trace.jobs_repeat_mismatch"] = mismatch
    for m in face_modules():
        values[f"{m}.jobs"] = int(layers[m]["jobs"]) if m in layers else 0
        values[f"{m}.shuffle_mb"] = layers[m]["shuffle_bytes"] / MB if m in layers else 0.0
    for m in PYTHON_WORKER_MODULES:
        values[f"{m}.python_mb"] = layers[m]["python_bytes"] / MB if m in layers else 0.0
    for k in WRITE_KINDS + READ_KINDS:
        row = layers.get(f"lakehouse.{k}", {})
        values[f"lakehouse.{k}.jobs"] = int(row.get("jobs", 0))
        if k in WRITE_KINDS:
            values[f"lakehouse.{k}.bytes_written"] = int(row.get("bytes_written", 0))
            values[f"lakehouse.{k}.files_written"] = int(row.get("files_written", 0))
        else:
            values[f"lakehouse.{k}.files_opened"] = int(row.get("files_read", 0))
            values[f"lakehouse.{k}.rows_scanned_per_row_returned"] = row.get(
                "records_read", 0
            ) / max(row.get("rows_returned", 0), 1)
    values["lakehouse.manifest_bytes"] = _median(lists["lakehouse"]["manifest_bytes"])
    values["lakehouse.live_files"] = _median(lists["lakehouse"]["live_files"])
    values["lakehouse.write_amp"] = record.get("write_amp", 0.0)
    values["lakehouse.space_amp"] = record.get("space_amp", 0.0)
    values["lakehouse.vacuum.files_deleted"] = int(
        layers.get("lakehouse.vacuum", {}).get("files_deleted", 0)
    )
    record["trace_overhead"] = overhead(record)
    report(record)
    return {name: {"value": values[name], "unit": unit} for name, unit in metric_names()}


def representatives(ops: list[dict]) -> list[dict]:
    """One op per key, in first-call order: each numeric field is the
    (low) median over the key's calls."""
    by_key: dict[str, list[dict]] = {}
    for op in ops:
        by_key.setdefault(op["key"], []).append(op)
    out = []
    for calls in by_key.values():
        rep = dict(calls[0])
        for f, v in calls[0].items():
            if isinstance(v, (int, float)) and not isinstance(v, bool) and f != "pass":
                rep[f] = (statistics.median if isinstance(v, float) else statistics.median_low)(
                    [c.get(f, v) for c in calls]
                )
        out.append(rep)
    return out


def _same_code(prev: dict, record: dict) -> bool:
    return (
        prev.get("workload") == record["workload"]
        and prev.get("launch", {}).get("source_digest") == record["launch"]["source_digest"]
    )


def repeat_check(record: dict) -> tuple[int, int]:
    """Compare each call's job count with the first call of the same op
    in this run (later timed passes of a face) and with the latest
    earlier traced run of the same workload and code in
    ``perfbench/results/`` (any seed: a face is matched by name, a
    lakehouse op by its ``key``): (comparisons, counts that differ)."""
    first: dict[str, int] = {}
    pairs = []
    for op in record["ops"]:
        if op["key"] in first:
            pairs.append((first[op["key"]], op["jobs"]))
        else:
            first[op["key"]] = op["jobs"]
    prev = None
    for path in sorted(
        glob.glob(os.path.join(harness.RESULTS_DIR, f"{record['workload']}-seed*-trace1.json")),
        key=os.path.getmtime,
    ):
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if _same_code(rec, record):
            prev = rec
    if prev is not None:
        jobs = {op["key"]: op["jobs"] for op in prev["ops"] if "key" in op and "jobs" in op}
        pairs += [(jobs[k], n) for k, n in first.items() if k in jobs]
    return len(pairs), sum(1 for a, b in pairs if a != b)


def overhead(record: dict) -> dict | None:
    """Traced minus untraced end-to-end metrics, when an untraced run of
    the same workload, seed and code is on record."""
    path = os.path.join(
        harness.RESULTS_DIR, f"{record['workload']}-seed{record['seed']}-trace0.json"
    )
    try:
        with open(path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return None
    if not _same_code(prev, record):
        return None
    return {k: v - prev["end_to_end"][k] for k, v in record["end_to_end"].items()}


def report(record: dict) -> None:
    w = sys.stderr.write
    w(f"{'layer':32} {'ops':>4} {'wall_s':>8} {'busy_s':>8} {'driver_s':>8} {'jobs':>5} "
      f"{'shuf_MB':>8} {'py_MB':>7}\n")
    for name, row in sorted(record["layers"].items()):
        w(f"{name:32} {row['ops']:4.0f} {row['wall_s']:8.3f} {row['job_busy_s']:8.3f} "
          f"{row['driver_s']:8.3f} {row['jobs']:5.0f} {row['shuffle_bytes'] / MB:8.2f} "
          f"{row['python_bytes'] / MB:7.2f}\n")
    if record["lakehouse_times"]["commit_p50_ms"]:
        w(f"lakehouse times: {json.dumps(record['lakehouse_times'])}\n")
    w(f"trace overhead vs untraced run: {json.dumps(record['trace_overhead'])}\n")
