"""What each workload runs.

``faces`` makes passes over a fixed, checked-in list of registered
faces, ``registry.QUERIES[name](spark, sf_dir)``: the Catalyst/JVM-bound
relational modules beside the Python-worker document modules and the
streaming batch declarations. A whole pass over all ~275 faces takes
minutes per run on 4 cores, far beyond what a run may take, so the list
holds one cheap face per module, a Python-worker one where the module
has Python workers; ``operators.graphs``, whose cheapest face takes 4 s,
is left out. The list is the same for every seed and every commit; the
seed fixes only the order of each pass.

``lakehouse_rw`` drives ``assignment4_spark.api`` through a fixed op log
on one table, with the seed choosing keys, values and probes (see
``lakehouse.py``).
"""

from __future__ import annotations

import random

WORKLOADS = ("faces", "lakehouse_rw")

FACES = [
    # relational: sub-second Catalyst/JVM faces where planning and the
    # per-job floor dominate; Python workers and the lakehouse do
    # nothing here.
    "agg_grouping_sets",  # operators.aggregates
    "join_anti",  # operators.joins
    "win_moving_avg_range",  # operators.windows
    "set_unpivot",  # operators.setops
    "filter_null_semantics",  # operators.filters
    "sql_q6_forecast_revenue",  # operators.sql_suite
    "scan_json_roundtrip",  # operators.scans
    "agg_skew_salted",  # operators.scale_idioms
    "agg_cms_heavy_hitters",  # operators.sketches
    "ts_anomaly_zscore",  # operators.timeseries
    "agg_ttest_ab",  # operators.drift
    "str_split_tokens",  # functions.scalar
    # document pipeline: Python-worker Arrow traffic (rag_embed_hash,
    # udf_pandas_scalar) beside JVM-only text and vector faces
    "rag_embed_hash",  # operators.rag
    "vec_upsert_dedup",  # operators.vectors
    "dedup_first_occurrence",  # operators.dedup
    "text_word_count",  # operators.textstats
    "multimodal_resize_plan",  # operators.multimodal
    "sample_shuffle_hash",  # operators.sampling
    "udf_pandas_scalar",  # functions.udfs
    # streaming batch declarations
    "stream_stateful_running",  # streaming.batch_decl
]
# Modules whose listed faces send rows to Python workers. The dedup,
# textstats and vectors modules are JVM-only (their cheap faces measured
# 0 bytes to Python workers), so they carry no python_mb metric.
PYTHON_WORKER_MODULES = ["functions.udfs", "operators.rag"]


def module_of(fn) -> str:
    """Layer name of a face: the module that registers it, relative to
    the product package (``operators.rag``)."""
    return fn.__module__.split(".", 1)[1]


def face_modules() -> list[str]:
    """Every module a listed face comes from, in list order."""
    from assignment4_spark import registry

    registry.load_all()
    out: list[str] = []
    for name in FACES:
        m = module_of(registry.QUERIES[name])
        if m not in out:
            out.append(m)
    return out


def seeded_order(names: list[str], seed: int) -> list[str]:
    order = list(names)
    random.Random(seed).shuffle(order)
    return order
