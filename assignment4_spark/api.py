"""Public composable API — DataFrame-in / DataFrame-out.

The registry surface (`queries()`) is fixture-bound for the driver's
oracle harness; this module is the face a *user* of the reference would
program against after switching engines: every pipeline capability as a
function over their own DataFrames, composable into one lazy lineage.

    from assignment4_spark import api

    chunks  = api.chunk_text(docs, size=3000, overlap=200)   # A9 defaults
    vectors = chunks.select("doc_id", "chunk_id",
                            api.hash_embed_udf("chunk_text").alias("emb"))
    hits    = api.knn_topk(corpus, queries, k=100)           # A18's top_k
    dups    = api.minhash_lsh_pairs(docs)                    # near-dup pairs
    sketchy = api.simhash_pairs(docs, max_hamming=6)

Everything here is re-exported from the operator modules (single
implementation, two faces); tests/test_api.py drives it over inline
DataFrames with non-fixture column names.
"""

from __future__ import annotations

from .operators.dedup import (  # noqa: F401
    admit_batch_into_index,
    admit_candidates_into_index,
    canonical_url,
    connected_components,
    minhash_band_postings,
    minhash_lsh_pairs,
    simhash_pairs,
    verify_jaccard_pairs,
)
from .operators.lakehouse import (  # noqa: F401
    MergeConflictError,
    QUARANTINE_REASON_COL,
    SerializationConflictError,
    TOMBSTONE_COL,
    apply_cdf_deltas,
    cdf_deltas,
    changes_between,
    clone_table,
    compact_tombstones,
    delete_keys_dv,
    delete_where_range,
    replace_where_range,
    version_as_of,
    delete_keys_mor,
    drop_column,
    optimize_compact,
    plan_files,
    init_table,
    latest_version,
    load_manifest,
    merge_upsert_manifest,
    publish_from,
    read_quarantine,
    read_snapshot,
    read_snapshot_point,
    read_snapshot_range,
    rebucket_table,
    restore_table,
    table_history,
    vacuum,
)
from .operators.multimodal import (  # noqa: F401
    binary_extract_tables,
    binary_extract_text,
    compose_markdown,
    compose_pdf,
    docling_tables_parser,
    fake_tables_parser,
    phash_buckets,
    pil_luma_decoder,
    pypdf_text_parser,
    utf8_text_parser,
)
from .streaming.stream_impl import (  # noqa: F401
    idempotent_parquet_sink,
    read_idempotent_sink,
)
from .operators.rag import (  # noqa: F401
    CHUNK_OVERLAP,
    CHUNK_SIZE,
    chunk_text,
    embed_chunks,
    hash_embed_udf,
)
from .operators.drift import (  # noqa: F401
    ks_2sample,
    mutual_information,
    psi_binned,
)
from .operators.graphs import (  # noqa: F401
    pagerank,
    triangle_count,
)
from .operators.sampling import (  # noqa: F401
    bottomk_by_hash,
    weighted_sample_ares,
)
from .operators.scale_idioms import (  # noqa: F401
    bloom_prefilter,
)
from .operators.timeseries import (  # noqa: F401
    interpolate_linear,
    scd2_changes,
    sessionize,
)
from .operators.textstats import (  # noqa: F401
    bpe_train,
    char_entropy,
)
from .operators.aggregates import (  # noqa: F401
    weighted_median,
)
from .operators.vectors import (  # noqa: F401
    as_double,
    cosine,
    knn_topk,
    near_dup_pairs_exact,
    near_dup_pairs_lsh,
    pca_fit,
    pca_project,
    pq_encode,
    pq_sub_dist,
    quantize_int8_audit,
    rp_bucket_keys,
    upsert_merge_parquet,
)

__all__ = [
    "as_double",
    "binary_extract_tables",
    "binary_extract_text",
    "bloom_prefilter",
    "bottomk_by_hash",
    "bpe_train",
    "admit_batch_into_index",
    "admit_candidates_into_index",
    "verify_jaccard_pairs",
    "canonical_url",
    "apply_cdf_deltas",
    "cdf_deltas",
    "changes_between",
    "char_entropy",
    "CHUNK_OVERLAP",
    "CHUNK_SIZE",
    "chunk_text",
    "compact_tombstones",
    "delete_keys_dv",
    "delete_where_range",
    "replace_where_range",
    "version_as_of",
    "delete_keys_mor",
    "drop_column",
    "optimize_compact",
    "plan_files",
    "compose_markdown",
    "compose_pdf",
    "connected_components",
    "cosine",
    "docling_tables_parser",
    "embed_chunks",
    "fake_tables_parser",
    "hash_embed_udf",
    "idempotent_parquet_sink",
    "init_table",
    "interpolate_linear",
    "knn_topk",
    "ks_2sample",
    "latest_version",
    "load_manifest",
    "merge_upsert_manifest",
    "minhash_band_postings",
    "minhash_lsh_pairs",
    "mutual_information",
    "near_dup_pairs_exact",
    "near_dup_pairs_lsh",
    "pagerank",
    "pca_fit",
    "pca_project",
    "phash_buckets",
    "pil_luma_decoder",
    "pq_encode",
    "pq_sub_dist",
    "psi_binned",
    "pypdf_text_parser",
    "quantize_int8_audit",
    "read_idempotent_sink",
    "read_snapshot",
    "read_snapshot_point",
    "read_snapshot_range",
    "rebucket_table",
    "scd2_changes",
    "rp_bucket_keys",
    "sessionize",
    "simhash_pairs",
    "TOMBSTONE_COL",
    "triangle_count",
    "upsert_merge_parquet",
    "utf8_text_parser",
    "vacuum",
    "weighted_median",
    "weighted_sample_ares",
]
