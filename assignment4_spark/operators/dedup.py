"""Deduplication operators: exact, first-occurrence, n-gram Jaccard,
MinHash+LSH, SimHash (SURVEY.md §2 B.8 + north-star dedup suite).

Reference provenance: upsert-dedup on vector ids (A13), set()-based
title dedup (A16, ra/agent.py:69-77), first-occurrence dedup (A17,
ra/server.py:39-43). The near-dup family is the training-data-pipeline
extension the north-star demands.

Scale design (the part that matters at 100 TB):
  * exact dedup = hash agg on a canonical key — one shuffle of (key) only;
  * brute-force pair Jaccard is O(N²) and is deliberately BOUNDED here
    (`dedup_near_jaccard` caps the id range); the unbounded path is
    `dedup_minhash_lsh`: signatures are computed NARROW (per-row
    higher-order expressions, zero shuffle), the only shuffle is the
    band-bucket self-join whose output is ~|candidates|, then candidates
    are verified with exact Jaccard. Recall at J with 64 hashes /
    32 bands of 2 rows is 1-(1-J²)^32 — ≈1-1e-4 at J=0.5, ≈1-1e-23 at
    the J≥0.9 the fixtures contain — so the oracle can be the
    brute-force SQL (any miss would show as a hash mismatch).
  * SimHash is fully narrow per doc (32-bit signature from token
    hashes); candidate pairing is a banded bucket self-join (pigeonhole
    over max_hamming+1 bands — exact, never all-pairs), popcount-verified;
    md5 token bits keep the signature engine-identical so the brute-force
    SQL is a full value oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..io_util import table
from ..registry import register
from .textstats import QUALITY_SQL, quality_expr

MERSENNE_P = 2147483647  # 2^31 - 1
N_HASHES = 64
N_BANDS = 32  # rows per band = 2
# the band construction below indexes minhashes as (m{2b}, m{2b+1}) —
# rows-per-band=2 is structural, so the two constants move in lockstep
assert N_HASHES == 2 * N_BANDS
JACCARD_THRESHOLD = 0.5


@register(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_doc_id,
           MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY fp
    ORDER BY keep_doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a canonical content fingerprint; min doc_id wins
    (deterministic, unlike the reference's set() enumeration, A16)."""
    d = table(spark, sf_dir, "documents")
    canon = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    return (
        d.select("doc_id", canon.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_doc_id", "fp", "n_copies")
        .orderBy("keep_doc_id")
    )


@register(
    "dedup_first_occurrence",
    oracle="""
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    )
    WHERE rn = 1
    ORDER BY source
    """,
)
def dedup_first_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17's first-occurrence rule (ra/server.py:39-43 keeps the first
    (id, title) per title in id order) applied to the fixture's
    grouping column: first doc_id per SOURCE, row_number()=1 — the
    deterministic form of the reference's Python set() enumeration."""
    d = table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id")
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source")
        .orderBy("source")
    )


def _shingles(text_col: str = "text", n: int = 3) -> Column:
    """Distinct n-token shingles of a text column (higher-order, narrow).

    Built from n shifted `slice`s zipped together rather than indexed
    `element_at` inside a transform lambda: lambda bodies re-evaluate
    captured expression trees per element in the interpreted evaluator,
    so the indexed form re-runs `split(text)` ~3× per shingle (measured
    8s for 5k docs); the slice form evaluates it O(n) times per row."""
    w = F.split(text_col, " ")
    m = F.size(w) - F.lit(n - 1)  # number of shingles
    sh = F.slice(w, 1, m)
    for k in range(1, n):
        sh = F.zip_with(sh, F.slice(w, k + 1, m), lambda a, b: F.concat(a, F.lit("_"), b))
    # <n tokens → fall back to the whole text as one shingle (same rule
    # in the oracle SQL) so short docs never produce an empty set.
    return F.array_distinct(
        F.when(F.size(w) >= n, sh).otherwise(F.array(F.col(text_col)))
    )


_SHINGLE_SQL = """
      SELECT doc_id,
             LIST_DISTINCT(
               CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= 3
                    THEN [STRING_SPLIT(text, ' ')[i] || '_' ||
                          STRING_SPLIT(text, ' ')[i+1] || '_' ||
                          STRING_SPLIT(text, ' ')[i+2]
                          FOR i IN GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - 2)]
                    ELSE [text] END) AS sh
      FROM documents
"""


@register(
    "dedup_near_jaccard",
    oracle=f"""
    WITH s AS ({_SHINGLE_SQL}),
    bounded AS (SELECT * FROM s WHERE doc_id < 200)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
                 / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))), 6) AS jaccard
    FROM bounded a JOIN bounded b ON a.doc_id < b.doc_id
    WHERE LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
          / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force 3-gram shingle Jaccard pairs ≥ 0.5 over a BOUNDED id
    range (O(N²) by construction — the unbounded path is
    dedup_minhash_lsh). Consumes bounded_neardup_edges — ONE definition
    of the edge rule for this op and the CC-family consumers that
    property tests compare against each other."""
    return (
        bounded_neardup_edges(spark, sf_dir)
        .select(
            F.col("src").alias("doc_a"),
            F.col("dst").alias("doc_b"),
            "jaccard",
        )
        .orderBy("doc_a", "doc_b")
    )


def minhash_band_postings(s: DataFrame) -> DataFrame:
    """(doc_id, band_key) LSH postings from a (doc_id, sh) shingle-set
    frame — the signature stage shared by minhash_lsh_pairs and the
    incremental index (dedup_incremental_index).

    Signatures: explode shingles, hash each ONCE, then N_HASHES
    codegen'd MIN aggregates with map-side partial aggregation. (A
    per-row nested higher-order formulation re-evaluates the
    shingle/hash expression per hash function in the interpreted
    expression evaluator — ~100× slower; measured 110s → <2s at 500
    docs.) The groupBy shuffles one N_HASHES-long row per document —
    negligible vs the corpus itself.

    minhash_i = min_h ((2i+3)·h + 1000003·i + 12345 mod p) — no
    overflow even at N_HASHES=128: (2·128+3)·2^31 ≪ 2^63, safe under
    ANSI mode. Band key = xxhash64(band_index, minhash_pair): an
    8-byte join key instead of a built string (~17% faster
    end-to-end). A key collision across bands only adds a spurious
    CANDIDATE, which the exact Jaccard verification downstream
    filters — zero correctness exposure."""
    hashed = s.select(
        "doc_id", F.explode("sh").alias("shingle")
    ).select(
        "doc_id", F.pmod(F.xxhash64("shingle"), F.lit(MERSENNE_P)).alias("h")
    )
    # expressions as SQL strings, one py4j round trip each: the Column-
    # algebra formulation cost ~6 driver round trips per hash function
    # (×N_HASHES ×every caller ≈ 0.9 s of pure plan-construction per
    # call, measured in the stream_index_admission profile); the plan —
    # and therefore every band_key value — is unchanged, only how it is
    # built (int literals keep the exact same implicit bigint casts)
    sigs = hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"min(pmod(h * {2 * i + 3} + {i * 1000003 + 12345}, "
                f"{MERSENNE_P})) AS m{i}"
            )
            for i in range(N_HASHES)
        ]
    )
    bands = F.expr(
        "array("
        + ", ".join(
            f"xxhash64({b}, m{2 * b}, m{2 * b + 1})"
            for b in range(N_BANDS)
        )
        + ")"
    )
    return sigs.select("doc_id", F.explode(bands).alias("band_key"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs over any (id, text) DataFrame.

    Pipeline: shingle (narrow) → explode → hash once → 64 codegen'd MIN
    aggregates (one 64-long row per doc shuffled) → 32 bands of 2 →
    explode bands → self-join on band signature → exact-Jaccard
    verification of candidates ≥ threshold.

    Parameter choice (measured at sf0.1): 64 hashes / 32 bands over
    128/64 cuts cold time 7.5s → 2.3s (the dominant cold cost is
    whole-stage-codegen COMPILATION of the wide agg, quadratic-ish in
    expression count) at a miss probability of (1-J²)^32 — ≈1e-4 for a
    pair at exactly J=0.5, ≈1e-23 at the J≥0.9 the near-dup fixtures
    actually contain. Candidate recall is therefore effectively exact
    and the brute-force pair SQL doubles as the correctness oracle.

    The shingle sets and band table are .persist()ed: each appears on
    BOTH sides of a self-join (and `sh` again in the verification
    stage), so an unpersisted plan recomputes the split→shingle→hash
    subtree up to 4×. MEMORY_AND_DISK keeps that safe at cluster scale
    (signatures are ~N_HASHES longs/doc; shingle sets ~ corpus size —
    spillable). Measured: warm 1.7s → 0.3s, cold 2.3s → 1.6s at sf0.1.
    Lifetime note: the entries live until session end, but Spark's
    CacheManager dedupes identical plans, so REPEATED invocation over
    the same input does not accumulate (measured: 2 persistent RDDs
    after 1 run and after 4) — bounded at one pair per distinct input,
    and lineage-recoverable on executor loss (why persist over
    localCheckpoint here).

    Returns (doc_a, doc_b, jaccard). Replaces Pinecone-delegated
    similarity dedup (A16/A18)."""
    d = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    s = d.select("doc_id", _shingles().alias("sh")).persist()
    banded = minhash_band_postings(s).persist()
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), "band_key")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter.cast("double") / union
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH s AS ({_SHINGLE_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
                 / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))), 6) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
          / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs over the full documents fixture — the
    registered face of minhash_lsh_pairs (see its docstring for the
    pipeline and recall math)."""
    return minhash_lsh_pairs(table(spark, sf_dir, "documents"))


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """32-bit SimHash signature per document from token hashes (weighted
    bit voting), as (doc_id, simhash).

    Explodes tokens, hashes each once, and takes 32 codegen'd SUM votes
    (map-side combined) — same explode→multi-agg shape as
    dedup_minhash_lsh, for the same reason: per-row higher-order
    aggregates run interpreted and re-scan the token array per bit.

    Token hash is the first 60 bits of md5 (not xxhash64): md5 is the one
    hash DuckDB and Spark compute identically, which is what lets the
    brute-force SQL oracle act as a value-level check. At 100 TB you'd
    swap in xxhash64 (cheaper per token) and widen the signature to 64
    bits; the signature algebra is hash-agnostic."""
    d = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    hashed = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum((F.shiftrightunsigned("h", j) % 2) * 2 - 1).alias(f"v{j}")
            for j in range(32)
        ]
    )
    sim = F.lit(0).cast("long")
    for j in range(32):
        sim = sim + F.when(
            F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_band_keys(max_hamming: int = 6, sig_bits: int = 32) -> Column:
    """Array of pigeonhole band keys over a `simhash` column: the
    signature split into max_hamming+1 disjoint bit bands, each key =
    band_index · stride + band bits. Band key = band_index · 2^max_width
    + band bits — the stride uses the WIDEST band so key ranges are
    disjoint across bands (a per-band stride of 2^width_i overlaps when
    widths differ, which silently inflated the candidate join with
    cross-band collisions; exactness was unaffected — the popcount
    filter removed them — but the candidate cut is the whole point of
    banding). Shared by simhash_pairs (self-join) and the streaming
    near-dup gate (stream-static join)."""
    n_bands = max_hamming + 1
    if n_bands > sig_bits:
        raise ValueError(f"max_hamming={max_hamming} needs more bands than bits")
    base, extra = divmod(sig_bits, n_bands)
    widths = [base + 1] * extra + [base] * (n_bands - extra)
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    stride = 1 << max(widths)
    return F.array(
        *[
            F.lit(i * stride)
            + F.shiftrightunsigned("simhash", offsets[i]).bitwiseAND(
                F.lit((1 << widths[i]) - 1)
            )
            for i in range(n_bands)
        ]
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ max_hamming via a
    BANDED bucket join — exact, never all-pairs.

    Pigeonhole: split the 32-bit signature into max_hamming+1 disjoint
    bit bands; any pair within Hamming ≤ max_hamming differs in at most
    max_hamming bands, so at least one band is bit-identical. Candidate
    pairs therefore come from an EQUI self-join on (band_index,
    band_bits) — a hash join whose output is bounded by real bucket
    co-occupancy, not N² — and are verified with an exact XOR/popcount
    filter before dedup. Same shape as minhash_lsh_pairs' band join, and
    provably the same result set as the brute-force scan (kept as
    simhash_pairs_bruteforce for the oracle-twin role).

    Scale note: h=6 over 32 bits forces 7 bands of 4-5 bits (≤32 values
    per band), so bucket sizes are ~N/32 per band — a ~150× candidate
    cut, but still quadratic in the limit. The production configuration
    is the Manku et al. (WWW'07) one: a 64-bit signature with h=3 → 4
    bands of 16 bits → buckets of ~N/65536. The band algebra below is
    parameterized only by signature width and h, so that upgrade is a
    constant change; 32 bits is kept here because the DuckDB oracle
    computes the identical signature."""
    band_keys = simhash_band_keys(max_hamming)
    sigs = simhash_signatures(df, id_col, text_col)
    banded = sigs.select(
        "doc_id", "simhash", F.explode(band_keys).alias("band_key")
    ).persist()
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        banded.alias("a")
        .join(banded.alias("b"), "band_key")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(ham <= max_hamming)  # popcount verify BEFORE the distinct
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def simhash_pairs_bruteforce(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
) -> DataFrame:
    """All-pairs XOR/popcount scan — O(N²) by construction, kept ONLY as
    the verification twin of the banded simhash_pairs (tests assert both
    return identical pair sets). Not registered as a query."""
    sigs = simhash_signatures(df, id_col, text_col)
    a, b = sigs.alias("a"), sigs.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(ham <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .orderBy("doc_a", "doc_b")
    )


# DuckDB twin of simhash_signatures — shared by the dedup_simhash and
# stream_neardup_gate oracles (one signature definition per engine).
SIMHASH_SIGS_SQL = """hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 15))::BIGINT AS h
      FROM documents
    ),
    votes AS (
      SELECT doc_id, j, SUM(((h >> j) & 1) * 2 - 1) AS v
      FROM hashed CROSS JOIN generate_series(0, 31) t(j)
      GROUP BY doc_id, j
    ),
    sigs AS (
      SELECT doc_id,
             SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
      FROM votes GROUP BY doc_id
    )"""


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {SIMHASH_SIGS_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs over the documents fixture — the registered face of
    the BANDED simhash_pairs (7-band pigeonhole bucket join, exact for
    Hamming ≤ 6). md5-based token bits make the signature bit-identical
    across engines, so the brute-force SQL is a full value oracle."""
    return simhash_pairs(table(spark, sf_dir, "documents"))


@register(
    "dedup_edit_distance",
    oracle="""
    SELECT a.p_partkey AS key_a,
           b.p_partkey AS key_b,
           a.p_name    AS name_a,
           b.p_name    AS name_b,
           LEVENSHTEIN(a.p_name, b.p_name) AS dist
    FROM part a
    JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE a.p_brand = 'Brand#1'
      AND LEVENSHTEIN(a.p_name, b.p_name) <= 4
    ORDER BY key_a, key_b
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-duplicate names by Levenshtein distance ≤ 4, blocked on an
    equi key (brand) — the blocking-key pattern that makes edit-distance
    dedup feasible at scale: candidate pairs come from a hash join on
    the block, never an unblocked O(N²) comparison; the DP distance runs
    JVM-side (built-in levenshtein, no UDF).

    Two pair-level prunes keep the per-pair cost proportional to the
    THRESHOLD, not the name length (the round-4 tripwire fix): (1) a
    length prefilter in the join condition — |len(a)−len(b)| ≤ 4 is
    necessary for dist ≤ 4 and costs one integer compare, so hopeless
    pairs never reach the DP; (2) the threshold form
    levenshtein(a, b, 4) runs the banded O(k·n) DP with early exit
    (returns −1 past the bound) instead of the full O(n²) matrix.
    Values returned for surviving pairs are the exact distance, so the
    oracle is unchanged."""
    a = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").alias("a")
    b = table(spark, sf_dir, "part").alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 4)
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (
                F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name")))
                <= F.lit(4)
            ),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") >= 0)
        .orderBy("key_a", "key_b")
    )


def bounded_neardup_edges(spark: SparkSession, sf_dir: str, id_bound: int = 200) -> DataFrame:
    """(src, dst) exact-Jaccard match edges over the doc_id < id_bound
    slice — THE match graph shared by the CC-family consumers
    (dedup_connected_components, dedup_cluster_representative,
    sampling.sample_cluster_holdout), extracted to one definition so the
    edge rule (shingle form, threshold, bound) can never silently
    diverge between the ops a property test compares against each
    other. The O(N²) pair scan is the oracle-tractable bounded twin of
    the production pair generator (minhash_lsh_pairs — identical
    candidate set at fixture scale per the LSH recall argument)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < id_bound)
    s = d.select("doc_id", _shingles().alias("sh"))
    a, b = s.alias("a"), s.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = inter.cast("double") / union
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select(
            F.col("a.doc_id").alias("src"),
            F.col("b.doc_id").alias("dst"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE s AS ({_SHINGLE_SQL}),
    bounded AS (SELECT * FROM s WHERE doc_id < 200),
    edges AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM bounded a JOIN bounded b ON a.doc_id < b.doc_id
      WHERE LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
            / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= {JACCARD_THRESHOLD}
    ),
    undirected AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
    reach(node, root) AS (
      SELECT DISTINCT a AS node, a AS root FROM undirected
      UNION
      SELECT u.b AS node, r.root FROM reach r JOIN undirected u ON u.a = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(root) AS comp_id FROM reach GROUP BY node)
    SELECT c.doc_id, c.comp_id, cnt.comp_size
    FROM comp c
    JOIN (SELECT comp_id, COUNT(*) AS comp_size FROM comp GROUP BY comp_id) cnt
      USING (comp_id)
    ORDER BY comp_id, doc_id
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from pairwise matches — the step after any
    pair generator (LSH/SimHash/Jaccard): connected components over the
    match graph, component id = min doc_id (the canonical survivor).
    Registered face of connected_components (alternating large-star /
    small-star, see its docstring); the DuckDB oracle is the same
    fixpoint via a recursive CTE."""
    comp = connected_components(bounded_neardup_edges(spark, sf_dir))
    sizes = comp.groupBy("comp_id").agg(F.count(F.lit(1)).alias("comp_size"))
    return (
        comp.join(sizes, "comp_id")
        .select(F.col("node").alias("doc_id"), "comp_id", "comp_size")
        .orderBy("comp_id", "doc_id")
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
    _rounds_out: list | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list via alternating
    large-star / small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — (node, comp_id) with
    comp_id = the component's minimum node id.

    Per round (each a groupBy(min) + join, all map-side combinable):
      * large-star: every node links its LARGER neighbors to its
        minimum neighbor-or-self — long tails collapse toward minima;
      * small-star: every node links its smaller-or-equal neighbors and
        itself to that minimum — stars flatten.
    The edge set converges to a disjoint union of stars rooted at
    component minima in O(log² n) rounds on ANY graph — unlike min-label
    propagation, whose round count is the graph DIAMETER (a 10⁶-hop
    chain in a web-scale crawl graph would need 10⁶ rounds; this needs
    ~40). Each round localCheckpoint()s the (usually shrinking) edge
    list so lineage stays flat; convergence = edge multiset unchanged
    (checked with one count + one anti-join count per round — a
    long-chain fixture pins the round bound in tests/test_rag_ops.py).

    Deterministic: min() everywhere, no randomness. Isolated nodes never
    appear in an edge list, so (as with any edge-list CC) they emerge as
    singleton components only if self-loops (u,u) are included — which
    work as promised: a node appearing only in self-loops returns as its
    own singleton component (tests/test_api.py pins it)."""
    raw = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    # nodes appearing ONLY in self-loops (u,u) would vanish in the
    # normalize step below; remember them so they come back as the
    # singleton components the contract promises
    # ONE normalize pass over the (possibly expensive — LSH pair
    # generation in the pipeline op) input lineage serves both the
    # self-loop singleton set and the working edge set: within a
    # normalized (min, max, is_loop) row, loops carry (u, u, true) and
    # non-loops a constant false, so one distinct is exactly the two
    # distincts the previous form ran as two separate checkpoint jobs.
    # (Lazy checkpoints with the probe as materializing action were
    # tried here and measured consistently SLOWER than eager ones —
    # paired ABBA: dedup_connected_components 2.07 -> 2.61 s,
    # graph_bfs_layers 3.34 -> 4.10 s — so every checkpoint stays
    # eager; the fused normalize pass above is kept on its own merit.)
    norm = (
        raw.select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
            (F.col("u") == F.col("v")).alias("_loop"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    selfers = norm.filter(F.col("_loop")).select("u")
    e = norm.filter(~F.col("_loop")).select("u", "v")

    def large_star(ed: DataFrame) -> DataFrame:
        und = ed.unionByName(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            und.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        # orient every edge (greater → smaller); each node u then links
        # its smaller neighbors AND itself to its minimum neighbor
        oriented = ed.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m = oriented.groupBy("u").agg(F.min("v").alias("m"))
        linked = oriented.join(m, "u")
        out = linked.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
            m.select(F.col("u"), F.col("m").alias("v"))
        )
        return (
            out.filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
        )

    prev_count = e.count()
    for r in range(max_rounds):
        new_e = small_star(large_star(e)).localCheckpoint(eager=True)
        # converged when the canonical edge sets match: both sides are
        # distinct normalized (min,max) pairs, so ONE left-join pass
        # yields |new| and |new ∩ old| together — equal to each other and
        # to |old| ⇔ set equality (2 jobs/round incl. the checkpoint,
        # vs 3 with a separate count + anti-join)
        marked = e.select("u", "v", F.lit(1).alias("_old"))
        stats = (
            new_e.join(marked, ["u", "v"], "left")
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.count("_old").alias("matched"),
            )
            .head()
        )
        if stats.total == prev_count and stats.matched == stats.total:
            e = new_e
            if _rounds_out is not None:
                _rounds_out.append(r + 1)
            break
        prev_count = stats.total
        e = new_e
    else:
        raise RuntimeError(f"connected_components did not converge in {max_rounds} rounds")

    # converged stars: every edge is (child, root) with root = component
    # min; roots get their own id back via the union-with-self
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    comp = (
        und.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("comp_id"))
        .select(F.col("u").alias("node"), "comp_id")
    )
    # self-loop-only nodes re-enter as the promised singletons; nodes
    # with both a self-loop and real edges already carry a component.
    # Gated on self-loops EXISTING (one cheap head on the already-
    # materialized frame): the usual pair-generator edge lists have
    # none, and the anti-join would otherwise plant a corpus-shuffling
    # SortMergeJoin in every consumer's plan for nothing
    if selfers.head(1):
        lonely = selfers.join(comp, selfers.u == comp.node, "left_anti").select(
            F.col("u").alias("node"), F.col("u").alias("comp_id")
        )
        comp = comp.unionByName(lonely)
    return comp


@register(
    "dedup_cluster_representative",
    oracle=f"""
    WITH RECURSIVE s AS ({_SHINGLE_SQL}),
    bounded AS (SELECT * FROM s WHERE doc_id < 200),
    edges AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM bounded a JOIN bounded b ON a.doc_id < b.doc_id
      WHERE LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
            / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= {JACCARD_THRESHOLD}
    ),
    undirected AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
    reach(node, root) AS (
      SELECT DISTINCT a AS node, a AS root FROM undirected
      UNION
      SELECT u.b AS node, r.root FROM reach r JOIN undirected u ON u.a = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(root) AS comp_id FROM reach GROUP BY node),
    q AS (SELECT doc_id, {QUALITY_SQL} AS quality FROM documents),
    sized AS (SELECT comp_id, COUNT(*) AS comp_size FROM comp GROUP BY comp_id),
    ranked AS (
      SELECT c.comp_id, sized.comp_size, c.doc_id, q.quality,
             ROW_NUMBER() OVER (PARTITION BY c.comp_id
                                ORDER BY q.quality DESC, c.doc_id) AS rn
      FROM comp c JOIN q USING (doc_id) JOIN sized USING (comp_id)
    )
    SELECT comp_id, comp_size, doc_id AS rep_doc_id, quality AS rep_quality
    FROM ranked WHERE rn = 1
    ORDER BY comp_id
    """,
)
def dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection per near-dup cluster — the step
    real curation pipelines (Dolma, FineWeb) run AFTER clustering:
    dedup_first_occurrence keeps the earliest copy and
    dedup_connected_components canonicalizes on min doc_id, but what a
    training corpus wants to keep is the HIGHEST-QUALITY member of each
    cluster. Shares the composed quality score with text_quality_score
    (one definition, textstats.QUALITY_SQL / quality_expr) and the
    cluster construction with dedup_connected_components, so the three
    ops form one coherent dedup story.

    Plan shape: pairwise edges → alternating-star connected components
    (see connected_components) → per-component size agg → the quality
    projection joined onto MEMBER rows only (the components frame is
    candidate-pair-sized, not corpus-sized, so Catalyst broadcasts it
    onto the narrow quality scan) → rank window per component,
    WindowGroupLimit-pruned to the single survivor. At 100 TB the
    expensive part is the pair generator (LSH, already bounded); this
    selection adds one broadcast join and a window over cluster-sized
    groups only. Docs in no cluster never enter the plan — they survive
    by definition and need no ranking.

    Reference provenance: the reference keeps the FIRST title variant
    it happens to iterate (ra/agent.py:69-77, set() order); this op is
    the deterministic, quality-ranked form of that choice.
    """
    comp = connected_components(bounded_neardup_edges(spark, sf_dir))
    sizes = comp.groupBy("comp_id").agg(F.count(F.lit(1)).alias("comp_size"))
    quality = table(spark, sf_dir, "documents").select(
        "doc_id", quality_expr().alias("quality")
    )
    # explicit broadcasts: comp comes out of the CC loop as a
    # checkpointed RDD scan with no stats, so Catalyst would otherwise
    # plan SortMergeJoins — shuffling the corpus-sized quality scan to
    # meet a cluster-members-sized frame
    membership = comp.select(F.col("node").alias("doc_id"), "comp_id").join(
        F.broadcast(sizes), "comp_id"
    )
    members = quality.join(F.broadcast(membership), "doc_id")
    w = W.partitionBy("comp_id").orderBy(F.col("quality").desc(), F.col("doc_id"))
    return (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "comp_id",
            "comp_size",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("quality").alias("rep_quality"),
        )
        .orderBy("comp_id")
    )


# 0.1 on 3-gram shingles ≈ the published 8-13-gram/0.6 settings scaled to
# this corpus's short synthetic docs (background shingle collisions sit
# below 0.1 here; true partial-overlap pairs land 0.1-1.0).
CONTAIN_THRESHOLD = 0.1
EVAL_MOD = 25  # doc_id % 25 == 0 → held-out benchmark/eval doc


@register(
    "dedup_contamination",
    oracle=f"""
    WITH s AS ({_SHINGLE_SQL}),
    ev AS (SELECT doc_id AS eval_id, sh FROM s WHERE doc_id % {EVAL_MOD} = 0),
    tr AS (SELECT doc_id AS train_id, sh FROM s WHERE doc_id % {EVAL_MOD} <> 0)
    SELECT t.train_id, e.eval_id,
           ROUND(LEN(LIST_INTERSECT(t.sh, e.sh))::DOUBLE / LEN(e.sh), 6) AS containment
    FROM tr t JOIN ev e
      ON LEN(LIST_INTERSECT(t.sh, e.sh))::DOUBLE / LEN(e.sh) >= {CONTAIN_THRESHOLD}
    ORDER BY train_id, eval_id
    """,
)
def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents whose 3-gram
    shingle CONTAINMENT of a held-out eval doc crosses the threshold —
    the published
    train/test-overlap scrub every serious pre-training corpus runs
    (GPT-3 App. C / The Pile use exactly this n-gram containment form;
    asymmetric on |eval| so a training doc that swallowed a whole eval
    doc scores 1.0 regardless of how much else it contains).

    Generalizes the reference's dedup surface (A16/A17) to the
    cross-corpus direction the north-star's curation pipeline needs.

    Spark shape — inverted index, NOT a cross join: the (small) eval
    side is exploded to (shingle → eval_id) postings and broadcast; the
    training corpus is exploded narrow and hash-joined on the shingle
    value, so each training shingle meets only the eval docs that
    actually share it. Matched-posting counts groupBy(train_id,
    eval_id), then divide by the broadcast per-eval shingle count. At
    100 TB the training side never shuffles its text — only exploded
    (train_id, shingle) pairs that HIT an eval posting survive the
    broadcast join, and the candidate pair space is bounded by real
    overlap, not N×M. The brute-force DuckDB oracle verifies recall
    exactly (any missed pair would hash-mismatch)."""
    d = table(spark, sf_dir, "documents")
    s = d.select("doc_id", _shingles().alias("sh"))
    ev = s.filter(F.col("doc_id") % EVAL_MOD == 0)
    tr = s.filter(F.col("doc_id") % EVAL_MOD != 0)
    ev_sizes = ev.select(
        F.col("doc_id").alias("eval_id"), F.size("sh").alias("n_eval_sh")
    )
    ev_post = ev.select(
        F.col("doc_id").alias("eval_id"), F.explode("sh").alias("shingle")
    )
    tr_post = tr.select(
        F.col("doc_id").alias("train_id"), F.explode("sh").alias("shingle")
    )
    matched = (
        tr_post.join(F.broadcast(ev_post), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    contain = F.col("n_matched").cast("double") / F.col("n_eval_sh")
    return (
        matched.join(F.broadcast(ev_sizes), "eval_id")
        .filter(contain >= CONTAIN_THRESHOLD)
        .select(
            "train_id",
            "eval_id",
            F.round(contain, 6).alias("containment"),
        )
        .orderBy("train_id", "eval_id")
    )


def canonical_url(col) -> Column:
    """Composable URL canonicalization (api.canonical_url): strip the
    query string and fragment, lowercase the SCHEME://HOST prefix only
    — paths are case-sensitive per RFC 3986 (https://ex.com/Page and
    /page are distinct resources), so a whole-URL lowercase would merge
    distinct documents and the min-id survivor rule would drop one.
    Scheme-less strings have no host to normalize and keep their case.
    The normalize half of dedup_url_normalize, usable as a plain column
    expression over any URL column before an exact-dedup groupBy."""
    stripped = F.regexp_replace(col, r"[?#].*$", "")
    prefix = F.regexp_extract(stripped, r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*)", 1)
    return F.concat(
        F.lower(prefix), F.substring(stripped, F.length(prefix) + 1, F.lit(2**31 - 1))
    )


@register(
    "dedup_url_normalize",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://Ex' || (doc_id % 7) || '.COM/p/' || (doc_id % 500)
               || '?utm_source=x&id=' || doc_id AS url
      FROM documents
    ), stripped AS (
      SELECT doc_id, regexp_replace(url, '[?#].*$', '') AS s
      FROM u
    ), canon AS (
      SELECT doc_id,
             LOWER(regexp_extract(s, '^([a-zA-Z][a-zA-Z0-9+.\\-]*://[^/]*)', 1))
               || SUBSTRING(s, LENGTH(regexp_extract(s, '^([a-zA-Z][a-zA-Z0-9+.\\-]*://[^/]*)', 1)) + 1)
               AS canon_url
      FROM stripped
    )
    SELECT canon_url,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           MIN(doc_id)              AS keep_doc_id
    FROM canon
    GROUP BY canon_url
    HAVING COUNT(*) > 1
    ORDER BY canon_url
    """,
)
def dedup_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first pass every web-crawl
    curation pipeline runs before any content hashing: strip the query
    string and fragment, lowercase, then exact-group on the canonical
    form (CCNet/RefinedWeb normalize-then-dedup shape). Keeps the
    minimum doc_id per canonical URL as the surviving representative,
    reporting only groups that actually collapsed.

    URLs are synthesized deterministically from doc_id (the fixture
    corpus has no URL column — same convention as the multimodal fake
    decodes); the operator under test is the normalize + exact-group
    plan: pure codegen string expressions into one hash aggregate whose
    shuffle carries one row per canonical URL, so at crawl scale the
    exchange is bounded by distinct URLs, not raw rows.
    Reference provenance: generalizes the reference's duplicate-upsert
    defect fix (A11/A13, wall-clock-salted vector ids — SURVEY Appendix
    A.4) from ids to the URL column proper.
    """
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://Ex"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM/p/"),
        (F.col("doc_id") % 500).cast("string"),
        F.lit("?utm_source=x&id="),
        F.col("doc_id").cast("string"),
    )
    canon = d.select("doc_id", canonical_url(url).alias("canon_url"))
    return (
        canon.groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_dups") > 1)
        .orderBy("canon_url")
    )


@register(
    "dedup_pipeline_survivors",
    oracle=f"""
    WITH RECURSIVE s AS ({_SHINGLE_SQL}),
    edges AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
            / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= {JACCARD_THRESHOLD}
    ),
    undirected AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
    reach(node, root) AS (
      SELECT DISTINCT a AS node, a AS root FROM undirected
      UNION
      SELECT u.b AS node, r.root FROM reach r JOIN undirected u ON u.a = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(root) AS comp_id FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(c.comp_id, d.doc_id) AS comp_id,
           (COALESCE(c.comp_id, d.doc_id) = d.doc_id) AS keep
    FROM documents d LEFT JOIN comp c USING (doc_id)
    ORDER BY doc_id
    """,
)
def dedup_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production near-dup dedup pipeline, end-to-end in one
    plan: MinHash+LSH candidate pairs (minhash_lsh_pairs — banded
    bucket join, never all-pairs) → connected components over the match
    graph (connected_components — alternating large-star/small-star,
    O(log² n) rounds) → survivor selection: each cluster keeps its
    minimum doc_id, every unclustered doc keeps itself. Emits the full
    corpus as (doc_id, comp_id, keep) — the keep column IS the dedup
    filter a curation run applies before training.

    This is the composition every large-scale text pipeline actually
    runs (pair generation alone is not a dedup decision; clustering
    without canonical selection is not either). Scale shape: the three
    stages are individually bucketed/bounded (see their docstrings);
    the final survivor join is a left join of the corpus against the
    component map — comp map rows ≤ clustered docs ≪ corpus, so it
    broadcasts at any realistic dup rate.

    The oracle replays the same composition in SQL: brute-force exact
    Jaccard pairs (the LSH recall argument in minhash_lsh_pairs makes
    the candidate sets identical at fixture scale) + recursive-CTE
    reachability + the same left join.
    Reference provenance: A16/A18's Pinecone-delegated similarity
    dedup, composed into the end-to-end curation decision the reference
    app never materializes.
    """
    d = table(spark, sf_dir, "documents")
    edges = minhash_lsh_pairs(d).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(edges)
    return (
        d.select("doc_id")
        .join(
            F.broadcast(comp.select(F.col("node").alias("doc_id"), "comp_id")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("comp_id", "doc_id").alias("comp_id"),
            (F.coalesce("comp_id", "doc_id") == F.col("doc_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_exact_substring",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             UNNEST(generate_series(1, LENGTH(text) - 39)) AS pos,
             text
      FROM documents
      WHERE LENGTH(text) >= 40
    ), hashed AS (
      SELECT doc_id, pos,
             MD5(SUBSTRING(text, CAST(pos AS INTEGER), 40)) AS h
      FROM grams
    ), dup AS (
      SELECT h FROM hashed GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ), per_doc AS (
      SELECT hashed.doc_id,
             COUNT(*) AS n_grams,
             COUNT(dup.h) AS n_dup_grams
      FROM hashed LEFT JOIN dup ON dup.h = hashed.h
      GROUP BY hashed.doc_id
    )
    SELECT doc_id, n_grams, n_dup_grams,
           ROUND(n_dup_grams / CAST(n_grams AS DOUBLE), 6) AS dup_frac
    FROM per_doc
    WHERE n_dup_grams > 0
    ORDER BY dup_frac DESC, doc_id
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile (the Lee et al. 2022
    "Deduplicating Training Data" signal, fixed-gram form): every
    40-char window is hashed; windows whose hash occurs in ≥2 distinct
    documents are duplicated spans, and each document reports how much
    of it is covered by such spans. Docs with any duplicated span,
    most-duplicated first.

    Unlike the suffix-array original (which needs a global sort of all
    suffixes), the fixed-gram form is pure explode + hash-agg, and the
    gram stream is touched EXACTLY ONCE: it collapses immediately into
    the (h, doc_id) → cnt aggregate (map-side combinable, so within-doc
    boilerplate repeats never reach the exchange), a count-over-h
    window on that aggregate marks grams seen in ≥2 docs, and the
    per-doc duplicated-position count is a second tiny aggregation of
    the flagged rows. n_grams needs no gram data at all — it is
    length(text) − 39 straight off the scan — so the earlier form's
    re-shuffle-and-join of the full gram stream (measured: over half
    the operator at sf0.1) is gone entirely. Exchanges carry 8-byte
    xxhash64 keys, never text — the hash never crosses the oracle
    boundary (the output is counts; the oracle groups raw substrings),
    so Spark's native hash replaces md5's hex materialization
    (measured 2×). 40 chars ≈ the 50-token threshold of the paper
    scaled to the fixture's ~300-char docs.
    """
    d = table(spark, sf_dir, "documents").filter(F.length("text") >= 40)
    g = (
        d.select(
            "doc_id",
            "text",
            F.posexplode(F.sequence(F.lit(1), F.length("text") - 39)).alias(
                "_i", "pos"
            ),
        )
        .select(
            "doc_id", F.xxhash64(F.expr("substring(text, pos, 40)")).alias("h")
        )
        # ONE exchange serves both shuffles: hash-partitioning on h
        # satisfies the (h, doc_id) aggregate's clustering (h is a
        # subset of its keys) AND the n_docs window's partitioning, so
        # the explicit repartition replaces the aggregate exchange and
        # the window exchange (2 Exchange → 1, verified in the plan
        # gate). Bytes are a trade-off, not a guaranteed drop: the
        # exchange now sits BELOW the (h, doc_id) aggregate, so it
        # carries every raw gram row and loses the map-side partial
        # combine the two-exchange form had. On a high-duplication
        # corpus (one gram repeated many times inside a doc) that one
        # exchange can carry more bytes than the two it replaces; on
        # mostly-distinct grams it carries fewer.
        .repartition(F.col("h"))
        .groupBy("h", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wh = W.partitionBy("h")
    dup_per_doc = (
        g.withColumn("n_docs", F.count(F.lit(1)).over(wh))
        .filter(F.col("n_docs") >= 2)
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("n_dup_grams"))
    )
    per_doc = d.select(
        "doc_id", (F.length("text") - 39).cast("bigint").alias("n_grams")
    ).join(dup_per_doc, "doc_id")
    return (
        per_doc.filter(F.col("n_dup_grams") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.round(F.col("n_dup_grams") / F.col("n_grams").cast("double"), 6).alias(
                "dup_frac"
            ),
        )
        .orderBy(F.col("dup_frac").desc(), "doc_id")
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH s AS ({_SHINGLE_SQL}),
    postings AS (
      SELECT doc_id, UNNEST(sh) AS sh FROM s
    ), rare AS (
      SELECT sh FROM postings GROUP BY sh HAVING COUNT(*) <= 50
    ), p AS (
      SELECT postings.doc_id, postings.sh
      FROM postings JOIN rare USING (sh)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM p GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM p a JOIN p b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT sh.doc_a, sh.doc_b, sh.n_shared,
           ROUND(sh.n_shared / CAST(sa.n_sh AS DOUBLE), 6) AS containment
    FROM shared sh JOIN sizes sa ON sa.doc_id = sh.doc_a
    WHERE sa.n_sh >= 5
      AND sh.n_shared / CAST(sa.n_sh AS DOUBLE) >= 0.6
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs — C(A,B) = |shingles(A) ∩
    shingles(B)| / |shingles(A)| ≥ 0.6: A is (nearly) contained in B.
    Jaccard misses exactly this case (a paragraph quoted inside a much
    longer document scores near-zero Jaccard but containment ≈ 1) —
    it is the quote/boilerplate/benchmark-leakage detector, the
    pairwise generalization of dedup_contamination's one-sided check.

    Inverted-index shape, never all-pairs: postings (shingle → doc)
    self-join on the shingle, grouped to shared-counts. The
    document-frequency cap (df ≤ 50) is what makes the postings join
    scale-safe: a stopword-ish shingle appearing in k docs would emit
    k² pair rows, so the metric is DEFINED over discriminative
    shingles only (standard practice — hot shingles carry no
    containment signal anyway) and the join fan-out is bounded by
    df_cap² per shingle. Docs need ≥5 discriminative shingles to
    score, killing trivial 1-shingle full-containments. Both
    directions emerge naturally (C(A,B) and C(B,A) differ by the
    denominator). (A groupBy(sh) + in-task pair-expansion form — one
    exchange instead of the join — was tried and measured SLOWER
    paired min-of-3, 4.10 → 4.50 s: at fixture scale AQE broadcasts
    the small postings side, beating the collect_list + HOF expansion;
    at 100 TB AQE falls back to the same shuffled join either way, so
    the join form is kept.)
    """
    d = table(spark, sf_dir, "documents")
    postings = d.select(
        "doc_id", F.explode(_shingles()).alias("sh")
    )
    rare = (
        postings.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 50)
        .select("sh")
    )
    # p feeds THREE consumers (sizes, both postings-join sides) —
    # materialize once or the shingle-explode + df-cap lineage re-runs
    # three times (same fix as graph_jaccard_neighbors, round 4)
    p = postings.join(rare, "sh").localCheckpoint(eager=True)
    sizes = p.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = p.select(F.col("doc_id").alias("doc_a"), "sh")
    b = p.select(F.col("doc_id").alias("doc_b"), "sh")
    shared = (
        a.join(b, "sh")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # no broadcast hint on sizes: it is one row per doc holding any
    # rare shingle — effectively corpus-sized, the one frame here with
    # NO smallness argument (contrast dedup_contamination's eval side);
    # a forced broadcast would OOM the driver at the scale the df-cap
    # exists for. AQE picks broadcast at fixture scale on its own.
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), "n_sh"), "doc_a"
        )
        .filter(
            (F.col("n_sh") >= 5)
            & (F.col("n_shared") / F.col("n_sh").cast("double") >= 0.6)
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_sh").cast("double"), 6).alias(
                "containment"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_paragraph_rewrite",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), ch AS (
      SELECT doc_id, p AS pos,
             array_to_string(ws[p*10+1 : p*10+10], ' ') AS chunk
      FROM w, UNNEST(generate_series(0, CAST(CEIL(len(ws) / 10.0) AS INT) - 1)) AS t(p)
    ), k AS (
      SELECT doc_id, pos, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
      FROM ch
    )
    SELECT doc_id,
           STRING_AGG(chunk, ' ' ORDER BY pos) FILTER (WHERE rn = 1) AS text_clean,
           COUNT(*) FILTER (WHERE rn = 1)                            AS n_kept,
           COUNT(*) FILTER (WHERE rn > 1)                            AS n_dropped
    FROM k
    GROUP BY doc_id
    HAVING COUNT(*) FILTER (WHERE rn = 1) > 0
    ORDER BY doc_id
    """,
)
def dedup_paragraph_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup with document REWRITE — the C4/Dolma
    mechanism: the dedup unit is smaller than the document (here a
    fixed 10-word segment standing in for a paragraph — the fixture
    text has no newlines), only the corpus-wide FIRST occurrence of
    each distinct segment survives (first = smallest (doc_id, pos)),
    and every document is re-assembled from its surviving segments in
    position order. Documents whose every segment was seen earlier
    vanish from the corpus — dedup_exact/dedup_exact_substring PROFILE
    duplication; this op performs the actual corpus-cleaning write.

    Spark shape: one posexplode pass segments the corpus; the
    first-occurrence decision is a map-side-combinable
    min(struct(doc_id, pos)) groupBy on the segment (8-byte-hashable
    unit — at 100 TB group on xxhash64(segment) and carry the text
    only through the rewrite join), then one join back and one per-doc
    ordered reassembly via array_sort(collect_list(struct(pos, seg))).
    The segment stream is localCheckpointed for its two consumers
    (first-occurrence winners + per-doc totals). No window over the
    raw corpus: the window form would sort every replica of a hot
    segment; the min-struct agg combines map-side, so a
    billion-duplicate segment costs one row per partition in the
    exchange — the same skew argument as dedup_exact.
    Reference provenance: none (the reference stores documents
    verbatim); north-star curation surface, public recipe = C4
    three-sentence-span dedup (Raffel et al. 2020) / Dolma paragraph
    dedup.
    """
    seg_words = 10
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    n_seg = F.ceil(F.size("ws") / F.lit(float(seg_words))).cast("int")
    segs = (
        d.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_seg - 1),
                    lambda p: F.array_join(
                        F.slice("ws", p * seg_words + 1, seg_words), " "
                    ),
                )
            ).alias("pos", "chunk"),
        )
        .localCheckpoint(eager=False)
    )
    first = segs.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "pos")).alias("f")
    )
    kept = (
        segs.join(first, "chunk")
        .filter((F.col("doc_id") == F.col("f.doc_id")) & (F.col("pos") == F.col("f.pos")))
        .select("doc_id", "pos", "chunk")
    )
    totals = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_total"))
    out = (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s.chunk,
                ),
                " ",
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(totals, "doc_id")
        .select(
            "doc_id",
            "text_clean",
            "n_kept",
            (F.col("n_total") - F.col("n_kept")).alias("n_dropped"),
        )
        .orderBy("doc_id")
    )
    return out


@register(
    "dedup_incremental_index",
    oracle=f"""
    -- brute-force cross-side pairs: corpus (doc_id % 3 <> 0) vs the
    -- admitted batch (doc_id % 3 = 0) — the banded index path's recall
    -- argument is dedup_minhash_lsh's (miss prob ~1e-4 at exactly
    -- J=0.5, ~1e-23 at the fixture's J>=0.9), so the exact SQL doubles
    -- as the oracle
    WITH s AS ({_SHINGLE_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
                 / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))), 6) AS jaccard
    FROM s a JOIN s b ON a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0
    WHERE LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
          / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup INDEX: the MinHash LSH band postings
    persisted as a manifest table (band_key → sorted doc list, keyed
    and bucketed on band_key) so new batches are admitted by joining
    against the INDEX — cost O(batch bands + touched buckets' index
    rows) — instead of re-running LSH over the whole corpus, and the
    index itself is maintained by one transactional MERGE per batch
    (the corpus-recompute dedup_minhash_lsh and the stream-static
    admission gate stream_neardup_gate both lack a persisted,
    incrementally-maintained candidate structure; this is the missing
    third face — what a 100 TB always-ingesting corpus actually runs).

    Face: seed the index from corpus docs (doc_id % 3 != 0), admit the
    batch (doc_id % 3 == 0): (1) batch postings via the SAME
    minhash_band_postings stage the corpus used; (2) candidate pairs
    from a BUCKET-PRUNED read of the index — only manifest buckets
    holding some batch band key are opened (the bucket-id collect is
    bounded at n_buckets) — exploded against the batch postings;
    (3) exact-Jaccard verification at J>=0.5 over the shared shingle
    sets; (4) index MERGE: per touched band, old ∪ batch doc list as a
    latest-wins row — untouched buckets' files carry over by identity
    (the merge invariant tests/test_lakehouse.py pins). Re-admitting
    the same batch against the UPDATED index must additionally surface
    the identity pairs — proven in
    tests/test_rag_ops.py::test_incremental_index_readmission.

    Recall is dedup_minhash_lsh's banding math (shared stage, shared
    parameters); candidate inflation from band-key collisions is
    filtered by the exact verification, zero correctness exposure.
    Reference provenance: A16/A18 generalized — the reference
    re-embeds and re-upserts the whole corpus per ingest
    (parser_pinecone_storage.py:118-190); the index admits a batch
    touching only its own band buckets."""
    import shutil

    from .lakehouse import init_table
    from .scans import _adir

    base_dir = _adir(sf_dir, "dedup_index_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    s = docs.select("doc_id", _shingles().alias("sh")).persist()
    corpus_post = minhash_band_postings(s.filter(F.col("doc_id") % 3 != 0))
    idx_seed = corpus_post.groupBy("band_key").agg(
        F.lit(1).alias("ver"),
        F.lit("seed").alias("src"),
        F.sort_array(
            F.array_distinct(F.collect_list("doc_id"))
        ).alias("docs"),
    )
    init_table(idx_seed, base_dir, key_col="band_key", n_buckets=16)

    batch_post = minhash_band_postings(
        s.filter(F.col("doc_id") % 3 == 0)
    ).persist()
    pairs, v = admit_batch_into_index(
        spark, base_dir, batch_post, s, ver=2, src="u1"
    )
    if v != 2:
        raise AssertionError(f"index merge must commit v2, got {v}")
    return pairs.orderBy("doc_a", "doc_b")


def admit_candidates_into_index(
    spark: SparkSession,
    base_dir: str,
    batch_post: DataFrame,
    ver: int,
    src: str,
) -> tuple[DataFrame, int]:
    """Admission WITHOUT the verification join — steps (1), (2) and
    (4) of admit_batch_into_index: bucket-pruned index read, candidate
    (doc_a, doc_b) pairs, index MERGE at version ``ver``. Returns
    (cand, committed version). Callers admitting SEVERAL slices defer
    the exact-Jaccard join and verify the UNION of candidates in one
    pass over the shingle frame (the join distributes over the union,
    and a pair is generated only in its batch doc's own slice, so the
    deferred result is row-identical to per-slice verification)."""
    from .lakehouse import (
        _bucket_of,
        _read_files_aligned,
        load_manifest,
        merge_upsert_manifest,
    )

    man = load_manifest(base_dir)
    n_buckets = man["n_buckets"]
    touched = sorted(
        r.b
        for r in batch_post.select(
            _bucket_of("band_key", n_buckets).alias("b")
        )
        .distinct()
        .collect()  # bounded O(n_buckets) bucket ids — plan metadata
    )
    files = [f for b in touched for f in man["buckets"].get(str(b), [])]
    if files:
        idx_rows = _read_files_aligned(
            spark, files, man["columns"], man["column_types"]
        )
    else:
        idx_rows = spark.createDataFrame(
            [], "band_key bigint, ver int, src string, docs array<bigint>"
        )

    cand = (
        batch_post.join(idx_rows.select("band_key", "docs"), "band_key")
        .select(
            F.explode("docs").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
        .distinct()
    )

    # maintain the index: old ∪ batch per touched band, one commit;
    # latest-wins full-row replacement carries the merged list
    batch_lists = batch_post.groupBy("band_key").agg(
        F.array_distinct(F.collect_list("doc_id")).alias("new_docs")
    )
    upd = (
        batch_lists.join(
            idx_rows.select("band_key", F.col("docs").alias("old_docs")),
            "band_key",
            "left",
        )
        .select(
            "band_key",
            F.lit(ver).alias("ver"),
            F.lit(src).alias("src"),
            F.sort_array(
                F.array_distinct(
                    F.concat(
                        F.coalesce("old_docs", F.array().cast("array<bigint>")),
                        F.col("new_docs"),
                    )
                )
            ).alias("docs"),
        )
    )
    # upd's key set IS batch_post's band_key set (groupBy + left join
    # keep every key), so the bucket set collected above for index
    # pruning doubles as the merge's bucket probe — one fewer full
    # pass over the batch-vs-index join lineage per admission
    v, _ = merge_upsert_manifest(
        base_dir, upd, ver_col="ver", tiebreak_col="src", writer_id=src,
        bucket_hint=(n_buckets, touched),
    )
    return cand, v


def verify_jaccard_pairs(cand: DataFrame, s: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs at
    J >= threshold over the shared shingle-set frame ``s`` — step (3)
    of the admission, factored out so several slices' candidates
    verify in ONE pass over ``s``."""
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter.cast("double") / union
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def admit_batch_into_index(
    spark: SparkSession,
    base_dir: str,
    batch_post: DataFrame,
    s: DataFrame,
    ver: int,
    src: str,
) -> tuple[DataFrame, int]:
    """One admission step against the persisted LSH index (the body
    dedup_incremental_index and the streaming twin share):
    (1) bucket-pruned read of the index for the batch's band keys,
    (2) candidate pairs (index doc, batch doc) via posting explode,
    (3) exact-Jaccard verification at J>=threshold over the shared
    shingle-set frame ``s``, (4) index MERGE of old ∪ batch per
    touched band at version ``ver``. Returns (pairs, committed
    version); pairs stay valid after the merge because committed files
    are immutable (the plan pins the pre-merge file list eagerly).
    Multi-slice admitters (stream_index_admission) use
    admit_candidates_into_index + one verify_jaccard_pairs over the
    unioned candidates instead."""
    cand, v = admit_candidates_into_index(
        spark, base_dir, batch_post, ver, src
    )
    return verify_jaccard_pairs(cand, s), v
