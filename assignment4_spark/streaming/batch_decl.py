"""Streaming operators, batch-declared (SURVEY.md §2 B.9).

Each operator is a Structured-Streaming shape (tumbling/sliding/session
windows, watermark late-data policy, streaming dedup, stateful running
aggregation) declared to the driver as its batch-equivalent DataFrame so
the DuckDB oracle applies. tests/test_streaming.py replays the same
logic through a real readStream (file source, multiple micro-batches)
and asserts end-of-stream equality — SURVEY §5.2.4.

Reference provenance: the reference has no streaming at all (SURVEY §2
"not present"); these model its pipeline batching (A15), session state
(A26) and accumulating agent state (A22) as proper streaming semantics.

Scale notes: windowed aggregations shuffle on (window × key) — bounded
state per watermark; session windows merge per key; streaming dedup
keeps only ids younger than the watermark. All of it is incremental at
100 TB/day ingest rates, which is the reason to express these as
Structured Streaming instead of periodic batch jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..io_util import table
from ..registry import register
from ..operators.dedup import (
    JACCARD_THRESHOLD as _JACCARD,
    SIMHASH_SIGS_SQL,
    _SHINGLE_SQL as _DEDUP_SHINGLE_SQL,
    simhash_band_keys,
    simhash_signatures,
)
from ..operators.drift import DRIFT_REF_SPLIT as _TV_SPLIT


@register(
    "stream_tumbling_count",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS window_start,
           event_type,
           COUNT(*)               AS n,
           ROUND(SUM(value), 2)   AS total_value
    FROM events
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def stream_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows × event_type."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
    )


@register(
    "stream_sliding_avg",
    oracle="""
    WITH expanded AS (
      SELECT TIME_BUCKET(INTERVAL 15 MINUTES, ts) - TO_MINUTES(15 * k) AS window_start,
             value
      FROM events, UNNEST(generate_series(0, 3)) AS t(k)
    )
    SELECT window_start,
           COUNT(*)                                   AS n,
           -- two-step round: the SUM is rounded to 6dp BEFORE dividing,
           -- killing the cross-engine reduction-order ulp noise the TV
           -- operator measured (its integer-micro-unit fold, lighter
           -- form) — then the exact-integer division re-rounds
           ROUND(ROUND(SUM(value), 6) / COUNT(*), 6)  AS avg_value
    FROM expanded
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1 hour length, 15 minute slide — every event lands
    in 4 windows (the oracle expands them explicitly via generate_series)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.round(F.sum("value"), 6) / F.count(F.lit(1)), 6
            ).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "avg_value")
        .orderBy("window_start")
    )


@register(
    "stream_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTES OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id,
           MIN(ts)  AS session_start,
           COUNT(*) AS n_events,
           CAST(DATE_DIFF('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec
    FROM numbered
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user, 30-minute gap (strictly-greater starts a
    new session — pinned in SURVEY §7 risk register). Spark's native
    session_window merges state per key; the oracle is the classic
    gaps-and-islands SQL. Duration = last-first event (not Spark's
    +gap-padded window end, which is implementation-defined)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("_last"),
        )
        .select(
            "user_id",
            "session_start",
            "n_events",
            (F.unix_timestamp("_last") - F.unix_timestamp("session_start")).alias(
                "duration_sec"
            ),
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_dedup_ids",
    oracle="""
    SELECT event_type, COUNT(*) AS n_unique
    FROM (
      SELECT DISTINCT event_id, event_type
      FROM (SELECT event_id, event_type FROM events
            UNION ALL
            SELECT event_id, event_type FROM events)
    )
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id (A13's idempotent-upsert intent): the
    batch declaration doubles the input and deduplicates; the streaming
    harness runs withWatermark().dropDuplicates() over replayed batches."""
    ev = table(spark, sf_dir, "events").select("event_id", "event_type")
    return (
        ev.unionByName(ev)
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .orderBy("event_type")
    )


def gated_sink_updates(ev: DataFrame) -> DataFrame:
    """Shared transform for the GATED merge sink (batch slices AND the
    readStream twin): the merge-sink update shape with the face's
    deterministic dirt — every event_id % 7 = 0 value arrives as
    -value - 1, STRICTLY negative even when value = 0 (a bare negation
    would let a zero-value row pass ``value >= 0`` while the oracle
    counts it quarantined — fixture-dependent flakiness), so the
    value_nonneg expectation quarantines exactly those rows."""
    return merge_sink_updates(ev).withColumn(
        "value",
        F.when(F.col("tie") % 7 == 0, -F.col("value") - 1).otherwise(
            F.col("value")
        ),
    )


GATE_EXPECTATIONS = {"value_nonneg": "value >= 0"}


def cumulative_quarantine(spark: SparkSession, base_dir: str) -> DataFrame:
    """Union of every committed version's quarantine side table — the
    disjoint per-commit quarantines make this the full violating set
    regardless of how the feed was sliced into commits. Iterates only
    the manifest versions STILL ON DISK (``table_history``) — a dense
    range(2, latest+1) would FileNotFoundError on any vacuumed table.
    When no commit quarantined anything, returns an EMPTY frame in the
    quarantine shape (never None) so aggregating callers like
    expectations_gate_summary work unconditionally."""
    from ..operators.lakehouse import read_quarantine, table_history

    quar = None
    for h in table_history(base_dir):
        q = read_quarantine(spark, base_dir, h["version"])
        if q is not None:
            quar = q if quar is None else quar.unionByName(q)
    if quar is None:
        from ..operators.lakehouse import QUARANTINE_REASON_COL

        return spark.createDataFrame(
            [],
            schema=(
                "k bigint, ver bigint, tie bigint, event_type string, "
                f"value double, {QUARANTINE_REASON_COL} string"
            ),
        )
    return quar


def expectations_gate_summary(
    snapshot: DataFrame, quarantine: DataFrame
) -> DataFrame:
    """ONE definition of the gated sink's oracle-checked output shape,
    shared by the registered batch declaration and the readStream
    twin's equality assertion (tests/test_streaming.py)."""
    tbl = (
        snapshot.groupBy(F.col("event_type").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.lit("table").alias("part"), "grp", "n_rows", "sum_value")
    )
    qsum = (
        quarantine.groupBy(F.col("_violation").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.lit("quarantine").alias("part"), "grp", "n_rows",
                "sum_value")
    )
    return tbl.unionByName(qsum).orderBy("part", "grp")


@register(
    "stream_late_data",
    oracle="""
    SELECT COUNT(*)                            AS n_late,
           CAST((SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR AS TIMESTAMP) AS watermark_ts
    FROM events
    WHERE ts < (SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR
    """,
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark policy, batch proxy: rows older than max(ts)-1h are the
    ones a 1-hour watermark would reject if they arrived last. The
    behavioral (arrival-order) variant runs in the streaming harness."""
    ev = table(spark, sf_dir, "events")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("watermark_ts"))
    # Ungrouped aggregate, mirroring the oracle: exactly one row comes
    # back even when NO event is late (n_late=0) — a groupBy on the
    # filtered frame would return zero rows on that fixture shape.
    return (
        ev.crossJoin(F.broadcast(wm))
        .groupBy("watermark_ts")
        .agg(
            F.count(F.when(F.col("ts") < F.col("watermark_ts"), 1)).alias("n_late")
        )
        .select("n_late", "watermark_ts")
    )


@register(
    "stream_stateful_running",
    oracle="""
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER w AS BIGINT)  AS running_count,
           ROUND(SUM(value) OVER w, 2)      AS running_sum
    FROM events
    WHERE user_id < 10
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
)
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running count/sum — the reference's accumulating agent
    state (A22) as keyed streaming state. Batch declaration = window
    cumsum; the streaming form (applyInPandasWithState) lives in
    tests/test_streaming.py and must agree at end-of-stream."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.count(F.lit(1)).over(w).alias("running_count"),
            F.round(F.sum("value").over(w), 2).alias("running_sum"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "stream_stream_join",
    oracle="""
    SELECT l.user_id,
           l.event_id AS l_id,
           r.event_id AS r_id,
           l.ts AS l_ts,
           r.ts AS r_ts
    FROM events l
    JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'click'
     AND r.event_type = 'purchase'
     AND r.ts > l.ts
     AND r.ts <= l.ts + INTERVAL 1 HOUR
    ORDER BY l_id, r_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch-declared: clicks joined to the
    purchases that follow within 1 hour per user. The streaming twin
    (streaming/stream_impl.py:stream_stream_join) carries watermarks on
    BOTH sides plus this two-sided time bound — the pair that lets Spark
    expire join state instead of buffering both streams forever."""
    ev = table(spark, sf_dir, "events")
    l = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    r = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    return (
        l.join(
            r,
            (F.col("user_id") == F.col("r_user"))
            & (F.col("r_ts") > F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select("user_id", "l_id", "r_id", "l_ts", "r_ts")
        .orderBy("l_id", "r_id")
    )


@register(
    "stream_tumbling_topk",
    oracle="""
    WITH counts AS (
      SELECT DATE_TRUNC('hour', ts) AS window_start,
             user_id,
             COUNT(*) AS n
      FROM events
      GROUP BY window_start, user_id
    )
    SELECT window_start, user_id, n, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                       ORDER BY n DESC, user_id) AS rn
          FROM counts)
    WHERE rn <= 3
    ORDER BY window_start, rank
    """,
)
def stream_tumbling_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most active users per tumbling hour — the trending/leader-
    board query every event stream runs. Streaming form: the windowed
    count is a standard watermarked tumbling aggregation
    (stream_tumbling_count's state shape); the per-window rank runs on
    the COMPLETE/emitted windows downstream of the watermark (rank
    inside an open window is not incrementally maintainable — the
    correct streaming decomposition is agg-in-stream, rank-on-emit,
    which is exactly how this batch declaration is layered). Batch
    plan: the count shuffles on (window × user) with map-side combine,
    the rank re-shuffles only the per-window count table (≤ users per
    hour, not events) with WindowGroupLimit pruning to 3 rows per
    window before the exchange completes."""
    ev = table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n")
    )
    rank_w = W.partitionBy("window_start").orderBy(F.col("n").desc(), "user_id")
    return (
        counts.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= 3)
        .orderBy("window_start", "rank")
    )


@register(
    "stream_tv_drift_daily",
    oracle=f"""
    WITH b AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             CAST(LEAST(FLOOR(value / 50), 9) AS INTEGER) AS bin_id
      FROM events
    ),
    cnt AS (SELECT day, bin_id, COUNT(*) AS n FROM b GROUP BY day, bin_id),
    ref AS (
      SELECT CAST(LEAST(FLOOR(value / 50), 9) AS INTEGER) AS bin_id,
             ROUND(COUNT(*) / (SUM(COUNT(*)) OVER ()), 6) AS p_ref
      FROM events WHERE ts < TIMESTAMP '{_TV_SPLIT}'
      GROUP BY bin_id
    ),
    j AS (
      SELECT c.day, c.n, COALESCE(r.p_ref, 0.0) AS p_ref,
             SUM(c.n) OVER (PARTITION BY c.day) AS day_n
      FROM cnt c LEFT JOIN ref r USING (bin_id)
    ),
    t AS (
      SELECT day, n,
             CAST(ROUND(p_ref * 1000000) AS BIGINT) AS p_ref_u,
             CAST(ROUND(ABS(CAST(n AS DOUBLE) / day_n - p_ref) * 1000000)
                  AS BIGINT) AS term_u
      FROM j
    )
    -- CAST(SUM(n) AS BIGINT): DuckDB's SUM over integers is HUGEINT →
    -- float64 in its pandas conversion, vs Spark's non-null int64 — the
    -- r6 driver hash-FAIL on this op (values matched, dtypes didn't).
    -- tv_dist is unaffected: HUGEINT / 2000000.0 is already double.
    SELECT day, CAST(SUM(n) AS BIGINT) AS n_day,
           CAST(COUNT(*) AS INTEGER) AS n_bins_present,
           GREATEST(SUM(term_u) + 1000000 - SUM(p_ref_u), 0) / 2000000.0 AS tv_dist
    FROM t GROUP BY day ORDER BY day
    """,
)
def stream_tv_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous drift monitoring: per-day TOTAL-VARIATION distance
    between the day's `value`-bin distribution and the static reference
    window (first two weeks) — the alerting time series a monitoring
    system plots, as a streaming shape.

    TV (not PSI) is the deliberate choice for the STREAMING form of the
    drift family (agg_psi_drift is the batch sibling): PSI needs a term
    from every bin INCLUDING EMPTY ONES, which would force seeding
    phantom rows into streaming state; TV's absent-bin mass folds into
    closed form — Σ_absent p_ref = 1 − Σ_present p_ref — so the metric
    derives entirely from OBSERVED (day, bin) counts, which is exactly
    the incremental state a windowed streaming aggregation maintains.
    tv = ½(Σ_present |n/day_n − p_ref| + 1 − Σ_present p_ref). Each
    per-row component converts to INTEGER micro-units before the fold:
    a sum of 6 dp-rounded DOUBLES differs in ulp with reduction order,
    and the ×½ parks the result exactly on 6th-digit half-boundaries
    (measured: 0.019443 vs 0.019442 cross-engine before the fix) —
    integer sums are order-free, and the quotient stays UNROUNDED (an
    odd half-micro numerator lands exactly on the 6th-decimal half-
    boundary — rounding it would reopen the tie; the bare division of
    the same integer by the same constant is the same double in both
    engines). A bin absent from the REFERENCE is kept via left join
    (its full p_day mass IS the drift), and the closed-form fold is
    clamped at 0 (per-bin rounded p_ref need not sum to exactly 1).

    Batch declaration: one scan → (day, bin) hash-agg; the 10-row
    reference distribution aggregates from the pre-split slice and
    broadcast-joins onto the counts (in streaming: the canonical
    stream-static join against a pinned reference table); day totals
    and the fold are windows/aggs over ≤10 rows per day. The streaming
    twin (`tv_bin_counts` run on a readStream in complete mode, then
    `tv_from_counts` + `tv_reference` on emit — this module, just
    below) maintains only the windowed counts — replay-proven
    equivalent in tests/test_streaming.py. State per watermark:
    10 rows/day.
    """
    ev = table(spark, sf_dir, "events")
    cnt = tv_bin_counts(ev)
    ref = tv_reference(ev)
    return tv_from_counts(cnt, ref)


def _tv_bin(col: str = "value"):
    return F.least(F.floor(F.col(col) / 50), F.lit(9)).cast("int")


def tv_bin_counts(ev: DataFrame) -> DataFrame:
    """The streaming STATE of stream_tv_drift_daily: per-(day, bin)
    event counts via a 1-day window aggregation — runs unchanged on a
    readStream in complete mode (tests/test_streaming.py)."""
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), _tv_bin().alias("bin_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("date").alias("day"), "bin_id", "n")
    )


def tv_reference(ev: DataFrame) -> DataFrame:
    """The pinned 10-row reference distribution (bin_id, p_ref) from the
    pre-split slice — the static side of the stream-static join."""
    return (
        ev.filter(F.col("ts") < F.lit(_TV_SPLIT).cast("timestamp"))
        .groupBy(_tv_bin().alias("bin_id"))
        .agg(F.count(F.lit(1)).alias("rn"))
        .select(
            "bin_id",
            F.round(F.col("rn") / F.sum("rn").over(W.partitionBy()), 6).alias("p_ref"),
        )
    )


def tv_from_counts(cnt: DataFrame, ref: DataFrame) -> DataFrame:
    """Derive the per-day TV metric from (day, bin, n) counts + the
    broadcast reference — the on-emit step; ONE definition shared by the
    batch declaration and the streaming replay test."""
    # LEFT join + coalesce(p_ref, 0): a day-bin ABSENT from the
    # reference is the most drastic drift signal (novel bin — its term
    # is the full p_day mass); an inner join would silently drop
    # exactly those rows and under-report both tv_dist and n_day.
    j = cnt.join(F.broadcast(ref), "bin_id", "left").withColumn(
        "p_ref", F.coalesce(F.col("p_ref"), F.lit(0.0))
    )
    day_n = F.sum("n").over(W.partitionBy("day"))
    t = j.select(
        "day",
        "n",
        F.round(F.col("p_ref") * 1_000_000).cast("long").alias("p_ref_u"),
        F.round(
            F.abs(F.col("n").cast("double") / day_n - F.col("p_ref")) * 1_000_000
        )
        .cast("long")
        .alias("term_u"),
    )
    # No ROUND on the quotient: tv is an exact INTEGER K of half-micro
    # units divided once by 2e6 — odd K sits exactly on a 6th-decimal
    # half-boundary, where the two engines' rounding could part ways;
    # the bare division of the same integer is the same double in both.
    # GREATEST(…, 0): the rounded per-bin p_ref_u can sum to 1e6 ± a
    # few, which would otherwise emit a (tiny) negative TV distance on
    # a no-drift day.
    return (
        t.groupBy("day")
        .agg(
            F.sum("n").alias("n_day"),
            F.count(F.lit(1)).cast("int").alias("n_bins_present"),
            (
                F.greatest(
                    F.sum("term_u") + 1_000_000 - F.sum("p_ref_u"), F.lit(0)
                )
                / F.lit(2_000_000.0)
            ).alias("tv_dist"),
        )
        .orderBy("day")
    )


# stream_neardup_gate constants: the pinned, already-ingested reference
# half of the corpus (even doc_ids) and the SimHash Hamming radius the
# gate admits at — same radius as dedup_simhash so the two ops share
# one near-dup definition.
NEARDUP_MAX_HAMMING = 6


def build_neardup_ref_index(reference: DataFrame) -> DataFrame:
    """The static side of the gate — reference SimHash signatures
    exploded into their pigeonhole band index. Build ONCE (and
    localCheckpoint) when the same reference gates many micro-batches:
    rebuilding it per batch re-scans and re-aggregates the whole
    reference corpus every trigger."""
    return simhash_signatures(reference).select(
        F.col("doc_id").alias("ref_id"),
        F.col("simhash").alias("ref_sim"),
        F.explode(simhash_band_keys(NEARDUP_MAX_HAMMING)).alias("band_key"),
    )


def neardup_gate(
    incoming: DataFrame,
    reference: DataFrame | None = None,
    ref_index: DataFrame | None = None,
) -> DataFrame:
    """The gate's one shared definition (batch declaration AND the
    readStream replay run exactly this): SimHash both sides, explode the
    reference into its pigeonhole band index, probe each incoming doc's
    bands with an equi-join, popcount-verify, keep min matching ref id.

    `incoming`/`reference` are (doc_id, text) frames; returns
    (doc_id, matched_ref, is_dup) for every incoming doc. Pass
    ``ref_index=build_neardup_ref_index(reference)`` (materialized
    once) when gating MANY micro-batches against one static reference —
    otherwise each call re-runs the reference signature+band
    aggregation from the raw text.

    inc_sigs feeds BOTH the band probe and the closing left join; the
    lazy localCheckpoint materializes the explode + 32-vote signature
    aggregation once instead of twice per call."""
    inc_sigs = simhash_signatures(incoming).localCheckpoint(eager=False)
    if ref_index is None:
        ref_index = build_neardup_ref_index(reference)
    probes = inc_sigs.select(
        "doc_id",
        "simhash",
        F.explode(simhash_band_keys(NEARDUP_MAX_HAMMING)).alias("band_key"),
    )
    ham = F.bit_count(F.col("simhash").bitwiseXOR(F.col("ref_sim")))
    matched = (
        probes.join(ref_index, "band_key")
        .filter(ham <= NEARDUP_MAX_HAMMING)
        .groupBy("doc_id")
        .agg(F.min("ref_id").alias("matched_ref"))
    )
    return (
        inc_sigs.select("doc_id")
        .join(matched, "doc_id", "left")
        .select(
            "doc_id",
            "matched_ref",
            F.col("matched_ref").isNotNull().cast("int").alias("is_dup"),
        )
        .orderBy("doc_id")
    )


@register(
    "stream_neardup_gate",
    oracle=f"""
    WITH {SIMHASH_SIGS_SQL},
    inc AS (SELECT * FROM sigs WHERE doc_id % 2 = 1),
    ref AS (SELECT * FROM sigs WHERE doc_id % 2 = 0),
    m AS (
      SELECT i.doc_id, MIN(r.doc_id) AS matched_ref
      FROM inc i JOIN ref r
        ON bit_count(xor(i.simhash, r.simhash)) <= {NEARDUP_MAX_HAMMING}
      GROUP BY i.doc_id
    )
    SELECT i.doc_id, m.matched_ref,
           CAST(m.matched_ref IS NOT NULL AS INTEGER) AS is_dup
    FROM inc i LEFT JOIN m ON m.doc_id = i.doc_id
    ORDER BY i.doc_id
    """,
)
def stream_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion near-dup gate: documents ARRIVE as a stream
    and each one is admitted or flagged against a PINNED already-ingested
    corpus (even doc_ids here; in production, yesterday's corpus) — the
    streaming face of the dedup family, and the shape every 100 TB/day
    ingest pipeline runs in front of its training store. Batch-dedup
    (dedup_simhash) asks "which pairs exist"; the gate asks the
    incremental question "is THIS new doc a near-copy of anything we
    already have" without ever re-scanning the corpus.

    Streaming decomposition — why this is stream-static and stateless:
    the incoming doc's signature is row-local arithmetic (one explode +
    32 codegen'd votes, see simhash_signatures); the reference's BANDED
    index (7 pigeonhole bands, simhash_band_keys — exact for Hamming ≤
    6, same algebra as dedup_simhash) is a STATIC table the
    stream-static equi-join probes per micro-batch, no watermark and no
    state store; the min-matching-ref agg groups each incoming doc's ≤7
    band hits. Nightly the admitted docs fold into the reference index
    (an append — the index is partitioned by band_key, so the fold
    never rewrites it). At 100 TB the reference index is bucketed on
    band_key and the probe join is shuffle-free on the stream side.

    The DuckDB oracle is the brute-force popcount join over the same
    md5-derived signatures (SIMHASH_SIGS_SQL — one definition per
    engine), so this is a FULL value oracle: any banding miss would
    surface as a hash mismatch.
    Reference provenance: the reference upserts every chunk into
    Pinecone unconditionally (parser_pinecone_storage.py:154-183);
    this is the admission control it lacks.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    incoming = d.filter(F.col("doc_id") % 2 == 1)
    reference = d.filter(F.col("doc_id") % 2 == 0)
    return neardup_gate(incoming, reference)


@register(
    "stream_profile_enrich",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type, value,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_of_type
      FROM events
      WHERE user_id < 10
    )
    SELECT user_id, event_id,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value
                          ELSE 0 END) OVER w, 2)       AS purchase_total,
           CAST(SUM(first_of_type) OVER w AS BIGINT)   AS n_types_seen
    FROM flagged
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
)
def stream_profile_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user profile-enrichment state after EVERY event: running
    purchase total plus the count of distinct event types seen so far —
    the multi-variable keyed state a feature-store / personalization
    pipeline maintains continuously (the reference's accumulating agent
    state, A22, with more than one accumulator). The streaming form is
    the engine's transformWithStateInPandas demonstration (Spark 4's
    arbitrary-stateful successor to applyInPandasWithState): ONE
    ValueState for the (total, n_types) accumulator plus a MapState for
    type membership — state shapes the single-tuple GroupState API
    cannot express; see streaming/stream_impl.py::profile_enrich,
    equivalence-proven in tests/test_streaming.py.

    Batch declaration: running distinct-count over an ordered window is
    not a thing either engine supports directly, so distinct-so-far is
    decomposed as a cumulative sum of first-occurrence flags — a
    (user, type) rank window feeding a (user) running window. Both
    windows are keyed narrow shuffles; the float cumsum accumulates in
    the frame's total order on both engines, so the 2-dp round is
    deterministic (same argument as stream_stateful_running)."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w_type = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        (F.row_number().over(w_type) == 1).cast("int").alias("first_of_type"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        flagged.select(
            "user_id",
            "event_id",
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                        0.0
                    )
                ).over(w),
                2,
            ).alias("purchase_total"),
            F.sum("first_of_type").over(w).cast("bigint").alias("n_types_seen"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "stream_rest_feed",
    oracle="""
    SELECT CAST(i // 10 AS BIGINT) AS page,
           CAST(COUNT(CASE WHEN i % 7 <> 3 THEN 1 END) AS BIGINT) AS n_good,
           CAST(COUNT(CASE WHEN i % 7 = 3 THEN 1 END) AS BIGINT) AS n_err,
           CAST(MAX(i) AS BIGINT) AS max_rec_id
    FROM (SELECT UNNEST(generate_series(0, 59)) AS i)
    GROUP BY page
    ORDER BY page
    """,
)
def stream_rest_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous REST-feed ingestion health: per-page good/error row
    counts over the paginated feed — the monitoring frame an ingestion
    service alerts on (the reference's arXiv/SerpAPI polling loop, A20/
    A21, with its A28 error isolation made visible per page). Batch
    declaration reads the SAME pluggable source the streaming form
    tails: readStream.format("rest_feed") admits pages_per_batch pages
    per trigger through the full partition-planned Python streaming
    DataSource API (sources/rest_feed.py::RestFeedStreamReader —
    latestOffset as admission control, one-page-per-partition executor
    fan-out, checkpointed {"page": N} offsets), equivalence-proven in
    tests/test_streaming.py. The deterministic fake endpoint (6 pages,
    every 7th record malformed → error ROW, every 5th page 429s once
    then succeeds) is what makes both faces DuckDB-oracle-checkable."""
    from ..sources import register_once
    from ..sources.rest_feed import RestFeedDataSource

    register_once(spark, RestFeedDataSource)
    feed = (
        spark.read.format("rest_feed")
        .option("pages", 6)
        .option("partitions", 3)
        .load()
    )
    return (
        feed.groupBy("page")
        .agg(
            F.count(F.when(F.col("error").isNull(), 1)).alias("n_good"),
            F.count(F.when(F.col("error").isNotNull(), 1)).alias("n_err"),
            F.max("rec_id").alias("max_rec_id"),
        )
        .orderBy("page")
    )


def merge_sink_updates(ev: DataFrame) -> DataFrame:
    """Shared transform for the streaming MERGE sink: an events frame
    (batch slice OR micro-batch) → the update-batch shape the manifest
    table merges, keyed on user_id with ver = event-time microseconds
    (latest event wins) and event_id as the deterministic tiebreak."""
    return ev.select(
        F.col("user_id").alias("k"),
        F.unix_micros("ts").alias("ver"),
        F.col("event_id").alias("tie"),
        "event_type",
        "value",
    )


def merge_sink_summary(snapshot: DataFrame) -> DataFrame:
    """Shared per-event_type summary of the merge-sink snapshot — ONE
    definition of the oracle-checked output shape for the registered
    batch declaration and the streaming twin's equality assertion."""
    return (
        snapshot.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_merge_sink",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_type, value
      FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY EPOCH_US(ts) DESC, event_id)
                 AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT event_type,
           COUNT(*)             AS n_users,
           ROUND(SUM(value), 2) AS sum_value
    FROM latest GROUP BY event_type ORDER BY event_type
    """,
)
def stream_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE INTO the manifest table — the missing
    transactional half of the reference's re-ingest loop (A13's Airflow
    DAG re-upserts the corpus every run with no commit story;
    parser_pinecone_storage.py:118-190): micro-batches merge into the
    lakehouse table via merge_upsert_manifest inside foreachBatch, and
    because latest-wins orders on (ver DESC, tie ASC) — a total order —
    the FOLD IS ASSOCIATIVE: any slicing of the input into batches, in
    any grouping, converges to the same final state, and RE-applying a
    batch is a no-op on data (exactly-once EFFECT on an at-least-once
    channel, with no idempotent-sink bookkeeping — the merge itself is
    the dedup). tests/test_streaming.py proves both: a real readStream
    over ts-range slices reproduces this batch declaration built from
    event_id%3 slices (slicing-invariance), and a forced re-merge of
    the final batch leaves the snapshot bit-identical.

    Batch declaration: CREATE TABLE as an EMPTY v1 (the create-then-
    stream-into story; the aligned reader returns the typed empty
    snapshot), then merge three event_id%3 slices keyed user_id /
    ver=unix_micros(ts) / tiebreak event_id, then aggregate the final
    snapshot per event_type. The oracle never sees the slicing: it is
    the global latest-event-per-user replay — THAT equality is the
    associativity proof at the oracle level.

    Scale shape: each micro-batch commit costs O(touched buckets) like
    any merge; state lives in the table, not the stream (no watermark
    state at all) — the pattern that replaces forever-growing
    flatMapGroupsWithState keyed state for latest-value materialization
    at 100 TB/day."""
    import shutil

    from ..operators.lakehouse import (
        init_table,
        latest_version,
        merge_upsert_manifest,
        read_snapshot,
    )
    from ..operators.scans import _adir

    base_dir = _adir(sf_dir, "stream_merge_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    ev = table(spark, sf_dir, "events")
    upd = merge_sink_updates(ev)
    init_table(upd.limit(0), base_dir, key_col="k", n_buckets=16)
    for i in range(3):
        merge_upsert_manifest(
            base_dir,
            upd.filter(F.col("tie") % 3 == i),
            ver_col="ver",
            tiebreak_col="tie",
            writer_id=f"slice{i}",
        )
    if latest_version(base_dir) != 4:
        raise AssertionError("empty init + 3 slice merges must land at v4")

    return merge_sink_summary(read_snapshot(spark, base_dir))


@register(
    "stream_changes_feed",
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
    cut1 AS (SELECT k, status, price FROM base WHERE NOT del),
    cut2 AS (
      SELECT k, status, price FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                     ORDER BY ver DESC, status) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM u1)
      ) WHERE rn = 1 AND NOT del
    ),
    cut3 AS (
      SELECT k, status, price FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                     ORDER BY ver DESC, status) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM u1
              UNION ALL SELECT * FROM u2)
      ) WHERE rn = 1 AND NOT del
    ),
    d12 AS (
      SELECT COALESCE(o.k, n.k) AS k,
             CASE WHEN o.k IS NULL THEN 'insert'
                  WHEN n.k IS NULL THEN 'delete'
                  WHEN o.status IS DISTINCT FROM n.status
                    OR o.price IS DISTINCT FROM n.price THEN 'update'
             END AS change_type,
             o.status AS old_status, o.price AS old_price,
             n.status AS new_status, n.price AS new_price,
             CAST(2 AS BIGINT) AS _commit_version
      FROM cut1 o FULL JOIN cut2 n ON o.k = n.k
    ),
    d23 AS (
      SELECT COALESCE(o.k, n.k) AS k,
             CASE WHEN o.k IS NULL THEN 'insert'
                  WHEN n.k IS NULL THEN 'delete'
                  WHEN o.status IS DISTINCT FROM n.status
                    OR o.price IS DISTINCT FROM n.price THEN 'update'
             END AS change_type,
             o.status AS old_status, o.price AS old_price,
             n.status AS new_status, n.price AS new_price,
             CAST(3 AS BIGINT) AS _commit_version
      FROM cut2 o FULL JOIN cut3 n ON o.k = n.k
    )
    SELECT * FROM (
      SELECT * FROM d12 WHERE change_type IS NOT NULL
      UNION ALL
      SELECT * FROM d23 WHERE change_type IS NOT NULL
    ) ORDER BY _commit_version, k
    """,
)
def stream_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC CONSUMPTION — the readStream face over the
    manifest version feed (Delta's readChangeFeed idiom), completing
    produce→consume for the CDC story the reference's re-ingest DAG
    lacks entirely (parser_pinecone_storage.py:118-190 re-upserts the
    whole corpus; downstream re-reads everything). The streaming twin
    is sources/lakehouse_cdf.py::LakehouseCDFDataSource — checkpointed
    ``{"version": N}`` offsets, one executor-parallel diff task per
    (commit step, CHANGED bucket) with manifest pruning before any
    I/O, rows tagged ``_commit_version`` — equivalence- and
    restart-proven in tests/test_streaming.py.

    Batch declaration: build the shared 3-version CDC ladder
    (operators.lakehouse.build_cdc_ladder — ONE fixture definition for
    both CDF faces), then emit the union of per-commit-step diffs
    v1→v2 and v2→v3 via changes_between, each tagged with its commit
    version — exactly the row set a CDF stream attached at
    start_version=1 delivers across its micro-batches, regardless of
    how triggers slice the version range (per-commit granularity makes
    the batch/stream equality slicing-proof by construction).

    Scale shape: each micro-batch costs O(changed buckets' data) —
    manifests prune identical file sets before a byte is read, and the
    per-bucket diff fans out one task per changed bucket; state lives
    in the table's version ladder (the offset IS the version), so the
    stream holds no keyed state at all."""
    import shutil

    from ..operators.lakehouse import build_cdc_ladder, changes_between
    from ..operators.scans import _adir

    base_dir = _adir(sf_dir, "stream_cdc_table")
    shutil.rmtree(base_dir, ignore_errors=True)
    build_cdc_ladder(spark, sf_dir, base_dir)

    steps = [
        changes_between(spark, base_dir, v, v + 1).withColumn(
            "_commit_version", F.lit(v + 1).cast("bigint")
        )
        for v in (1, 2)
    ]
    return (
        steps[0]
        .unionByName(steps[1])
        .select(
            "k", "change_type", "old_status", "old_price",
            "new_status", "new_price", "_commit_version",
        )
        .orderBy("_commit_version", "k")
    )


@register(
    "stream_cdf_materialize",
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
    cut3 AS (
      SELECT k, status, price FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                     ORDER BY ver DESC, status) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM u1
              UNION ALL SELECT * FROM u2)
      ) WHERE rn = 1 AND NOT del
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(price * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_price_cents
    FROM cut3
    GROUP BY status
    ORDER BY status
    """,
)
def stream_cdf_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the CDC feed — the
    MATERIALIZE step that completes the lakehouse streaming story
    (produce: merge_changes_feed → consume: stream_changes_feed →
    maintain: this): a downstream aggregate table is seeded from the
    source's v1 snapshot, then each change-feed batch folds SIGNED
    DELTAS into it (insert/update → +1/+new-cents to the new group,
    delete/update → -1/-old-cents to the old group — a status flip
    moves the row between groups) instead of ever re-scanning the
    source. Exactly-once on an at-least-once channel via VERSION
    WATERMARKING (api.apply_cdf_deltas): every applied row carries
    ver = the upstream commit version the batch covers, max(ver) over
    the target IS the applied-through watermark, and a replayed batch
    is skipped before any arithmetic — the additive fold latest-wins
    alone cannot make idempotent (re-merging an upsert is a no-op;
    re-adding a delta is not). Money folds in BIGINT CENTS: float
    addition is order-dependent, integer cents are exact and
    associative, so the incrementally-maintained table equals the
    direct aggregate BIT-EXACTLY — and THAT equality is what the
    oracle checks (it computes the final state directly and never
    sees the incremental path). Inline asserts: both steps report
    'applied' and a forced REPLAY of the last batch reports 'skipped'.
    Streaming twin (tests/test_streaming.py): readStream over
    lakehouse_cdf → foreachBatch apply, run TWICE end-to-end — the
    second full replay leaves the target bit-identical.

    Scale shape: per batch O(changed groups) arithmetic + one
    O(groups) merge commit; the source is never re-read past its
    changed buckets; the stream holds zero keyed state (both the
    offset and the watermark live in table manifests)."""
    import shutil

    from ..operators.lakehouse import (
        apply_cdf_deltas,
        build_cdc_ladder,
        cdf_deltas,
        changes_between,
        init_table,
        read_snapshot,
    )
    from ..operators.scans import _adir

    base_dir = _adir(sf_dir, "stream_ivm_src")
    target_dir = _adir(sf_dir, "stream_ivm_tgt")
    shutil.rmtree(base_dir, ignore_errors=True)
    shutil.rmtree(target_dir, ignore_errors=True)
    build_cdc_ladder(spark, sf_dir, base_dir)

    cents = F.round(F.col("price") * 100, 0).cast("bigint")
    seed = (
        read_snapshot(spark, base_dir, version=1)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents).alias("sum_price_cents"),
        )
        .select("status", F.lit(1).alias("ver"), "n_rows", "sum_price_cents")
    )
    init_table(seed, target_dir, key_col="status", n_buckets=4)

    for v in (1, 2):
        ch = changes_between(spark, base_dir, v, v + 1)
        out = apply_cdf_deltas(spark, target_dir, cdf_deltas(ch), v + 1)
        if out != "applied":
            raise AssertionError(f"step {v}->{v + 1} must apply, got {out}")
    replay = apply_cdf_deltas(
        spark, target_dir,
        cdf_deltas(changes_between(spark, base_dir, 2, 3)), 3,
    )
    if replay != "skipped":
        raise AssertionError(f"replayed batch must be skipped, got {replay}")

    return (
        read_snapshot(spark, target_dir)
        .filter(F.col("n_rows") > 0)
        .select("status", "n_rows", "sum_price_cents")
        .orderBy("status")
    )


@register(
    "stream_index_admission",
    oracle=f"""
    -- arrival-order pair set: the corpus (doc_id % 3 <> 0) is indexed
    -- first, then the batch arrives as three slices in doc_id % 9
    -- order (0, then 3, then 6). A batch doc b can only match docs
    -- ALREADY in the index when its slice is admitted: corpus docs, or
    -- batch docs from a strictly earlier slice — same-slice docs never
    -- pair (detection runs before the slice's own merge). That total
    -- order is the associativity claim the oracle checks.
    WITH s AS ({_DEDUP_SHINGLE_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
                 / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))), 6) AS jaccard
    FROM s a JOIN s b
      ON b.doc_id % 3 = 0
     AND (a.doc_id % 3 <> 0 OR (a.doc_id % 9) < (b.doc_id % 9))
    WHERE LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
          / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= {_JACCARD}
    ORDER BY doc_a, doc_b
    """,
)
def stream_index_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming admission against the PERSISTED LSH index (B.9 ×
    dedup × lakehouse — the foreachBatch face of
    dedup_incremental_index): the corpus seeds the index, then the
    batch arrives as THREE micro-batch slices (doc_id % 9 = 0, 3, 6,
    admitted in that order); each slice is detected against the
    index-so-far (bucket-pruned read) and then MERGEd in, so a slice's
    docs match corpus docs AND earlier slices' docs but never their
    own slice — the index is the stream's only state (no watermark, no
    keyed store; the offset/ordering lives in the table versions, the
    stream_merge_sink idiom applied to dedup). The oracle encodes that
    arrival-order pair set in closed form — slicing-order
    determinism IS what it checks; the real readStream twin
    (maxFilesPerTrigger=1 file replay → foreachBatch admit+merge)
    reproduces it in tests/test_streaming.py, including a restart.
    Reference provenance: the reference re-embeds and re-upserts the
    whole corpus per ingest (parser_pinecone_storage.py:118-190); this
    admits each arriving slice touching only its own band buckets.
    """
    import shutil

    from ..operators.dedup import (
        _shingles,
        admit_candidates_into_index,
        minhash_band_postings,
        verify_jaccard_pairs,
    )
    from ..operators.lakehouse import init_table
    from ..operators.scans import _adir

    base_dir = _adir(sf_dir, "stream_index_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    s = docs.select("doc_id", _shingles().alias("sh")).persist()
    corpus_post = minhash_band_postings(s.filter(F.col("doc_id") % 3 != 0))
    idx_seed = corpus_post.groupBy("band_key").agg(
        F.lit(1).alias("ver"),
        F.lit("seed").alias("src"),
        F.sort_array(F.array_distinct(F.collect_list("doc_id"))).alias("docs"),
    )
    init_table(idx_seed, base_dir, key_col="band_key", n_buckets=16)

    # admit each slice (detection candidates pin the pre-merge index
    # files eagerly), but defer the exact-Jaccard verification: the
    # join distributes over the union and a pair is generated only in
    # its batch doc's own slice, so verifying the UNIONED candidates
    # is row-identical to per-slice verification — and costs ONE pass
    # over the cached shingle frame instead of three (guide §1.2)
    cands = None
    for i, sl in enumerate((0, 3, 6)):
        batch_post = minhash_band_postings(
            s.filter(F.col("doc_id") % 9 == sl)
        ).persist()
        cand, v = admit_candidates_into_index(
            spark, base_dir, batch_post, ver=2 + i, src=f"slice{sl}"
        )
        if v != 2 + i:
            raise AssertionError(f"slice {sl} must commit v{2 + i}, got {v}")
        cands = cand if cands is None else cands.unionByName(cand)
    return verify_jaccard_pairs(cands, s).orderBy("doc_a", "doc_b")


@register(
    "stream_expectations_gate",
    oracle="""
    -- clean rows (event_id % 7 <> 0) fold into latest-per-user exactly
    -- as the ungated merge sink; violating rows (value arrives as
    -- -value - 1, strictly negative even at value = 0)
    -- quarantine in whichever slice carries them, so the CUMULATIVE
    -- quarantine is slicing-invariant too: all %7=0 events, once each.
    WITH clean AS (
      SELECT user_id, event_type, value,
             EPOCH_US(ts) AS ver, event_id
      FROM events WHERE event_id % 7 <> 0
    ), latest AS (
      SELECT user_id, event_type, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ver DESC, event_id) AS rn
        FROM clean
      ) WHERE rn = 1
    ), t AS (
      SELECT 'table' AS part, event_type AS grp,
             COUNT(*) AS n_rows, ROUND(SUM(value), 2) AS sum_value
      FROM latest GROUP BY event_type
    ), q AS (
      SELECT 'quarantine' AS part, 'value_nonneg' AS grp,
             COUNT(*) AS n_rows, ROUND(SUM(-value - 1), 2) AS sum_value
      FROM events WHERE event_id % 7 = 0
    )
    SELECT part, grp, n_rows, sum_value FROM t
    UNION ALL
    SELECT part, grp, n_rows, sum_value FROM q
    ORDER BY part, grp
    """,
)
def stream_expectations_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming admission through the write-side expectations gate —
    the merge-sink fold (stream_merge_sink) with per-micro-batch CHECK
    constraints: every slice merges via ``merge_upsert_manifest(...,
    expectations=...)``, so dirty rows (here: events whose value
    arrives as -value - 1 — every event_id % 7 = 0) divert to that COMMIT's
    quarantine side table instead of poisoning the latest-per-user
    state, and every downstream incremental consumer (changes_between /
    the CDF streaming source) sees only gated rows by construction —
    inline-asserted here by diffing v1→v4: zero negative values in the
    feed. Both halves of the result are slicing-invariant: the clean
    fold is associative (latest-wins total order), and the cumulative
    quarantine is the disjoint union of per-commit quarantines — each
    violating row lands exactly once, in whichever slice carried it
    (tests/test_lakehouse.py::test_stream_expectations_slicing_invariance),
    and the REAL readStream twin (run_gated_merge_sink — foreachBatch
    through the same gated merge, ts-range micro-batches, different
    bucket count) reproduces this declaration exactly on both halves
    (tests/test_streaming.py::test_stream_expectations_gate_twin).

    Batch declaration: empty CREATE, three event_id%3 slices merged
    with {'value_nonneg': 'value >= 0'}, then the final snapshot per
    event_type UNION the quarantine-union-across-commits per reason.
    The oracle never sees the slicing OR the gate mechanics: clean
    global replay + one closed-form violating population.

    Scale shape: gate cost is one projection + one aggregate per
    BOUNDED micro-batch; quarantine writes are batch-sized; state
    lives in the table (no watermark state). The ingestion-contract
    pattern for a 100 TB/day feed: bad rows triaged per commit, never
    reprocessed, never blocking the stream.
    Reference provenance: none (the reference ingests unvalidated);
    public recipe = Delta constraints + foreachBatch MERGE.
    """
    import shutil

    from ..operators.lakehouse import (
        changes_between,
        init_table,
        latest_version,
        merge_upsert_manifest,
        read_quarantine,
        read_snapshot,
    )
    from ..operators.scans import _adir

    base_dir = _adir(sf_dir, "stream_expectations_table")
    shutil.rmtree(base_dir, ignore_errors=True)

    ev = table(spark, sf_dir, "events")
    upd = gated_sink_updates(ev)
    init_table(upd.limit(0), base_dir, key_col="k", n_buckets=16)
    for i in range(3):
        merge_upsert_manifest(
            base_dir,
            upd.filter(F.col("tie") % 3 == i),
            ver_col="ver",
            tiebreak_col="tie",
            writer_id=f"slice{i}",
            expectations=GATE_EXPECTATIONS,
        )
    if latest_version(base_dir) != 4:
        raise AssertionError("empty init + 3 gated merges must land at v4")
    n_dirty_in_feed = (
        changes_between(spark, base_dir, 1, 4)
        .filter(F.col("new_value") < 0)
        .count()
    )
    if n_dirty_in_feed != 0:
        raise AssertionError(
            f"incremental consumers must see only gated rows; the CDF "
            f"carried {n_dirty_in_feed} negative values"
        )

    return expectations_gate_summary(
        read_snapshot(spark, base_dir),
        cumulative_quarantine(spark, base_dir),
    )


# the band the filtered-CDC face maintains: a mid-range price window
# wide enough that every fixture scale has rows on both sides and
# band-crossing updates in both directions
_CDF_BAND_LO = 50000.0
_CDF_BAND_HI = 150000.0


@register(
    "stream_cdf_pruned",
    oracle=f"""
    -- band-relative CDC replay: each cut is the BAND-FILTERED visible
    -- state; the feed is the per-step diff of those cuts (a row
    -- crossing INTO the band is an insert, OUT a delete — the
    -- upsert/remove stream a band-filtered materialization applies)
    WITH base AS (
      SELECT o_orderkey AS k, 1 AS ver, o_orderstatus AS status,
             o_totalprice AS price
      FROM orders
    ), u1 AS (
      SELECT o_orderkey, 2, o_orderstatus, o_totalprice * 2
      FROM orders WHERE o_orderkey % 5 = 0
    ), u2 AS (
      SELECT o_orderkey, 3, 'B', o_totalprice + 100000
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    cut1 AS (
      SELECT k, status, price FROM base
      WHERE price BETWEEN {_CDF_BAND_LO} AND {_CDF_BAND_HI}
    ),
    cut2 AS (
      SELECT k, status, price FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                     ORDER BY ver DESC, status) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM u1)
      ) WHERE rn = 1
        AND price BETWEEN {_CDF_BAND_LO} AND {_CDF_BAND_HI}
    ),
    cut3 AS (
      SELECT k, status, price FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                     ORDER BY ver DESC, status) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM u1
              UNION ALL SELECT * FROM u2)
      ) WHERE rn = 1
        AND price BETWEEN {_CDF_BAND_LO} AND {_CDF_BAND_HI}
    ),
    d12 AS (
      SELECT COALESCE(o.k, n.k) AS k,
             CASE WHEN o.k IS NULL THEN 'insert'
                  WHEN n.k IS NULL THEN 'delete'
                  WHEN o.status IS DISTINCT FROM n.status
                    OR o.price IS DISTINCT FROM n.price THEN 'update'
             END AS change_type,
             o.status AS old_status, o.price AS old_price,
             n.status AS new_status, n.price AS new_price,
             CAST(2 AS BIGINT) AS _commit_version
      FROM cut1 o FULL JOIN cut2 n ON o.k = n.k
    ),
    d23 AS (
      SELECT COALESCE(o.k, n.k) AS k,
             CASE WHEN o.k IS NULL THEN 'insert'
                  WHEN n.k IS NULL THEN 'delete'
                  WHEN o.status IS DISTINCT FROM n.status
                    OR o.price IS DISTINCT FROM n.price THEN 'update'
             END AS change_type,
             o.status AS old_status, o.price AS old_price,
             n.status AS new_status, n.price AS new_price,
             CAST(3 AS BIGINT) AS _commit_version
      FROM cut2 o FULL JOIN cut3 n ON o.k = n.k
    )
    SELECT * FROM (
      SELECT * FROM d12 WHERE change_type IS NOT NULL
      UNION ALL
      SELECT * FROM d23 WHERE change_type IS NOT NULL
    ) ORDER BY _commit_version, k
    """,
)
def stream_cdf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-filtered CDC consumption with STATS-PRUNED partition
    planning — the streaming face of
    ``read_snapshot(where=("between", ...))``'s file skipping (VERDICT
    r10 item 7). A consumer maintaining a band-filtered materialization
    (price in [lo, hi]) attaches the lakehouse_cdf source with
    ``prune_column``/``prune_lo``/``prune_hi``: partition planning
    keeps only the per-file column statistics' band survivors before
    ``plan_diff`` forms the (commit step, diff group) tasks — on a
    price-CLUSTERED table the out-of-band files are never opened — and
    the executor diff runs over the BAND-VISIBLE state, so change_type
    is relative to the band (a row crossing INTO the band surfaces as
    insert, OUT as delete: exactly the upsert/remove feed the
    downstream filtered view applies; classification at crossings
    deliberately differs from unfiltered-CDF-then-filter, which would
    emit updates naming values the view never holds).

    Batch declaration: a 3-version ladder on a price-clustered table
    (v2 doubles every 5th key's price, v3 adds 100k + status 'B' to
    every 7th — both commits cross the band in both directions), then
    the per-step diff of band-filtered visible snapshots. The inline
    assert pins the PLANNING claim: the band-pruned stream reader
    ships strictly fewer files than the unpruned one for the same
    version range. Streaming equivalence (real readStream, memory
    sink) is proven in tests/test_streaming.py.

    Scale shape: per micro-batch cost drops from O(changed buckets'
    data) to O(changed buckets' IN-BAND files' data) — on a clustered
    100 TB table with a selective band that is the difference between
    re-reading every rewritten bucket and opening one file per
    bucket; the row-level band filter stays because stats pruning is
    an optimization, never a filter.
    Reference provenance: none (the reference re-reads everything;
    SURVEY §2 A15); public recipe = Delta readChangeFeed + data
    skipping, Flink filtered CDC views."""
    import shutil

    from ..operators.lakehouse import (
        init_table,
        merge_upsert_manifest,
        read_snapshot,
    )
    from ..operators.scans import _adir
    from ..sources.lakehouse_cdf import LakehouseCDFStreamReader

    base_dir = _adir(sf_dir, "stream_cdf_pruned_table")
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
    merge_upsert_manifest(base_dir, u1, ver_col="ver", tiebreak_col="status")
    u2 = orders.filter(F.col("k") % 7 == 0).select(
        "k", F.lit(3).alias("ver"), F.lit("B").alias("status"),
        (F.col("price") + 100000).alias("price"),
    )
    merge_upsert_manifest(base_dir, u2, ver_col="ver", tiebreak_col="status")

    # the planning claim, asserted inline on the REAL stream reader:
    # same version range, strictly fewer files shipped with the band
    def shipped(opts):
        r = LakehouseCDFStreamReader({"path": base_dir,
                                      "start_version": "1", **opts})
        parts = r.partitions({"version": 1}, {"version": 3})
        return sum(len(p.old["files"]) + len(p.new["files"]) for p in parts)

    n_all = shipped({})
    n_band = shipped({
        "prune_column": "price",
        "prune_lo": str(_CDF_BAND_LO),
        "prune_hi": str(_CDF_BAND_HI),
    })
    if not n_band < n_all:
        raise AssertionError(
            f"band pruning must ship fewer files: {n_band} vs {n_all}"
        )

    # batch declaration: per-step diff of band-filtered visible cuts
    def cut(version):
        return (
            read_snapshot(spark, base_dir, version=version)
            .filter(
                F.col("price").between(_CDF_BAND_LO, _CDF_BAND_HI)
            )
            .select("k", "status", "price")
        )

    def step(v):
        o = cut(v).select(
            F.col("k").alias("_k"),
            F.col("status").alias("old_status"),
            F.col("price").alias("old_price"),
            F.lit(True).alias("_in_old"),
        )
        nn = cut(v + 1).select(
            F.col("k").alias("_k"),
            F.col("status").alias("new_status"),
            F.col("price").alias("new_price"),
            F.lit(True).alias("_in_new"),
        )
        j = o.join(nn, "_k", "full_outer")
        same = F.struct("old_status", "old_price").eqNullSafe(
            F.struct(
                F.col("new_status").alias("old_status"),
                F.col("new_price").alias("old_price"),
            )
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
                F.col("_k").alias("k"), "change_type",
                "old_status", "old_price", "new_status", "new_price",
                F.lit(v + 1).cast("bigint").alias("_commit_version"),
            )
        )

    return step(1).unionByName(step(2)).orderBy("_commit_version", "k")
