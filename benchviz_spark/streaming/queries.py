"""Driver-checkable streaming queries (SURVEY §2.9).

Each registered ``stream_*`` query runs its Structured Streaming twin
to completion (availableNow trigger into a memory sink) and returns
the drained result as an ordinary DataFrame, hashed by the correctness
gate against the SAME DuckDB oracle as the already-green batch twin.
That upgrades streaming evidence from pytest-only parity to driver
CORRECTNESS rows: batch twin == oracle (proved since r02-r04) and
stream == oracle are now both machine-checked.

Modes: windowed aggregations drain in ``complete`` mode — with append
+ watermark, windows overlapping the final hour of a finite input
would be withheld forever (the watermark never passes them). The
stream-stream interval join drains in ``append`` mode: inner-join
rows emit on match; the watermark only bounds state, so a finite
drain is complete.

Scale: identical to the production topologies in
streaming/windows.py — watermark-bounded state, session-window state
merge, time-range-bounded join buffers. The memory sink is only the
test/gate harness; production writes go through
streaming/ingest.py's sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Import the batch twins FIRST so their oracles are registered before we
# look them up (registry._QUERY_MODULES also orders events before this
# module, but a direct import must not depend on that).
import benchviz_spark.operators.curation  # noqa: F401
import benchviz_spark.operators.decontam  # noqa: F401
import benchviz_spark.operators.dedup  # noqa: F401
import benchviz_spark.operators.events  # noqa: F401
import benchviz_spark.operators.quality  # noqa: F401
from benchviz_spark.registry import _ORACLES, query
from benchviz_spark.streaming import stateful as st
from benchviz_spark.streaming import windows as sw


def _drain(stream_df: DataFrame, spark: SparkSession, name: str, mode: str) -> DataFrame:
    """Run an availableNow streaming query into a per-query-named
    memory table; return the drained table as a batch DataFrame.

    The sink name is STABLE per query (not a fresh counter value): the
    memory sink pins its whole result in driver memory for the session
    lifetime, so unique-per-drain names would accumulate dead result
    copies every time a session re-runs the gate (bench loops, pytest +
    gate in one JVM). Dropping any previous drain's view first caps the
    footprint at one table per registered stream query."""
    name = f"stream_gate_{name}"
    spark.catalog.dropTempView(name)
    sw.run_to_memory(stream_df, name, mode=mode)
    return spark.table(name)


@query("stream_tumbling_hourly", oracle=_ORACLES["events_tumbling_hourly"])
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-hourly rollup drained to a hashable batch
    result; same oracle as events_tumbling_hourly."""
    return _drain(sw.stream_tumbling_hourly(spark, sf_dir), spark, "tumbling", "complete")


@query("stream_session_stats", oracle=_ORACLES["events_session_stats"])
def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window stats (native streaming session state
    merge) drained; same oracle as events_session_stats."""
    return _drain(sw.stream_session_stats(spark, sf_dir), spark, "session", "complete")


@query("stream_purchase_view_pairs", oracle=_ORACLES["events_purchase_view_pairs"])
def stream_purchase_view_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-bounded inner join drained in append mode;
    same oracle as events_purchase_view_pairs."""
    return _drain(sw.stream_stream_purchase_views(spark, sf_dir), spark, "pv_pairs", "append")


@query("stream_enriched_user_segment", oracle=_ORACLES["events_enriched_user_segment"])
def stream_enriched_user_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment rollup drained in complete
    mode; same oracle as events_enriched_user_segment."""
    return _drain(sw.stream_enriched_user_events(spark, sf_dir), spark, "enriched", "complete")


@query(
    "stream_sliding_hourly_halfhour",
    oracle=_ORACLES["events_sliding_hourly_halfhour"],
)
def stream_sliding_hourly_halfhour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding-window rollup (2x scan-side fan-out) drained;
    same oracle as events_sliding_hourly_halfhour."""
    return _drain(
        sw.stream_sliding_hourly_halfhour(spark, sf_dir), spark, "sliding", "complete"
    )


@query(
    "stream_dedup_events",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events GROUP BY event_id, user_id, event_type
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark drained in append mode. State is
    bounded to the watermark horizon (ids older than 1 h are evicted) —
    the streaming form of exact dedup. The synthetic events carry
    unique event_ids, so the finite drain must be the identity
    projection and the oracle is a plain distinct; duplicate-bearing
    input is exercised in tests/test_streaming.py where first-seen-wins
    is asserted against batch dropDuplicates."""
    return _drain(sw.stream_dedup_events(spark, sf_dir), spark, "dedup", "append")


def _final_state(drained: DataFrame, counter: str = "n_events") -> DataFrame:
    """Compact an update-mode drain to the FINAL state row per user.
    Update mode emits one refreshed row per touched user per
    micro-batch; the cumulative event counter strictly increases with
    every update (a group is only invoked when it received rows), so
    max_by on it picks the last emission deterministically — and is the
    identity when availableNow processed the input as one batch."""
    others = [c for c in drained.columns if c != "user_id"]
    return (
        drained.groupBy("user_id")
        .agg(F.max_by(F.struct(*others), F.col(counter)).alias("s"))
        .select("user_id", *[F.col(f"s.{c}").alias(c) for c in others])
    )


@query(
    "stream_user_profiles",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4)     AS total_value,
           CAST(floor(epoch(max(ts))) AS BIGINT) AS last_seen_s
    FROM events GROUP BY user_id
    """,
)
def stream_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState per-user profile accumulator
    (streaming/stateful.py) drained in update mode and compacted to
    final state; the oracle is the batch rollup of the full input."""
    drained = _drain(st.stream_user_profiles(spark, sf_dir), spark, "profiles", "update")
    return _final_state(drained)


@query("stream_latest_user_state", oracle=_ORACLES["events_latest_user_state"])
def stream_latest_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState LWW/CDC compaction (streaming/stateful.py)
    drained in update mode and compacted to final state; same oracle as
    the driver-green batch twin events_latest_user_state."""
    drained = _drain(
        st.stream_latest_user_state(spark, sf_dir), spark, "lww", "update"
    )
    return _final_state(drained)


@query("stream_quality_gopher_gate", oracle=_ORACLES["quality_gopher_rules"])
def stream_quality_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality gate running ON THE STREAM — corpus hygiene
    as a continuously-ingesting stage rather than a batch sweep. The
    projection is stateless, so the drain runs in append mode and the
    result hashes against the SAME oracle as the batch gate
    (quality_gopher_rules): stream == batch == DuckDB, machine-checked.
    First streaming query over the documents table (every other
    stream_* rides events) — it proves the LLM-data tier composes with
    Structured Streaming, not just with batch scans."""
    return _drain(
        sw.stream_gopher_gate(spark, sf_dir), spark, "gopher_gate", "append"
    )


@query("stream_image_dedup_gate", oracle=_ORACLES["dedup_image_dhash_fingerprints"])
def stream_image_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-dedup admission hash running ON THE STREAM: every
    arriving document's PNG payload is decoded by the real codec and
    perceptually hashed (streaming/windows.py stream_image_dhash),
    drained in append mode, and hash-checked against the SAME
    closed-form oracle as the batch fingerprint scan — stream == batch
    == DuckDB, bit-exact on every 56-bit hash. This is the front half
    of a streaming near-dup gate (production probes the persisted band
    index with these keys; the band join itself is the already-proven
    dedup_image_phash_pairs shuffle shape)."""
    return _drain(
        sw.stream_image_dhash(spark, sf_dir), spark, "image_dhash", "append"
    )


@query("stream_video_dedup_gate", oracle=_ORACLES["dedup_video_fingerprints"])
def stream_video_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video-dedup admission hash running ON THE STREAM: every
    arriving document's APNG container is parsed frame by frame by the
    real codec and each frame perceptually hashed
    (streaming/windows.py stream_video_frame_dhash), drained in append
    mode, and hash-checked against the SAME closed-form oracle as the
    batch fingerprint scan — stream == batch == DuckDB, bit-exact on
    every per-frame 56-bit hash. The band probe downstream is the
    already-proven dedup_video_frame_pairs shuffle shape."""
    return _drain(
        sw.stream_video_frame_dhash(spark, sf_dir),
        spark,
        "video_dhash",
        "append",
    )


@query(
    "stream_classifier_gate",
    oracle=_ORACLES["quality_hashed_classifier_score"],
)
def stream_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashed-linear-classifier quality gate running ON THE STREAM
    (streaming/windows.py stream_classifier_gate), drained in append
    mode and hash-checked against the SAME oracle as the batch scorer:
    stream == batch == DuckDB on every score. Completes the streamed
    admission-control trio (rules: gopher gate; perceptual: image /
    video hashes; model-based: this)."""
    return _drain(
        sw.stream_classifier_gate(spark, sf_dir),
        spark,
        "classifier_gate",
        "append",
    )


from benchviz_spark.operators.sampling import _DSIR_SCORE_CTES


@query(
    "stream_dsir_gate",
    oracle=f"""
    WITH {_DSIR_SCORE_CTES}
    SELECT doc_id, source, round(logw, 6) AS log_weight FROM dw
    """,
)
def stream_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR importance score running ON THE STREAM against the
    frozen batch-trained log-ratio model (streaming/windows.py
    stream_dsir_gate), drained in append mode and hash-checked against
    the shared score CTE chain — the same SQL definition the batch
    resampler's oracle extends with Gumbel-top-K selection, so
    stream == batch == DuckDB on every document's weight."""
    return _drain(
        sw.stream_dsir_gate(spark, sf_dir),
        spark,
        "dsir_gate",
        "append",
    )


@query(
    "stream_decontam_gate",
    oracle=_ORACLES["decontam_eval_overlap"],
)
def stream_decontam_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The n-gram contamination check running ON THE STREAM against the
    frozen eval-shingle blocklist (streaming/windows.py
    stream_decontam_gate), drained append-mode and hash-checked against
    the SAME oracle as the batch detector: stream == batch == DuckDB on
    every (doc, shingle-count, contamination) row. Extends the streamed
    admission-control set with the hygiene tier: rules, perceptual,
    model-based, distribution-matching, and now contamination."""
    return _drain(
        sw.stream_decontam_gate(spark, sf_dir),
        spark,
        "decontam_gate",
        "append",
    )


@query("stream_dedup_admission", oracle=_ORACLES["curation_admission_delta"])
def stream_dedup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document dedup admission running ON THE STREAM against the
    DURABLE standing-corpus index (curation.build_admission_index):
    the document stream through the ONE admission decision
    (curation.admit_vs_standing) that the batch twin
    curation_admission_delta runs over the documents table — hygiene
    gates, the Bloom bitset + fingerprint store (exact tier), the
    (band, bucket) postings + shingle store (near-dup tier). Drained
    in complete mode (the per-doc verdict is an aggregation; every
    doc_id arrives exactly once, so complete == the admitted set) and
    hash-checked against the SAME oracle as the batch twin:
    stream == batch == DuckDB."""
    from benchviz_spark.operators.curation import build_admission_index

    build_admission_index(spark, sf_dir)
    return _drain(
        sw.stream_dedup_admission(spark, sf_dir),
        spark,
        "dedup_admission",
        "complete",
    )
