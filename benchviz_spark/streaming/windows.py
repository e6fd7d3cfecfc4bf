"""Streaming window aggregations over the ``events`` stream (SURVEY
§2.9): the batch window specs from operators/events.py run under
``readStream`` with watermarks. Batch/stream parity is the test —
each streaming query's availableNow output must equal its
oracle-checked batch twin.

Late data: the 1-hour watermark bounds state; in availableNow test
runs nothing is late, so parity with batch is exact. ``complete`` vs
``append`` mode: the aggregations here use append mode + watermark —
the production configuration, where a window emits once it can no
longer receive late rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from benchviz_spark.sources.tables import spread


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a stream. The file carries TIMESTAMP(NANOS);
    like the batch loader (tables.py:_load_events) the conversion
    branches on the dtype Spark actually loads: 4.x reads it natively as
    timestamp_ntz (cast to session-TZ timestamp), 3.x needs the
    legacy-long workaround (ns BIGINT -> integer-divide to µs). The
    stream targets the table through a glob path + directory basePath,
    not ``sf_dir`` + ``pathGlobFilter`` — rationale and the basePath
    force-override caveat in read_documents_stream."""
    table = f"{sf_dir}/events.parquet"
    try:
        batch_schema = spark.read.parquet(table).schema
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        batch_schema = spark.read.parquet(table).schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("basePath", sf_dir)
        .parquet(f"{sf_dir}/[e]vents.parquet")
    )
    ts_type = dict(stream.dtypes)["ts"]
    if ts_type == "bigint":
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp":
        return stream
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_tumbling_hourly (same spec + watermark)."""
    events = read_events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_session_stats: native session_window
    state merging under a watermark."""
    events = read_events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_s"),
            "n_events",
            "total_value",
        )
    )


def stream_sliding_hourly_halfhour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_sliding_hourly_halfhour: 1-hour windows
    sliding every 30 minutes (each event lands in 2 windows, fanned out
    scan-side), watermark-bounded state."""
    events = read_events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "n_events",
            "avg_value",
        )
    )


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id with bounded state:
    dropDuplicatesWithinWatermark keeps only ids seen inside the
    watermark horizon, so state is O(events per hour), not O(all
    history) — the streaming twin of exact dedup. Parity with batch
    dropDuplicates is tested (the finite test input has no late data)."""
    events = read_events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )


def stream_stream_purchase_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases matched to the same user's
    views within the preceding hour. Both sides are watermarked; the
    time-range condition bounds each side's join state to one hour of
    events — without it a stream-stream join would buffer both streams
    forever. Batch twin: events_purchase_view_pairs (oracle-checked);
    parity is tested."""
    events = read_events_stream(spark, sf_dir)
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    joined = purchases.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    return joined.select(
        "purchase_id",
        "view_id",
        "user_id",
        F.unix_timestamp("p_ts").alias("purchase_ts_s"),
        F.unix_timestamp("v_ts").alias("view_ts_s"),
    )


DRAIN_STATE_PARTITIONS = 8


def run_to_memory(df: DataFrame, name: str, mode: str = "append"):
    """Drain an availableNow streaming query into an in-memory table;
    returns after termination (test/gate harness helper).

    Two harness-only choices, both invisible to results (the drained
    rows hash-match the same oracles either way):

    - State partitions: the state-store instance count is fixed by
      spark.sql.shuffle.partitions at first checkpoint, and each
      instance pays per-batch open/commit/maintenance cost. That is a
      THROUGHPUT knob — production streams size it to sustained input
      rate — but a finite gate drain of one file pays 32 stores' fixed
      cost for 10k rows: measured 5-10 s/drain at 32 vs ~2.4 s at 8,
      identical output. The drain pins 8 and restores the session conf.
    - Checkpoint on tmpfs when the host has /dev/shm: the WAL/state
      commits are fsync-heavy, and a throwaway drain checkpoint has no
      durability requirement; tmpfs removes the disk-sync jitter that
      made drain timings swing 2-12 s between bench runs.

    NOT THREAD-SAFE: the partition pin mutates the session-global
    spark.sql.shuffle.partitions for the drain's duration (Spark has
    no per-writer override for the state-store instance count). Every
    caller today — the correctness gate, bench.py, pytest — plans
    queries single-threaded, so nothing else can pick up the
    temporary value; a future parallel harness (pytest-xdist, a
    concurrent gate) must either serialize drains or accept planning
    concurrent queries with DRAIN_STATE_PARTITIONS partitions.
    """
    import os
    import shutil
    import tempfile

    spark = df.sparkSession
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(DRAIN_STATE_PARTITIONS))
    ckpt_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    ckpt = tempfile.mkdtemp(prefix="drain_ckpt_", dir=ckpt_root)
    try:
        query = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        query.awaitTermination()
        return query
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(ckpt, ignore_errors=True)


def streaming_batch_parity(
    spark: SparkSession, batch_df: DataFrame, stream_df: DataFrame, name: str
) -> tuple[int, int]:
    """Run the streaming query to completion and return (n_mismatched,
    n_batch_rows) against the batch result — 0 mismatches = parity.

    complete mode on purpose: with append + watermark, windows
    overlapping the final hour of a finite input are held in state
    forever (the watermark can never pass them), so an availableNow
    drain would under-emit the tail. Production streams use append;
    parity against a finite batch needs every window."""
    run_to_memory(stream_df, name, mode="complete")
    streamed = spark.table(name)
    missing = batch_df.exceptAll(streamed).count()
    extra = streamed.exceptAll(batch_df).count()
    return missing + extra, batch_df.count()



def stream_enriched_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against the
    static customer dimension, rolled up per (segment, type). The
    static side is re-resolved each micro-batch (so a dimension refresh
    is picked up without restarting the stream) and joins broadcast
    while small — the standard streaming enrichment topology. Batch
    twin: events_enriched_user_segment (oracle-checked); parity tested
    in complete mode."""
    from benchviz_spark.sources.tables import load_table

    events = read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    return (
        events.join(customer, events.user_id == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a stream — the arriving-corpus shape a
    continuously-ingesting curation pipeline sees. Schema from the
    batch footer (never inferred on the stream). The stream targets the
    table through a glob path (the file source's documented path
    semantics), so it resolves whether the table is a single parquet
    file (the driver's testdata layout) or a directory of part files (a
    production layout) — no reliance on ``pathGlobFilter`` leaf-name
    filtering against a sibling-table directory listing. The
    single-char class keeps the path a glob: for a NON-glob path the
    file-stream source force-overrides the ``basePath`` option with the
    path itself, which errors when the path is a file ("Option
    'basePath' must be a directory")."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("basePath", sf_dir)
        .parquet(f"{sf_dir}/[d]ocuments.parquet")
    )


def stream_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of quality_gopher_rules: the same pure projection
    applied to the document stream. Stateless — no watermark, no state
    store; every arriving micro-batch emits its gate rows immediately,
    which is exactly how a streaming corpus-hygiene stage deploys."""
    from benchviz_spark.operators.quality import gopher_projection

    return gopher_projection(read_documents_stream(spark, sf_dir))


def stream_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dedup_image_dhash_fingerprints: arriving
    documents are PNG-encoded and perceptually hashed by the REAL
    codec inside the same Arrow-batched ``mapInPandas`` stages the
    batch path uses — the admission-control front of an image-lake
    dedup pipeline (hash on ingest, then probe the persisted band
    index). Stateless, so each micro-batch emits its fingerprints
    immediately and the drain runs in append mode; proves the codec +
    Pandas-UDF plumbing composes with Structured Streaming, not just
    with batch scans."""
    from benchviz_spark.operators.multimodal import document_dhashes

    return document_dhashes(read_documents_stream(spark, sf_dir))


def stream_video_frame_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dedup_video_fingerprints: arriving documents
    are APNG-encoded and every FRAME perceptually hashed by the real
    container parser inside the same Arrow-batched ``mapInPandas``
    stages the batch path uses — the admission-control front of a
    video-lake dedup pipeline. Stateless (one input row fans out to
    its nf fingerprint rows immediately), so the drain runs in append
    mode; proves the multi-row-per-input mapInPandas shape composes
    with Structured Streaming."""
    from benchviz_spark.operators.multimodal import document_frame_dhashes

    return document_frame_dhashes(read_documents_stream(spark, sf_dir))


def stream_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of quality_hashed_classifier_score: the
    hashing-trick linear model scoring every arriving document — the
    model-based admission filter of a streaming ingest (score on
    arrival, quarantine below threshold). Stateless pure projection
    (the model is a deterministic function of the token stream), so
    each micro-batch emits its scores immediately and the drain runs
    in append mode against the SAME oracle as the batch query."""
    from benchviz_spark.operators.quality import classifier_projection

    return classifier_projection(
        spread(spark, read_documents_stream(spark, sf_dir).select("doc_id", "text"))
    )


def stream_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of sample_importance_dsir's SCORING stage: the
    frozen hashed-n-gram log-ratio model (trained batch-side, shipped
    as a DSIR_BUCKETS-entry array literal) scores every arriving
    document — the distribution-matching admission filter of a
    streaming ingest (keep/boost target-like documents on arrival).
    Completes the streamed admission-control quartet: rules (gopher),
    perceptual (image/video hashes), model-based (classifier), and
    distribution-matching (this). Stateless per-row fold over the
    token array — no explode, no aggregation state — so each
    micro-batch emits immediately in append mode, and the per-doc sum
    matches the batch groupBy to 1e-13 (both round to 6)."""
    from benchviz_spark.operators.dedup import _norm_text
    from benchviz_spark.operators.sampling import (
        DSIR_BUCKETS,
        dsir_log_ratio_rows,
        hash_bucket,
    )

    lrs = dsir_log_ratio_rows(spark, sf_dir)
    arr = F.array(*[F.lit(float(v)) for v in lrs])
    toks = F.split(_norm_text(F.col("text")), " ")
    logw = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.element_at(arr, (hash_bucket(t, "dsir:", DSIR_BUCKETS) + 1).cast("int")),
    )
    return spread(
        spark, read_documents_stream(spark, sf_dir).select("doc_id", "source", "text")
    ).select("doc_id", "source", F.round(logw, 6).alias("log_weight"))


def stream_decontam_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of decontam_eval_overlap: arriving documents
    checked against the FROZEN eval-shingle blocklist — the
    contamination admission filter of a streaming ingest (an eval
    question pasted into an arriving page is caught before it ever
    lands in the lake). The blocklist is built batch-side from the
    eval carve (structurally bounded at EVAL_CAP/EVAL_MOD documents'
    shingles — the decontam module's broadcast argument) and shipped
    to executors as a Spark broadcast variable; each micro-batch then
    needs only a stateless per-row set probe inside mapInPandas, so
    the drain runs append-mode. Counting happens Python-side; the
    contamination ratio itself is computed by Catalyst F.round after
    the UDF so rounding semantics (HALF_UP) match the batch query and
    the DuckDB oracle exactly (Python's round() is banker's and WOULD
    drift on 7-digit-exact ratios like 1/128)."""
    from benchviz_spark.operators.decontam import (
        NGRAM,
        _seg_member_counts,
        eval_split,
    )
    from benchviz_spark.operators.dedup import shingled_documents

    ev_rows = (
        sw_shingled_eval(spark, sf_dir, NGRAM)
        .select(F.explode("shingles").alias("g"))
        .distinct()
        .collect()
    )  # eval-carve bounded (MBs at any corpus scale), the frozen blocklist
    bc = spark.sparkContext.broadcast(frozenset(r.g for r in ev_rows))

    stream = shingled_documents(
        spark,
        sf_dir,
        NGRAM,
        docs=read_documents_stream(spark, sf_dir).filter(~eval_split(F.col("doc_id"))),
    )

    def probe(batches):
        import pandas as pd

        ev = bc.value
        for pdf in batches:
            n_sh, n_cont = _seg_member_counts(pdf["shingles"], ev)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_shingles": n_sh,
                    "n_contaminated": n_cont,
                }
            )
            yield out[(out["n_shingles"] > 0) & (out["n_contaminated"] > 0)]

    counted = stream.mapInPandas(
        probe, "doc_id long, n_shingles long, n_contaminated long"
    )
    return counted.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.round(F.col("n_contaminated") / F.col("n_shingles"), 6).alias(
            "contamination"
        ),
    )


def sw_shingled_eval(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """Eval-carve documents shingled batch-side (the static side of the
    streamed decontamination gate)."""
    from benchviz_spark.operators.decontam import eval_split
    from benchviz_spark.operators.dedup import shingled_documents

    return shingled_documents(spark, sf_dir, n=n).filter(
        eval_split(F.col("doc_id"))
    )


def stream_dedup_admission(
    spark: SparkSession, sf_dir: str, prefix: str = "admission"
) -> DataFrame:
    """Streaming twin of curation.admission_delta_indexed: the document
    stream through the same per-document admission decision
    (curation.admit_vs_standing) against the DURABLE standing-corpus
    index (curation.build_admission_index), so the index is the single
    admission source of truth across batch and stream (VERDICT r14 #5).
    The decision's verdict is a per-document aggregation, drained in
    complete mode by the registered gate (each doc_id arrives exactly
    once, so complete == the admitted set)."""
    from benchviz_spark.operators.curation import (
        _with_split,
        admission_tables,
        admit_vs_standing,
    )

    admitted, _ = admit_vs_standing(
        spark, read_documents_stream(spark, sf_dir), admission_tables(spark, prefix)
    )
    return _with_split(admitted)
