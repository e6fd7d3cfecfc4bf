"""Structured-Streaming ingest for the benchviz pipeline (SURVEY §2.9).

The reference is a batch job re-run daily as a new ``<date>/`` directory
lands (main.go:21-31). The streaming shape of that workload is a file
source watching the sample tree: each micro-batch sees only NEW files,
parses them with the exact same Catalyst expressions as the batch path
(parse_bench_lines is stateless, so it lifts to streaming unchanged),
and ``foreachBatch`` appends to a bronze fact store + regenerates the
serving JSON tree from it.

Why foreachBatch rather than a streaming aggregation: last-write-wins
dedup and the per-test JSON documents are global-state aggregations
over all history — exactly what the reference recomputes each run. The
bronze store keeps ingest incremental (each file parsed once, ever);
regeneration cost is bounded by the fact table, which is tiny relative
to raw logs (one row per benchmark result). At 100 TB of logs the
bronze parquet is still GBs, and the regeneration can itself be
restricted to packages touched in the batch (``touched_only=True``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from benchviz_spark.serving.json_sink import per_test_json, write_serving_tree
from benchviz_spark.sources.bench_logs import (
    _DATE_DIR_GLOB,
    _file_lines,
    REFERENCE_PACKAGES,
    dedup_last_write_wins,
    parse_bench_lines,
)


def read_bench_lines_stream(
    spark: SparkSession,
    samples_root: str,
    packages: tuple[str, ...] | None = REFERENCE_PACKAGES,
) -> DataFrame:
    """Streaming twin of read_bench_lines: same glob, same filters, one
    row per (file, line) with provenance. maxFilesPerTrigger bounds
    per-batch work so a backlogged tree drains in steady increments."""
    files = (
        spark.readStream.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*test.stdout*")
        .option("maxFilesPerTrigger", "64")
        .text(f"{samples_root}/{_DATE_DIR_GLOB}/cockroach", wholetext=True)
    )
    return _file_lines(files, packages)


def run_streaming_pipeline(
    spark: SparkSession,
    samples_root: str,
    out_dir: str,
    checkpoint_dir: str,
    await_termination: bool = True,
    touched_only: bool = False,
):
    """Incremental ingest + serving regeneration.

    Each micro-batch of parsed rows is appended to ``<out>/_bronze``;
    the serving tree (per-test JSON) is rebuilt from the deduped bronze
    store. Restart-safe: the checkpoint tracks which files were
    ingested, and bronze appends are idempotent per batchId directory.
    Returns the StreamingQuery (already terminated if await_termination).

    ``touched_only=True`` restricts each regeneration to the packages
    present in the micro-batch: a serving document only changes when its
    package receives new rows (one JSON doc per (package, test), LWW
    over history), so untouched subtrees are provably identical and
    skipping them turns the per-batch write cost from O(catalog) into
    O(touched packages). The touched set is a collect of the batch's
    distinct packages — bounded by the reference's package whitelist
    (dozens), never by data volume."""
    bronze = os.path.join(out_dir, "_bronze")
    os.makedirs(out_dir, exist_ok=True)
    parsed = parse_bench_lines(read_bench_lines_stream(spark, samples_root))

    def regenerate(batch_df: DataFrame, batch_id: int) -> None:
        # exactly-once per batch: overwrite this batch's own partition
        batch_df.write.mode("overwrite").parquet(
            os.path.join(bronze, f"batch={batch_id}")
        )
        fact = dedup_last_write_wins(spark.read.parquet(os.path.join(bronze, "*")))
        if touched_only:
            touched = [
                r.package for r in batch_df.select("package").distinct().collect()
            ]
            if not touched:
                return
            fact = fact.filter(F.col("package").isin(touched))
        write_serving_tree(per_test_json(fact), out_dir)

    query = (
        parsed.writeStream.foreachBatch(regenerate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def run_admission_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    prefix: str = "admission",
    await_termination: bool = True,
):
    """The PRODUCTION admission topology: per-micro-batch ingest against
    the durable standing-corpus index with ZERO streaming state.

    The per-document admission decision (curation.admit_vs_standing:
    hygiene gates, Bloom/fp exact tier, band-posting near-dup tier —
    all vs the frozen epoch index) is batch-computable, so
    ``foreachBatch`` hands each micro-batch to it and appends the
    admitted delta to an exactly-once batch-partitioned parquet sink.
    The drained gate (streaming/windows.py stream_dedup_admission)
    runs the same decision on the stream itself, where its final
    per-document aggregation keeps state that grows with the drained
    stream — fine for the finite correctness drain, wrong for an
    unbounded production stream. Here the aggregation runs inside each
    micro-batch, so the topology carries NO state store at all: each
    document is judged on its own content against the index, and the
    checkpoint's file tracking alone provides restart safety.

    The index must exist (curation.build_admission_index) — raising
    early beats admitting against an empty standing corpus."""
    from benchviz_spark.operators.curation import (
        _with_split,
        admission_index_names,
        admission_tables,
        admit_vs_standing,
    )
    from benchviz_spark.streaming.windows import read_documents_stream

    names = admission_index_names(prefix)
    missing = [n for n in names.values() if not spark.catalog.tableExists(n)]
    if missing:
        raise RuntimeError(
            f"admission index tables missing: {missing} — run "
            "build_admission_index first (the epoch build is not an "
            "ingest-time cost)"
        )
    os.makedirs(out_dir, exist_ok=True)
    stream = read_documents_stream(spark, sf_dir)

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        # exactly-once per batch: overwrite this batch's own partition
        admitted, _ = admit_vs_standing(
            spark, batch_df, admission_tables(spark, prefix)
        )
        _with_split(admitted).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    query = (
        stream.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query
