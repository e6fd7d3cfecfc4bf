"""Benchmark-log directory-tree source (the reference's ingest path).

Reads a ``benchSamples/<DD-MM-YYYY>/cockroach/<pkg>/<file>`` tree of Go
benchmark stdout into one line-grained DataFrame, reproducing the
reference scanner's observable semantics
(/root/reference/filegenerator/file_generator.go:131-175):

- date directories are recognized by the UNANCHORED pattern
  ``[0-9]{2}-[0-9]{2}-[0-9]{4}`` (file_generator.go:107-111), so
  ``x01-01-2016y`` is a valid date dir;
- files are recognized by the unanchored pattern ``.*test\\.stdout``
  (file_generator.go:155-157);
- missing package dirs are silently skipped (glob semantics give us
  that for free, file_generator.go:149-151).

Scale: files are read with ``wholetext`` + ``posexplode`` so each line
carries its (file, position) provenance — that provenance is what makes
last-write-wins deduplication deterministic and distributed (no
single-threaded ordering assumption survives a 1000-executor cluster).
Benchmark stdout files are small (KBs); one file per task row is cheap,
and Spark splits the file *list* across executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

# Reference patterns, verbatim semantics (not verbatim code):
DATE_DIR_PATTERN = "[0-9]{2}-[0-9]{2}-[0-9]{4}"
# MB/s demands >=2 digit chars: '5 MB/s' does NOT match, '5.5'/'55' do
# (file_generator.go:84; proven by file_generator_test.go:62-63).
NS_PER_OP_RE = r"([0-9]+) ns/op"
ALLOCS_RE = r"([0-9]+) allocs/op"
BYTES_RE = r"([0-9]+) B/op"
MBPS_RE = r"([0-9]+\.?[0-9]+) MB/s"

FACT_COLUMNS = (
    "run_date",
    "date_dir",
    "package",
    "test_name",
    "ns_per_op",
    "allocs_per_op",
    "bytes_per_op",
    "mb_per_s",
    "source_file",
)

# The reference scans exactly these 12 package dirs (main.go:23-25).
REFERENCE_PACKAGES = (
    "sql",
    "sql/parser",
    "kv",
    "roachpb",
    "storage",
    "storage/engine",
    "util/cache",
    "util/caller",
    "util/decimal",
    "util/encoding",
    "util/interval",
    "util/log",
)

# Hadoop-glob rendering of the unanchored DD-MM-YYYY date-dir filter:
# character classes prune non-date dirs at *listing* time (no file of a
# skipped dir is ever opened), while the leading/trailing `*` keep the
# reference's unanchored-substring quirk (x01-01-2016y is a date dir).
_DATE_DIR_GLOB = "*[0-9][0-9]-[0-9][0-9]-[0-9][0-9][0-9][0-9]*"


def read_bench_lines(
    spark: SparkSession,
    samples_root: str,
    packages: tuple[str, ...] | None = REFERENCE_PACKAGES,
) -> DataFrame:
    """Scan the tree -> (source_file, package, line_pos, line).

    ONE listing pass reads every file exactly once: the date-dir glob
    prunes at the directory level, ``recursiveFileLookup`` descends
    through arbitrarily nested package dirs (sql/parser, storage/engine),
    and ``pathGlobFilter`` applies the reference's unanchored
    ``*test.stdout*`` file filter before any byte is read.
    ``wholetext=True`` (keyword form — the ``.option()`` string form is
    ignored by this reader) yields one row per file so ``posexplode``
    gives each line its (file, position) provenance for LWW dedup.

    ``packages`` reproduces the reference whitelist (F4, main.go:23-25);
    pass ``None`` to ingest every package dir.
    """
    lines = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*test.stdout*")
        .text(f"{samples_root}/{_DATE_DIR_GLOB}/cockroach", wholetext=True)
        .withColumn("source_file", F.input_file_name())
        .withColumn(
            "package",
            F.regexp_extract(F.col("source_file"), r"/cockroach/(.+)/[^/]+$", 1),
        )
        # files sitting directly under cockroach/ have no package dir and
        # are never visited by the reference walker (file_generator.go:144)
        .filter(F.col("package") != "")
        .select(
            "source_file",
            "package",
            F.posexplode(F.split(F.col("value"), "\n")).alias("line_pos", "line"),
        )
    )
    if packages is not None:
        lines = lines.filter(F.col("package").isin(list(packages)))
    return lines


def parse_bench_lines(lines: DataFrame) -> DataFrame:
    """Line-grained text -> typed fact rows (reference F1 + F5).

    All parsing is native Catalyst expressions (regexp_extract / split /
    trim / cast) — no Python in the hot path. Missing metrics become 0,
    not null (Go zero-value semantics, file_generator.go:85-104).
    """
    is_valid = F.col("line").startswith("Benchmark") & ~F.col("line").rlike("FAIL")

    def metric(pattern: str, typ: str) -> F.Column:
        # no-match regexp_extract yields '' — try_cast turns that into
        # null (ANSI mode would throw), coalesce applies the Go
        # zero-value default.
        extracted = F.regexp_extract(F.col("line"), pattern, 1)
        return F.coalesce(extracted.try_cast(typ), F.lit(0).cast(typ))

    return lines.filter(is_valid).select(
        F.to_date(
            F.regexp_extract(F.col("source_file"), f"({DATE_DIR_PATTERN})", 1),
            "dd-MM-yyyy",
        ).alias("run_date"),
        # the RAW directory-name segment: the reference keys its serving
        # JSON by dataDirName verbatim (file_generator.go:167), so quirky
        # dirs like x01-01-2016y must survive to the serving edge.
        F.regexp_extract(
            F.col("source_file"), f"/([^/]*{DATE_DIR_PATTERN}[^/]*)/cockroach/", 1
        ).alias("date_dir"),
        "package",
        F.trim(F.split(F.col("line"), "\t").getItem(0)).alias("test_name"),
        metric(NS_PER_OP_RE, "long").alias("ns_per_op"),
        metric(ALLOCS_RE, "long").alias("allocs_per_op"),
        metric(BYTES_RE, "long").alias("bytes_per_op"),
        metric(MBPS_RE, "double").alias("mb_per_s"),
        "source_file",
        "line_pos",
    )


def dedup_last_write_wins(parsed: DataFrame) -> DataFrame:
    """Reference A1: duplicate (package, test, date) keys are resolved by
    the *last* occurrence in scan order (map overwrite,
    file_generator.go:167). Scan order = file path asc (Go ReadDir sorts
    by name), then line position asc — so the winner is the max
    (source_file, line_pos). A window row_number keeps it fully
    distributed and deterministic."""
    w = W.partitionBy("package", "test_name", "date_dir").orderBy(
        F.col("source_file").desc(), F.col("line_pos").desc()
    )
    return (
        parsed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*FACT_COLUMNS)
    )


def build_fact_table(
    spark: SparkSession,
    samples_root: str,
    packages: tuple[str, ...] | None = REFERENCE_PACKAGES,
) -> DataFrame:
    """Full ingest: scan -> parse -> LWW dedup -> bench_results fact table
    (FIXTURES.md §2 schema), laid out for serving.

    The table ends range-partitioned on (package, test_name) and sorted
    within partitions by (package, test_name, run_date): its physical
    layout is the serving layout. A cached fact then reports that
    partitioning and ordering, so the per-test aggregation and the
    catalog's ``distinct`` need no shuffle of their own, and the cached
    batches' min/max statistics let a point lookup's filter skip every
    batch but the few that hold its test (the lookup's one-job gather
    itself does not depend on this layout).

    The range exchange sits AFTER the LWW window, which keeps its own
    hash shuffle: there the RangePartitioner's sampling job reads the
    materialized shuffle output. Placed before the window instead, the
    sampler re-runs the whole scan and parse."""
    return (
        dedup_last_write_wins(
            parse_bench_lines(read_bench_lines(spark, samples_root, packages))
        )
        .repartitionByRange("package", "test_name")
        .sortWithinPartitions("package", "test_name", "run_date")
    )
