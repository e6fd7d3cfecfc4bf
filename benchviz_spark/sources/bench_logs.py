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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

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


# The projections below are Spark SQL text: each string is parsed in the
# JVM in one call, where the same tree built from ``F.*`` Columns costs
# about three py4j round trips per function call (~1,100 for the fact
# table and per-test JSON plans). Only module constants are spliced into this text; a
# caller's values (the package whitelist) stay Column expressions.


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash and quote escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# file -> (source_file, package, value); the second item reads the
# first as a lateral column alias. Files sitting directly under
# cockroach/ have no package dir and are never visited by the reference
# walker (file_generator.go:144): their package is '' and they drop.
_FILE_SQL = (
    "input_file_name() AS source_file",
    f"regexp_extract(source_file, {_sql_str(r'/cockroach/(.+)/[^/]+$')}, 1)"
    " AS package",
    "value",
)
_LINES_SQL = (
    "source_file",
    "package",
    f"posexplode(split(value, {_sql_str(chr(10))})) AS (line_pos, line)",
)


def _file_lines(files: DataFrame, packages: tuple[str, ...] | None) -> DataFrame:
    """A ``wholetext`` text read (one row per file, batch or stream) ->
    (source_file, package, line_pos, line), restricted to ``packages``
    unless it is None."""
    lines = files.selectExpr(*_FILE_SQL).filter("package != ''")
    lines = lines.selectExpr(*_LINES_SQL)
    if packages is not None:
        # Column.isin semantics; the names cross py4j as ONE list, where
        # PySpark's isin makes a lit() call (3 round trips) per name
        lines = lines.filter(
            Column(F.col("package")._jc.isInCollection(list(packages)))
        )
    return lines


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
    files = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*test.stdout*")
        .text(f"{samples_root}/{_DATE_DIR_GLOB}/cockroach", wholetext=True)
    )
    return _file_lines(files, packages)


def _metric_sql(pattern: str, typ: str, name: str) -> str:
    # no-match regexp_extract yields '' — try_cast turns that into null
    # (ANSI mode would throw), coalesce applies the Go zero-value default.
    return (
        f"coalesce(try_cast(regexp_extract(line, {_sql_str(pattern)}, 1) AS {typ}),"
        f" CAST(0 AS {typ})) AS {name}"
    )


_VALID_LINE_SQL = "startswith(line, 'Benchmark') AND NOT line RLIKE 'FAIL'"
_PARSE_SQL = (
    f"to_date(regexp_extract(source_file, {_sql_str(f'({DATE_DIR_PATTERN})')}, 1),"
    " 'dd-MM-yyyy') AS run_date",
    # the RAW directory-name segment: the reference keys its serving
    # JSON by dataDirName verbatim (file_generator.go:167), so quirky
    # dirs like x01-01-2016y must survive to the serving edge.
    "regexp_extract(source_file,"
    f" {_sql_str(f'/([^/]*{DATE_DIR_PATTERN}[^/]*)/cockroach/')}, 1) AS date_dir",
    "package",
    f"trim(split(line, {_sql_str(chr(9))})[0]) AS test_name",
    _metric_sql(NS_PER_OP_RE, "long", "ns_per_op"),
    _metric_sql(ALLOCS_RE, "long", "allocs_per_op"),
    _metric_sql(BYTES_RE, "long", "bytes_per_op"),
    _metric_sql(MBPS_RE, "double", "mb_per_s"),
    "source_file",
    "line_pos",
)


def parse_bench_lines(lines: DataFrame) -> DataFrame:
    """Line-grained text -> typed fact rows (reference F1 + F5).

    All parsing is native Catalyst expressions (regexp_extract / split /
    trim / cast) — no Python in the hot path. Missing metrics become 0,
    not null (Go zero-value semantics, file_generator.go:85-104).
    Stateless, so it runs unchanged on a streaming DataFrame.
    """
    return lines.filter(_VALID_LINE_SQL).selectExpr(*_PARSE_SQL)


_LWW_RANK_SQL = (
    "row_number() OVER (PARTITION BY package, test_name, date_dir"
    " ORDER BY source_file DESC, line_pos DESC) AS __rn"
)


def dedup_last_write_wins(parsed: DataFrame) -> DataFrame:
    """Reference A1: duplicate (package, test, date) keys are resolved by
    the *last* occurrence in scan order (map overwrite,
    file_generator.go:167). Scan order = file path asc (Go ReadDir sorts
    by name), then line position asc — so the winner is the max
    (source_file, line_pos). A window row_number keeps it fully
    distributed and deterministic."""
    return (
        parsed.selectExpr("*", _LWW_RANK_SQL)
        .filter("__rn = 1")
        .selectExpr(*FACT_COLUMNS)
    )


def build_fact_table(
    spark: SparkSession,
    samples_root: str,
    packages: tuple[str, ...] | None = REFERENCE_PACKAGES,
) -> DataFrame:
    """Full ingest: scan -> parse -> LWW dedup -> bench_results fact table
    (FIXTURES.md §2 schema), laid out for serving.

    ONE shuffle: the parsed rows are hash-partitioned on
    (package, test_name) ahead of the LWW window. That partitioning
    already satisfies the window's (package, test_name, date_dir) key,
    so the window adds no exchange, and the table ends hash-clustered on
    (package, test_name), each partition sorted by it (the window's own
    sort). A cached fact then reports that partitioning: the per-test
    aggregation, the index listing's ``distinct`` and the regression
    windows (all keyed by (package, test_name) or a superset) need no
    shuffle of their own. Where a partition spans several cached
    batches, their min/max statistics let a point
    lookup's filter skip the batches that do not hold its test (a
    partition of one batch spans every key, and is scanned).
    Point lookups gather and sort their own rows, and ``per_test_json``
    sorts its own entries, so the table needs no global order (a range
    layout would cost a sampling job over the LWW shuffle output and a
    second exchange)."""
    parsed = parse_bench_lines(read_bench_lines(spark, samples_root, packages))
    return dedup_last_write_wins(parsed.repartition("package", "test_name"))
