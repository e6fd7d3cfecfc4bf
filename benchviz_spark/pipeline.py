"""End-to-end benchviz ETL on Spark (reference main.go:21-31 re-planned).

The reference's pipeline is: S3 sync -> walk tree -> parse -> nest ->
one JSON per test + catalog -> publish. On Spark that collapses into a
single lazy plan: text scan (with partition-style pruning by path) ->
native regex projections -> one hash exchange on (package, test_name)
-> LWW dedup window -> parallel serving writes. The window and the
per-test aggregation read that one clustering and add no shuffle of
their own. A point lookup gathers its few rows into one
partition and a compare merges two such series; over the cached fact
either runs as one job with no shuffle. The S3 sync steps
dissolve: ``spark.read`` addresses ``s3a://`` URIs directly.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from benchviz_spark.registry import query
from benchviz_spark.serving.json_sink import (
    PRIORITY_TESTS,
    catalog_json,
    catalog_json_df,
    package_sort_key,
    per_test_json,
    priority_sort_key,
    write_serving_tree,
)
from benchviz_spark.sources.bench_logs import build_fact_table


def run_pipeline(spark: SparkSession, samples_root: str, out_dir: str) -> DataFrame:
    """Ingest a benchSamples tree and materialize the serving layout
    (per-test JSON files + test_names.json). Returns the fact table."""
    fact = build_fact_table(spark, samples_root)
    fact.cache()  # reused by both sinks; one scan/parse pass
    os.makedirs(out_dir, exist_ok=True)  # an all-filtered tree writes no partition
    write_serving_tree(per_test_json(fact), out_dir)
    with open(os.path.join(out_dir, "test_names.json"), "w") as f:
        f.write(catalog_json(fact))
    return fact


def catalog_listing(fact: DataFrame) -> DataFrame:
    """The index-page listing (reference §3.2): packages ordered sql,
    sql/parser, rest; tests priority-first then lexicographic."""
    return (
        fact.select("package", "test_name")
        .distinct()
        .withColumn("pkg_rank", package_sort_key(F.col("package")))
        .withColumn("test_rank", priority_sort_key(F.col("test_name"), F.col("package")))
        .orderBy("pkg_rank", "package", "test_rank", "test_name")
    )


def point_lookup(fact: DataFrame, package: str, test_name: str) -> DataFrame:
    """Reference S9: fetch one test's chronological series. The equality
    predicates prune partitions/files when the fact table is stored
    partitioned by package.

    The series is gathered, not globally sorted: filter -> ``coalesce(1)``
    -> ``sortWithinPartitions("run_date")``. Its output is then one
    partition (``SinglePartition``) in run_date order on any input,
    with no Exchange, so a lookup runs as one job without relying on
    the fact table's layout. Two gathered series also satisfy the
    distribution and ordering a sort-merge join on run_date needs, so
    ``align_series`` over two lookups plans no Exchange either (a
    compare is one job).

    Scale trade-off: ``coalesce(1)`` is narrow, so the filter and the
    scan under it run in a single task. Over a cached fact the batch
    statistics prune most batches before that task reads them; over an
    uncached fact the scan and parse stay parallel behind the fact's
    own exchanges, and only the filtered rows meet in one task."""
    return (
        fact.filter((F.col("package") == package) & (F.col("test_name") == test_name))
        .coalesce(1)
        .sortWithinPartitions("run_date")
        .select("run_date", "ns_per_op", "allocs_per_op", "bytes_per_op", "mb_per_s")
    )


# ---------------------------------------------------------------------------
# A deterministic self-contained demo of the flagship workload, exposed
# as a registry query (rows-only check: its input is a generated log
# tree, not one of the oracle's parquet views).
# ---------------------------------------------------------------------------
_DEMO_LINES = {
    "sql": [
        "BenchmarkBank2_Cockroach-8 \t 1000 \t 1328086 ns/op \t 183965 B/op \t 2317 allocs/op",
        "BenchmarkScan1000_Cockroach-16 \t 500 \t 2000000 ns/op \t 12.50 MB/s \t 1024 B/op \t 10 allocs/op",
        "BenchmarkThroughput-8 \t 100 \t 5 MB/s",
        "--- FAIL: BenchmarkBroken",
        "PASS",
    ],
    "sql/parser": [
        "BenchmarkParse-8 \t 2000 \t 52341 ns/op",
        "ok  \t parser \t 1.2s",
    ],
}


_DEMO_TREE = {
    date: _DEMO_LINES for date in ("01-01-2015", "02-01-2015", "15-12-2015")
}


def _tree_fact(spark: SparkSession, name: str, tree: dict) -> DataFrame:
    """Plant ``tree`` ({date dir: {package: stdout lines}}) as the
    benchSamples tree ``benchviz_<name>_tree`` under the shared tempdir
    and return its fact table.

    A planted tree whose date dirs differ from ``tree`` is removed
    first: a leftover from an older checkout (different fixture dates)
    would otherwise be silently ingested alongside the fresh dirs and
    break the golden oracles with an environment-dependent mismatch."""
    import shutil

    root = os.path.join(tempfile.gettempdir(), f"benchviz_{name}_tree")
    if os.path.isdir(root) and set(os.listdir(root)) != set(tree):
        shutil.rmtree(root, ignore_errors=True)
    for date, packages in tree.items():
        for pkg, lines in packages.items():
            d = os.path.join(root, date, "cockroach", pkg)
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "pkg.test.stdout"), "w") as f:
                f.write("\n".join(lines) + "\n")
    return build_fact_table(spark, root)


# The demo tree is deterministic, so the flagship pipeline has an exact
# golden oracle: the reference semantics applied by hand to _DEMO_LINES.
# Note BenchmarkThroughput-8's '5 MB/s' parses to 0 (the >=2-digit MB/s
# regex quirk, file_generator.go:84) and FAIL/PASS/ok lines drop.
_PIPELINE_ORACLE = """
    SELECT * FROM (VALUES
      (DATE '2015-01-01', 'sql', 'BenchmarkBank2_Cockroach-8',
         CAST(1328086 AS BIGINT), CAST(2317 AS BIGINT), CAST(183965 AS BIGINT), 0.0),
      (DATE '2015-01-01', 'sql', 'BenchmarkScan1000_Cockroach-16',
         CAST(2000000 AS BIGINT), CAST(10 AS BIGINT), CAST(1024 AS BIGINT), 12.5),
      (DATE '2015-01-01', 'sql', 'BenchmarkThroughput-8',
         CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0.0),
      (DATE '2015-01-01', 'sql/parser', 'BenchmarkParse-8',
         CAST(52341 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0.0),
      (DATE '2015-01-02', 'sql', 'BenchmarkBank2_Cockroach-8',
         CAST(1328086 AS BIGINT), CAST(2317 AS BIGINT), CAST(183965 AS BIGINT), 0.0),
      (DATE '2015-01-02', 'sql', 'BenchmarkScan1000_Cockroach-16',
         CAST(2000000 AS BIGINT), CAST(10 AS BIGINT), CAST(1024 AS BIGINT), 12.5),
      (DATE '2015-01-02', 'sql', 'BenchmarkThroughput-8',
         CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0.0),
      (DATE '2015-01-02', 'sql/parser', 'BenchmarkParse-8',
         CAST(52341 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0.0),
      (DATE '2015-12-15', 'sql', 'BenchmarkBank2_Cockroach-8',
         CAST(1328086 AS BIGINT), CAST(2317 AS BIGINT), CAST(183965 AS BIGINT), 0.0),
      (DATE '2015-12-15', 'sql', 'BenchmarkScan1000_Cockroach-16',
         CAST(2000000 AS BIGINT), CAST(10 AS BIGINT), CAST(1024 AS BIGINT), 12.5),
      (DATE '2015-12-15', 'sql', 'BenchmarkThroughput-8',
         CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0.0),
      (DATE '2015-12-15', 'sql/parser', 'BenchmarkParse-8',
         CAST(52341 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0.0)
    ) AS t(run_date, package, test_name, ns_per_op, allocs_per_op,
           bytes_per_op, mb_per_s)
"""


@query("bench_log_pipeline", oracle=_PIPELINE_ORACLE)
def bench_log_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship reference workload end-to-end: generate a deterministic
    benchSamples tree, ingest it (scan -> parse -> LWW dedup), and return
    the fact table. Exercises every reference ingest operator
    (SURVEY §2.1 S2-S3, §2.2 F1-F5, §2.4 A1). The oracle is the golden
    expected output (reference semantics hand-applied to the fixture)."""
    fact = _tree_fact(spark, "demo", _DEMO_TREE)
    return fact.select(
        "run_date",
        "package",
        "test_name",
        "ns_per_op",
        "allocs_per_op",
        "bytes_per_op",
        "mb_per_s",
    ).orderBy("run_date", "package", "test_name")


def _metric_series(fact: DataFrame) -> DataFrame:
    """The fact table unpivoted (F9's stack) to one (metric, value) row
    per REPORTED metric: N=ns/op, A=allocs/op, B=B/op, M=MB/s. Zero
    values (metric absent -> the reference's Go zero-default) are
    dropped here, before any window sees them."""
    return fact.select(
        "package",
        "test_name",
        "run_date",
        F.expr(
            "stack(4, 'N', CAST(ns_per_op AS DOUBLE),"
            " 'A', CAST(allocs_per_op AS DOUBLE),"
            " 'B', CAST(bytes_per_op AS DOUBLE),"
            " 'M', CAST(mb_per_s AS DOUBLE)) AS (metric, value)"
        ),
    ).filter(F.col("value") > 0)


def _worsening_pct(baseline: str) -> F.Column:
    """Worsening % of ``value`` against the ``baseline`` column, rounded
    to 2 places and sign-normalized: positive always means "got worse"
    (an increase for N/A/B, a DECREASE for M — MB/s is a throughput)."""
    base, value = F.col(baseline), F.col("value")
    delta = F.when(F.col("metric") == "M", base - value).otherwise(value - base)
    # The division lives INSIDE the baseline > 0 CASE branch (lazily
    # evaluated per row) because ANSI mode raises on divide-by-zero and
    # Catalyst is free to reorder a conjunctive filter's predicates —
    # a guard conjunct does not protect a sibling conjunct.
    return F.round(F.when(base > 0, delta * 100.0 / base), 2)


def bench_regressions(
    fact: DataFrame, threshold_pct: float = 20.0
) -> DataFrame:
    """Day-over-day regression detection — the judgement the reference
    leaves to a human squinting at its charts (README.md:1's whole
    purpose; generate_benchmark_plot.js:74-79 renders ALL FOUR metric
    series — N=ns/op, A=allocs/op, B=B/op, M=MB/s — precisely so
    someone can spot these), engine-ized across all four metrics
    (VERDICT r13 #6; the r13 version flagged ns/op only).

    The fact table unpivots (F9's stack) to one (metric, value) row per
    metric; each (package, test, metric) series is ordered by run_date
    and a run is flagged when it WORSENED by more than
    ``threshold_pct`` vs the previous REPORTED run of the SAME metric —
    worsening is an increase for N/A/B and a DECREASE for M (MB/s is a
    throughput). Zero values (metric absent -> the reference's Go
    zero-default) are filtered out BEFORE the lag window, so a gap in
    an intermittently-reported metric (e.g. allocs/op only on
    -benchmem days) never becomes the lag prev: 100, absent, 150
    compares 150 against 100 and flags the +50% instead of silently
    swallowing it (ADVICE r14).

    Scale: one window keyed (package, test_name) — the key
    ``build_fact_table`` already hash-partitions by, so the window adds
    no shuffle of its own (nor does the per-test serving aggregation).
    The metric tag joins the SORT key, not the partition key (a test's
    four series are a handful of rows; hashing them apart buys nothing),
    and the lag guard ``prev_metric == metric`` stops the window from
    reading across a series boundary."""
    w = W.partitionBy("package", "test_name").orderBy("metric", "run_date")
    return (
        _metric_series(fact)
        .withColumn("prev_value", F.lag("value").over(w))
        .withColumn("prev_metric", F.lag("metric").over(w))
        .filter(
            (F.col("prev_metric") == F.col("metric"))
            & (F.col("prev_value") > 0)
        )
        .withColumn("pct_change", _worsening_pct("prev_value"))
        .filter(F.col("pct_change") > threshold_pct)
        .select(
            "package",
            "test_name",
            "metric",
            "run_date",
            "prev_value",
            "value",
            "pct_change",
        )
    )


# ---------------------------------------------------------------------------
# Serving tier as driver-checkable queries (VERDICT r12 #4): the
# reference's S4/S5 sinks and O3/O4 orderings, rendered as rows over
# the deterministic demo tree and pinned by golden VALUES oracles —
# the same pattern bench_log_pipeline uses. These close the last §2
# operators whose only evidence was pytest.
# ---------------------------------------------------------------------------

# Reference S4 (file_generator.go:179-190): one byte-stable Go-JSON
# document per (package, test). Golden strings hand-derived from
# _DEMO_LINES under the reference semantics: date keys are the RAW
# dir names sorted lexically (Go json.Marshal sorts map keys), absent
# metrics render as Go zero values, 12.50 MB/s renders shortest
# ("12.5"), and "5 MB/s" is 0 via the >=2-digit regex quirk
# (file_generator.go:84).
_DOC_BANK = (
    '{"01-01-2015":{"N":1328086,"A":2317,"B":183965,"M":0},'
    '"02-01-2015":{"N":1328086,"A":2317,"B":183965,"M":0},'
    '"15-12-2015":{"N":1328086,"A":2317,"B":183965,"M":0}}'
)
_DOC_SCAN = (
    '{"01-01-2015":{"N":2000000,"A":10,"B":1024,"M":12.5},'
    '"02-01-2015":{"N":2000000,"A":10,"B":1024,"M":12.5},'
    '"15-12-2015":{"N":2000000,"A":10,"B":1024,"M":12.5}}'
)
_DOC_THROUGHPUT = (
    '{"01-01-2015":{"N":0,"A":0,"B":0,"M":0},'
    '"02-01-2015":{"N":0,"A":0,"B":0,"M":0},'
    '"15-12-2015":{"N":0,"A":0,"B":0,"M":0}}'
)
_DOC_PARSE = (
    '{"01-01-2015":{"N":52341,"A":0,"B":0,"M":0},'
    '"02-01-2015":{"N":52341,"A":0,"B":0,"M":0},'
    '"15-12-2015":{"N":52341,"A":0,"B":0,"M":0}}'
)

_PER_TEST_JSON_ORACLE = f"""
    SELECT * FROM (VALUES
      ('sql', 'BenchmarkBank2_Cockroach-8', '{_DOC_BANK}'),
      ('sql', 'BenchmarkScan1000_Cockroach-16', '{_DOC_SCAN}'),
      ('sql', 'BenchmarkThroughput-8', '{_DOC_THROUGHPUT}'),
      ('sql/parser', 'BenchmarkParse-8', '{_DOC_PARSE}')
    ) AS t(package, test_name, json)
"""


@query("serving_per_test_json", oracle=_PER_TEST_JSON_ORACLE)
def serving_per_test_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference S4 as a query: the per-(package, test) serving JSON
    documents, byte-identical to Go json.Marshal output (sorted date
    keys, integral doubles without '.0', shortest-round-trip floats —
    serving/json_sink.py:_go_number). Runs the full ingest on the demo
    tree, so a green row certifies scan -> parse -> LWW -> S4 render
    end to end against hand-derived golden bytes.

    Scale: one hash aggregation keyed (package, test_name) — the
    serving catalog's natural key; documents are assembled
    executor-side and the plan never collects."""
    fact = _tree_fact(spark, "demo", _DEMO_TREE)
    return per_test_json(fact).orderBy("package", "test_name")


# Reference S5 (file_generator.go:194-208): the test_names.json catalog
# document, both levels canonically sorted.
_CATALOG_DOC = (
    '{"sql":["BenchmarkBank2_Cockroach-8","BenchmarkScan1000_Cockroach-16",'
    '"BenchmarkThroughput-8"],"sql/parser":["BenchmarkParse-8"]}'
)
_CATALOG_JSON_ORACLE = f"""
    SELECT * FROM (VALUES ('{_CATALOG_DOC}')) AS t(json)
"""


@query("serving_catalog_json", oracle=_CATALOG_JSON_ORACLE)
def serving_catalog_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference S5 as a query: the single test_names.json document
    (``{pkg: [test,...]}``, both levels sorted) over the demo tree.
    One executor-side aggregation of the (package, test) pairs; only the
    one-row document reaches the output."""
    return catalog_json_df(_tree_fact(spark, "demo", _DEMO_TREE))


# Reference O3/O4 (generate_benchmark_list.js:29-48): priority tests
# (sql Scan/Delete/Update/Insert x 1/10/100/1000) and priority packages
# (sql, sql/parser) list first. The ordering is the semantics here, and
# the driver's hash compare is order-insensitive, so the ORDER ITSELF is
# materialized as a position column — any ordering drift changes the
# hashed values. BenchmarkScan1000_Cockroach-16 is in the priority set;
# the golden positions pin it ahead of the lexically-earlier Bank2.
_CATALOG_LISTING_ORACLE = """
    SELECT * FROM (VALUES
      (1, 'sql', 'BenchmarkScan1000_Cockroach-16'),
      (2, 'sql', 'BenchmarkBank2_Cockroach-8'),
      (3, 'sql', 'BenchmarkThroughput-8'),
      (4, 'sql/parser', 'BenchmarkParse-8')
    ) AS t(position, package, test_name)
"""


@query("serving_catalog_listing", oracle=_CATALOG_LISTING_ORACLE)
def serving_catalog_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference O3+O4 as a query: the index-page listing order over
    the demo tree, with the rank materialized as ``position`` so the
    priority orderings are hash-visible. The window that numbers rows
    is a single global sort over the (package, test) CATALOG — catalog-
    bounded (thousands of rows at any corpus size), never data-bounded."""
    listing = catalog_listing(_tree_fact(spark, "demo", _DEMO_TREE))
    w = W.orderBy("pkg_rank", "package", "test_rank", "test_name")
    return listing.select(
        F.row_number().over(w).cast("int").alias("position"),
        "package",
        "test_name",
    )


# ---------------------------------------------------------------------------
# Regression detection as a driver-checkable query. The reference's
# entire purpose (README.md:1) is letting a human spot day-over-day
# regressions on its charts; bench_regressions() engine-izes that
# judgement, and this query pins it with a golden oracle over a demo
# tree that CONTAINS a regression.
# ---------------------------------------------------------------------------
# One planted story per metric family (dead _REG_DATES constant from
# r13 dropped — the dict keys ARE the dates):
# BenchmarkSteady is flat (never flagged); BenchmarkCreep's ns/op
# worsens +30% then +10% (only the first step crosses the 20%
# threshold); BenchmarkRecover's ns/op improves then regresses +50%
# (flagged on day 3); BenchmarkAlloc holds ns/op and B/op flat while
# allocs/op jumps +50% on day 2 (an A-metric flag with no N movement);
# BenchmarkIO holds ns/op flat while MB/s DROPS 100 -> 70 on day 2
# (throughput regression: worsening is a decrease) then recovers to 75
# (an improvement, never flagged).
_REG_LINES = {
    "01-01-2016": [
        "BenchmarkSteady-8 \t 1000 \t 500000 ns/op",
        "BenchmarkCreep-8 \t 1000 \t 1000000 ns/op",
        "BenchmarkRecover-8 \t 1000 \t 800000 ns/op",
        "BenchmarkAlloc-8 \t 1000 \t 200000 ns/op \t 4096 B/op \t 100 allocs/op",
        "BenchmarkIO-8 \t 100 \t 300000 ns/op \t 100 MB/s",
    ],
    "02-01-2016": [
        "BenchmarkSteady-8 \t 1000 \t 505000 ns/op",
        "BenchmarkCreep-8 \t 1000 \t 1300000 ns/op",
        "BenchmarkRecover-8 \t 1000 \t 600000 ns/op",
        "BenchmarkAlloc-8 \t 1000 \t 200000 ns/op \t 4096 B/op \t 150 allocs/op",
        "BenchmarkIO-8 \t 100 \t 300000 ns/op \t 70 MB/s",
    ],
    "03-01-2016": [
        "BenchmarkSteady-8 \t 1000 \t 498000 ns/op",
        "BenchmarkCreep-8 \t 1000 \t 1430000 ns/op",
        "BenchmarkRecover-8 \t 1000 \t 900000 ns/op",
        "BenchmarkAlloc-8 \t 1000 \t 200000 ns/op \t 4096 B/op \t 150 allocs/op",
        "BenchmarkIO-8 \t 100 \t 300000 ns/op \t 75 MB/s",
    ],
}


_REG_TREE = {date: {"sql": lines} for date, lines in _REG_LINES.items()}


# Hand-applied semantics, all four metrics: pct_change is the
# sign-normalized worsening % (increase for N/A/B, decrease for M),
# flagged when > 20, zero-on-either-side skipped. Creep N day2: +30.0;
# Creep N day3 +10.0 and IO M day3 (70 -> 75, an improvement) not
# flagged; Recover N day3: 600000 -> 900000 = +50.0; Alloc A day2:
# 100 -> 150 = +50.0 (B flat at 4096, N flat: no other flag); IO M
# day2: 100 -> 70 = (100-70)*100/100 = +30.0. Steady never moves more
# than 1.4%; every absent metric is the Go zero-default and skipped.
_REGRESSIONS_ORACLE = """
    SELECT * FROM (VALUES
      ('sql', 'BenchmarkAlloc-8', 'A', DATE '2016-01-02',
         100.0, 150.0, 50.0),
      ('sql', 'BenchmarkCreep-8', 'N', DATE '2016-01-02',
         1000000.0, 1300000.0, 30.0),
      ('sql', 'BenchmarkIO-8', 'M', DATE '2016-01-02',
         100.0, 70.0, 30.0),
      ('sql', 'BenchmarkRecover-8', 'N', DATE '2016-01-03',
         600000.0, 900000.0, 50.0)
    ) AS t(package, test_name, metric, run_date, prev_value, value,
           pct_change)
"""


@query("bench_log_regressions", oracle=_REGRESSIONS_ORACLE)
def bench_log_regressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day regression detection across all four reference
    metrics (generate_benchmark_plot.js:74-79's N/A/B/M series) over a
    demo tree that plants one regression per shape a human reads off
    the reference's charts: an ns/op jump later masked by
    sub-threshold creep, an ns/op regression following an improvement,
    an allocs/op jump with ns/op flat, and an MB/s DROP with ns/op
    flat (worsening for a throughput is a decrease). Golden oracle =
    the flag semantics hand-applied.

    Scale: one window keyed (package, test_name), which reuses the fact
    table's hash partitioning on that key (see bench_regressions)."""
    fact = _tree_fact(spark, "regression", _REG_TREE)
    return bench_regressions(fact).orderBy("test_name", "metric", "run_date")


# Reference S9 through the driver gate: one test's chronological series
# fetched by equality predicates (the reference's per-test JSON fetch,
# generate_benchmark_plot.js:22-24 reading what S4 wrote). Golden
# oracle = the Scan1000 series hand-read from _DEMO_LINES.
_POINT_LOOKUP_ORACLE = """
    SELECT * FROM (VALUES
      (DATE '2015-01-01', CAST(2000000 AS BIGINT), CAST(10 AS BIGINT),
         CAST(1024 AS BIGINT), 12.5),
      (DATE '2015-01-02', CAST(2000000 AS BIGINT), CAST(10 AS BIGINT),
         CAST(1024 AS BIGINT), 12.5),
      (DATE '2015-12-15', CAST(2000000 AS BIGINT), CAST(10 AS BIGINT),
         CAST(1024 AS BIGINT), 12.5)
    ) AS t(run_date, ns_per_op, allocs_per_op, bytes_per_op, mb_per_s)
"""


@query("bench_log_point_lookup", oracle=_POINT_LOOKUP_ORACLE)
def bench_log_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference S9 as a query: one (package, test) series in
    chronological order, over the demo tree. The equality predicates
    reach the scan (partition pruning when the fact table is stored
    partitioned by package — asserted for the parquet path in
    test_plans.py); here they prune at the parse projection."""
    fact = _tree_fact(spark, "demo", _DEMO_TREE)
    return point_lookup(fact, "sql", "BenchmarkScan1000_Cockroach-16")


def bench_regressions_rolling(
    fact: DataFrame, threshold_pct: float = 20.0, lookback: int = 7
) -> DataFrame:
    """Regression detection against a ROLLING baseline: a run is
    flagged when it worsens by more than ``threshold_pct`` vs the
    average of its up-to-``lookback`` PRIOR runs of the same metric.
    This catches the shape day-over-day lag misses — slow creep whose
    every single step stays under the threshold but whose level has
    drifted away from the recent baseline (BenchmarkCreep day 3 in the
    demo tree: +10% vs yesterday, +24% vs the rolling average).

    Scale: one window keyed (package, test_name, metric); the fact
    table's hash partitioning on (package, test_name) already satisfies
    it, so it adds no shuffle. The rolling frame must not read across a
    metric boundary, so metric joins the PARTITION key here (unlike
    ``bench_regressions``, whose lag guard suffices); a (package, test,
    metric) series is a handful of rows, so the extra key costs nothing
    and removes any frame guard. Same sign normalization as ``bench_regressions`` (worsening
    for MB/s is a decrease). Zero (absent-metric) rows are filtered
    out BEFORE the window, so an intermittently-reported metric
    neither deflates the rolling average nor consumes lookback frame
    slots — the baseline averages the up-to-``lookback`` most recent
    REPORTED runs (ADVICE r14)."""
    w = (
        W.partitionBy("package", "test_name", "metric")
        .orderBy("run_date")
        .rowsBetween(-lookback, -1)
    )
    return (
        _metric_series(fact)
        .withColumn("baseline", F.avg("value").over(w))
        .filter(F.col("baseline") > 0)
        .withColumn("pct_change", _worsening_pct("baseline"))
        .filter(F.col("pct_change") > threshold_pct)
        .select(
            "package",
            "test_name",
            "metric",
            "run_date",
            F.round("baseline", 6).alias("baseline"),
            "value",
            "pct_change",
        )
    )


# Hand-applied rolling semantics over the same demo tree. Creep day 3
# is the differentiator: +10% vs yesterday (lag says healthy) but
# +24.35% vs avg(1000000, 1300000) = 1150000. Recover day 3: 900000 vs
# avg(800000, 600000) = 700000 -> +28.57. Alloc day 3: 150 vs
# avg(100, 150) = 125 -> exactly +20.0, NOT > threshold. IO day 3:
# 75 MB/s vs avg(100, 70) = 85 -> worsening +11.76, healthy.
_REGRESSIONS_ROLLING_ORACLE = """
    SELECT * FROM (VALUES
      ('sql', 'BenchmarkAlloc-8', 'A', DATE '2016-01-02',
         100.0, 150.0, 50.0),
      ('sql', 'BenchmarkCreep-8', 'N', DATE '2016-01-02',
         1000000.0, 1300000.0, 30.0),
      ('sql', 'BenchmarkCreep-8', 'N', DATE '2016-01-03',
         1150000.0, 1430000.0, 24.35),
      ('sql', 'BenchmarkIO-8', 'M', DATE '2016-01-02',
         100.0, 70.0, 30.0),
      ('sql', 'BenchmarkRecover-8', 'N', DATE '2016-01-03',
         700000.0, 900000.0, 28.57)
    ) AS t(package, test_name, metric, run_date, baseline, value,
           pct_change)
"""


@query("bench_log_regressions_rolling", oracle=_REGRESSIONS_ROLLING_ORACLE)
def bench_log_regressions_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-baseline regression detection over the same planted demo
    tree as ``bench_log_regressions`` — the golden oracle pins that the
    rolling baseline flags the creep-drift day the day-over-day lag
    variant correctly ignores, and stays quiet on the exact-threshold
    (+20.0) and improving rows."""
    fact = _tree_fact(spark, "regression", _REG_TREE)
    return bench_regressions_rolling(fact).orderBy(
        "test_name", "metric", "run_date"
    )


# ---------------------------------------------------------------------------
# Reference J1 on reference-shaped data through the driver gate: the
# compare-two-tests alignment plot.html drives, over a planted tree
# where each side owns one date the other lacks — the golden oracle
# pins the null-padding semantics generate_benchmark_plot.js:129-180
# implements imperatively (probe by date, fill the new column, append
# a null-padded row when the date is new) and :143 states as the
# invariant ("a chart only has one row per date").
# ---------------------------------------------------------------------------
_COMPARE_LINES = {
    # BenchmarkOld reports on days 1-2, BenchmarkNew on days 2-3: day 1
    # exists only on the left, day 3 only on the right, day 2 on both.
    "01-01-2017": ["BenchmarkOld-8 \t 1000 \t 1000 ns/op"],
    "02-01-2017": [
        "BenchmarkOld-8 \t 1000 \t 1100 ns/op",
        "BenchmarkNew-8 \t 1000 \t 500 ns/op",
    ],
    "03-01-2017": ["BenchmarkNew-8 \t 1000 \t 550 ns/op"],
}


_COMPARE_TREE = {date: {"sql": lines} for date, lines in _COMPARE_LINES.items()}


# Hand-applied full-outer alignment of the two ns/op series: exactly
# one row per date, null where a side has no observation.
_COMPARE_SERIES_ORACLE = """
    SELECT * FROM (VALUES
      (DATE '2017-01-01', CAST(1000 AS BIGINT), CAST(NULL AS BIGINT)),
      (DATE '2017-01-02', CAST(1100 AS BIGINT), CAST(500 AS BIGINT)),
      (DATE '2017-01-03', CAST(NULL AS BIGINT), CAST(550 AS BIGINT))
    ) AS t(run_date, ns_per_op_a, ns_per_op_b)
"""


@query("bench_log_compare_series", oracle=_COMPARE_SERIES_ORACLE)
def bench_log_compare_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compare-two-tests over the planted compare tree: the ns/op
    series of BenchmarkOld-8 and BenchmarkNew-8 full-outer aligned on
    run_date (``align_series``, the engine form of the reference's
    chart-table merge). The golden oracle pins the one-row-per-date
    invariant AND the null padding on the dates each side lacks —
    the exact semantics generate_benchmark_plot.js:129-180 builds
    row-by-row in the browser.

    Scale: two filtered passes over the same fact scan, each gathered
    into one run_date-sorted partition by point_lookup, then merged
    full-outer on the date key with no shuffle of its own: each side
    holds one row per date, so the merge is calendar-sized, never
    corpus-sized. Over a cached fact the whole compare is one job."""
    from benchviz_spark.operators.compare import align_series

    fact = _tree_fact(spark, "compare", _COMPARE_TREE)
    left = point_lookup(fact, "sql", "BenchmarkOld-8").select(
        "run_date", "ns_per_op"
    )
    right = point_lookup(fact, "sql", "BenchmarkNew-8").select(
        "run_date", "ns_per_op"
    )
    return align_series(left, right, on="run_date").orderBy("run_date")


# ---------------------------------------------------------------------------
# Reference F10 closed as a query: the index page's test-list HTML,
# rendered engine-side EXACTLY as generate_benchmark_list.js:21-61
# builds it in the browser — including the prioritizeImportantTests
# quirk (js:28-37): 32 unconditional unshift() calls prepend every
# Benchmark{Scan,Delete,Update,Insert}{1,10,100,1000}{_Cockroach-16,
# Multinode_Cockroach-16} name to the sql section whether or not the
# test exists, so the rendered page carries phantom links for absent
# tests and a DUPLICATE link for each present one (the sorted original
# stays in place). unshift prepends, so the final order is the REVERSE
# of the call order. serving_catalog_listing remains the engine's
# designed ordering (sort keys, no phantoms); this query is the
# browser-faithful rendering, quirks hash-pinned.
# ---------------------------------------------------------------------------
_LIST_UNSHIFT_ORDER = tuple(reversed(PRIORITY_TESTS))


def _anchor_html(directory: str, test: str) -> str:
    """The exact per-test markup of generate_benchmark_list.js:26."""
    return (
        f'<a class="testName" href="/plot.html?directory={directory}'
        f'&test={test}">{test}</a>'
    )


def _section_html(directory: str, tests: list[str]) -> str:
    """One populateList section (js:55-58): dir + '<br/>' + anchors
    joined by '<br/>' + '<br/>'."""
    joined = "<br/>".join(_anchor_html(directory, t) for t in tests)
    return f"{directory}<br/>{joined}<br/>"


# Golden oracle: the JS hand-applied to the demo tree. The sql section
# carries the 32 unshifted names first (Scan1000_Cockroach-16 therefore
# appears TWICE: once prepended, once in sorted position), then the
# sorted real tests; sql/parser has no priority treatment.
_INDEX_HTML_ORACLE = f"""
    SELECT * FROM (VALUES
      (1, 'sql', '{_section_html("sql", list(_LIST_UNSHIFT_ORDER) + [
          "BenchmarkBank2_Cockroach-8",
          "BenchmarkScan1000_Cockroach-16",
          "BenchmarkThroughput-8",
      ])}'),
      (2, 'sql/parser', '{_section_html("sql/parser", ["BenchmarkParse-8"])}')
    ) AS t(position, package, html)
"""


def index_html_sections(fact: DataFrame) -> DataFrame:
    """(position, package, html): the index page's per-directory HTML
    sections in page order — sql, sql/parser, then remaining packages
    in test_names.json key order (Go json.Marshal sorts map keys, so
    lexicographic). The priority dirs render even when absent from the
    catalog (js: _.values(undefined) -> [] and the unshifts still run),
    so they are seeded unconditionally.

    Scale: one catalog-bounded aggregation (collect_list of a package's
    test names — thousands of rows at any corpus size) plus a global
    row_number over the PACKAGE list (hundreds), the same
    catalog-bounded-window argument as serving_catalog_listing."""
    spark = fact.sparkSession
    cat = fact.select("package", "test_name").distinct()
    grouped = cat.groupBy("package").agg(
        F.sort_array(F.collect_list("test_name")).alias("names")
    )
    seed = spark.createDataFrame(
        [("sql",), ("sql/parser",)], "package string"
    )
    seeded = (
        seed.join(grouped, "package", "left_outer")
        .withColumn(
            "names", F.coalesce(F.col("names"), F.array().cast("array<string>"))
        )
        .unionByName(grouped.filter(~F.col("package").isin("sql", "sql/parser")))
    )
    important = F.array(*[F.lit(n) for n in _LIST_UNSHIFT_ORDER])
    names = F.when(
        F.col("package") == "sql", F.concat(important, F.col("names"))
    ).otherwise(F.col("names"))
    anchor = lambda t: F.concat(  # noqa: E731 — js:26 verbatim
        F.lit('<a class="testName" href="/plot.html?directory='),
        F.col("package"),
        F.lit("&test="),
        t,
        F.lit('">'),
        t,
        F.lit("</a>"),
    )
    html = F.concat(
        F.col("package"),
        F.lit("<br/>"),
        F.array_join(F.transform(names, anchor), "<br/>"),
        F.lit("<br/>"),
    )
    w = W.orderBy(package_sort_key(F.col("package")), F.col("package"))
    return seeded.select(
        F.row_number().over(w).alias("position"),
        "package",
        html.alias("html"),
    )


@query("serving_index_html", oracle=_INDEX_HTML_ORACLE)
def serving_index_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F10 as a query: the index page's per-directory HTML
    over the demo tree, golden oracle = generate_benchmark_list.js
    hand-applied (32 phantom/duplicate priority links and all)."""
    fact = _tree_fact(spark, "demo", _DEMO_TREE)
    return index_html_sections(fact).orderBy("position")
