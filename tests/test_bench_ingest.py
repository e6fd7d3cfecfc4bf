"""Parser + ingest edge cases from FIXTURES.md §1 (derived from the
reference's observable semantics, file_generator.go:72-175 and its own
test fixtures, file_generator_test.go:35-65)."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from benchviz_spark.operators.compare import align_series
from benchviz_spark.pipeline import catalog_listing, point_lookup, run_pipeline
from benchviz_spark.serving.json_sink import (
    catalog_json,
    per_test_json,
    write_serving_tree,
)
from benchviz_spark.sources.bench_logs import build_fact_table, read_bench_lines

CANONICAL_LINE = (
    "BenchmarkBank2_Cockroach-8 \t 1000 \t 1328086 ns/op \t 183965 B/op \t 2317 allocs/op"
)

EDGE_LINES = [
    "BenchmarkScan1000_Cockroach-16 \t 500 \t 2000000 ns/op \t 12.50 MB/s \t 1024 B/op \t 10 allocs/op",
    "BenchmarkFoo-8 \t 100 \t 999 ns/op",
    "--- FAIL: BenchmarkBar",
    "BenchmarkBar-8 \t FAIL",
    "ok  \t pkg \t 1.2s",
    "PASS",
    "",
    "BenchmarkX",
    "BenchmarkThroughput-8 \t 100 \t 5 MB/s",
    "BenchmarkFifty-8 \t 100 \t 55 MB/s",
]


def _write(root: str, date: str, pkg: str, fname: str, lines: list[str]) -> None:
    d = os.path.join(root, date, "cockroach", pkg)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, fname), "w") as f:
        f.write("\n".join(lines) + "\n")


@pytest.fixture(scope="module")
def sample_tree(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("benchSamples"))
    _write(root, "01-01-2015", "sql", "sql.test.stdout", [CANONICAL_LINE])
    _write(root, "01-01-2015", "sql", "edge.test.stdout", EDGE_LINES)
    _write(root, "02-01-2015", "sql/parser", "parser.test.stdout",
           ["BenchmarkParse-8 \t 2000 \t 52341 ns/op"])
    # LWW: same test twice across two files on one date — later file wins
    _write(root, "15-12-2015", "kv", "a.test.stdout",
           ["BenchmarkDup-8 \t 1 \t 111 ns/op"])
    _write(root, "15-12-2015", "kv", "b.test.stdout",
           ["BenchmarkDup-8 \t 1 \t 222 ns/op"])
    # LWW within one file — later line wins
    _write(root, "15-12-2015", "sql", "dup.test.stdout",
           ["BenchmarkSame-8 \t 1 \t 1 ns/op", "BenchmarkSame-8 \t 1 \t 2 ns/op"])
    # unanchored date-dir quirk: x01-01-2016y is a valid date dir
    _write(root, "x01-01-2016y", "sql", "q.test.stdout",
           ["BenchmarkQuirk-8 \t 1 \t 7 ns/op"])
    # invalid date dir: skipped entirely
    _write(root, "notadate", "sql", "n.test.stdout",
           ["BenchmarkNever-8 \t 1 \t 9 ns/op"])
    # unanchored filename quirk: 'mytest.stdoutx' contains test.stdout
    _write(root, "01-01-2015", "kv", "mytest.stdoutx",
           ["BenchmarkLoose-8 \t 1 \t 3 ns/op"])
    # non-matching filename: skipped
    _write(root, "01-01-2015", "kv", "readme.txt",
           ["BenchmarkNope-8 \t 1 \t 4 ns/op"])
    return root


@pytest.fixture(scope="module")
def fact(spark, sample_tree):
    df = build_fact_table(spark, sample_tree)
    df.cache()
    df.count()
    return df


def _row(fact, test_name):
    rows = fact.filter(F.col("test_name") == test_name).collect()
    assert len(rows) == 1, f"{test_name}: expected 1 row, got {rows}"
    return rows[0]


def test_canonical_line(fact):
    # the reference's own golden fixture (file_generator_test.go:49-65)
    r = _row(fact, "BenchmarkBank2_Cockroach-8")
    assert r.ns_per_op == 1328086
    assert r.bytes_per_op == 183965
    assert r.allocs_per_op == 2317
    assert r.mb_per_s == 0.0  # absent metric -> 0, not null
    assert str(r.run_date) == "2015-01-01"
    assert r.package == "sql"


def test_all_metrics_present(fact):
    r = _row(fact, "BenchmarkScan1000_Cockroach-16")
    assert (r.ns_per_op, r.mb_per_s, r.bytes_per_op, r.allocs_per_op) == (
        2000000, 12.5, 1024, 10,
    )


def test_partial_metrics_default_zero(fact):
    r = _row(fact, "BenchmarkFoo-8")
    assert (r.ns_per_op, r.allocs_per_op, r.bytes_per_op, r.mb_per_s) == (999, 0, 0, 0.0)


def test_fail_lines_dropped(fact):
    assert fact.filter(F.col("test_name").rlike("Bar")).count() == 0


def test_non_benchmark_lines_dropped(fact):
    assert fact.filter(F.col("test_name").isin("PASS", "ok", "")).count() == 0


def test_bare_name_kept(fact):
    r = _row(fact, "BenchmarkX")
    assert (r.ns_per_op, r.allocs_per_op, r.bytes_per_op, r.mb_per_s) == (0, 0, 0, 0.0)


def test_mbps_two_digit_quirk(fact):
    # '5 MB/s' must NOT match (regex wants >=2 digit chars); '55' must.
    assert _row(fact, "BenchmarkThroughput-8").mb_per_s == 0.0
    assert _row(fact, "BenchmarkFifty-8").mb_per_s == 55.0


def test_lww_across_files(fact):
    assert _row(fact, "BenchmarkDup-8").ns_per_op == 222


def test_lww_within_file(fact):
    assert _row(fact, "BenchmarkSame-8").ns_per_op == 2


def test_unanchored_date_dir_kept(fact):
    assert _row(fact, "BenchmarkQuirk-8").ns_per_op == 7


def test_invalid_date_dir_skipped(fact):
    assert fact.filter(F.col("test_name") == "BenchmarkNever-8").count() == 0


def test_unanchored_filename_kept(fact):
    assert _row(fact, "BenchmarkLoose-8").ns_per_op == 3


def test_nonmatching_filename_skipped(fact):
    assert fact.filter(F.col("test_name") == "BenchmarkNope-8").count() == 0


def test_nested_package_path(fact):
    r = _row(fact, "BenchmarkParse-8")
    assert r.package == "sql/parser"


def test_each_file_line_read_exactly_once(spark, sample_tree):
    """Regression for the round-1 double-read: the old two-glob union
    scanned depth-1 package files twice. Every (source_file, line_pos)
    must appear exactly once in the raw line stream."""
    lines = read_bench_lines(spark, sample_tree)
    dupes = (
        lines.groupBy("source_file", "line_pos")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


def test_wholetext_line_positions(spark, sample_tree):
    """wholetext must actually take effect: a multi-line file yields
    distinct line positions (round-1 bug: .option('wholetext') was
    ignored, so every row had line_pos=0 and LWW was nondeterministic)."""
    lines = read_bench_lines(spark, sample_tree)
    multi = lines.filter(
        F.col("source_file").endswith("dup.test.stdout")
        & F.col("line").startswith("Benchmark")
    )
    positions = sorted(r.line_pos for r in multi.collect())
    assert positions == [0, 1]


def test_package_whitelist(spark, sample_tree):
    """F4 (main.go:23-25): only whitelisted package dirs are ingested."""
    only_sql = build_fact_table(spark, sample_tree, packages=("sql",))
    assert only_sql.filter(F.col("package") != "sql").count() == 0
    everything = build_fact_table(spark, sample_tree, packages=None)
    assert everything.filter(F.col("package") == "sql/parser").count() > 0


# --- serving layer ---------------------------------------------------------


def test_per_test_json_matches_go_marshal(spark):
    """Reference golden test (file_generator_test.go:75-93): the emitted
    document must byte-equal Go's json.Marshal of
    {"01-01-2015": {N:1, A:2, B:3, M:4.0}} — sorted keys, 4.0 -> 4."""
    fact = spark.createDataFrame(
        [("2015-01-01", "01-01-2015", "sql", "BenchmarkSqlSampleTest", 1, 2, 3, 4.0, "f")],
        "run_date string, date_dir string, package string, test_name string,"
        " ns_per_op long, allocs_per_op long, bytes_per_op long, mb_per_s double,"
        " source_file string",
    ).withColumn("run_date", F.to_date("run_date"))
    doc = per_test_json(fact).collect()[0]["json"]
    assert doc == '{"01-01-2015":{"N":1,"A":2,"B":3,"M":4}}'
    assert json.loads(doc) == {"01-01-2015": {"N": 1, "A": 2, "B": 3, "M": 4}}


def test_per_test_json_fractional_and_sorted(spark):
    fact = spark.createDataFrame(
        [
            ("2016-01-02", "02-01-2016", "sql", "T", 10, 0, 0, 12.5, "f"),
            ("2015-12-15", "15-12-2015", "sql", "T", 20, 0, 0, 0.0, "f"),
        ],
        "run_date string, date_dir string, package string, test_name string,"
        " ns_per_op long, allocs_per_op long, bytes_per_op long, mb_per_s double,"
        " source_file string",
    ).withColumn("run_date", F.to_date("run_date"))
    doc = per_test_json(fact).collect()[0]["json"]
    # lexical key order (Go map marshal): 02-01-2016 < 15-12-2015
    assert doc == (
        '{"02-01-2016":{"N":10,"A":0,"B":0,"M":12.5},'
        '"15-12-2015":{"N":20,"A":0,"B":0,"M":0}}'
    )


def test_json_number_no_scientific_notation(spark):
    """Go json.Marshal never emits '1.0E7'; neither may we."""
    fact = spark.createDataFrame(
        [("2015-01-01", "01-01-2015", "sql", "T", 1, 0, 0, 10000000.5, "f")],
        "run_date string, date_dir string, package string, test_name string,"
        " ns_per_op long, allocs_per_op long, bytes_per_op long, mb_per_s double,"
        " source_file string",
    ).withColumn("run_date", F.to_date("run_date"))
    doc = per_test_json(fact).collect()[0]["json"]
    assert '"M":10000000.5}' in doc, doc


def test_json_keyed_by_raw_date_dir(spark, sample_tree):
    """The reference keys serving JSON by the raw dir name
    (file_generator.go:167): x01-01-2016y stays x01-01-2016y."""
    fact = build_fact_table(spark, sample_tree)
    quirk = per_test_json(fact.filter(F.col("test_name") == "BenchmarkQuirk-8"))
    doc = quirk.collect()[0]["json"]
    assert doc.startswith('{"x01-01-2016y":')


def test_pipeline_end_to_end(spark, sample_tree, tmp_path):
    out = str(tmp_path / "deploy")
    fact = run_pipeline(spark, sample_tree, out)
    assert os.path.exists(os.path.join(out, "sql", "BenchmarkBank2_Cockroach-8.json"))
    with open(os.path.join(out, "test_names.json")) as f:
        catalog = json.load(f)
    assert "BenchmarkParse-8" in catalog["sql/parser"]
    assert sorted(catalog["sql"]) == catalog["sql"]
    series = point_lookup(fact, "sql", "BenchmarkBank2_Cockroach-8").collect()
    assert len(series) == 1 and series[0].ns_per_op == 1328086


def _snapshot(root: str) -> dict:
    """{relative path: bytes} of every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for fname in files:
            p = os.path.join(dirpath, fname)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _all_filtered_tree(root: str) -> str:
    """A tree every ingest filter empties: a non-whitelisted package, a
    non-matching file name, a file directly under cockroach/, a file of
    FAIL lines only, and a whitelisted file under a non-date dir."""
    _write(root, "01-01-2015", "notlisted", "x.test.stdout", [CANONICAL_LINE])
    _write(root, "01-01-2015", "sql", "readme.txt", [CANONICAL_LINE])
    _write(root, "01-01-2015", "", "top.test.stdout", [CANONICAL_LINE])
    _write(root, "01-01-2015", "kv", "fail.test.stdout",
           ["--- FAIL: BenchmarkBar", "BenchmarkBar-8 \t FAIL"])
    _write(root, "notadate", "sql", "sql.test.stdout", [CANONICAL_LINE])
    return root


def _one_row_tree(root: str) -> str:
    _write(root, "01-01-2015", "sql", "sql.test.stdout", [CANONICAL_LINE])
    return root


def test_serving_tree_is_partition_and_aqe_invariant(spark, sample_tree, tmp_path):
    """run_pipeline writes the same bytes (every per-test document and
    test_names.json) under 1, 7 and 32 shuffle partitions, with AQE on
    and off, for the edge-case tree, a tree every filter empties
    (catalog ``{}``, no documents) and a one-row tree."""
    trees = {
        "sample": sample_tree,
        "all_filtered": _all_filtered_tree(str(tmp_path / "all_filtered")),
        "one_row": _one_row_tree(str(tmp_path / "one_row")),
    }
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = [spark.conf.get(k) for k in keys]
    snaps: dict = {}
    try:
        for partitions in ("1", "7", "32"):
            for aqe in ("true", "false"):
                spark.conf.set(keys[0], partitions)
                spark.conf.set(keys[1], aqe)
                for name, root in trees.items():
                    out = str(tmp_path / f"out_{name}_{partitions}_{aqe}")
                    run_pipeline(spark, root, out).unpersist()
                    snaps.setdefault(name, []).append(((partitions, aqe), _snapshot(out)))
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)
    for name, runs in snaps.items():
        first = runs[0][1]
        for conf, snap in runs[1:]:
            assert snap == first, (name, conf)
    assert snaps["all_filtered"][0][1] == {"test_names.json": b"{}"}
    one_row = snaps["one_row"][0][1]
    assert one_row == {
        "test_names.json": b'{"sql":["BenchmarkBank2_Cockroach-8"]}',
        "sql/BenchmarkBank2_Cockroach-8.json":
            b'{"01-01-2015":{"N":1328086,"A":2317,"B":183965,"M":0}}',
    }
    sample = snaps["sample"][0][1]
    assert json.loads(sample["test_names.json"])["kv"] == [
        "BenchmarkDup-8", "BenchmarkLoose-8"
    ]
    assert sample["kv/BenchmarkDup-8.json"] == (
        b'{"15-12-2015":{"N":222,"A":0,"B":0,"M":0}}'
    )


def _py4j_commands(monkeypatch, fn):
    """(fn(), py4j commands the driver sent while it ran). py4j's
    object-release messages are not counted: they follow Python garbage
    collection, not the work ``fn`` does."""
    from py4j.clientserver import ClientServerConnection

    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent[0] += 1
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        result = fn()
    return result, sent[0]


def test_plan_construction_py4j_round_trips_are_bounded(spark, sample_tree, monkeypatch):
    """Building the fact table's plan and the per-test JSON plan costs a
    bounded number of py4j round trips. The projections are SQL text,
    parsed in the JVM in one call each; built from ``F.*`` Columns they
    cost ~3 round trips per function call (389 for ``build_fact_table``
    and 702 for ``per_test_json`` before). Nothing runs a job here."""
    build_fact_table(spark, sample_tree)  # first-use JVM lookups
    fact, n_build = _py4j_commands(
        monkeypatch, lambda: build_fact_table(spark, sample_tree)
    )
    _, n_json = _py4j_commands(monkeypatch, lambda: per_test_json(fact))
    assert n_build <= 97, n_build
    assert n_json <= 105, n_json


def test_per_test_json_compiles_without_codegen_fallback(spark, fact):
    """With codegen fallback off, a whole-stage method over janino's
    64 KB limit raises instead of silently running interpreted: the
    staged M rendering must compile, and render the same documents."""
    key = "spark.sql.codegen.fallback"
    expected = sorted(map(tuple, per_test_json(fact).collect()))
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = sorted(map(tuple, per_test_json(fact).collect()))
    finally:
        spark.conf.set(key, saved)
    assert got == expected
    assert ("sql", "BenchmarkScan1000_Cockroach-16",
            '{"01-01-2015":{"N":2000000,"A":10,"B":1024,"M":12.5}}') in got


def _collect_counting_jobs(spark, group: str, df) -> tuple[list, int]:
    """``df``'s rows and the number of Spark jobs collecting them ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_point_lookup_over_pipeline_fact_is_one_job(spark, sample_tree, tmp_path):
    """Over run_pipeline's cached fact table a lookup needs no
    range-sampling job and no shuffle: exactly one Spark job, also for
    a key that is not there."""
    fact = run_pipeline(spark, sample_tree, str(tmp_path / "deploy"))
    rows, jobs = _collect_counting_jobs(
        spark, "test_point_lookup_one_job",
        point_lookup(fact, "sql", "BenchmarkBank2_Cockroach-8"),
    )
    assert len(rows) == 1
    assert jobs == 1
    rows, jobs = _collect_counting_jobs(
        spark, "test_point_lookup_missing_key_one_job",
        point_lookup(fact, "sql", "BenchmarkAbsent-8"),
    )
    assert rows == []
    assert jobs == 1


def test_compare_over_pipeline_fact_is_one_job(spark, sample_tree, tmp_path):
    """Two gathered lookups already meet the sort-merge join's
    distribution and ordering, so a compare over run_pipeline's cached
    fact shuffles nothing: exactly one Spark job."""
    fact = run_pipeline(spark, sample_tree, str(tmp_path / "deploy"))
    rows, jobs = _collect_counting_jobs(
        spark, "test_compare_one_job",
        align_series(
            point_lookup(fact, "sql", "BenchmarkBank2_Cockroach-8"),
            point_lookup(fact, "sql", "BenchmarkSame-8"),
            on="run_date",
        ),
    )
    # the two series share no date, so each row is null-padded on one side
    assert sorted((r.run_date, r.ns_per_op_a, r.ns_per_op_b) for r in rows) == [
        (datetime.date(2015, 1, 1), 1328086, None),
        (datetime.date(2015, 12, 15), None, 2),
    ]
    assert jobs == 1


@pytest.fixture(scope="module")
def series_tree(tmp_path_factory):
    """Several multi-date series over three packages. The date dirs'
    names sort differently from their dates (02-01-2016 < 15-12-2015 <
    31-01-2015 as strings), so only a date-aware order passes."""
    root = str(tmp_path_factory.mktemp("seriesSamples"))
    dates = ("31-01-2015", "15-12-2015", "02-01-2016", "10-06-2016")
    for day, date in enumerate(dates):
        for pkg in ("kv", "sql", "storage"):
            _write(root, date, pkg, "s.test.stdout", [
                f"BenchmarkSeries{i}-8 \t 10 \t {100 * i + day} ns/op"
                for i in range(4)
            ])
    return root


def test_point_lookup_rows_in_run_date_order(spark, series_tree):
    """point_lookup returns its series in run_date order, both over the
    clustered cached fact table and over an unclustered input (a
    createDataFrame copy of the same rows, reversed, in 3 partitions)."""
    expected = [
        datetime.date(2015, 1, 31),
        datetime.date(2015, 12, 15),
        datetime.date(2016, 1, 2),
        datetime.date(2016, 6, 10),
    ]
    clustered = build_fact_table(spark, series_tree).cache()
    try:
        rows = clustered.collect()
        unclustered = spark.createDataFrame(rows[::-1], clustered.schema).repartition(3)
        for fact in (clustered, unclustered):
            for pkg in ("kv", "storage"):
                for i in (0, 3):
                    series = point_lookup(fact, pkg, f"BenchmarkSeries{i}-8").collect()
                    assert [r.run_date for r in series] == expected
                    assert [r.ns_per_op for r in series] == [100 * i + d for d in range(4)]
    finally:
        clustered.unpersist()


def test_lookups_and_compares_are_partition_and_aqe_invariant(spark):
    """Every request shape returns the same rows under 1, 7 and 32 shuffle
    partitions, with AQE on and off, over a freshly built fact and over
    its cached copy: a lookup, a missing key, a compare of partly
    overlapping series, a compare against an absent key (the other side
    null-padded) and a compare of a key with itself."""
    from benchviz_spark.pipeline import _COMPARE_TREE, _tree_fact

    d1, d2, d3 = (datetime.date(2017, 1, day) for day in (1, 2, 3))
    old = [(d1, 1000), (d2, 1100)]
    expected = {
        "lookup": old,
        "missing": [],
        "compare": [(d1, 1000, None), (d2, 1100, 500), (d3, None, 550)],
        "absent": [(d, n, None) for d, n in old],
        "self": [(d, n, n) for d, n in old],
    }

    def requests(fact) -> dict:
        lookup = [(r.run_date, r.ns_per_op)
                  for r in point_lookup(fact, "sql", "BenchmarkOld-8").collect()]
        pairs = {"compare": "BenchmarkNew-8", "absent": "BenchmarkAbsent-8",
                 "self": "BenchmarkOld-8"}
        out = {"lookup": lookup,
               "missing": point_lookup(fact, "sql", "BenchmarkAbsent-8").collect()}
        for name, right in pairs.items():
            rows = sorted(align_series(
                point_lookup(fact, "sql", "BenchmarkOld-8"),
                point_lookup(fact, "sql", right), on="run_date",
            ).collect(), key=lambda r: r.run_date)
            # every column of a side is null together, never one alone
            for r in rows:
                for side in ("_a", "_b"):
                    vals = [v for k, v in r.asDict().items() if k.endswith(side)]
                    assert len(set(v is None for v in vals)) == 1, (name, r)
            out[name] = [(r.run_date, r.ns_per_op_a, r.ns_per_op_b) for r in rows]
        return out

    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = [spark.conf.get(k) for k in keys]
    try:
        for partitions in ("1", "7", "32"):
            for aqe in ("true", "false"):
                spark.conf.set(keys[0], partitions)
                spark.conf.set(keys[1], aqe)
                fact = _tree_fact(spark, "compare", _COMPARE_TREE)
                got = requests(fact)
                assert got == expected, (partitions, aqe, "uncached", got)
                fact.cache().count()
                try:
                    got = requests(fact)
                    assert got == expected, (partitions, aqe, "cached", got)
                finally:
                    fact.unpersist()
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)


def _align_by_renaming_selects(left, right, on: str, lsuffix="_a", rsuffix="_b"):
    """The earlier align_series: rename each side, then the USING join."""
    lren = left.select(on, *[F.col(c).alias(c + lsuffix) for c in left.columns if c != on])
    rren = right.select(on, *[F.col(c).alias(c + rsuffix) for c in right.columns if c != on])
    return lren.join(rren, on=on, how="full_outer")


def test_align_series_contract(spark):
    """Output columns are the key, then the left's other columns suffixed
    in input order, then the right's, for a left whose key is not first
    and a right of another width; dates on one side only are null-padded
    on the other, and the result equals the rename-then-join form."""
    d1, d2, d3 = (datetime.date(2020, 1, day) for day in (1, 2, 3))
    left = spark.createDataFrame(
        [(1, d1, "x1"), (2, d2, "x2")], "n long, run_date date, tag string"
    )
    right = spark.createDataFrame(
        [(d2, 0.5, 20, "y2"), (d3, 0.75, 30, "y3")],
        "run_date date, ratio double, n long, tag string",
    )
    got = align_series(left, right, on="run_date", lsuffix="_l", rsuffix="_r")
    ref = _align_by_renaming_selects(left, right, "run_date", "_l", "_r")
    assert got.columns == ["run_date", "n_l", "tag_l", "ratio_r", "n_r", "tag_r"]
    assert got.schema == ref.schema
    rows = sorted(map(tuple, got.collect()), key=lambda r: r[0])
    assert rows == [
        (d1, 1, "x1", None, None, None),
        (d2, 2, "x2", 0.5, 20, "y2"),
        (d3, None, None, 0.75, 30, "y3"),
    ]
    assert rows == sorted(map(tuple, ref.collect()), key=lambda r: r[0])


def test_catalog_listing_priority_order(spark):
    fact = spark.createDataFrame(
        [
            ("sql", "BenchmarkAAA"),
            ("sql", "BenchmarkScan1000_Cockroach-16"),
            ("sql/parser", "BenchmarkParse"),
            ("kv", "BenchmarkKV"),
        ],
        "package string, test_name string",
    )
    rows = catalog_listing(fact).collect()
    # packages: sql, sql/parser, rest; within sql: priority test first
    assert [r.package for r in rows] == ["sql", "sql", "sql/parser", "kv"]
    assert rows[0].test_name == "BenchmarkScan1000_Cockroach-16"


# ---------------------------------------------------------------------------
# bench_regressions: the engine-ized "spot the regression" judgement.
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def regression_tree(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("regressionSamples"))
    # BenchmarkHot: 100 -> 150 ns/op (+50%, regression) -> 153 (+2%, noise)
    _write(root, "01-01-2015", "sql", "a.test.stdout",
           ["BenchmarkHot-8 \t 10 \t 100 ns/op"])
    _write(root, "02-01-2015", "sql", "a.test.stdout",
           ["BenchmarkHot-8 \t 10 \t 150 ns/op"])
    _write(root, "03-01-2015", "sql", "a.test.stdout",
           ["BenchmarkHot-8 \t 10 \t 153 ns/op"])
    # BenchmarkZero: previous run has no ns/op (Go zero-default 0) —
    # must be skipped, not divided by.
    _write(root, "01-01-2015", "sql", "z.test.stdout",
           ["BenchmarkZero-8 \t 10 \t 5 MB/s"])
    _write(root, "02-01-2015", "sql", "z.test.stdout",
           ["BenchmarkZero-8 \t 10 \t 999 ns/op"])
    return root


def test_bench_regressions_flags_only_real_jumps(spark, regression_tree):
    from benchviz_spark.pipeline import bench_regressions

    fact = build_fact_table(spark, regression_tree)
    rows = bench_regressions(fact, threshold_pct=20.0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.test_name == "BenchmarkHot-8"
    assert r.metric == "N"
    assert r.prev_value == 100.0 and r.value == 150.0
    assert r.pct_change == 50.0
    assert r.run_date.isoformat() == "2015-01-02"


def test_bench_regressions_covers_all_four_metrics(spark, tmp_path):
    """VERDICT r13 #6: A/B/M series are watched too, and MB/s flags on
    a DECREASE (throughput) while a same-size increase passes."""
    from benchviz_spark.pipeline import bench_regressions

    root = str(tmp_path / "allMetrics")
    _write(root, "01-01-2015", "sql", "m.test.stdout",
           ["BenchmarkM-8 \t 10 \t 100 ns/op \t 1000 B/op \t 10 allocs/op \t 50 MB/s"])
    _write(root, "02-01-2015", "sql", "m.test.stdout",
           # B/op +100% (flag B), allocs flat, ns flat, MB/s +100%
           # (throughput IMPROVED -> no M flag)
           ["BenchmarkM-8 \t 10 \t 100 ns/op \t 2000 B/op \t 10 allocs/op \t 100 MB/s"])
    _write(root, "03-01-2015", "sql", "m.test.stdout",
           # MB/s halves -> M worsening +50% (flag M); others flat
           ["BenchmarkM-8 \t 10 \t 100 ns/op \t 2000 B/op \t 10 allocs/op \t 50 MB/s"])
    fact = build_fact_table(spark, root)
    rows = bench_regressions(fact, threshold_pct=20.0).orderBy("run_date").collect()
    assert [(r.metric, r.run_date.isoformat(), r.pct_change) for r in rows] == [
        ("B", "2015-01-02", 100.0),
        ("M", "2015-01-03", 50.0),
    ]


def test_bench_regressions_span_metric_gaps(spark, tmp_path):
    """ADVICE r14: an intermittently-reported metric (allocs/op only on
    -benchmem days) must neither swallow the gap-spanning comparison in
    the lag variant nor deflate the rolling baseline. allocs: 100,
    absent, 150 — lag flags +50% across the gap; rolling baselines the
    day-3 run against avg(100) = 100, not avg(100, 0, ...) = 50."""
    from benchviz_spark.pipeline import bench_regressions, bench_regressions_rolling

    root = str(tmp_path / "gapMetrics")
    _write(root, "01-01-2015", "sql", "g.test.stdout",
           ["BenchmarkGap-8 \t 10 \t 100 ns/op \t 100 allocs/op"])
    _write(root, "02-01-2015", "sql", "g.test.stdout",
           ["BenchmarkGap-8 \t 10 \t 100 ns/op"])
    _write(root, "03-01-2015", "sql", "g.test.stdout",
           ["BenchmarkGap-8 \t 10 \t 100 ns/op \t 150 allocs/op"])
    fact = build_fact_table(spark, root)

    lag_rows = bench_regressions(fact, threshold_pct=20.0).collect()
    assert [(r.metric, r.run_date.isoformat(), r.prev_value, r.value,
             r.pct_change) for r in lag_rows] == [
        ("A", "2015-01-03", 100.0, 150.0, 50.0)
    ]

    roll_rows = bench_regressions_rolling(fact, threshold_pct=20.0).collect()
    assert [(r.metric, r.run_date.isoformat(), r.baseline, r.value,
             r.pct_change) for r in roll_rows] == [
        ("A", "2015-01-03", 100.0, 150.0, 50.0)
    ]


def test_list_unshift_order_simulates_the_js():
    """_LIST_UNSHIFT_ORDER is hand-derived as the REVERSE of the JS
    call order; this pins the derivation by simulating
    prioritizeImportantTests (generate_benchmark_list.js:29-37)
    literally — unshift == insert(0), same loop nesting, same
    i *= 10 progression."""
    from benchviz_spark.pipeline import _LIST_UNSHIFT_ORDER

    seq: list[str] = []
    for test in ["Scan", "Delete", "Update", "Insert"]:
        for suffix in ["_Cockroach-16", "Multinode_Cockroach-16"]:
            i = 1
            while i < 1001:
                seq.insert(0, f"Benchmark{test}{i}{suffix}")
                i *= 10
    assert tuple(seq) == _LIST_UNSHIFT_ORDER


def test_index_html_renders_missing_priority_dirs(spark, tmp_path):
    """F10 edge the demo-tree golden can't reach: a tree with NEITHER
    priority package still renders both their sections (the JS calls
    generateTestListHTML with _.values(undefined) -> [], and the 32
    priority unshifts run regardless), so the sql section is exactly
    the 32 phantom links and sql/parser is an empty section; the real
    package follows in position 3."""
    from benchviz_spark.pipeline import (
        _LIST_UNSHIFT_ORDER,
        _section_html,
        index_html_sections,
    )

    root = str(tmp_path / "noPriority")
    _write(root, "01-01-2015", "kv", "a.test.stdout",
           ["BenchmarkKV-8 \t 10 \t 100 ns/op"])
    rows = index_html_sections(build_fact_table(spark, root)).orderBy(
        "position"
    ).collect()
    assert [(r.position, r.package) for r in rows] == [
        (1, "sql"), (2, "sql/parser"), (3, "kv"),
    ]
    assert rows[0].html == _section_html("sql", list(_LIST_UNSHIFT_ORDER))
    assert rows[1].html == "sql/parser<br/><br/>"
    assert rows[2].html == _section_html("kv", ["BenchmarkKV-8"])
    # the quirk itself: 32 priority links, phantom or duplicate
    assert rows[0].html.count('<a class="testName"') == 32


def test_ingest_via_filesystem_uri(spark, sample_tree):
    """S1/S7 dissolve into direct URI reads (SURVEY §2.1): the ingest
    must accept a Hadoop-FS URI root (file:// here; s3a:// in
    production takes the identical code path through the FileSystem
    API) and produce the same fact table as the bare-path read."""
    plain = build_fact_table(spark, sample_tree)
    via_uri = build_fact_table(spark, "file://" + sample_tree)
    assert via_uri.count() == plain.count()
    cols = ["run_date", "package", "test_name", "ns_per_op"]
    assert sorted(map(tuple, via_uri.select(cols).collect())) == sorted(
        map(tuple, plain.select(cols).collect())
    )


def test_go_number_shortest_round_trip(spark):
    """Go json.Marshal emits the shortest positional digit string that
    round-trips (for 1e-6 <= |v| < 1e21). The sink must match it
    exactly — the round-2 decimal(30,6) path rounded >6-decimal values.
    The expectation is computed from Python's repr (also shortest
    round-trip) re-rendered positionally. Runs against the staged
    production path (``with_go_number``)."""
    from decimal import Decimal

    from benchviz_spark.serving.json_sink import with_go_number

    values = [
        4.0,
        12.5,
        0.0,
        85.21,
        0.30000000000000004,
        1.0e7,
        10000000.5,
        123456789.125,
        0.0005,
        1.23456789012345e-05,
        3.141592653589793,
        2.0 / 3.0,
        99999.99999999999,
    ]

    def go_render(v: float) -> str:
        if v == int(v):
            return str(int(v))
        return format(Decimal(repr(v)), "f")

    df = spark.createDataFrame([(v,) for v in values], "v double")
    staged = with_go_number(df, F.col("v"), "s").select("v", "s")
    got = [r.s for r in staged.collect()]
    assert got == [go_render(v) for v in values]
    # every rendering round-trips to the exact double
    assert [float(s) for s in got] == values


def test_go_number_staged_equals_reference(spark):
    """The staged production rendering (``with_go_number`` — real
    intermediate columns so whole-stage codegen compiles; the
    single-expression form overflows janino's 64 KB method limit and
    runs interpreted) must be BYTE-IDENTICAL to the reference
    ``_go_number`` expression on every branch: -0, integral, plain
    positional, positive/negative exponent expansion, the >2^53 tier,
    and the non-finite renderings (NaN/Infinity — the staged form's
    eager stages must null-propagate there instead of raising under
    ANSI, which is why it stages through try_cast/F.get)."""
    import random

    from benchviz_spark.serving.json_sink import _go_number, with_go_number

    rng = random.Random(0xC0DE)
    values = [
        4.0, 12.5, 0.0, -0.0, 85.21, 1.0e7, 10000000.5, 0.0005,
        1.23456789012345e-05, 2.0 / 3.0, 99999.99999999999,
        2.0**53 - 1, 2.0**53, 2.0**63, 1e20, -123.456, -1.5e-5, 1e-6,
        4.495070928150767e16, 3.945243088014081e16,
        float("nan"), float("inf"), float("-inf"),
    ]
    values += [rng.uniform(-1e21, 1e21) for _ in range(300)]
    values += [rng.uniform(-1e-6, 1e-6) for _ in range(100)]
    df = spark.createDataFrame([(v,) for v in values], "v double")
    ref = [r.s for r in df.select(_go_number(F.col("v")).alias("s")).collect()]
    got = [
        r.s for r in with_go_number(df, F.col("v"), "s").select("s").collect()
    ]
    assert got == ref


def test_go_number_rejects_scratch_name_collision(spark):
    """ADVICE r15: a caller column named __gn_* would be silently
    overwritten and dropped by the staged renderer — the helper must
    refuse instead."""
    import pytest

    from benchviz_spark.serving.json_sink import with_go_number

    df = spark.createDataFrame([(1.5, "x")], "v double, __gn_plain string")
    with pytest.raises(ValueError, match="__gn_plain"):
        with_go_number(df, F.col("v"), "s")


def test_serving_tree_via_hadoop_fs_uri(spark, sample_tree, tmp_path):
    """S7: a URI root routes through the Hadoop FileSystem API (the
    portable object-store surface), producing the identical tree to the
    local-path writer."""
    fact = build_fact_table(spark, sample_tree)
    docs = per_test_json(fact)

    local_out = str(tmp_path / "local")
    write_serving_tree(docs, local_out)
    uri_out = str(tmp_path / "via_fs")
    write_serving_tree(docs, f"file://{uri_out}")

    def snap(root):
        out = {}
        for dirpath, _, files in os.walk(root):
            for fname in files:
                if not fname.endswith(".json"):  # Hadoop .crc sidecars
                    continue
                p = os.path.join(dirpath, fname)
                with open(p) as fh:
                    out[os.path.relpath(p, root)] = fh.read()
        return out

    local_snap, uri_snap = snap(local_out), snap(uri_out)
    assert local_snap == uri_snap
    assert local_snap, "serving tree must not be empty"
