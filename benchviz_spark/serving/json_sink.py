"""Serving-layer materialization (reference S4/S5 re-expressed).

The reference writes one JSON object per (package, test) —
``{"DD-MM-YYYY": {"N":..,"A":..,"B":..,"M":..}, ...}`` — plus a catalog
``test_names.json`` of ``{package: [test, ...]}``
(/root/reference/filegenerator/file_generator.go:179-208).

Byte-stability: Go's ``json.Marshal`` sorts map keys lexically and
renders integral floats without a decimal point (``4.0`` -> ``4``).
Both behaviors are reproduced with native expressions so the output is
hash-comparable to the reference's golden files
(file_generator_test.go:75-93): entries are sorted with ``sort_array``
(date keys sort lexically, like Go), and M gets a conditional
integral/decimal rendering.

Scale: the JSON document for each key is assembled executor-side by
one aggregation keyed (package, test_name), which needs no shuffle over
a fact clustered on that key (``build_fact_table``'s hash layout);
nothing is collected to the driver. The catalog is one aggregation of
the (package, test) pairs. Projections are SQL text, parsed in the JVM
in one call each (built from ``F.*`` Columns, the per-test plan alone
took ~700 py4j round trips to construct). The file writer
is a ``foreachPartition`` fan-out — thousands of small serving files
written in parallel, which is exactly the reference's serving layout
(point lookups by key, SURVEY §2.1 S9).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _go_number(col: F.Column) -> F.Column:
    """Render a double the way Go json.Marshal does: the SHORTEST digit
    string that round-trips, in positional (non-scientific) notation,
    integral values without a trailing '.0'. Go uses strconv's
    shortest-round-trip digits in 'f' form for 1e-6 <= |v| < 1e21 and
    'e' form outside that window (encoding/json/encode.go); benchmark
    metrics never leave the positional window, and this rendering
    intentionally stays positional everywhere.

    - Small integral values (|v| < 2^53, where every integral double's
      exact integer IS its shortest representation): long cast
      ('4.0' -> '4'; also covers 1e7, where a raw string cast would
      yield '1.0E7'). try_cast, because under ANSI mode (Spark 4
      default) a plain long cast THROWS on doubles >= 2^63 instead of
      falling through (found by the hypothesis property test,
      tests/test_contract.py).
    - Values whose plain JVM cast has no exponent (non-integral
      1e-3 <= |v| < 1e7 — every realistic MB/s figure): the JVM cast
      IS the unique-round-trip digit string, same digits Go emits.
    - Everything else (JVM renders scientifically: |v| >= 1e7 incl.
      integral >= 2^53, and |v| < 1e-3): expand a shortest-digit
      mantissa positionally with string ops — 'd.dddEk' -> shift the
      point by k. The JVM mantissa is shortest-ROUND-TRIP but not
      always shortest: Java 17's pre-Ryu Double.toString emits a 17th
      digit where 16 suffice (e.g. 4.495070928150767e16 prints as
      4.4950709281507672E16), so the mantissa is re-rounded to 15, 16
      and 17 significant digits and the shortest candidate whose double
      cast EQUALS the input is used, falling back to Java's digits.
      Re-deriving digits from the value instead (the round-4 sink used
      wide decimal casts here) rendered the exact 17-digit expansion
      where Go renders the shortest — e.g. 3.945243088014081e16 is
      exactly 39452430880140808 but Go says 39452430880140810.

    Parity bound (hypothesis-measured): byte-identical to Go for every
    |v| < 2^53 in the positional window; above 2^53 a half-ulp TIE can
    admit two same-length candidates that both round-trip (ulp exceeds
    the digit-grid spacing) and Go picks the one nearer the exact
    value, which Catalyst cannot see without exact big-decimal
    arithmetic — there the output is still shortest-length and
    round-trips exactly (~0.4% of random giants differ in the last
    digit). Benchmark metrics live far below 2^53.

    NOTE: this single-expression form is the readable REFERENCE; the
    production sink renders through ``with_go_number`` below — the
    same formula staged through intermediate columns, because this
    tree (each Python variable reference inlines a full copy of its
    subtree) generates a >64 KB whole-stage-codegen method, which
    janino rejects ("Code grows beyond 64 KB") and the stage silently
    falls back to interpreted execution. Byte-equality of the two
    forms is pinned by
    tests/test_bench_ingest.py::test_go_number_staged_equals_reference."""
    as_long = col.try_cast("long")
    plain = col.cast("string")
    strip = lambda c: F.regexp_replace(  # noqa: E731 - drop trailing zeros
        F.regexp_replace(c.cast("string"), r"(\.\d*?)0+$", "$1"), r"\.$", ""
    )
    parts = F.split(plain, "E")
    jmant, exp = parts[0], parts[1].cast("int")
    jdec = jmant.cast("decimal(28,20)")
    roundtrips = lambda m: F.concat(  # noqa: E731 - candidate == input?
        m, F.lit("E"), exp.cast("string")
    ).try_cast("double").eqNullSafe(col)
    mant = jmant
    # shortest first: 15, 16, 17 significant digits, else Java's own
    for frac in (16, 15, 14):
        cand = F.round(jdec, frac).cast("string")
        mant = F.when(roundtrips(cand), cand).otherwise(mant)
    sign = F.when(mant.startswith("-"), F.lit("-")).otherwise(F.lit(""))
    mparts = F.split(F.regexp_replace(mant, "-", ""), r"\.")
    digits = F.concat(mparts[0], mparts[1])
    # digits left of the decimal point (rounding can carry: '9.99...'
    # -> '10.0...', so the integer part is not always one digit)
    npoint = exp + F.length(mparts[0])
    expanded = (
        F.when(
            npoint <= 0,
            F.concat(sign, F.lit("0."), F.repeat(F.lit("0"), -npoint), digits),
        )
        .when(
            F.length(digits) <= npoint,
            F.concat(sign, F.rpad(digits, npoint, "0")),
        )
        .otherwise(
            F.concat(
                sign,
                F.substring(digits, F.lit(1), npoint),
                F.lit("."),
                F.substring(digits, npoint + 1, F.length(digits)),
            )
        )
    )
    return (
        # negative zero first: SQL equality says -0.0 == 0, so the
        # integral branch would print '0' where Go's strconv keeps the
        # sign bit and emits '-0'. The probe is the JVM string ('-0.0')
        # — arithmetic probes like 1/x trip ANSI DIVIDE_BY_ZERO
        F.when((col == 0.0) & plain.startswith("-"), F.lit("-0"))
        .when(
            (col == as_long.cast("double")) & (F.abs(col) < F.lit(2.0**53)),
            as_long.cast("string"),
        )
        .when(~plain.contains("E"), plain)
        .otherwise(strip(expanded))
    )


# ``with_go_number``'s stages as one SQL select list: each item reads
# the items before it as lateral column aliases, and Spark's analyzer
# resolves every alias level into its own Project. ``__gn_v`` is the
# value being rendered. Regexes and literals are doubled-backslash SQL
# text (a single backslash would be eaten by the SQL string literal).
_GO_NUMBER_STAGES = (
    "CAST(__gn_v AS STRING) AS __gn_plain",
    "split(__gn_plain, 'E') AS __gn_parts",
    "get(__gn_parts, 0) AS __gn_jmant",
    "try_cast(get(__gn_parts, 1) AS INT) AS __gn_exp",
    "try_cast(__gn_jmant AS DECIMAL(28,20)) AS __gn_jdec",
    *(
        f"CAST(round(__gn_jdec, {frac}) AS STRING) AS __gn_c{frac}"
        for frac in (16, 15, 14)
    ),
    # shortest first: 15, 16, 17 significant digits, else Java's own
    "CASE"
    + "".join(
        f" WHEN try_cast(concat(__gn_c{frac}, 'E', CAST(__gn_exp AS STRING))"
        f" AS DOUBLE) <=> __gn_v THEN __gn_c{frac}"
        for frac in (14, 15, 16)
    )
    + " ELSE __gn_jmant END AS __gn_mant",
    "split(regexp_replace(__gn_mant, '-', ''), '\\\\.') AS __gn_mparts",
    "CASE WHEN startswith(__gn_mant, '-') THEN '-' ELSE '' END AS __gn_sign",
    "concat(get(__gn_mparts, 0), get(__gn_mparts, 1)) AS __gn_digits",
    # digits left of the decimal point (rounding can carry: '9.99...'
    # -> '10.0...', so not always one digit)
    "__gn_exp + length(get(__gn_mparts, 0)) AS __gn_npoint",
    "CASE"
    " WHEN __gn_npoint <= 0"
    " THEN concat(__gn_sign, '0.', repeat('0', -__gn_npoint), __gn_digits)"
    " WHEN length(__gn_digits) <= __gn_npoint"
    " THEN concat(__gn_sign, rpad(__gn_digits, __gn_npoint, '0'))"
    " ELSE concat(__gn_sign, substring(__gn_digits, 1, __gn_npoint), '.',"
    " substring(__gn_digits, __gn_npoint + 1, length(__gn_digits)))"
    " END AS __gn_expanded",
)
# the final rendering, over the stages
_GO_NUMBER_RENDER = (
    "CASE"
    " WHEN __gn_v = 0D AND startswith(__gn_plain, '-') THEN '-0'"
    " WHEN __gn_v = CAST(try_cast(__gn_v AS BIGINT) AS DOUBLE)"
    " AND abs(__gn_v) < 9007199254740992D"
    " THEN CAST(try_cast(__gn_v AS BIGINT) AS STRING)"
    " WHEN NOT contains(__gn_plain, 'E') THEN __gn_plain"
    # drop trailing zeros, then a trailing point
    " ELSE regexp_replace(regexp_replace(__gn_expanded,"
    " '(\\\\.\\\\d*?)0+$', '$1'), '\\\\.$', '')"
    " END"
)
_GO_NUMBER_SCRATCH = ["__gn_v"] + [
    item.rsplit(" AS ", 1)[1] for item in _GO_NUMBER_STAGES
]


def with_go_number(df: DataFrame, col: F.Column, out: str) -> DataFrame:
    """Attach column ``out`` = ``_go_number(col)`` — same formula, same
    bytes — STAGED through intermediate columns instead of one nested
    expression. The production rendering path.

    Why this twin exists (r15, guide §7.2 "giant expression trees"):
    Catalyst expressions are trees, not DAGs, so every Python variable
    reference in ``_go_number`` (``mant`` ~x21 via digits/npoint/sign,
    each candidate x2, ...) INLINES a full copy of its subtree, and
    whole-stage codegen cannot split inside one expression — the
    single-expression form generates a >64 KB ``processNext()`` that
    janino refuses ("Code grows beyond 64 KB", one ERROR per bench
    run) and the stage silently runs INTERPRETED, at any scale.
    Staging each reuse-heavy term as a real column makes codegen emit
    it once as a local variable; the optimizer keeps the stages
    because CollapseProject does not inline non-cheap aliases that are
    referenced more than once.

    The stages are one SQL select list (``_GO_NUMBER_STAGES``) in which
    each step reads the earlier ones as lateral column aliases; the
    analyzer resolves every alias level into its own Project, so the
    plan has the same staging a chain of ``withColumns`` calls gives,
    for a few Dataset calls instead of ~300 py4j round trips. A caller
    column named ``__gn_*`` would shadow a lateral alias (and be
    overwritten and dropped), so such inputs are refused.

    Eager-evaluation safety (the stages run for EVERY row, where the
    single expression evaluated the heavy branch lazily): array access
    via ``get`` (NULL, never ANSI invalidArrayIndexError, on the
    E-less split) and ``try_cast`` for the decimal/int casts (NaN and
    Infinity renderings would throw under ANSI in a plain cast); for
    rows the final CASE routes to the cheap branches the staged values
    are NULL-propagated and ignored, so the output is byte-identical to
    ``_go_number`` (pinned by test_go_number_staged_equals_reference
    plus the Go-oracle property tests, which run against THIS path)."""
    # ADVICE r15: the scratch names are fixed — refuse a clash loudly
    # (the helper is public API beyond per_test_json's narrow select).
    clash = [name for name in df.columns if name.startswith("__gn_")]
    if clash:
        raise ValueError(
            f"with_go_number: input columns collide with scratch names: {clash}"
        )
    return (
        df.select("*", col.alias("__gn_v"))
        .selectExpr("*", *_GO_NUMBER_STAGES)
        .withColumn(out, F.expr(_GO_NUMBER_RENDER))
        .drop(*_GO_NUMBER_SCRATCH)
    )


_PER_TEST_COLUMNS = (
    "package",
    "test_name",
    "date_dir",
    "ns_per_op",
    "allocs_per_op",
    "bytes_per_op",
    "mb_per_s",
)
# one '"<date dir>":{"N":..,"A":..,"B":..,"M":..}' member per fact row
_ENTRY_SQL = (
    """concat('"', date_dir, '":{"N":', CAST(ns_per_op AS STRING),"""
    """ ',"A":', CAST(allocs_per_op AS STRING),"""
    """ ',"B":', CAST(bytes_per_op AS STRING), ',"M":', _m_go, '}') AS entry"""
)
_DOC_SQL = "concat('{', concat_ws(',', sort_array(collect_list(entry))), '}') AS json"


def per_test_json(fact: DataFrame) -> DataFrame:
    """-> (package, test_name, json) with one reference-shaped JSON
    document per benchmark test, keyed by the RAW date-dir name —
    the reference keys by dataDirName verbatim (file_generator.go:167),
    so a quirky dir like x01-01-2016y keeps its name in the output.

    The M rendering rides ``with_go_number`` (the staged twin of
    ``_go_number``): the single-expression form overflows janino's
    64 KB method limit and drops the whole projection to interpreted
    execution — see with_go_number's docstring. Entries are sorted per
    document (``sort_array``), so the input needs no order; a fact
    clustered on (package, test_name), as ``build_fact_table`` leaves
    it, needs no shuffle for the aggregation."""
    staged = with_go_number(
        fact.selectExpr(*_PER_TEST_COLUMNS), F.col("mb_per_s"), "_m_go"
    )
    return (
        staged.selectExpr("package", "test_name", _ENTRY_SQL)
        .groupBy("package", "test_name")
        .agg(F.expr(_DOC_SQL))
    )


# {"pkg":[tests...],...} from the collected (package, test_name) pairs:
# one '"pkg":[...]' member per distinct package, tests sorted within it,
# members sorted as whole strings.
_CATALOG_SQL = (
    "concat('{', concat_ws(',', sort_array(transform("
    "array_distinct(transform(pairs, p -> p.package)),"
    " pkg -> concat('\"', pkg, '\":', to_json(sort_array(transform("
    "filter(pairs, p -> p.package = pkg), p -> p.test_name))))))), '}') AS json"
)


def catalog_json_df(fact: DataFrame) -> DataFrame:
    """The single ``test_names.json`` document as a one-row DataFrame
    ``(json)``: ``{pkg: [test,...]}`` with both levels sorted (the
    reference's order is unspecified Go map iteration; we canonicalize
    — SURVEY §2.4 A2).

    One aggregation: ``collect_set(struct(package, test_name))``, partial
    per partition, then one projection renders the document. Its cost
    is O(packages × tests) in the one final task (each package filters
    the whole pair set); any single-document rendering holds the whole
    catalog in that task. Only the one-row JSON leaves the executors."""
    return fact.agg(
        F.expr("collect_set(struct(package, test_name)) AS pairs")
    ).selectExpr(_CATALOG_SQL)


def catalog_json(fact: DataFrame) -> str:
    """``catalog_json_df`` materialized to the document string (the
    publish step writes exactly one small file)."""
    return catalog_json_df(fact).collect()[0]["json"]


def write_serving_tree(per_test: DataFrame, out_dir: str) -> None:
    """Write each per-test document to ``<out_dir>/<package>/<test>.json``
    (the reference's serving layout — reference S7 publishes the same
    tree to an object store).

    Local path (no URI scheme): executor-side foreachPartition — no
    driver bottleneck, arbitrarily many files in parallel.

    URI root (``file://``, ``s3a://``, ``hdfs://``, ...): routed through
    the Hadoop FileSystem API, which is where the object-store
    connectors live. Python executors have no JVM gateway, so this path
    streams documents through the driver (``toLocalIterator`` — one
    partition in memory at a time). The serving documents are an
    already-aggregated catalog (one small JSON per (package, test)),
    so the publish step is catalog-bounded, not data-bounded; for a
    catalog too large for a single writer, stage executor-locally with
    the foreachPartition path and bulk-publish (`hadoop distcp`-style)
    instead."""
    if "://" in out_dir:
        _write_serving_tree_hadoop_fs(per_test, out_dir)
        return

    def write_partition(rows):
        for row in rows:
            path = os.path.join(out_dir, row["package"])
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, f"{row['test_name']}.json"), "w") as f:
                f.write(row["json"])

    per_test.foreachPartition(write_partition)


def _write_serving_tree_hadoop_fs(per_test: DataFrame, out_uri: str) -> None:
    """Driver-side writer against the Hadoop FileSystem API (the
    portable surface over file://, s3a://, hdfs://, ...). mkdirs is
    implicit in FileSystem.create."""
    spark = per_test.sparkSession
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(out_uri)
    fs = root.getFileSystem(hconf)
    for row in per_test.toLocalIterator():
        path = jvm.org.apache.hadoop.fs.Path(
            root, f"{row['package']}/{row['test_name']}.json"
        )
        out = fs.create(path, True)
        try:
            out.write(bytearray(row["json"].encode("utf-8")))
        finally:
            out.close()


# The 32 priority test names of package 'sql', in the reference's call
# order (generate_benchmark_list.js:30-33: action, then suffix, then
# count).
PRIORITY_TESTS = tuple(
    f"Benchmark{action}{count}{suffix}"
    for action in ("Scan", "Delete", "Update", "Insert")
    for suffix in ("_Cockroach-16", "Multinode_Cockroach-16")
    for count in (1, 10, 100, 1000)
)


def priority_sort_key(test_col: F.Column, package_col: F.Column) -> F.Column:
    """Reference O3 as a sort-key expression: for package 'sql', the
    ``PRIORITY_TESTS`` sort before everything else
    (generate_benchmark_list.js:29-38 — we implement the documented
    *intent*; the reference's unshift loop also duplicates entries and
    prepends nonexistent tests, which are quirks of its rendering, not
    query semantics)."""
    return F.when(
        (package_col == "sql") & test_col.isin(*PRIORITY_TESTS), F.lit(0)
    ).otherwise(F.lit(1))


def package_sort_key(package_col: F.Column) -> F.Column:
    """Reference O4: packages 'sql', 'sql/parser' list first
    (generate_benchmark_list.js:40-48)."""
    return (
        F.when(package_col == "sql", F.lit(0))
        .when(package_col == "sql/parser", F.lit(1))
        .otherwise(F.lit(2))
    )
