"""The scripts/ tooling: every script compiles and is documented,
``scale_tiers.build_tier``'s recipe holds on a small snapshot, and the
A/B runner's statistics are right. One source check keeps the spread
decision in ``tables.spread``. Only the ``build_tier`` test uses
Spark (the session fixture, no new JVM)."""

from __future__ import annotations

import glob
import importlib.util
import math
import os
import re

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "scripts", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ab = _load("ab")
scale_tiers = _load("scale_tiers")


# --- hygiene ----------------------------------------------------------------


def _citing_texts() -> str:
    """Every test except this one, plus the top-level docs that may name
    a script."""
    docs = ["README.md", "SCALE.md", "BASELINE.md", "ROADMAP.md"]
    paths = [os.path.join(REPO, d) for d in docs]
    paths += glob.glob(os.path.join(REPO, "OPTIMIZATION_r1*.md"))
    paths += [
        p for p in glob.glob(os.path.join(REPO, "tests", "*.py"))
        if os.path.basename(p) != os.path.basename(__file__)
    ]
    texts = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            texts.append(fh.read())
    return "\n".join(texts)


def test_every_script_compiles_and_is_named_by_a_test_or_doc():
    assert SCRIPTS
    cited = _citing_texts()
    unnamed = []
    for path in SCRIPTS:
        with open(path, encoding="utf-8") as fh:
            compile(fh.read(), path, "exec")
        if os.path.basename(path) not in cited:
            unnamed.append(os.path.basename(path))
    assert not unnamed, f"scripts no test or top-level doc names: {unnamed}"


def test_only_tables_spread_repartitions_to_default_parallelism():
    """Whether and how to spread rows across cores is decided in one
    place, ``sources/tables.spread`` (streams included): no other module
    under benchviz_spark/ repartitions to defaultParallelism unkeyed. A
    keyed repartition (``repartition(n, col)``) is a different operation."""
    unkeyed = re.compile(r"repartition\(\s*\w+\.sparkContext\.defaultParallelism\s*\)")
    package = os.path.join(REPO, "benchviz_spark")
    offenders = []
    for path in glob.glob(os.path.join(package, "**", "*.py"), recursive=True):
        if os.path.relpath(path, package) == os.path.join("sources", "tables.py"):
            continue
        with open(path, encoding="utf-8") as fh:
            if unkeyed.search(fh.read()):
                offenders.append(os.path.relpath(path, REPO))
    assert not offenders, f"call tables.spread instead: {offenders}"


# --- ab.py statistics (no Spark) ------------------------------------------


def test_ab_quartiles_and_median():
    assert ab.quartiles([4.0, 1.0, 3.0, 2.0, 5.0]) == (2.0, 3.0, 4.0)
    assert ab.quartiles([1.0, 2.0, 3.0, 4.0]) == (1.75, 2.5, 3.25)
    assert ab.quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_ab_wins_pair_rounds_and_ties_count_for_neither_side():
    a = [10.0, 10.0, 10.0, 10.0, 10.0]
    b = [9.0, 11.0, 10.0, 8.0, 10.0]
    assert ab.wins(a, b) == (2, 1)
    assert ab.wins(b, a) == (1, 2)
    assert ab.wins(a, a) == (0, 0)


def test_ab_report_compares_later_arms_with_the_first():
    rep = ab.report({
        "base": {"q": [2.0, 4.0, 3.0]},
        "new": {"q": [1.0, 4.0, 5.0]},
    })["q"]
    assert rep["base"] == {"q1": 2.5, "median": 3.0, "q3": 3.5,
                           "walls": [2.0, 4.0, 3.0]}
    assert rep["new"]["median"] == 4.0
    assert (rep["new"]["wins"], rep["new"]["losses"]) == (1, 1)


def test_ab_arm_splits_spark_conf_from_environment():
    name, conf, env = ab.parse_arm(
        ["smj", "spark.sql.join.preferSortMergeJoin=false", "X_WIDTH=1", "Y=a=b"]
    )
    assert name == "smj"
    assert conf == {"spark.sql.join.preferSortMergeJoin": "false"}
    assert env == {"X_WIDTH": "1", "Y": "a=b"}
    assert ab.parse_arm(["base"]) == ("base", {}, {})
    with pytest.raises(SystemExit):
        ab.parse_arm(["bad", "no_equals_sign"])


def test_ab_single_arm_reports_its_quartiles_and_no_wins():
    arms = ab.parse_arms([["base"]])
    assert arms == [("base", {}, {})]
    rep = ab.report({"base": {"q": [3.0, 1.0, 2.0]}})["q"]
    assert rep == {"base": {"q1": 1.5, "median": 2.0, "q3": 2.5,
                            "walls": [3.0, 1.0, 2.0]}}
    with pytest.raises(SystemExit):
        ab.parse_arms([["base"], ["base", "X=1"]])


# --- scale_tiers.build_tier ------------------------------------------------

REPLICAS = 3


def _read(spark, sf_dir: str, table: str):
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def test_build_tier_recipe(spark, sf_smoke_dir, tmp_path):
    out = str(tmp_path / "x3")
    assert scale_tiers.build_tier(spark, sf_smoke_dir, out, REPLICAS) == list(
        scale_tiers.KEYED
    )
    for table, strides in scale_tiers.KEYED.items():
        base, tier = _read(spark, sf_smoke_dir, table), _read(spark, out, table)
        if not strides:  # fixed dimension
            assert sorted(tier.collect()) == sorted(base.collect()), table
            continue
        assert tier.count() == REPLICAS * base.count(), table
        # every key column's replicas occupy disjoint ranges
        for col in strides:
            assert (
                tier.select(col).distinct().count()
                == REPLICAS * base.select(col).distinct().count()
            ), (table, col)
        # replica 0 is the base, byte for byte
        key, stride = next(iter(strides.items()))
        rep0 = tier.filter(F.col(key) < stride)
        assert rep0.exceptAll(base).isEmpty() and base.exceptAll(rep0).isEmpty()

    # replicas r > 0 rotate text and vectors by r: same length and norm
    for table, (col, _) in scale_tiers.ROTATED.items():
        key, stride = next(iter(scale_tiers.KEYED[table].items()))
        base = {row[0]: row[1] for row in _read(spark, sf_smoke_dir, table)
                .select(key, col).collect()}
        for r in range(1, REPLICAS):
            rep = (
                _read(spark, out, table)
                .filter(F.col(key).between(r * stride, (r + 1) * stride - 1))
                .select((F.col(key) - r * stride).alias(key), col)
                .collect()
            )
            assert len(rep) == len(base), (table, r)
            moved = 0
            for k, got in rep:
                orig = base[k]
                assert got == orig[r:] + orig[:r], (table, r, k)
                assert len(got) == len(orig)
                if table == "embeddings":
                    assert math.isclose(
                        sum(x * x for x in got), sum(x * x for x in orig),
                        rel_tol=1e-9,
                    )
                moved += got != orig
            assert moved > 0.9 * len(rep), (table, r, moved)

    # a second call with the same tier.json finds every table and writes
    # nothing
    before = {p: os.stat(p).st_mtime_ns for p in glob.glob(os.path.join(out, "*"))}
    assert scale_tiers.build_tier(spark, sf_smoke_dir, out, REPLICAS) == []
    after = {p: os.stat(p).st_mtime_ns for p in glob.glob(os.path.join(out, "*"))}
    assert after == before

    # a tier whose tier.json names another base, replica count or recipe
    # is rebuilt, never reused
    assert scale_tiers.build_tier(spark, sf_smoke_dir, out, 2) == list(
        scale_tiers.KEYED
    )
    assert (
        _read(spark, out, "documents").count()
        == 2 * _read(spark, sf_smoke_dir, "documents").count()
    )
