"""The benchmark's own tests: generators are deterministic and every
output check catches a corrupted expected value. No Spark session is
needed; run from the repository root with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import datetime as dt
import os
import random
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # repo root

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from workloads import Failure  # noqa: E402


def _serve(truth: dict, out_dir: str) -> None:
    """Write the serving tree a correct program would write."""
    for (pkg, test), doc in truth["docs"].items():
        os.makedirs(os.path.join(out_dir, pkg), exist_ok=True)
        with open(os.path.join(out_dir, pkg, f"{test}.json"), "w") as fh:
            fh.write(doc)
    with open(os.path.join(out_dir, "test_names.json"), "w") as fh:
        fh.write(truth["catalog"])


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("tree")
    truth = gen.write_bench_tree(str(root / "benchSamples"), seed=3, n_dates=6, tests_per_pkg=5)
    out = root / "serving"
    _serve(truth, str(out))
    return truth, str(out)


def test_tree_is_a_function_of_the_seed(tmp_path):
    a = gen.write_bench_tree(str(tmp_path / "a"), seed=9, n_dates=4, tests_per_pkg=4)
    b = gen.write_bench_tree(str(tmp_path / "b"), seed=9, n_dates=4, tests_per_pkg=4)
    c = gen.write_bench_tree(str(tmp_path / "c"), seed=10, n_dates=4, tests_per_pkg=4)
    assert a == b
    assert a["docs"] != c["docs"]
    # the seed changes the content, not the shape
    assert (a["files"], a["lines"]) == (c["files"], c["lines"])
    assert sum(map(len, a["series"].values())) == sum(map(len, c["series"].values()))


def test_tree_plants_duplicate_keys(tree):
    truth, _ = tree
    assert truth["lww"], "no duplicated (package, test, date) key to resolve"


def test_every_request_block_has_the_same_mix():
    mixes = {tuple(sorted(workloads.request_kinds(25, random.Random(seed)))) for seed in range(20)}
    assert len(mixes) == 1 and mixes.pop().count("compare") == 5


def test_tables_are_a_function_of_the_seed():
    a, b = gen.make_tables(0.001, 5), gen.make_tables(0.001, 5)
    assert all(a[name].equals(b[name]) for name in a)
    assert len(a["lineitem"]) == 6000 and len(a["documents"]) == 50
    assert any(t.endswith(" dup") for t in a["documents"].column("text").to_pylist())


def test_serving_check_accepts_correct_output(tree):
    truth, out = tree
    workloads.check_serving_tree(out, truth, sample=None)


@pytest.mark.parametrize("corrupt", ["doc", "catalog", "lww", "count"])
def test_serving_check_catches_a_corrupted_expectation(tree, corrupt):
    truth, out = tree
    bad = copy.deepcopy(truth)
    key = sorted(bad["docs"])[0]
    if corrupt == "doc":
        bad["docs"][key] = bad["docs"][key].replace('"N":', '"N":1', 1)
    elif corrupt == "catalog":
        bad["catalog"] = bad["catalog"].replace("Benchmark", "Bench", 1)
    elif corrupt == "lww":
        pkg, test, date, n = bad["lww"][0]
        bad["lww"][0] = (pkg, test, date, n + 1)
    else:
        bad["docs"][("sql", "BenchmarkMissing-8")] = "{}"
    with pytest.raises(Failure):
        workloads.check_serving_tree(out, bad, sample=None)


def test_lookup_and_compare_checks(tree):
    truth, _ = tree
    left, right = sorted(truth["series"])[:2]
    rows = workloads.expected_lookup(truth, left)
    workloads.check_lookup(rows, truth, left)
    d0, n, a, b, m = rows[0]
    with pytest.raises(Failure):
        workloads.check_lookup([(d0, n + 1, a, b, m)] + rows[1:], truth, left)
    with pytest.raises(Failure):
        workloads.check_lookup(rows[1:], truth, left)

    want = workloads.expected_compare(truth, left, right)
    none4 = (None,) * 4
    cmp_rows = [(d, *(lv or none4), *(rv or none4)) for d, (lv, rv) in want.items()]
    workloads.check_compare(cmp_rows, truth, left, right)
    first = list(cmp_rows[0])
    first[1] = (first[1] or 0) + 1
    with pytest.raises(Failure):
        workloads.check_compare([tuple(first)] + cmp_rows[1:], truth, left, right)
    with pytest.raises(Failure):
        workloads.check_compare(cmp_rows + [(dt.date(1999, 1, 1), *none4, *none4)], truth,
                                left, right)


def test_frame_check_catches_a_corrupted_oracle_value():
    spark_pdf = pd.DataFrame({"doc_id": [1, 2, 3], "score": [0.5, 0.25, 1.0]})
    oracle = spark_pdf.sample(frac=1.0, random_state=0)  # row order is free
    workloads.check_frame(spark_pdf, oracle, "op")
    bad = oracle.copy()
    bad.loc[bad.index[0], "score"] += 1e-3
    with pytest.raises(Failure):
        workloads.check_frame(spark_pdf, bad, "op")
    with pytest.raises(Failure):
        workloads.check_frame(spark_pdf, oracle.iloc[:2], "op")


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert run.percentile(values, 0.5) == 50
    assert run.percentile(values, 0.90) == 90
    assert run.percentile([7.0], 0.90) == 7.0


def test_repeat_report_marks_varying_counts():
    rows = [{"spark.jobs": 10, "spark.stages": 20}, {"spark.jobs": 10, "spark.stages": 21}]
    metrics = {"spark.jobs": 10, "spark.stages": 20, "spark.exec_s": 1.5}
    rep = run.repeat_report(metrics, rows, [{"spark.jobs": 11, "spark.stages": 20}])
    assert rep["spark.jobs"] == {"passes": "exact", "runs": "varying"}
    assert rep["spark.stages"] == {"passes": "varying", "runs": "exact"}
    assert "spark.exec_s" not in rep  # times are never claimed as exact


class _FakeWorkload:
    """timed_pass returns the next of the given (wall, steal) pairs."""

    def __init__(self, timings):
        self.timings = list(timings)

    def timed_pass(self, label, tracer=None):
        wall, steal = self.timings.pop(0)
        return {"timing": {"wall_s": wall, "steal_share": steal}}


class _NoRss:
    def mark(self, label):
        pass


def walls(results):
    return [r["timing"]["wall_s"] for r in results]


def test_a_pass_under_steal_is_rerun_and_not_counted():
    wl = _FakeWorkload([(1.0, 0.01), (9.0, 0.20), (2.0, 0.02), (5.0, 0.0)])
    passes = run.run_passes(wl, 2, None, _NoRss())["passes"]
    assert len(passes) == 3  # one re-run replaces the pass under steal
    assert sorted(walls(run.counted(passes, 2))) == [1.0, 2.0]

    wl = _FakeWorkload([(9.0, 0.20), (8.0, 0.10), (7.0, 0.40), (1.0, 0.0)])
    passes = run.run_passes(wl, 2, None, _NoRss())["passes"]
    assert len(passes) == 2 + run.reruns(2) == 3
    # too few trusted passes: the two under the least steal count
    assert walls(run.counted(passes, 2)) == [8.0, 9.0]


def test_steal_share_is_steal_over_busy():
    from meter import steal_share, trusted

    assert steal_share((10, 100), (15, 200)) == 0.05
    assert steal_share((10, 100), (10, 100)) is None
    assert trusted(0.05) and not trusted(0.051) and trusted(None)


def test_request_blocks_under_steal_are_replaced(monkeypatch):
    class Reads:
        def requests(self, n, label, tracer):
            return [{"ms": 1.0}] * n

    steals = iter([0.0, 0.3, 0.0, 0.0, 0.0])

    class Stamped(run.Stopwatch):
        def __exit__(self, *exc):
            super().__exit__(*exc)
            self.steal = next(steals)

    monkeypatch.setattr(run, "Stopwatch", Stamped)
    blocks = run.run_requests(Reads(), 100, None)
    assert len(blocks) == run.REQUEST_BLOCKS + run.BLOCK_RERUNS == 5
    kept = run.counted(blocks, run.REQUEST_BLOCKS)
    assert [b["timing"]["steal_share"] for b in kept] == [0.0] * 4
    assert sum(len(b["requests"]) for b in kept) == 100
