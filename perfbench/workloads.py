"""The benchmark's workloads and their output checks.

Each workload exposes ``warmup`` (untimed; its outputs are checked),
``timed_pass`` and, for ``benchviz_logs``, a closed-loop read path.
Every op and write pass starts cold with respect to program caches:
``clear_caches()``, ``spark.catalog.clearCache()`` and a driver GC run,
untimed, before each one, as in ``bench.py``. Requests are served from
the fact table the last write pass cached.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import pickle
import random
import shutil
import sys
import traceback

import gen
from meter import Stopwatch

# The curation op measured by ``curation_sf001``; README.md says why
# this one.
CURATION_OP = "stream_dedup_admission"
CURATION_SF = 0.01
DATA_SEED = 42  # the fixture tables' seed; the run seed has no effect on them

# benchviz_logs tree shape and request mix
TREE_DATES = 30
TREE_TESTS_PER_PKG = 30
COMPARE_SHARE = 0.2
ZIPF_S = 1.1
WARMUP_REQUESTS = 3
DOC_SAMPLE = 5  # per-test documents rechecked after each timed pass


class Failure(Exception):
    """An output check failed."""


def cold(spark) -> int:
    """Drop program and Spark caches and collect driver garbage; returns
    the number of program cache entries that were still held."""
    from benchviz_spark.caching import clear_caches

    entries = clear_caches()
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    return entries


def _report(what: str, exc: BaseException) -> None:
    print(f"perfbench: {what} FAILED: {exc}", file=sys.stderr)
    if not isinstance(exc, Failure):
        traceback.print_exc(file=sys.stderr)


# -- curation_sf001 ---------------------------------------------------------


def check_frame(spark_pdf, oracle_pdf, name: str) -> None:
    """Raise ``Failure`` unless the Spark result equals the oracle's
    (rows, column names and values, as the parity gate compares them)."""
    from tests.oracle_harness import compare_frames

    try:
        compare_frames(spark_pdf, oracle_pdf, name)
    except AssertionError as exc:
        raise Failure(str(exc)) from None


class Curation:
    name = "curation_sf001"

    def __init__(self, ctx):
        self.ctx = ctx
        tag = hashlib.sha1(open(gen.__file__, "rb").read()).hexdigest()[:10]
        self.sf_dir = os.path.join(ctx.work, "data", f"sf{CURATION_SF}-seed{DATA_SEED}-{tag}")
        self.input_dir = self.sf_dir
        self.oracle = None

    def prepare(self) -> None:
        """Build the input tables and the oracle result once per
        checkout; both depend only on the generator and the oracle SQL."""
        if not os.path.isdir(self.sf_dir):
            tmp = self.sf_dir + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            gen.write_tables(tmp, CURATION_SF, DATA_SEED)
            os.replace(tmp, self.sf_dir)
        from benchviz_spark.registry import all_oracles

        sql = all_oracles()[CURATION_OP]
        key = hashlib.sha1((sql + self.sf_dir).encode()).hexdigest()[:16]
        path = os.path.join(self.ctx.work, "oracle", f"{CURATION_OP}-{key}.pkl")
        if not os.path.exists(path):
            from tests.oracle_harness import duckdb_connection

            con = duckdb_connection(self.sf_dir)
            con.execute(f"SET threads={self.ctx.cpus}")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "wb") as fh:
                pickle.dump(con.execute(sql).fetchdf(), fh)
            con.close()
            os.replace(path + ".tmp", path)
        with open(path, "rb") as fh:
            self.oracle = pickle.load(fh)

    def _query(self):
        from benchviz_spark.registry import all_queries

        return all_queries()[CURATION_OP]

    def warmup(self) -> None:
        cold(self.ctx.spark)
        self.ctx.attempted += 1
        try:
            pdf = self._query()(self.ctx.spark, self.sf_dir).toPandas()
            check_frame(pdf, self.oracle, CURATION_OP)
        except Exception as exc:  # noqa: BLE001 - count and go on
            self.ctx.failed += 1
            _report(f"warm-up {CURATION_OP}", exc)

    def timed_pass(self, label: str, tracer=None) -> dict:
        """One pass: the op built and forced with a ``noop`` write.
        ``timing`` is None if it raised; a traced pass also reports the
        program cache entries the op left behind."""
        query, spark = self._query(), self.ctx.spark
        cold(spark)
        self.ctx.attempted += 1
        try:
            if tracer is None:
                with Stopwatch() as sw:
                    df = query(spark, self.sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                return {"timing": sw.as_dict()}
            with tracer.span("build", label, op=CURATION_OP, layer="operators") as b:
                df = query(spark, self.sf_dir)
            with tracer.span("exec", label, op=CURATION_OP, layer="spark") as e:
                df.write.format("noop").mode("overwrite").save()
            # what the op left in program caches, read before the next
            # pass's cold start drops it
            return {"timing": {"wall_s": b["seconds"] + e["seconds"]}, "entries": cold(spark)}
        except Exception as exc:  # noqa: BLE001 - count and go on
            self.ctx.failed += 1
            _report(f"{label} {CURATION_OP}", exc)
            return {"timing": None}


# -- benchviz_logs ----------------------------------------------------------


def _date(date_dir: str) -> dt.date:
    return dt.datetime.strptime(date_dir, "%d-%m-%Y").date()


def expected_lookup(truth: dict, key: tuple[str, str]) -> list[tuple]:
    """point_lookup rows: (run_date, N, A, B, M) in date order."""
    series = truth["series"].get(key, {})
    return sorted((_date(d), n, a, b, m) for d, (n, a, b, m) in series.items())


def expected_compare(truth: dict, left: tuple[str, str], right: tuple[str, str]) -> dict:
    """align_series rows keyed by run_date: (left values, right values),
    None on the side with no observation that day."""
    lhs = {r[0]: r[1:] for r in expected_lookup(truth, left)}
    rhs = {r[0]: r[1:] for r in expected_lookup(truth, right)}
    return {d: (lhs.get(d), rhs.get(d)) for d in lhs.keys() | rhs.keys()}


def check_lookup(rows: list, truth: dict, key: tuple[str, str]) -> None:
    got = [tuple(r) for r in rows]
    if got != expected_lookup(truth, key):
        raise Failure(f"lookup {key}: {len(got)} rows differ from the generated series")


def check_compare(rows: list, truth: dict, left, right) -> None:
    got = {}
    for r in rows:
        a, b = tuple(r[1:5]), tuple(r[5:9])
        got[r[0]] = (None if all(v is None for v in a) else a,
                     None if all(v is None for v in b) else b)
    if got != expected_compare(truth, left, right):
        raise Failure(f"compare {left} vs {right}: rows differ from the generated series")


def check_serving_tree(out_dir: str, truth: dict, sample: list | None) -> None:
    """Per-test file count, catalog, the given sample of per-test
    documents (all when ``sample`` is None) and every last-write-wins
    winner."""
    # every file but the catalog is a per-test document
    n_files = sum(len(files) for _, _, files in os.walk(out_dir)) - 1
    if n_files != len(truth["docs"]):
        raise Failure(f"{n_files} per-test files, expected {len(truth['docs'])}")
    with open(os.path.join(out_dir, "test_names.json")) as fh:
        if fh.read() != truth["catalog"]:
            raise Failure("test_names.json differs from the generated catalog")

    def doc(pkg: str, test: str) -> str:
        with open(os.path.join(out_dir, pkg, f"{test}.json")) as fh:
            return fh.read()

    for key in truth["docs"] if sample is None else sample:
        if doc(*key) != truth["docs"][key]:
            raise Failure(f"serving document {key} differs")
    for pkg, test, date, n in truth["lww"]:
        if f'"{date}":{{"N":{n},' not in doc(pkg, test):
            raise Failure(f"last-write-wins winner of {(pkg, test, date)} is not N={n}")


def request_kinds(n: int, rng: random.Random) -> list[str]:
    """``n`` request kinds in seeded order, with exactly
    ``round(n * COMPARE_SHARE)`` compares. Compares are the slower kind,
    so a share that varied with the seed would move the latency
    percentiles with it."""
    n_compare = round(n * COMPARE_SHARE)
    kinds = ["compare"] * n_compare + ["lookup"] * (n - n_compare)
    rng.shuffle(kinds)
    return kinds


def serving_size(out_dir: str) -> dict:
    files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs]
    return {"files": len(files), "bytes": sum(os.path.getsize(p) for p in files)}


class BenchvizLogs:
    name = "benchviz_logs"

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "benchviz", "benchSamples")
        self.input_dir = self.root
        self.out = os.path.join(ctx.work, "benchviz", "serving")
        self.truth: dict = {}
        self.fact = None

    def prepare(self) -> None:
        self.truth = gen.write_bench_tree(
            self.root, self.ctx.seed, TREE_DATES, TREE_TESTS_PER_PKG
        )
        rng = random.Random(self.ctx.seed)
        keys = sorted(self.truth["docs"])
        self.doc_sample = rng.sample(keys, min(DOC_SAMPLE, len(keys)))
        # skewed popularity: Zipf weights over a seeded ranking of tests
        rng.shuffle(keys)
        self.keys = keys
        self.weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(keys))]
        self.req_rng = random.Random(self.ctx.seed + 1)

    def _pipeline(self, label: str, tracer=None):
        """One ETL pass; returns (timing, cached fact)."""
        from benchviz_spark.pipeline import run_pipeline

        spark = self.ctx.spark
        shutil.rmtree(self.out, ignore_errors=True)
        if self.fact is not None:
            self.fact.unpersist()
            self.fact = None
        cold(spark)
        if tracer is None:
            with Stopwatch() as sw:
                fact = run_pipeline(spark, self.root, self.out)
            return sw.as_dict(), fact
        # the public functions run_pipeline composes, one span each
        from benchviz_spark.serving.json_sink import (
            catalog_json,
            per_test_json,
            write_serving_tree,
        )
        from benchviz_spark.sources.bench_logs import build_fact_table

        with tracer.span("build_fact_table", label, layer="sources") as s1:
            fact = build_fact_table(spark, self.root)
        with tracer.span("materialize", label, layer="sources") as s2:
            fact.cache()
            s2["fact_rows"] = fact.count()
        with tracer.span("per_test_json", label, layer="operators") as s3:
            per_test = per_test_json(fact)
        with tracer.span("write_serving_tree", label, layer="serving") as s4:
            os.makedirs(self.out, exist_ok=True)
            write_serving_tree(per_test, self.out)
        with tracer.span("catalog_json", label, layer="serving") as s5:
            with open(os.path.join(self.out, "test_names.json"), "w") as fh:
                fh.write(catalog_json(fact))
        return {"wall_s": sum(s["seconds"] for s in (s1, s2, s3, s4, s5))}, fact

    def warmup(self) -> None:
        self.ctx.attempted += 1
        try:
            _, self.fact = self._pipeline("warmup")
            check_serving_tree(self.out, self.truth, sample=None)
        except Exception as exc:  # noqa: BLE001 - count and go on
            self.ctx.failed += 1
            _report("warm-up run_pipeline", exc)
            return
        self.requests(WARMUP_REQUESTS, label="warmup")

    def timed_pass(self, label: str, tracer=None) -> dict:
        """One write pass. ``timing`` is None if it raised or its output
        check failed; a traced pass also reports the serving tree's size
        and the program cache entries the pass left behind."""
        self.ctx.attempted += 1
        try:
            timing, self.fact = self._pipeline(label, tracer)
            check_serving_tree(self.out, self.truth, sample=self.doc_sample)
        except Exception as exc:  # noqa: BLE001 - count and go on
            self.ctx.failed += 1
            _report(f"{label} run_pipeline", exc)
            return {"timing": None}
        if tracer is None:
            return {"timing": timing}
        from benchviz_spark.caching import clear_caches

        # Spark's cache, which holds the fact the read path serves from,
        # is left alone
        return {"timing": timing, "serving": serving_size(self.out), "entries": clear_caches()}

    def requests(self, n: int, label: str, tracer=None) -> list[dict]:
        """Closed loop, one client, ``n`` requests. Each is timed from
        building the query to having its rows; its rows are checked
        afterwards."""
        from benchviz_spark.operators.compare import align_series
        from benchviz_spark.pipeline import point_lookup

        fact, rng, out = self.fact, self.req_rng, []
        for kind in request_kinds(n, rng):
            keys = rng.choices(self.keys, self.weights, k=2 if kind == "compare" else 1)
            self.ctx.attempted += 1
            try:
                if tracer is None:
                    with Stopwatch() as sw:
                        rows = self._serve(fact, kind, keys, point_lookup, align_series)
                    timing = sw.as_dict()
                else:
                    with tracer.span(kind, f"{label}/{len(out)}", layer="pipeline") as s:
                        rows = self._serve(fact, kind, keys, point_lookup, align_series)
                    timing = {"wall_s": s["seconds"]}
                if kind == "compare":
                    check_compare(rows, self.truth, *keys)
                else:
                    check_lookup(rows, self.truth, keys[0])
                out.append({"kind": kind, "ms": timing["wall_s"] * 1e3, **timing})
            except Exception as exc:  # noqa: BLE001 - count and go on
                self.ctx.failed += 1
                out.append({"kind": kind, "ms": None})
                _report(f"{label} {kind} {keys}", exc)
        return out

    @staticmethod
    def _serve(fact, kind, keys, point_lookup, align_series) -> list:
        if kind == "lookup":
            return point_lookup(fact, *keys[0]).collect()
        return align_series(
            point_lookup(fact, *keys[0]), point_lookup(fact, *keys[1]), on="run_date"
        ).collect()
