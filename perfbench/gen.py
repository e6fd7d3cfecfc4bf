"""Seeded input generators for the benchmark.

Two kinds of input, both pure functions of their seed:

- ``write_tables``: the ten parquet tables the registered queries read
  (TPC-H-shaped star schema plus ``events``, ``documents`` and
  ``embeddings``), with the same schemas and value domains as the
  engine's fixture tables. Near-duplicate documents are planted the way
  the fixtures plant them: a copy of an earlier document with " dup"
  appended.
- ``write_bench_tree``: a ``benchSamples/<DD-MM-YYYY>/cockroach/<pkg>/``
  tree of Go benchmark stdout, returned together with the ground truth
  the serving layer must reproduce (per-test documents, catalog, and the
  last-write-wins winner of every duplicated key). The seed picks the
  dates, test names and values; the tree's shape (files, lines, fact
  rows) is the same for every seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- tables -----------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
EMBED_DIM = 64
N_LABELS = 10
DUP_SHARE = 0.05


def _dates(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(size=(N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    vecs = 0.14 * centroids[labels] + rng.normal(scale=EMBED_DIM**-0.5, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten input tables at scale factor ``sf`` (sf 1 = 6M lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), max(500, int(20_000 * sf))
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    pk = np.arange(n_part)
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86_400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    return {
        "region": pa.table(
            {"r_regionkey": i32(range(5)),
             "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
        ),
        "nation": pa.table(
            {"n_nationkey": i32(range(25)),
             "n_name": [f"NATION_{i}" for i in range(25)],
             "n_regionkey": i32([i % 5 for i in range(25)])}
        ),
        "customer": pa.table(
            {"c_custkey": i64(np.arange(n_cust)),
             "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
             "c_nationkey": i32(rng.integers(0, 25, n_cust)),
             "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
             "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()}
        ),
        "supplier": pa.table(
            {"s_suppkey": i64(np.arange(n_supp)),
             "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
             "s_nationkey": i32(rng.integers(0, 25, n_supp)),
             "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}
        ),
        "part": pa.table(
            {"p_partkey": i64(pk),
             "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                        zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
             "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
             "p_type": rng.choice(PART_TYPES, n_part).tolist(),
             "p_size": i32(rng.integers(1, 51, n_part)),
             "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)}
        ),
        "orders": pa.table(
            {"o_orderkey": i64(np.arange(n_ord)),
             "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
             "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
             "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
             "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
             "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()}
        ),
        "lineitem": pa.table(
            {"l_orderkey": i64(rng.integers(0, n_ord, n_line)),
             "l_partkey": i64(rng.integers(0, n_part, n_line)),
             "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
             "l_linenumber": i32(rng.integers(1, 8, n_line)),
             "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
             "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
             "l_discount": np.round(rng.uniform(0, 0.10, n_line), 2),
             "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
             "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
             "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
             "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04")}
        ),
        "events": pa.table(
            {"event_id": i64(np.arange(n_ev)),
             "ts": ev_ts,
             "user_id": i64(rng.integers(0, max(1, int(15_000 * sf)), n_ev)),
             "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
             "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
             "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write ``make_tables(sf, seed)`` as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- benchmark-log tree -----------------------------------------------------

PACKAGES = (
    "sql", "sql/parser", "kv", "roachpb", "storage", "storage/engine",
    "util/cache", "util/caller", "util/decimal", "util/encoding",
    "util/interval", "util/log",
)
TEST_STEMS = (
    "Scan", "Insert", "Update", "Delete", "Parse", "Encode", "Decode",
    "Get", "Put", "Merge", "Split", "Sort", "Hash", "Lookup", "Batch",
)
# Shape of every date/package dir. Only the content depends on the seed,
# so every seed gives the same number of files, lines and fact rows.
PRESENT_SHARE = 0.85  # tests with a result in a given date/package dir
NOISE_EVERY = 10  # one noise line after every this many metric lines
NOISE = (
    "PASS",
    "goos: linux",
    "goarch: amd64",
    "--- FAIL: BenchmarkBroken",
    "BenchmarkFlaky-8 \t FAIL \t 12 ns/op",
    "testing: warning: no tests to run",
)


def _go_float(x: float) -> str:
    """Go json.Marshal rendering of a float64 in the positional window:
    shortest round-trip digits, integral values without '.0'."""
    return str(int(x)) if x == int(x) else repr(x)


def write_bench_tree(
    root: str,
    seed: int,
    n_dates: int,
    tests_per_pkg: int,
    dup_share: float = 0.1,
) -> dict:
    """Write a seeded benchSamples tree under ``root`` and return its
    ground truth:

    - ``docs``: {(package, test): serving JSON document}
    - ``catalog``: the ``test_names.json`` document
    - ``series``: {(package, test): {date_dir: (N, A, B, M)}}
    - ``lww``: [(package, test, date_dir, N)] for every key written more
      than once; N is the value of the winning (last) occurrence
    - ``files``/``lines``: bench files and lines written inside the
      whitelisted date/package dirs

    Pruning is exercised by non-date dirs, a non-whitelisted package, a
    file that does not match ``*test.stdout*`` and files sitting directly
    under ``cockroach/``; none of them may reach the fact table.
    """
    rng = random.Random(seed)
    if os.path.isdir(root):
        shutil.rmtree(root)
    day0 = dt.date(2016, 1, 1) + dt.timedelta(days=rng.randrange(0, 365))
    dates = [(day0 + dt.timedelta(days=i)).strftime("%d-%m-%Y") for i in range(n_dates)]
    tests = {}
    for pkg in PACKAGES:
        names: set[str] = set()
        while len(names) < tests_per_pkg:
            names.add(f"Benchmark{rng.choice(TEST_STEMS)}{rng.randrange(1, 10_000)}"
                      f"-{rng.choice((8, 16))}")
        tests[pkg] = sorted(names)
    n_present = max(1, round(PRESENT_SHARE * tests_per_pkg))
    n_dups = max(1, round(dup_share * n_present)) if dup_share > 0 else 0
    # occurrence order per key: (file name, line index) -> last one wins
    winners: dict[tuple[str, str, str], tuple[tuple[str, int], tuple]] = {}
    seen_twice: set[tuple[str, str, str]] = set()
    n_files = n_lines = 0

    def metric_line(test: str) -> tuple[str, tuple]:
        n = rng.randrange(50, 5_000_000)
        fields = [test, str(rng.randrange(1, 100_000)), f"{n} ns/op"]
        m = b = a = 0
        if rng.random() < 0.3:
            m = round(rng.uniform(1.0, 900.0), 2)
            fields.append(f"{m:.2f} MB/s")
        if rng.random() < 0.8:
            b, a = rng.randrange(0, 200_000), rng.randrange(0, 3_000)
            fields += [f"{b} B/op", f"{a} allocs/op"]
        return " \t ".join(fields), (n, a, b, float(m))

    for i, (date, pkg) in enumerate((d, p) for d in dates for p in PACKAGES):
        present = sorted(rng.sample(tests[pkg], n_present))
        dups = set(rng.sample(present, n_dups))
        n_out = 1 + i % 3  # 1-3 files per package dir, the same count for every seed
        outs: dict[str, list[str]] = {f"run{k}.test.stdout": ["goos: linux"] for k in range(n_out)}
        names = sorted(outs)
        n_metric = 0
        for test in present:
            for _ in range(2 if test in dups else 1):
                fname = rng.choice(names)
                line, vals = metric_line(test)
                outs[fname].append(line)
                n_metric += 1
                if n_metric % NOISE_EVERY == 0:
                    outs[fname].append(rng.choice(NOISE))
                key = (pkg, test, date)
                pos = (fname, len(outs[fname]) - 1)
                if key in winners:
                    seen_twice.add(key)
                    if pos < winners[key][0]:
                        continue
                winners[key] = (pos, vals)
        d = os.path.join(root, date, "cockroach", pkg)
        os.makedirs(d, exist_ok=True)
        for fname, lines in outs.items():
            lines.append(f"ok  \t{pkg}\t{rng.uniform(0.5, 9):.3f}s")
            with open(os.path.join(d, fname), "w") as fh:
                fh.write("\n".join(lines) + "\n")
            n_files += 1
            n_lines += len(lines) + 1
    # inputs the scanner must skip
    decoys = [
        os.path.join(root, "latest", "cockroach", "sql", "run0.test.stdout"),
        os.path.join(root, "notes-2016", "cockroach", "kv", "run0.test.stdout"),
        os.path.join(root, dates[0], "cockroach", "util/other", "run0.test.stdout"),
        os.path.join(root, dates[0], "cockroach", "sql", "build.log"),
        os.path.join(root, dates[0], "cockroach", "stray.test.stdout"),
    ]
    for path in decoys:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write("BenchmarkDecoy-8 \t 10 \t 999 ns/op\n")

    series: dict[tuple[str, str], dict[str, tuple]] = {}
    for (pkg, test, date), (_, vals) in winners.items():
        series.setdefault((pkg, test), {})[date] = vals
    docs = {
        key: "{" + ",".join(sorted(
            f'"{date}":{{"N":{n},"A":{a},"B":{b},"M":{_go_float(m)}}}'
            for date, (n, a, b, m) in by_date.items()
        )) + "}"
        for key, by_date in series.items()
    }
    by_pkg: dict[str, list[str]] = {}
    for pkg, test in series:
        by_pkg.setdefault(pkg, []).append(test)
    catalog = "{" + ",".join(sorted(
        f'"{pkg}":' + json.dumps(sorted(ts), separators=(",", ":"))
        for pkg, ts in by_pkg.items()
    )) + "}"
    lww = sorted((p, t, d, winners[(p, t, d)][1][0]) for p, t, d in seen_twice)
    return {
        "docs": docs,
        "catalog": catalog,
        "series": series,
        "lww": lww,
        "files": n_files,
        "lines": n_lines,
    }
