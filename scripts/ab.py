"""A/B registered queries across configuration arms, one fresh JVM per run.

An arm is a name and KEY=VAL assignments: ``spark.*`` keys go to
``get_spark(extra_conf=...)``, every other key goes to the child's
environment. Each round runs every arm once in its own process, and the
arm order alternates by round (ABBA...) so slow host drift cancels.
Inside a run each query is timed cold: the Spark and session memo
caches are cleared and the query is forced through a noop sink, after
one untimed warm-up scan.

For each query the report gives every arm's median and quartiles of
the wall, and for each later arm its per-round wins against the first
(lower wall wins; ties count for neither side). A single arm is timed
alone, with no wins: to time one checkout against another, run one arm
in each checkout.

Run:  python scripts/ab.py --rounds 4 --queries q1_pricing_summary q9_... \\
          --arm base --arm smj spark.sql.join.preferSortMergeJoin=false \\
          --arm w1 SPARK_GRAFT_OVERLAP_WORKERS=1
The sf dir is $SPARK_GRAFT_SF_DIR (default: the sf0.1 snapshot).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def parse_arm(tokens: list[str]) -> tuple[str, dict[str, str], dict[str, str]]:
    """``[NAME, KEY=VAL, ...]`` -> (name, spark conf, environment)."""
    name, conf, env = tokens[0], {}, {}
    for tok in tokens[1:]:
        key, sep, val = tok.partition("=")
        if not sep or not key:
            raise SystemExit(f"arm {name}: expected KEY=VAL, got {tok!r}")
        (conf if key.startswith("spark.") else env)[key] = val
    return name, conf, env


def parse_arms(groups: list[list[str]]) -> list[tuple[str, dict[str, str], dict[str, str]]]:
    """Every ``--arm`` group parsed; arm names must be distinct."""
    arms = [parse_arm(g) for g in groups]
    if len({a[0] for a in arms}) != len(arms):
        raise SystemExit("arm names must be distinct")
    return arms


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method; one sample is all three."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def wins(a: list[float], b: list[float]) -> tuple[int, int]:
    """(rounds B beat A, rounds A beat B) over paired walls; ties count
    for neither side."""
    return sum(y < x for x, y in zip(a, b)), sum(x < y for x, y in zip(a, b))


def report(walls: dict[str, dict[str, list[float]]]) -> dict:
    """{query: {arm: {q1, median, q3, walls[, wins, losses]}}}, each later
    arm compared against the first."""
    arms = list(walls)
    out = {}
    for query in walls[arms[0]]:
        a = walls[arms[0]][query]
        out[query] = {}
        for arm in arms:
            xs = walls[arm][query]
            q1, med, q3 = quartiles(xs)
            row = {"q1": q1, "median": med, "q3": q3, "walls": xs}
            if arm != arms[0]:
                row["wins"], row["losses"] = wins(a, xs)
            out[query][arm] = row
    return out


def child(conf: dict[str, str], sf_dir: str, names: list[str]) -> None:
    """Time ``names`` cold in this process's session; print one JSON line."""
    from benchviz_spark.registry import all_queries
    from benchviz_spark.session import get_spark
    from scale_tiers import time_cold

    queries = all_queries()
    spark = get_spark("ab", extra_conf=conf)
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    out = {n: round(time_cold(spark, queries, n, sf_dir), 3) for n in names}
    print(json.dumps(out))


def main() -> None:
    if sys.argv[1:2] == ["--child"]:
        conf, sf_dir, *names = sys.argv[2:]
        child(json.loads(conf), sf_dir, names)
        return
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--arm", nargs="+", action="append", required=True,
                    metavar=("NAME", "KEY=VAL"), help="repeat once per arm")
    ap.add_argument("--queries", nargs="+", required=True)
    ap.add_argument("--rounds", type=int, default=4)
    args = ap.parse_args()
    arms = parse_arms(args.arm)
    from benchviz_spark.registry import all_queries
    from benchviz_spark.sources.tables import DEFAULT_SF_DIR

    unknown = sorted(set(args.queries) - set(all_queries()))
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    walls = {name: {q: [] for q in args.queries} for name, _, _ in arms}
    for rnd in range(args.rounds):
        for name, conf, env in arms if rnd % 2 == 0 else arms[::-1]:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child",
                 json.dumps(conf), DEFAULT_SF_DIR, *args.queries],
                env={**os.environ, **env}, stdout=subprocess.PIPE, text=True,
                check=True,
            )
            for q, sec in json.loads(proc.stdout.strip().splitlines()[-1]).items():
                walls[name][q].append(sec)
            print(f"round {rnd} {name}: done", file=sys.stderr)
    rep = report(walls)
    base = arms[0][0]
    for query, per_arm in rep.items():
        for arm, row in per_arm.items():
            vs = "" if arm == base else (
                f"  wins vs {base} {row['wins']}/{args.rounds}"
                f" (losses {row['losses']})")
            print(f"{query:40s} {arm:12s} median {row['median']:8.3f}"
                  f"  [{row['q1']:.3f}, {row['q3']:.3f}]{vs}")
    print(json.dumps(rep, sort_keys=True))


if __name__ == "__main__":
    main()
