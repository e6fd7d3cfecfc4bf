"""Measure the OPT-IN high-recall knn profile at the 10x tier (r13).

SCALE.md's r13 decision adopts the 0.74-recall Hamming-2 pair window
behind SPARK_GRAFT_KNN_PROFILE=high_recall; this probe turns the
r12 sweep's number into a committed, reproducible record under the
shipped code: recall@K_GRAPH and wall for BOTH profiles, same corpus
(.scale_probe/sf1x), same session discipline as knn_recall_probe.py.

The profile is read at module import, so each profile runs in its own
subprocess; the parent merges the rows into knn_recall_sf1x.json
(key: similarity_knn_graph_high_recall) where the scale guard asserts
the opt-in config actually buys recall over the default.

Run:  SPARK_DRIVER_MEMORY=32g python scripts/knn_profile_probe.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

RECORD = os.path.join(REPO, ".benchmarks", "knn_recall_sf1x.json")
SAMPLE_SRC = 50


def run_one_profile() -> None:
    """Child mode: measure recall+wall for the ACTIVE profile, print one
    JSON line."""
    import duckdb

    from benchviz_spark.operators.similarity import _KNN_PROFILE, K_GRAPH
    from benchviz_spark.registry import all_queries
    from benchviz_spark.session import get_spark
    from knn_recall_probe import exact_topk, recall
    from scale_tiers import build_tiers

    spark = get_spark(f"knn_profile_{_KNN_PROFILE}")
    sf1x = build_tiers(spark, tiers=("sf1x",))["sf1x"]
    fn = all_queries()["similarity_knn_graph"]
    walls = []
    got: dict[int, set] = {}
    for _ in range(2):
        t0 = time.perf_counter()
        g = fn(spark, sf1x)
        rows = g.filter(f"src_id < {SAMPLE_SRC}").collect()
        walls.append(round(time.perf_counter() - t0, 2))
        got = {}
        for r in rows:
            got.setdefault(r.src_id, set()).add(r.nbr_id)
    # FULL-graph wall, bench-comparable (VERDICT r13 #5): the same
    # noop-write evaluation bench.py and scale_tiers.py time, so
    # the profile's true cost is citable against bench_sf3x_knn.json
    # (the filtered walls above only time the 50-source evaluation).
    full_walls = []
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf1x).write.format("noop").mode("overwrite").save()
        full_walls.append(round(time.perf_counter() - t0, 2))
    con = duckdb.connect()
    pq = os.path.join(sf1x, "embeddings.parquet")
    true_g = exact_topk(con, pq, f"a.vec_id < {SAMPLE_SRC}", K_GRAPH)
    print(
        json.dumps(
            {
                "profile": _KNN_PROFILE,
                "recall_at_k": recall(true_g, got),
                "k": K_GRAPH,
                "wall_sec_min_of_2": min(walls),
                "walls": walls,
                "full_graph_wall_sec_min_of_2": min(full_walls),
                "full_graph_walls": full_walls,
            }
        )
    )


def main() -> None:
    if "--child" in sys.argv:
        run_one_profile()
        return
    results = {}
    for profile in ("balanced", "high_recall"):
        env = dict(os.environ, SPARK_GRAFT_KNN_PROFILE=profile)
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child"],
            env=env,
            capture_output=True,
            text=True,
            check=True,
        )
        results[profile] = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"{profile}: {results[profile]}", file=sys.stderr)

    with open(RECORD) as fh:
        rec = json.load(fh)
    base = results["balanced"]
    hi = results["high_recall"]
    rec["similarity_knn_graph_high_recall"] = {
        "corpus": ".scale_probe/sf1x",
        "sampled_sources": SAMPLE_SRC,
        "k": hi["k"],
        "recall_at_k": hi["recall_at_k"],
        "recall_at_k_default_same_session": base["recall_at_k"],
        "wall_ratio_vs_default": round(
            hi["wall_sec_min_of_2"] / max(base["wall_sec_min_of_2"], 1e-3), 2
        ),
        "walls": {"balanced": base["walls"], "high_recall": hi["walls"]},
        # bench-comparable full-graph walls (noop write, the same
        # evaluation bench_sf3x_knn.json times) — VERDICT r13 #5
        "full_graph_wall_sec_min_of_2": {
            "balanced": base["full_graph_wall_sec_min_of_2"],
            "high_recall": hi["full_graph_wall_sec_min_of_2"],
        },
        "full_graph_walls": {
            "balanced": base["full_graph_walls"],
            "high_recall": hi["full_graph_walls"],
        },
        "full_graph_wall_ratio_vs_default": round(
            hi["full_graph_wall_sec_min_of_2"]
            / max(base["full_graph_wall_sec_min_of_2"], 1e-3),
            2,
        ),
        "note": (
            "opt-in SPARK_GRAFT_KNN_PROFILE=high_recall (Hamming-2 pairs "
            "from q1-1 marginal bits): committed proof the knob buys "
            "recall, measured same-corpus/same-session-discipline as the "
            "default's record (r13 decision, SCALE.md); walls[] time the "
            "50-source filtered evaluation, full_graph_walls[] the "
            "bench-comparable noop write of the whole graph"
        ),
    }
    with open(RECORD, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(rec["similarity_knn_graph_high_recall"]))


if __name__ == "__main__":
    main()
