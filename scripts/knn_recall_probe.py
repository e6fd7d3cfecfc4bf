"""10x RECALL probe for the ANN tier (VERDICT r10 #7).

The committed sf3x/sf1x records prove the adaptive-bit k-NN graph and
the IVF probe scale near-linearly in WALL time — but a bucketing that
degrades into near-empty candidate sets would also look fast. This
probe measures what the speed claim is worth: recall against the exact
brute-force truth at the 10x tier, committed beside the timing records
and asserted against the sf0.01 pytest bounds by the scale guard
(tests/test_scale_guard.py::test_ann_recall_record_meets_bounds).

- similarity_knn_graph on .scale_probe/sf1x (20k rotated-replica
  vectors, the corpus of the timing record): recall@K_GRAPH over the
  sampled sources vec_id < 50 vs exact top-K_GRAPH.
- similarity_ann_ivf_topk on the same 10x tier: recall@TOP_K over its
  own query set (vec_id < N_QUERIES) vs exact.

The tier is built from sf0.1 by scripts/scale_tiers.py if it is missing
or stale.

Run:  SPARK_DRIVER_MEMORY=32g python scripts/knn_recall_probe.py
(writes .benchmarks/knn_recall_sf1x.json)
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SAMPLE_SRC = 50  # knn-graph truth sample: sources vec_id < 50

# the floors the committed 10x record must meet or beat — the knn
# floor is the VERDICT r11 #2 done-criterion (>= 0.6 at the 10x tier
# under the r12 Hamming-2 multi-probe scheme; sweep measured 0.74),
# the IVF floor is its sf0.01 pytest bound
# (tests/test_similarity.py::test_ivf_recall)
PYTEST_BOUND_KNN = 0.6
PYTEST_BOUND_IVF = 0.25


def exact_topk(con, parquet: str, src_filter: str, k: int) -> dict[int, set]:
    rows = con.execute(
        f"""
        WITH e AS (SELECT * FROM read_parquet('{parquet}')),
        s AS (
          SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
                 list_sum(list_transform(range(1, len(a.embedding)+1),
                   i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) AS dot
          FROM e a JOIN e b ON a.vec_id <> b.vec_id
          WHERE {src_filter}
        )
        SELECT src_id, nbr_id FROM (
          SELECT src_id, nbr_id,
                 row_number() OVER (PARTITION BY src_id
                                    ORDER BY dot DESC, nbr_id) rn
          FROM s
        ) WHERE rn <= {k}
        """
    ).fetchall()
    out: dict[int, set] = {}
    for s, n in rows:
        out.setdefault(s, set()).add(n)
    return out


def recall(true_sets: dict[int, set], got_sets: dict[int, set]) -> float:
    hits = sum(len(v & got_sets.get(s, set())) for s, v in true_sets.items())
    total = sum(len(v) for v in true_sets.values())
    return round(hits / total, 4)


def main() -> None:
    import duckdb

    from benchviz_spark.operators.similarity import (
        K_GRAPH,
        N_QUERIES,
        TOP_K,
    )
    from benchviz_spark.registry import all_queries
    from benchviz_spark.session import get_spark
    from scale_tiers import build_tiers

    spark = get_spark("knn_recall_probe")
    sf1x = build_tiers(spark, tiers=("sf1x",))["sf1x"]
    queries = all_queries()
    con = duckdb.connect()

    # --- knn graph on the rotated-replica 10x corpus -----------------
    g = queries["similarity_knn_graph"](spark, sf1x)
    got_g: dict[int, set] = {}
    for r in g.filter(f"src_id < {SAMPLE_SRC}").collect():
        got_g.setdefault(r.src_id, set()).add(r.nbr_id)
    pq = os.path.join(sf1x, "embeddings.parquet")
    true_g = exact_topk(con, pq, f"a.vec_id < {SAMPLE_SRC}", K_GRAPH)
    r_g = recall(true_g, got_g)
    n_vectors = con.execute(f"SELECT count(*) FROM read_parquet('{pq}')").fetchone()[0]

    # --- IVF top-k on the full 10x corpus ----------------------------
    # truth = the registered exact query (same cosine ranking contract
    # the sf0.01 pytest bound uses), run on the same 10x corpus
    ivf = queries["similarity_ann_ivf_topk"](spark, sf1x)
    got_i: dict[int, set] = {}
    for r in ivf.collect():
        got_i.setdefault(r.query_id, set()).add(r.neighbor_id)
    true_i: dict[int, set] = {}
    for r in queries["similarity_exact_topk"](spark, sf1x).collect():
        true_i.setdefault(r.query_id, set()).add(r.neighbor_id)
    r_i = recall(true_i, got_i)

    rec = {
        "note": (
            "10x recall beside the 10x/30x timing records: the "
            "adaptive-bit and IVF speed claims carry a measured recall "
            "at scale, not just a wall ratio. Bounds are the sf0.01 "
            "pytest floors; the scale guard asserts the record meets them."
        ),
        "similarity_knn_graph": {
            "corpus": ".scale_probe/sf1x",
            "n_vectors": n_vectors,
            "sampled_sources": SAMPLE_SRC,
            "recall_at_k": r_g,
            "k": K_GRAPH,
            "pytest_bound": PYTEST_BOUND_KNN,
        },
        "similarity_ann_ivf_topk": {
            "corpus": ".scale_probe/sf1x",
            "n_vectors": n_vectors,
            "sampled_sources": N_QUERIES,
            "recall_at_k": r_i,
            "k": TOP_K,
            "pytest_bound": PYTEST_BOUND_IVF,
        },
    }
    out = os.path.join(REPO, ".benchmarks", "knn_recall_sf1x.json")
    with open(out, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(rec, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
