"""A/B the §2.6 subtree-construction overlap width (guide §1).

The r15 driver run measured curation_mixture_report_multimodal at
24.0 s on 32 cores vs 9.8 s on 8 cores (scaling ratio 0.41) — the one
non-noise regression of the round — and VERDICT r15 #1 names the
overlap thread pools as the prime suspect: the multimodal curation
chain nests a width-2 pool over a width-3 pool, so up to 5 threads
submit eager materialization jobs concurrently against AQE on a
32-way local scheduler.

This harness times the overlap-consuming queries cold (bench
discipline: clear_caches before every row, noop sink) under three
widths of ``SPARK_GRAFT_OVERLAP_WORKERS``:

  full    64 — wider than any pool, so every pool runs at its subtree
          count (the r15 shape)
  w1      1 — fully serial construction
  w2      2 — pools capped at two in-flight subtrees (the default)

alternating arms within one session so JVM/GC state is shared.

Usage: SPARK_GRAFT_CPUS=32 python scripts/opt_ab_overlap.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchviz_spark.caching import clear_caches  # noqa: E402
from benchviz_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

ARMS = {"full": "64", "w1": "1", "w2": "2"}


def main() -> None:
    from benchviz_spark.operators import curation as C
    from benchviz_spark.operators import decontam as X
    from benchviz_spark.operators import dedup as D

    queries = {
        "mm_clusters": lambda s: D.dedup_multimodal_clusters(s, SF_DIR),
        "mixture_mm": lambda s: C.curation_mixture_report_multimodal(s, SF_DIR),
        "flag_matrix": lambda s: X.decontam_flag_matrix(s, SF_DIR),
        "cluster_splits": lambda s: C.curation_cluster_splits(s, SF_DIR),
    }

    spark = get_spark("opt_ab_overlap")
    # Warm whole-stage-codegen JIT with a representative heavy query so
    # the first timed row is not charged one-time JIT (OPTIMIZATION §8).
    from benchviz_spark.operators.dedup import dedup_image_phash_pairs

    dedup_image_phash_pairs(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    clear_caches()

    results: dict[str, list[float]] = {}
    for rep in range(3):
        for arm, env in ARMS.items():
            os.environ["SPARK_GRAFT_OVERLAP_WORKERS"] = env
            for qname, fn in queries.items():
                label = f"{arm}/{qname}"
                clear_caches()
                spark.catalog.clearCache()
                spark._jvm.System.gc()
                spark.sparkContext.setJobDescription(label)
                t0 = time.perf_counter()
                fn(spark).write.format("noop").mode("overwrite").save()
                sec = round(time.perf_counter() - t0, 3)
                spark.sparkContext.setJobDescription(None)
                results.setdefault(label, []).append(sec)
                print(f"rep{rep} {label:28s} {sec:7.3f}s", file=sys.stderr)
    os.environ.pop("SPARK_GRAFT_OVERLAP_WORKERS", None)

    print("\n== medians ==")
    meds = {}
    for label, secs in sorted(results.items()):
        med = sorted(secs)[len(secs) // 2]
        meds[label] = med
        print(f"{label:28s} med {med:7.3f}  {['%.2f' % s for s in secs]}")
    print(json.dumps(meds))


if __name__ == "__main__":
    main()
