"""Fixed-batch scale probe for curation_incremental_batch (VERDICT r12 #5).

The standard 10x record (bench_sf1x_full.json) scales standing corpus
AND batch together; it bounds the query like every other family but
cannot separate the claim the Bloom bypass exists for: that admission
cost is driven by the BATCH, not by the standing corpus. This probe
holds the batch constant (the 2,500 src10-19 documents of sf0.1) and
scales ONLY the standing corpus (src0-9) 10x — replicas get strided
doc_ids and circularly rotated text (distinct fingerprints and
shingles, same length/language stats: the scale_tiers.py recipe),
and keep their srcN source so they stay on the SEEN side of
_INCR_SEEN_RE.

Expected shape: the batch-sized tiers (bloom probe, batch bands,
batch-batch components, splits) are flat; what grows with the corpus
is building the standing relations (fingerprints, band postings,
shingle store, Bloom bitset). The in-session query builds them in
memory on every call; a production lake materializes them ONCE as a
durable bucketed index (build_admission_index), which the indexed mode
below times separately from the ingest. The record therefore reports
the fixed-batch wall ratio and the output row counts at both tiers;
the honest claim is "corpus-sourced cost = standing build,
batch-sourced cost = flat", not "wall is flat".

Writes .benchmarks/incremental_admission_10x.json (asserted by
tests/test_scale_guard.py).

Run:  python scripts/incremental_admission_probe.py [--rebuild]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scale_tiers import BASE, build_tiers, replicate, write_single  # noqa: E402

PROBE_DIR = os.path.join(REPO, ".scale_probe", "incr10x")
OUT = os.path.join(REPO, ".benchmarks", "incremental_admission_10x.json")
REPLICAS = 10  # standing corpus only


def build_corpus(spark) -> None:
    from pyspark.sql import functions as F

    out = os.path.join(PROBE_DIR, "documents.parquet")
    if os.path.isfile(out):
        return
    os.makedirs(PROBE_DIR, exist_ok=True)
    base = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    standing = F.col("source").rlike("^src[0-9]$")
    reps = replicate(base.filter(standing), "documents", REPLICAS)
    write_single(reps.unionByName(base.filter(~standing)), out)
    print("built incr10x documents", file=sys.stderr)


def main() -> None:
    from benchviz_spark.caching import clear_caches
    from benchviz_spark.registry import all_queries
    from benchviz_spark.session import get_spark

    spark = get_spark("incremental_admission_probe")
    if "--rebuild" in sys.argv and os.path.isdir(PROBE_DIR):
        shutil.rmtree(PROBE_DIR)
    build_corpus(spark)
    fn = all_queries()["curation_incremental_batch"]
    spark.read.parquet(os.path.join(PROBE_DIR, "documents.parquet")).count()

    def run(sf_dir: str) -> tuple[float, int]:
        # cold-row discipline: never time another tier's memoized state
        clear_caches()
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()  # admitted-delta size is part of the record
        return round(time.perf_counter() - t0, 2), n

    base_sec, base_rows = run(BASE)
    print(f"sf0.1 (standing 1x + batch): {base_sec}s, {base_rows} admitted",
          file=sys.stderr)
    probe_sec, probe_rows = run(PROBE_DIR)
    print(f"incr10x (standing 10x + SAME batch): {probe_sec}s, {probe_rows} admitted",
          file=sys.stderr)

    # Indexed mode (VERDICT r13 #2): materialize the durable standing
    # index ONCE per tier (untimed — the one-time epoch cost, recorded
    # separately), then time the per-ingest consume. This is the
    # production shape; the fixed-batch ratio here must land ~1.0.
    from benchviz_spark.operators.curation import (
        build_admission_index,
        incremental_batch_indexed,
    )

    def run_indexed(sf_dir: str, prefix: str) -> tuple[float, float, int]:
        clear_caches()
        t0 = time.perf_counter()
        build_admission_index(spark, sf_dir, prefix=prefix)
        build_sec = round(time.perf_counter() - t0, 2)
        clear_caches()
        t0 = time.perf_counter()
        n = incremental_batch_indexed(spark, sf_dir, prefix=prefix).count()
        return build_sec, round(time.perf_counter() - t0, 2), n

    base_build, base_ing, base_rows_ix = run_indexed(BASE, "admission_p1x")
    print(f"sf0.1 indexed: build {base_build}s, ingest {base_ing}s, "
          f"{base_rows_ix} admitted", file=sys.stderr)
    probe_build, probe_ing, probe_rows_ix = run_indexed(PROBE_DIR, "admission_p10x")
    print(f"incr10x indexed: build {probe_build}s, ingest {probe_ing}s, "
          f"{probe_rows_ix} admitted", file=sys.stderr)

    # VERDICT r14 #6: the bench_sf1x_full.json row for
    # curation_incremental_batch_indexed bundles epoch build + admit in
    # one wall. Split them at the SCALED-TOGETHER tier (.scale_probe/
    # sf1x: standing corpus AND batch x10 — the same corpus that bench
    # row times) so the amortization claim is directly citable: the
    # once-per-epoch build share of the bundled wall vs the per-ingest
    # admit share.
    sf1x_dir = build_tiers(spark, tiers=("sf1x",))["sf1x"]
    s1x_build, s1x_admit, s1x_rows = run_indexed(sf1x_dir, "admission_s1x")
    print(f"sf1x indexed (corpus AND batch x10): build {s1x_build}s, "
          f"ingest {s1x_admit}s, {s1x_rows} admitted", file=sys.stderr)
    split_sf1x = {
        "build_sec": s1x_build,
        "admit_sec": s1x_admit,
        "admitted_rows": s1x_rows,
        "note": (
            "the bench_sf1x_full.json tier (corpus AND batch x10); "
            "that record's bundled query wall = this build + admit"
        ),
    }
    try:
        with open("/proc/loadavg") as fh:
            loadavg = [float(x) for x in fh.read().split()[:3]]
    except OSError:
        loadavg = None
    record = {
        "claim": (
            "admission cost is batch-driven: standing corpus x10 with the "
            "batch HELD CONSTANT (2,500 docs) must not scale the wall by "
            "anywhere near x10 — the corpus-sourced residual is the "
            "in-session rebuild of the standing band/Bloom indexes, which "
            "production materializes once as a durable bucketed index"
        ),
        "standing_docs": {"sf0.1": 2500, "incr10x": 25000},
        "batch_docs": 2500,
        "wall_sec": {"sf0.1": base_sec, "incr10x": probe_sec},
        "fixed_batch_ratio": round(probe_sec / max(base_sec, 1e-3), 2),
        "admitted_rows": {"sf0.1": base_rows, "incr10x": probe_rows},
        # durable-index mode: build once per epoch (its wall recorded,
        # NOT part of the ingest ratio), ingest timed alone
        "index_build_sec": {"sf0.1": base_build, "incr10x": probe_build},
        "wall_sec_indexed": {"sf0.1": base_ing, "incr10x": probe_ing},
        "fixed_batch_ratio_indexed": round(probe_ing / max(base_ing, 1e-3), 2),
        "admitted_rows_indexed": {"sf0.1": base_rows_ix, "incr10x": probe_rows_ix},
        # VERDICT r14 #6: build vs admit at the scaled-together 10x tier
        "split_sf1x": split_sf1x,
        "loadavg": loadavg,
    }
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({"fixed_batch_ratio": record["fixed_batch_ratio"],
                      "fixed_batch_ratio_indexed":
                          record["fixed_batch_ratio_indexed"],
                      "out": OUT}))


if __name__ == "__main__":
    main()
