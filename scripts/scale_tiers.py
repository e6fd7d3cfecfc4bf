"""Scale tiers: build 10x and 30x replicas of the sf0.1 tables and time a
query family at sf0.1 / sf1x / sf3x in one Spark session.

The tiers are built once under .scale_probe/{sf1x,sf3x}/ (gitignored)
from the sf0.1 snapshot alone — no synthetic rows, only key-shifted
replicas, so entity counts grow the way a real larger corpus would:

- every key column shifts by replica * stride (orders/lineitem share the
  order stride; lineitem's part/supp keys shift with part/supplier), so
  users, customers and documents multiply rather than grow denser;
- replicas r > 0 rotate document text and embedding vectors by r
  positions: same length, language stats and norm, but disjoint
  shingles and near-orthogonal vectors, so dedup and ANN tiers see an
  honestly scaled space instead of N exact copies (which would grow
  pair counts quadratically by construction);
- dimension tables (region, nation) are copied unchanged.

Every table is written as ONE file named <table>.parquet, like the
snapshots: the streaming source's pathGlobFilter matches leaf file
names, so a directory-shaped events.parquet would stream zero rows.
A tier directory also holds tier.json (base, replicas and the recipe);
a tier whose tier.json is missing or differs is rebuilt, so a tier
built from another base or by an older recipe is never reused.

The base is always the sf0.1 snapshot (BASE), for every caller. Each
family query runs once untimed at the base first, so JIT and codegen
warm-up does not land in the sf0.1 denominator. Then each query is
timed cold (Spark and session memo caches cleared, noop sink), and the
r10/r30 ratios come from unrounded walls: a fast row rounds to 0.0 and
would divide by zero or inflate the ratio. The knn family takes the
min of two walls per tier: its re-rank's single walls vary up to 3x.

Run:  SPARK_DRIVER_MEMORY=32g python scripts/scale_tiers.py FAMILY
          prints one bench_sf3x_<family>.json-shaped record
      python scripts/scale_tiers.py --sf1x NAME [NAME ...]
          merges each query's sf1x wall and same-session sf0.1 -> sf1x
          ratio into .benchmarks/bench_sf1x_full.json
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = "/root/testdata/sf0.1"
PROBE_ROOT = os.path.join(REPO, ".scale_probe")
MANIFEST = "tier.json"
SF1X_RECORD = os.path.join(REPO, ".benchmarks", "bench_sf1x_full.json")
TIER_REPLICAS = {"sf1x": 10, "sf3x": 30}

# table -> {key column: per-replica stride}; an empty dict is a fixed
# dimension, copied once.
KEYED = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": 10_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "part": {"p_partkey": 10_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "lineitem": {
        "l_orderkey": 100_000_000,
        "l_partkey": 10_000_000,
        "l_suppkey": 1_000_000,
    },
    "events": {"event_id": 1_000_000_000, "user_id": 10_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}

# table -> (column, rotation by r positions as SQL; {s} is r + 1).
ROTATED = {
    "documents": ("text", "concat(substr(text, {s}), substr(text, 1, {r}))"),
    "embeddings": (
        "embedding",
        "concat(slice(embedding, {s}, size(embedding) - {r}),"
        " slice(embedding, 1, {r}))",
    ),
}

# family -> timed walls per (query, tier), the min is kept; default 1.
REPEATS = {"knn": 2}

# family -> the queries it times, in order.
FAMILIES = {
    "curation": (
        "curation_pipeline",
        "curation_cluster_splits",
        "curation_split_leakage",
    ),
    "decontam": (
        "decontam_eval_overlap",
        "decontam_substring_hits_strided",
        "decontam_clean_corpus_strict",
        "curation_pipeline",
        "curation_mixture_report",
    ),
    "dedup": (
        "dedup_ngram_jaccard_pairs",
        "dedup_minhash_lsh_pairs",
        "dedup_duplicate_clusters",
        "dedup_cluster_representatives",
    ),
    "events": (
        "events_session_stats",
        "events_gap_filled_hourly",
        "events_interpolated_hourly",
        "events_scd2_tier_intervals",
    ),
    "knn": ("similarity_knn_graph",),
    "multimodal": (
        "dedup_image_dhash_fingerprints",
        "dedup_image_phash_pairs",
        "multimodal_decode_dims",
        "multimodal_resize_stats",
    ),
    "relational": (
        "q1_pricing_summary",
        "q9_product_profit_by_nation_year",
        "q21_waiting_suppliers",
        "graph_pagerank_trade_nations",
        "graph_triangle_suppliers",
    ),
    "retrieval": (
        "similarity_pq_adc_topk",
        "similarity_pq_reconstruction_error",
        "similarity_hybrid_rrf_topk",
        "sample_importance_dsir",
    ),
    "text": (
        "text_bpe_merge_pairs",
        "text_bpe_merges_iter3",
        "text_bpe_tokenize_docs",
        "curation_token_budget",
        "text_tfidf_top_terms",
    ),
}


def replicate(df, table: str, replicas: int):
    """``replicas`` key-shifted copies of ``df`` (rows of ``table``),
    rotated for r > 0; replica 0 is ``df`` itself."""
    from pyspark.sql import functions as F

    rotated = ROTATED.get(table)
    out = df
    for r in range(1, replicas):
        rep = df
        for col, stride in KEYED[table].items():
            rep = rep.withColumn(col, F.col(col) + F.lit(r * stride))
        if rotated:
            col, sql = rotated
            rep = rep.withColumn(col, F.expr(sql.format(r=r, s=r + 1)))
        out = out.unionByName(rep)
    return out


def write_single(df, out: str) -> None:
    """Write ``df`` as the single parquet file ``out``."""
    tmp = out + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.replace(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], out)
    shutil.rmtree(tmp)


def build_tier(spark, base: str, out: str, replicas: int) -> list[str]:
    """Write every missing ``<table>.parquet`` of the ``replicas``-x tier
    of ``base`` under ``out``; returns the tables written. Every table of
    a tier whose tier.json names another base, replica count or recipe
    is rewritten."""
    from benchviz_spark.caching import clear_caches

    manifest = json.loads(json.dumps({
        "base": os.path.abspath(base), "replicas": replicas,
        "keyed": KEYED, "rotated": ROTATED,
    }))
    mpath = os.path.join(out, MANIFEST)
    try:
        with open(mpath) as fh:
            stale = json.load(fh) != manifest
    except FileNotFoundError:
        stale = True
    built = []
    for table, strides in KEYED.items():
        path = os.path.join(out, f"{table}.parquet")
        if os.path.isfile(path) and not stale:
            continue
        if not built:
            # the snapshot under ``out`` is about to change: memoized
            # relations keyed by it would serve the old rows
            clear_caches()
            os.makedirs(out, exist_ok=True)
            with open(mpath, "w") as fh:
                json.dump(manifest, fh, indent=1, sort_keys=True)
        df = spark.read.parquet(os.path.join(base, f"{table}.parquet"))
        write_single(replicate(df, table, replicas) if strides else df, path)
        built.append(table)
        print(f"built {path}", file=sys.stderr)
    return built


def build_tiers(spark, tiers=TIER_REPLICAS) -> dict[str, str]:
    """Build the named tiers of BASE; returns {tier: dir}, "sf0.1" first."""
    dirs = {"sf0.1": BASE}
    for tier in tiers:
        dirs[tier] = os.path.join(PROBE_ROOT, tier)
        build_tier(spark, BASE, dirs[tier], TIER_REPLICAS[tier])
    return dirs


def time_cold(spark, queries, name: str, sf_dir: str) -> float:
    """Wall of one cold noop-sink evaluation of ``name`` at ``sf_dir``."""
    from benchviz_spark.caching import clear_caches

    spark.catalog.clearCache()
    clear_caches()
    t0 = time.perf_counter()
    queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    sec = time.perf_counter() - t0
    print(f"{os.path.basename(sf_dir)} {name}: {sec:.2f}s", file=sys.stderr)
    return sec


def run_family(spark, queries, family: str) -> dict:
    dirs = build_tiers(spark)
    base_tier = next(iter(dirs))
    raw = {n: {} for n in FAMILIES[family]}
    for name in raw:  # untimed warm-up at the base
        time_cold(spark, queries, name, BASE)
    for tier, sf_dir in dirs.items():
        for name in raw:
            raw[name][tier] = min(
                time_cold(spark, queries, name, sf_dir)
                for _ in range(REPEATS.get(family, 1))
            )
    rows = {}
    for name, walls in raw.items():
        den = max(walls[base_tier], 1e-3)
        rows[name] = {t: round(s, 2) for t, s in walls.items()}
        rows[name]["r10"] = round(walls["sf1x"] / den, 2)
        rows[name]["r30"] = round(walls["sf3x"] / den, 2)
    return {
        "base": BASE,
        "corpus": ".scale_probe/{sf1x,sf3x} (10/30 key-shifted replicas; "
        "text and vectors rotated for r > 0)",
        "heap": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "note": f"{family} family, cold per-query rows (session memo caches "
        "cleared before each timing) after one untimed base pass, tiers in "
        f"one session, min of {REPEATS.get(family, 1)} wall(s) per tier",
        "queries": rows,
        "replicas": TIER_REPLICAS["sf3x"],
    }


def merge_sf1x(spark, queries, names: list[str]) -> dict:
    dirs = build_tiers(spark, tiers=("sf1x",))
    for n in names:  # untimed warm-up at the base
        time_cold(spark, queries, n, BASE)
    base_sec = {n: time_cold(spark, queries, n, BASE) for n in names}
    sf1x_sec = {n: time_cold(spark, queries, n, dirs["sf1x"]) for n in names}
    with open(SF1X_RECORD) as fh:
        rec = json.load(fh)
    for n in names:
        rec["queries"][n] = round(sf1x_sec[n], 2)
        rec["same_session_ratios"][n] = round(sf1x_sec[n] / max(base_sec[n], 1e-3), 2)
    rec["n_queries"] = len(rec["queries"])
    with open(SF1X_RECORD, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return {n: rec["same_session_ratios"][n] for n in names}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    what = ap.add_mutually_exclusive_group(required=True)
    what.add_argument("family", nargs="?", choices=sorted(FAMILIES))
    what.add_argument("--sf1x", nargs="+", metavar="NAME")
    args = ap.parse_args()

    from benchviz_spark.registry import all_queries
    from benchviz_spark.session import get_spark

    queries = all_queries()
    unknown = [n for n in args.sf1x or () if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("scale_tiers")
    spark.read.parquet(os.path.join(BASE, "documents.parquet")).count()
    if args.sf1x:
        out = merge_sf1x(spark, queries, args.sf1x)
    else:
        out = run_family(spark, queries, args.family)
    print(json.dumps(out, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
