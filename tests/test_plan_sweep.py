"""Registry-wide plan sweep (VERDICT r4 #6): every registered query's
plan is checked for the three 100-TB killers the per-query assertions
in test_plans.py catch only for the operators they name —

1. an UNPARTITIONED WindowExec (one task sorts an SF-scaled stream;
   the r3 stats_zipf_fit mistake),
2. a CartesianProduct (all-pairs blowup),
3. a broadcast HINT whose subtree reads an SF-scaled table (forced
   broadcast of something that grows with the corpus; the r1 customer
   mistake, re-caught on q16's excluded-supplier set by this sweep).

Each rule carries an explicit allow-list for the documented bounded
exceptions, with the boundedness argument inline — a future operator
that reintroduces one of these shapes fails here with a pointer
instead of shipping a scale regression.

Runs at sf0.001: plan shape is SF-independent.
"""

from __future__ import annotations

import pytest

from benchviz_spark.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"

# Marker column -> source table: logical plans don't print file paths,
# but attribute names identify which base relation a subtree reads.
_TABLE_MARKERS = {
    "customer": "c_custkey#",
    "supplier": "s_suppkey#",
    "part": "p_partkey#",
    "orders": "o_orderkey#",
    "lineitem": "l_orderkey#",
    "events": "event_id#",
    "documents": "doc_id#",
    "embeddings": "vec_id#",
}

# Broadcast hints whose subtree reads an SF-scaled table but whose
# OUTPUT is provably bounded (the thing actually broadcast is a scalar,
# a fixed-k sample, or a fixed-size aggregate — not the table).
_ALLOWED_HINTS: dict[str, set[str]] = {
    # 1-row aggregate scalars
    "q11_nation_balance_concentration": {"supplier"},  # sum(s_acctbal)*0.04
    "q15_top_revenue_supplier": {"lineitem"},  # max(total_revenue)
    "q22_idle_rich_customers": {"customer"},  # avg(c_acctbal)
    "stats_winsorized_prices": {"orders"},  # 1-row p05/p95 cuts
    "stats_source_term_divergence": {"documents"},  # 1-row corpus total
    "text_tfidf_top_terms": {"documents"},  # 1-row n_docs scalar
    "text_unigram_logprob": {"documents"},  # 1-row token total
    "layout_zorder_events": {"events"},  # 1-row min/max bounds
    "join_bloom_prefilter_building": {"customer"},  # 1-row fixed-size bitset map
    "basket_part_pair_lift": {"lineitem"},  # 1-row order-count scalar
    "dedup_incremental_new_docs": {"documents"},  # 1-row fixed-size bitset map
    # 1-row per-round argmax pair (TakeOrdered(1) over vocab-bounded
    # pair counts) spread into the next merge round — never the corpus
    "text_bpe_merges_iter3": {"documents"},
    "text_bpe_tokenize_docs": {"documents"},  # same 1-row argmax spreads
    "curation_token_budget": {"documents"},  # argmax spreads + 1-row totals
    # fixed-size aggregates / caps
    "sample_temperature_mix": {"documents"},  # per-source rates (sources bounded)
    "stats_chi2_segment_type": {"customer", "events"},  # segment x type marginals
    "graph_triangle_suppliers": {"lineitem"},  # TakeOrdered M-edge cap
    "sketch_heavy_hitter_terms": {"documents"},  # depth x width CMS counters
    "sketch_user_overlap": {"events"},  # 1-row HLL-estimate scalars
    "stats_value_psi": {"events"},  # 1-row midpoint-epoch scalar
    # BM25: the broadcast sides are the per-QUERY-TERM df relation
    # (<= |BM25_QUERIES| * terms rows — bounded by the fixed query
    # set, not the corpus; it aggregates postings already semi-joined
    # to the broadcast term list) and the 1-row avgdl/n_docs scalar.
    "text_bm25_topk": {"documents"},
    # fixed query-vector samples (bounded by query count, not corpus).
    # For the LSH path the bound is STRUCTURAL: both broadcast sides
    # carry an explicit vec_id < N_QUERIES filter (asserted with
    # constraint propagation disabled in tests/test_plans.py).
    "similarity_exact_topk": {"embeddings"},
    "similarity_range_search": {"embeddings"},  # vec_id < N_QUERIES probe set
    "similarity_ann_lsh_topk": {"embeddings"},
    "similarity_ann_ivf_topk": {"embeddings"},  # query probes + fixed k centroids
    "similarity_ann_ivf_topk_iter2": {"embeddings"},  # same shape, 2 Lloyd iters
    "similarity_knn_graph": {"embeddings"},  # 1-row adaptive-bit-count scalar
    "dedup_semantic_clusters": {"embeddings"},  # same 1-row scalar via the knn chain
    # eval-side shingle postings / flagged-id sets. The bound is
    # STRUCTURAL: the eval carve is doc_id % EVAL_MOD == 0 AND
    # doc_id < EVAL_CAP (decontam.eval_split), so the broadcast side
    # holds at most EVAL_CAP/EVAL_MOD (~91k) documents' shingles at
    # ANY corpus scale — not a data assumption, a predicate on the
    # carve itself (tests/test_decontam.py pins the cap semantics).
    "decontam_eval_overlap": {"documents"},
    "decontam_clean_corpus": {"documents"},
    "decontam_fuzzy_eval_pairs": {"documents"},
    "decontam_substring_hits": {"documents"},
    "decontam_substring_hits_strided": {"documents"},
    "decontam_clean_corpus_strict": {"documents"},
    "decontam_excise_spans": {"documents"},  # same carve-bounded eval-gram set
    "curation_pipeline": {"documents"},
    "curation_mixture_report": {"documents"},  # same chain + 1 bounded agg
    "curation_split_leakage": {"documents"},  # same chain + dup-rate-sized pairs
    "curation_cluster_splits": {"documents"},  # same chain + cached clusters join
    # same decontam-chain hint, composed with the unified-clusters join
    # (the clusters side carries no hint — min-label over blocked pairs)
    "curation_pipeline_multimodal": {"documents"},
    "curation_mixture_report_multimodal": {"documents"},
    # same curated-chain hint + one fixed 3 x N_SHARDS-row aggregation
    "curation_shard_manifest": {"documents"},
    # same chain; the order window is PARTITIONED by shard
    "curation_training_order": {"documents"},
    # the broadcast sides are the DSIR_BUCKETS-row log-ratio table and
    # its 1-row totals — fixed-size aggregates, never the corpus
    "sample_importance_dsir": {"documents"},
    # hybrid fusion: lexical tower broadcasts the query-term list
    # (structurally bounded: doc_id < N_QUERIES) + query-term-bounded
    # df + 1-row avgdl scalar; dense tower broadcasts the fixed query
    # vectors (vec_id < N_QUERIES) — text_bm25_topk's and
    # similarity_exact_topk's argued shapes composed
    "similarity_hybrid_rrf_topk": {"documents", "embeddings"},
    # PQ: broadcast sides are the M x PQ_K codebook (fixed-size trained
    # artifact) and the query ADC tables (vec_id < N_QUERIES structural
    # bound x M x PQ_K rows) — never the corpus
    "similarity_pq_adc_topk": {"embeddings"},
    # training fans the corpus against the broadcast SEED codebook
    # (PQ_K smallest-md5 rows, TakeOrdered-bounded); the monitor then
    # broadcasts only the trained M x PQ_K literal
    "similarity_pq_reconstruction_error": {"embeddings"},
    # IVFPQ composes the two argued shapes: probe list (queries x
    # N_PROBE), PQ codebook/seeds, and query ADC tables — all
    # query- or constant-bounded broadcasts
    "similarity_ann_ivfpq_topk": {"embeddings"},
    # the broadcast side is the eval-carve vector set — the decontam
    # tier's structural bound (vec_id % EVAL_MOD == 0 AND < EVAL_CAP)
    "decontam_semantic_overlap": {"embeddings"},
    # 1-row occupancy total (k-bounded aggregate of the assignment)
    "similarity_ivf_cell_occupancy": {"embeddings"},
    # composes the four detector chains verbatim, inheriting their
    # eval-carve-bounded broadcast hints (documents tiers + the
    # semantic tier's eval vector set)
    "decontam_flag_matrix": {"documents", "embeddings"},
    # broadcast sides are the 1-row corpus profile and the
    # sources-bounded concentration table — fixed-size aggregates
    "curation_corpus_datasheet": {"documents"},
    # the broadcast is the 3-row per-dimension totals table
    "curation_corpus_drift": {"documents"},
    # the broadcast is the 1-row quartile-cuts reduction
    "curation_quality_tiers": {"documents"},
    # curated-chain hint (the flagged-set anti-join) as in every
    # curation consumer; the order window is PARTITIONED by shard
    "curation_curriculum_order": {"documents"},
}

# Unpartitioned windows over entity-bounded domains (not SF-scaled).
_ALLOWED_GLOBAL_WINDOWS = {
    "graph_pagerank_trade_nations",  # 25 nations: rank over a fixed entity set
    # (text_vocab_coverage left this list in r15: its tier cumsum now
    # runs two-stage, bucket-partitioned — VERDICT r14 #4)
    # the O3/O4 position column: ONE global row_number over the
    # DISTINCT (package, test) catalog — catalog-bounded (thousands of
    # rows at any corpus size), asserted post-aggregation in
    # tests/test_plans.py::test_serving_listing_window_is_catalog_bounded
    "serving_catalog_listing",
    # F10's page-order position: row_number over the PACKAGE list
    # (hundreds of rows at any corpus size) — same argument
    "serving_index_html",
}

# Streaming queries execute an availableNow drain inside the callable;
# their returned DataFrame is just the memory sink. Their stateful plan
# shapes (watermark-bounded state) are covered in tests/test_streaming.py
# and their values by the shared batch-twin oracles.
_SKIP_PREFIX = "stream_"


def _iter_nodes(jnode):
    stack = [jnode]
    while stack:
        node = stack.pop()
        yield node
        children = node.children().iterator()
        while children.hasNext():
            stack.append(children.next())


def test_registry_wide_plan_sweep(spark):
    queries = all_queries()
    swept, failures = 0, []
    for name, fn in queries.items():
        if name.startswith(_SKIP_PREFIX):
            continue
        swept += 1
        qe = fn(spark, SF_DIR)._jdf.queryExecution()
        for node in _iter_nodes(qe.optimizedPlan()):
            if (
                node.getClass().getSimpleName() == "Window"
                and node.partitionSpec().isEmpty()
                and name not in _ALLOWED_GLOBAL_WINDOWS
            ):
                failures.append(f"{name}: unpartitioned Window")
        for node in _iter_nodes(qe.analyzed()):
            if node.getClass().getSimpleName() == "ResolvedHint":
                subtree = node.treeString()
                tables = {
                    t for t, marker in _TABLE_MARKERS.items() if marker in subtree
                }
                illegal = tables - _ALLOWED_HINTS.get(name, set())
                if illegal:
                    failures.append(
                        f"{name}: broadcast hint over SF-scaled {sorted(illegal)}"
                    )
        if "CartesianProduct" in qe.executedPlan().toString():
            failures.append(f"{name}: CartesianProduct")
    assert not failures, "\n".join(sorted(set(failures)))
    assert swept >= 125, f"sweep shrank to {swept} queries"


def test_allow_lists_stay_minimal():
    """Every allow-list entry must name a registered query — a renamed
    or deleted operator must not leave a stale exemption behind."""
    names = set(all_queries())
    stale = (set(_ALLOWED_HINTS) | _ALLOWED_GLOBAL_WINDOWS) - names
    assert not stale, f"allow-list entries for unregistered queries: {stale}"
