"""Physical-plan assertions: the scan-pushdown / join-strategy /
shuffle-shape claims made in operator docstrings, checked against
explain() output so they can't silently rot.

These run against sf0.001 (plan shape is SF-independent)."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from benchviz_spark.operators.relational import (
    q3_top_unshipped_orders,
    q5_region_revenue,
    scalar_functions_projection,
    topk_expensive_orders,
)
from benchviz_spark.operators.similarity import similarity_exact_topk
from benchviz_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filters_pushed_to_parquet_scan(spark):
    """q3's date filters must reach the lineitem/orders scans as
    PushedFilters, not run post-scan only."""
    plan = formatted_plan(q3_top_unshipped_orders(spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThan(l_shipdate" in plan, plan
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan


def test_no_forced_broadcast_of_customer(spark):
    """Round-1 scale defect: customer (SF-scaled) was force-broadcast in
    q3/q5. The static plan must not broadcast customer or supplier —
    AQE may still choose to at tiny SF, which is fine, but the *hint*
    must be gone. nation/region keep explicit broadcasts."""
    for q in (q3_top_unshipped_orders, q5_region_revenue):
        optimized = q(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
        for tbl in ("customer", "supplier"):
            for line in optimized.splitlines():
                if "ResolvedHint" in line and tbl in line.lower():
                    pytest.fail(f"{q.__name__} still hints broadcast for {tbl}: {line}")


def test_q5_broadcasts_tiny_dims(spark):
    plan = formatted_plan(q5_region_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # nation/region explicit hints


def test_column_pruning_reaches_scan(spark):
    """A projection query must not read every column: ReadSchema for
    part contains only the referenced columns."""
    plan = formatted_plan(scalar_functions_projection(spark, SF_DIR))
    read_schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema_lines, plan
    schema_line = read_schema_lines[0]
    assert "p_mfgr" not in schema_line  # unreferenced columns pruned
    assert "p_comment" not in schema_line
    assert "p_retailprice" in schema_line


def test_topk_plans_take_ordered(spark):
    """orderBy+limit must plan as TakeOrderedAndProject (per-partition
    heaps), not a global sort."""
    plan = formatted_plan(topk_expensive_orders(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_similarity_corpus_not_shuffled_before_scoring(spark):
    """The exact top-k must broadcast the query side: the corpus's only
    shuffle is the final per-query window, so exactly one Exchange
    hashpartitioning on query_id appears and no SortMergeJoin exists."""
    plan = formatted_plan(similarity_exact_topk(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_lsh_broadcast_sides_structurally_query_bounded(spark):
    """similarity_ann_lsh_topk: every broadcast embedding side (qb
    buckets, qe re-rank vectors) must carry an EXPLICIT vec_id <
    N_QUERIES filter, not one inferred via constraint propagation —
    with the inference disabled, the query-bound must still reach the
    scans as a pushed filter on at least two embeddings reads."""
    from benchviz_spark.operators.similarity import similarity_ann_lsh_topk

    key = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        plan = formatted_plan(similarity_ann_lsh_topk(spark, SF_DIR))
    finally:
        spark.conf.set(key, prev)
    bounded_scans = [
        l
        for l in plan.splitlines()
        if "PushedFilters" in l and "LessThan(vec_id,10)" in l
    ]
    assert len(bounded_scans) >= 2, plan


def test_whole_stage_codegen_covers_parse(spark):
    """The benchviz ingest parse (regex projections) stays inside
    whole-stage codegen — no Python evaluation nodes."""
    from benchviz_spark.pipeline import bench_log_pipeline

    df = bench_log_pipeline(spark, SF_DIR)
    # collect() executes THIS DataFrame's QueryExecution (count() would
    # plan a separate one), so AQE's final plan becomes inspectable.
    df.collect()
    final_plan = df._jdf.queryExecution().executedPlan().toString()
    # "*(N)" is the WholeStageCodegen marker in executed-plan strings
    assert "*(" in final_plan, final_plan
    assert "BatchEvalPython" not in final_plan
    assert "ArrowEvalPython" not in final_plan


def test_q19_part_predicates_pushed(spark):
    """The OR-of-ANDs predicate: Catalyst must extract the part-only
    disjunction and push it into the part scan (classic Q19 behavior)."""
    from benchviz_spark.operators.relational_ext import q19_disjunctive_revenue

    plan = formatted_plan(q19_disjunctive_revenue(spark, SF_DIR))
    part_scan = [
        l for l in plan.splitlines() if "PushedFilters" in l and "Brand" in l
    ]
    assert part_scan, plan


def test_skew_salted_agg_two_phases(spark):
    """The salted aggregation must plan two aggregation levels (salted
    partial + final merge), not one giant per-key reduction."""
    from benchviz_spark.operators.skew import skew_salted_type_totals

    plan = formatted_plan(skew_salted_type_totals(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4  # 2 logical levels x partial/final


def test_events_scan_prunes_columns(spark):
    events = load_table(spark, SF_DIR, "events").select("event_type").distinct()
    plan = formatted_plan(events)
    schema_line = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" not in schema_line
    assert "user_id" not in schema_line


def test_sampling_is_narrow_projection(spark):
    """The split/stratified sample must add no Exchange: a pure per-row
    hash projection (SCALE.md 'Sampling / splits')."""
    from benchviz_spark.operators.sampling import (
        sample_split_documents,
        sample_stratified_documents,
    )

    for q in (sample_split_documents, sample_stratified_documents):
        plan = formatted_plan(q(spark, SF_DIR))
        assert "Exchange" not in plan, f"{q.__name__} shuffles:\n{plan}"
        assert "Python" not in plan


def test_funnel_reuses_user_partitioning(spark):
    """With broadcast disabled (the 100-TB shape), the funnel's stage
    joins must ride the stage aggregations' user_id partitioning: every
    Exchange in the plan keys on user_id, and there are no more of them
    than the three stage aggregations need."""
    import re

    from benchviz_spark.operators.events import events_funnel_view_click_purchase

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(events_funnel_view_click_purchase(spark, SF_DIR))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    exchanges = re.findall(r"Arguments: hashpartitioning\((\w+)#", plan)
    assert exchanges, "expected shuffle exchanges with broadcast disabled"
    # every hash exchange keys on user_id: aggregation output feeds each
    # join directly, with no re-partitioning on any other key (the final
    # 1-row agg uses a SinglePartition exchange, not hashpartitioning)
    assert set(exchanges) <= {"user_id"}, exchanges


def test_no_vocabulary_sized_broadcast_hints(spark):
    """Round-2 scale defect: the shingle / term document-frequency
    tables (vocabulary-sized, which grows with the corpus) carried
    forced broadcast hints — a 100-TB OOM. The analyzed plans must not
    hint them; tfidf keeps exactly one hint, the 1-row n_docs scalar."""
    from benchviz_spark.operators.dedup import dedup_ngram_jaccard_pairs
    from benchviz_spark.operators.text_analysis import text_tfidf_top_terms

    jac = dedup_ngram_jaccard_pairs(spark, SF_DIR)
    analyzed = jac._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed

    tfidf = text_tfidf_top_terms(spark, SF_DIR)
    analyzed = tfidf._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed


def test_ivf_assignment_is_narrow(spark):
    """IVF corpus assignment must be a literal-centroid projection:
    no Exchange, no Join, no Python in the plan (training actions have
    already run by the time the assignment DataFrame exists)."""
    from benchviz_spark.operators.similarity import ivf_cells

    plan = formatted_plan(ivf_cells(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan


def test_ivf_topk_broadcasts_probe_side(spark):
    """The candidate/re-rank joins must broadcast the tiny (probes,
    query) sides — a sort-merge join would shuffle the corpus."""
    from benchviz_spark.operators.similarity import similarity_ann_ivf_topk

    plan = formatted_plan(similarity_ann_ivf_topk(spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan


def test_decontam_broadcasts_eval_side_only(spark):
    """decontam's ONE justified broadcast: the eval-split shingle set
    (bounded by benchmark-suite size, not corpus size). The plan must
    broadcast-join it and contain zero Python nodes."""
    from benchviz_spark.operators.decontam import decontam_eval_overlap

    plan = formatted_plan(decontam_eval_overlap(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_repetition_metrics_two_shuffles_no_python(spark):
    """Ratios ride the scan projection; only the word-frequency path
    shuffles (two aggregation levels). More exchanges would mean a
    reformulation regressed the narrow design."""
    from benchviz_spark.operators.quality import quality_repetition_metrics

    import re

    plan = formatted_plan(quality_repetition_metrics(spark, SF_DIR))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    # the narrow metrics must be computed per DOCUMENT (Project below
    # Generate), not per exploded token row
    tree = plan.split("(1) Scan")[0]
    assert tree.index("Generate") < tree.index("Project"), tree


def test_gap_fill_and_enrichment_carry_no_forced_broadcasts(spark):
    """The gap-fill spine (types x hours) and the customer dimension
    both grow with data span/SF: neither may carry a broadcast hint —
    AQE decides at runtime."""
    from benchviz_spark.operators.events import (
        events_enriched_user_segment,
        events_gap_filled_hourly,
    )

    for q in (events_gap_filled_hourly, events_enriched_user_segment):
        optimized = q(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in optimized, (q.__name__, optimized)


def test_unigram_logprob_hints_only_the_scalar(spark):
    """The vocabulary join must stay unhinted (Heaps'-law growth); the
    only ResolvedHint allowed is the 1-row token-total broadcast."""
    from benchviz_spark.operators.text_analysis import text_unigram_logprob

    optimized = (
        text_unigram_logprob(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
    )
    hints = [l for l in optimized.splitlines() if "ResolvedHint" in l]
    assert len(hints) <= 1, hints


def test_zipf_rank_window_is_partitioned(spark):
    """stats_zipf_fit's vocabulary rank must never be a global
    unpartitioned window (one task would sort ~1e8 terms at 100 TB).
    Every windowspecdefinition in the executed plan must lead with the
    range-bucket pid partition column (VERDICT r3 #5)."""
    import re

    from benchviz_spark.operators.analytics import stats_zipf_fit

    plan = (
        stats_zipf_fit(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    )
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs, "expected a window in the zipf plan"
    for lead in specs:
        assert lead.strip().startswith("pid#"), (lead, specs)


def test_gopher_rules_is_single_scan_no_exchange(spark):
    """The Gopher gate must stay a narrow scan-side projection: no
    shuffle, no Python, one parquet scan."""
    from benchviz_spark.operators.quality import quality_gopher_rules

    import re

    plan = formatted_plan(quality_gopher_rules(spark, SF_DIR))
    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M), plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan


def test_triangle_top_edges_lowers_to_take_ordered(spark):
    """The top-M edge cut must be a TakeOrdered (per-partition heaps +
    merge), never a global Sort of the edge list. r16 truncates the
    registered query's lineage with a lazy localCheckpoint of the edge
    backbone (4 downstream references), so the contract is asserted on
    the pre-checkpoint builder, and the registered query's own plan is
    asserted Sort-free (the checkpoint did not smuggle a global sort
    back in)."""
    from benchviz_spark.operators.graph import (
        _tri_top_edges,
        graph_triangle_suppliers,
    )

    edge_plan = (
        _tri_top_edges(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in edge_plan, edge_plan

    query_plan = (
        graph_triangle_suppliers(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Sort " not in query_plan, query_plan


def test_containment_has_no_cartesian_product(spark):
    """Candidate generation must ride the shingle equi-join; a
    CartesianProduct/BroadcastNestedLoop node means the prefix filter
    degenerated to all-pairs."""
    from benchviz_spark.operators.dedup import dedup_containment_pairs

    plan = (
        dedup_containment_pairs(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_zorder_is_scan_side_with_broadcast_bounds(spark):
    """The z-value projection must be pure scan-side bit arithmetic:
    zero data shuffles (the only exchange is the broadcast of the
    1-row min/max bounds) and zero Python nodes."""
    from benchviz_spark.operators.layout import layout_zorder_events

    plan = formatted_plan(layout_zorder_events(spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BroadcastExchange" in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_char_entropy_is_two_stage_agg_no_join(spark):
    """Char entropy = explode + two map-side-combined aggregations;
    there must be no join and no Python in the plan, and the first
    shuffle key must be the (doc, char) pre-aggregation."""
    from benchviz_spark.operators.quality import quality_char_entropy

    import re

    plan = formatted_plan(quality_char_entropy(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2, plan


def test_cms_probe_broadcasts_fixed_size_sketch(spark):
    """The Count-Min probe joins candidates against the depth*width
    counter table — that side is capped at 20Ki rows by construction
    and must arrive broadcast, never as a shuffled join side."""
    from benchviz_spark.operators.analytics import sketch_heavy_hitter_terms

    plan = formatted_plan(sketch_heavy_hitter_terms(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_bpe_merge_pairs_vocab_bounded_no_join(spark):
    """text_bpe_merge_pairs must count pairs over the word-frequency
    table: two hash-aggregate levels (words, then pairs), NO join, no
    Python, and a TakeOrdered top-K instead of a global sort."""
    import re

    from benchviz_spark.operators.text_analysis import text_bpe_merge_pairs

    plan = formatted_plan(text_bpe_merge_pairs(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "TakeOrderedAndProject" in plan, plan
    # two logical aggregations = 4 HashAggregate nodes (partial+final each)
    assert len(re.findall(r"HashAggregate", plan)) >= 4, plan


def test_dim_correlation_no_self_join(spark):
    """embedding_dim_correlation's outer product must be scan-side:
    no join anywhere (the naive shape self-joins the exploded dims on
    vec_id), partial-aggregated, top-K via TakeOrdered."""
    from benchviz_spark.operators.multimodal import embedding_dim_correlation

    plan = formatted_plan(embedding_dim_correlation(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "TakeOrderedAndProject" in plan, plan


def test_incremental_dedup_shuffles_only_the_maybe_set(spark):
    """dedup_incremental_new_docs: the seen corpus reaches the probe as
    a broadcast (the 1-row bitset plus the broadcast-exact verify at
    test SF); the plan must contain no shuffled (SortMerge) join and no
    cartesian — the anti join input is the bloom-filtered maybe-set."""
    from benchviz_spark.operators.dedup import dedup_incremental_new_docs

    plan = formatted_plan(dedup_incremental_new_docs(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_basket_pairs_take_ordered_no_python(spark):
    """basket_part_pair_lift: top-K must lower to TakeOrdered (no
    global sort of the pair table) and the whole plan stays JVM-side."""
    from benchviz_spark.operators.relational_ext import basket_part_pair_lift

    plan = formatted_plan(basket_part_pair_lift(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "CartesianProduct" not in plan, plan


def test_scd2_windows_are_user_partitioned(spark):
    """events_scd2_tier_intervals: both the lead() interval window and
    the carry-forward assignment window must partition on user_id —
    never a global window over the corpus — and the fact assignment
    must not be a range join."""
    import re

    from benchviz_spark.operators.events import events_scd2_tier_intervals

    plan = (
        events_scd2_tier_intervals(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs, "expected windows in the SCD-2 plan"
    for spec in specs:
        assert spec.strip().startswith("user_id"), spec


def test_exact_k_sample_rides_window_group_limit(spark):
    """sample_stratified_exact_k's docstring claim: the rank filter
    lowers to WindowGroupLimit (Spark's rank-pushdown), so each input
    partition pre-truncates to its local top-k per stratum before the
    exchange instead of shuffling the whole corpus."""
    from benchviz_spark.operators.sampling import sample_stratified_exact_k

    plan = formatted_plan(sample_stratified_exact_k(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan
    # both the partial (pre-shuffle) and final sides must be present
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_quality_topk_rides_window_group_limit(spark):
    """sample_quality_topk_per_source's docstring claim: same
    WindowGroupLimit pre-truncation as the exact-k sampler — each input
    partition keeps its local top-K per source before the exchange."""
    from benchviz_spark.operators.sampling import sample_quality_topk_per_source

    plan = formatted_plan(sample_quality_topk_per_source(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_range_search_no_exchange_at_all(spark):
    """similarity_range_search's claim: broadcast probe + scan-side
    threshold filter — the only Exchange allowed is the broadcast
    itself (no shuffle exchange anywhere in the plan)."""
    from benchviz_spark.operators.similarity import similarity_range_search

    plan = formatted_plan(similarity_range_search(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            pytest.fail(f"unexpected shuffle exchange: {line}")


def test_nearest_asof_single_shuffle(spark):
    """asof_purchase_nearest_view's claim: both directional window
    frames share one per-user Exchange + Sort — exactly one shuffle
    exchange in the whole plan."""
    from benchviz_spark.operators.asof import asof_purchase_nearest_view

    import re

    plan = formatted_plan(asof_purchase_nearest_view(spark, SF_DIR))
    # count detail headers "(n) Exchange" so tree + detail lines for
    # the same node aren't double-counted
    shuffles = re.findall(r"^\(\d+\) Exchange$", plan, re.M)
    assert len(shuffles) == 1, plan
    # and the two frames fused into a single Window node
    assert len(re.findall(r"^\(\d+\) Window$", plan, re.M)) == 1, plan


def test_serving_json_single_aggregation_no_collect(spark):
    """r13 serving tier: the per-test JSON documents are assembled by
    exactly one hash-aggregation keyed (package, test_name) — the Go
    rendering (sort_array over entry strings) must not introduce a
    second shuffle or a sort-based aggregate, and nothing collects to
    the driver (the plan is a pure DataFrame tree)."""
    from benchviz_spark.pipeline import serving_per_test_json

    df = serving_per_test_json(spark, SF_DIR)
    plan = formatted_plan(df)
    # exactly one partial+final pair for the document assembly (the
    # collect_list rides ObjectHashAggregate). The plan holds two
    # exchanges: the fact table's hash clustering on (package,
    # test_name), which the LWW window and the aggregation both reuse,
    # and the range exchange of the output orderBy
    assert plan.count("ObjectHashAggregate (") == 2, plan
    assert plan.count("Exchange (") == 2, plan
    assert len(re.findall(r"hashpartitioning\(package#\d+, test_name#\d+, \d+\)", plan)) == 1, plan
    assert plan.count("rangepartitioning(") == 1, plan
    assert "SortAggregate" not in plan, plan
    assert "CollectLimit" not in plan, plan


def test_serving_listing_window_is_catalog_bounded(spark):
    """The O3/O4 position column rides ONE global window over the
    DISTINCT (package, test) catalog — the window's input must be the
    post-aggregation catalog (thousands of rows at any corpus size),
    never the raw fact rows."""
    from benchviz_spark.pipeline import serving_catalog_listing

    df = serving_catalog_listing(spark, SF_DIR)
    plan = formatted_plan(df)
    # two windows total: the ingest's LWW dedup + the ONE global
    # position window (tree-view occurrences)
    assert plan.count("Window (") == 2, plan
    # the catalog distinct-aggregation exists, and the window sees its
    # output: the single-partition exchange feeding the global sort is
    # the only exchange above the distinct's own
    assert "HashAggregate" in plan, plan
    assert "SinglePartition" in plan, plan
    assert "CartesianProduct" not in plan, plan


def _cached_demo_fact(spark):
    """The demo tree's fact table, cached and materialized, as
    run_pipeline serves from it."""
    from benchviz_spark.pipeline import _DEMO_TREE, _tree_fact

    fact = _tree_fact(spark, "demo", _DEMO_TREE).cache()
    fact.count()
    return fact


def _outside_cache(plan: str) -> list[str]:
    """The tree lines of a formatted plan outside its cached relations'
    own plans: every operator that runs on top of the cache scans."""
    out, cached_depth = [], None
    for line in plan.split("\n\n")[0].splitlines():
        depth = next((i for i, ch in enumerate(line) if ch.isalpha() or ch in "*="), 0)
        if cached_depth is not None and depth > cached_depth:
            continue
        cached_depth = depth if "InMemoryRelation" in line else None
        out.append(line)
    return out


def test_cached_fact_has_one_hash_exchange(spark):
    """The fact table is laid out by ONE shuffle: hash on (package,
    test_name) ahead of the LWW window, which that partitioning already
    satisfies. No range exchange (and so no sampling job) remains."""
    fact = _cached_demo_fact(spark)
    try:
        plan = formatted_plan(fact)
        final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
        assert len(re.findall(r"\bExchange \(\d+\)", final)) == 1, plan
        exchanges = re.findall(r"^Arguments: (\w+partitioning\([^)]*\))", plan, re.M)
        assert exchanges and all(
            re.fullmatch(r"hashpartitioning\(package#\d+, test_name#\d+, \d+\)", e)
            for e in exchanges
        ), plan
        assert "rangepartitioning" not in plan, plan
    finally:
        fact.unpersist()


def _documents(spark):
    return load_table(spark, SF_DIR, "documents")


def _shingle_passes():
    from benchviz_spark.operators.curation import _standing_token_pass
    from benchviz_spark.operators.dedup import (
        hash_shingles,
        minhash_signatures,
        shingled_documents,
    )
    from benchviz_spark.streaming.windows import sw_shingled_eval

    return {
        "standing_token_pass": lambda s: _standing_token_pass(s, _documents(s)),
        "shingled_documents": lambda s: shingled_documents(s, SF_DIR),
        "shingled_documents_docs": lambda s: shingled_documents(
            s, SF_DIR, docs=_documents(s).filter(F.col("doc_id") % 7 == 0)
        ),
        # hashed_shingled_documents' plan before its eager checkpoint
        "hashed_shingled_documents": lambda s: hash_shingles(shingled_documents(s, SF_DIR)),
        "minhash_signatures": lambda s: minhash_signatures(s, SF_DIR),
        "sw_shingled_eval": lambda s: sw_shingled_eval(s, SF_DIR, 3),
    }


@pytest.mark.parametrize("case", sorted(_shingle_passes()))
def test_shingle_pass_shingles_above_the_spread(spark, case):
    """Every shingle pass spreads the raw rows, then shingles: the
    shingle projection (zip_with over token slices) runs above the one
    round-robin exchange, in every task, and nothing below it shingles.
    minhash_signatures' aggregation exchange is not a spread."""
    plan = formatted_plan(_shingle_passes()[case](spark))
    tree = plan.split("\n\n")[0].splitlines()
    node = lambda line: re.search(r"(\w+) \((\d+)\)$", line)  # noqa: E731
    nodes = [(i, node(l).group(1), node(l).group(2)) for i, l in enumerate(tree) if node(l)]
    details = {
        m.group(1): m.group(2)
        for m in re.finditer(r"^\((\d+)\) [^\n]*\n(.*?)(?=\n\n|\Z)", plan, re.M | re.S)
    }
    spreads = [
        i for i, name, n in nodes
        if name == "Exchange" and "RoundRobinPartitioning" in details[n]
    ]
    assert len(spreads) == 1, plan
    shingling = [i for i, _, n in nodes if "zip_with" in details.get(n, "")]
    assert shingling and all(i < spreads[0] for i in shingling), plan


def _construction_jobs(spark, group: str, build) -> int:
    """The number of Spark jobs ``build()`` launches."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_spreading_exchange_free_rows_launches_no_job(spark):
    """spread's partition-count probe plans its input: over the scan, a
    filtered scan or a stream (the rows every caller passes) that plan
    has no Exchange, so building the shingle pass over them runs no
    job. The inputs are built first: reading a parquet schema is a job
    of its own."""
    from benchviz_spark.operators.dedup import shingled_documents
    from benchviz_spark.sources.tables import spread
    from benchviz_spark.streaming.windows import read_documents_stream

    docs = _documents(spark)
    stream = read_documents_stream(spark, SF_DIR)
    builds = {
        "scan": lambda: shingled_documents(spark, SF_DIR, docs=docs),
        "docs": lambda: shingled_documents(
            spark, SF_DIR, docs=docs.filter(F.col("doc_id") % 7 == 0)
        ),
        "stream": lambda: spread(spark, stream),
    }
    jobs = {
        name: _construction_jobs(spark, f"test_spread_no_job_{name}", build)
        for name, build in builds.items()
    }
    assert jobs == {"scan": 0, "docs": 0, "stream": 0}
    # the probe does run an Exchange's shuffle stages, which is why
    # callers pass exchange-free rows
    grouped = docs.groupBy("lang").count()
    assert _construction_jobs(spark, "test_spread_job_exchange", lambda: spread(spark, grouped)) > 0


def test_point_lookup_over_clustered_cache_gathers_without_exchange(spark):
    """point_lookup gathers its rows instead of sorting globally: over the
    cached fact the plan has no Exchange, one ``Coalesce 1``, and its only
    Sort (run_date, within the one partition) sits above the Coalesce."""
    from benchviz_spark.pipeline import point_lookup

    fact = _cached_demo_fact(spark)
    try:
        plan = formatted_plan(point_lookup(fact, "sql", "BenchmarkScan1000_Cockroach-16"))
        ops = _outside_cache(plan)
        assert not [l for l in ops if "Exchange" in l], plan
        coalesce = [i for i, l in enumerate(ops) if "Coalesce" in l]
        sorts = [i for i, l in enumerate(ops) if "Sort" in l]
        assert len(coalesce) == 1 and len(sorts) == 1, plan
        assert sorts[0] < coalesce[0], plan
        assert re.search(r"\) Coalesce\n[^\n]*\nArguments: 1\n", plan), plan
    finally:
        fact.unpersist()


def test_compare_over_clustered_cache_needs_no_exchange(spark):
    """align_series over two point lookups joins two one-partition,
    run_date-sorted series: the sort-merge join needs no Exchange above
    either cache scan."""
    from benchviz_spark.operators.compare import align_series
    from benchviz_spark.pipeline import point_lookup

    fact = _cached_demo_fact(spark)
    try:
        plan = formatted_plan(align_series(
            point_lookup(fact, "sql", "BenchmarkScan1000_Cockroach-16"),
            point_lookup(fact, "sql", "BenchmarkBank2_Cockroach-8"),
            on="run_date",
        ))
        ops = _outside_cache(plan)
        assert sum("InMemoryTableScan" in l for l in ops) == 2, plan
        assert sum("SortMergeJoin" in l for l in ops) == 1, plan
        assert not [l for l in ops if "Exchange" in l], plan
    finally:
        fact.unpersist()


def test_per_test_json_over_clustered_cache_adds_no_exchange(spark):
    """The per-test aggregation is keyed (package, test_name), which the
    cached fact's hash partitioning already satisfies."""
    from benchviz_spark.serving.json_sink import per_test_json

    fact = _cached_demo_fact(spark)
    try:
        plan = formatted_plan(per_test_json(fact))
        assert not [l for l in _outside_cache(plan) if "Exchange" in l], plan
    finally:
        fact.unpersist()
