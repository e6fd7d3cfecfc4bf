"""Curation-stack semantics beyond the SQL oracles: the split-leakage
audit / cluster-safe-split pair."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _cross_split_pairs(spark, splits_df):
    from benchviz_spark.operators.dedup import dedup_ngram_jaccard_pairs

    pairs = dedup_ngram_jaccard_pairs(spark, SF_DIR).select(
        "left_id", "right_id"
    )
    a = splits_df.select(
        F.col("doc_id").alias("left_id"), F.col("split").alias("split_a")
    )
    b = splits_df.select(
        F.col("doc_id").alias("right_id"), F.col("split").alias("split_b")
    )
    joined = pairs.join(a, "left_id").join(b, "right_id")
    return (
        joined.count(),
        joined.filter(F.col("split_a") != F.col("split_b")).count(),
    )


def test_doc_level_splits_leak_and_cluster_splits_do_not(spark):
    """The pair that motivates curation_cluster_splits: per-document
    hash splits DO put surviving near-dup pairs on opposite sides of
    the train/val/test boundary (the audit finds real leaks at
    sf0.01), and cluster-keyed splits drive that to ZERO by
    construction — every J >= 0.5 pair is an edge, so both members
    share a connected component and therefore a split."""
    from benchviz_spark.operators.curation import (
        curation_cluster_splits,
        curation_pipeline,
    )

    n_doc, leak_doc = _cross_split_pairs(
        spark, curation_pipeline(spark, SF_DIR).select("doc_id", "split")
    )
    n_cl, leak_cl = _cross_split_pairs(
        spark, curation_cluster_splits(spark, SF_DIR).select("doc_id", "split")
    )
    assert leak_doc > 0, "expected real leakage under per-doc splits"
    assert leak_cl == 0, f"cluster splits must not leak, got {leak_cl}"
    # same survivor set -> same pair universe
    assert n_doc == n_cl


def test_cluster_splits_match_pipeline_except_split(spark):
    """Cluster-keyed assignment changes ONLY the split column: the
    survivor set and its attributes are identical to the pipeline's."""
    from benchviz_spark.operators.curation import (
        curation_cluster_splits,
        curation_pipeline,
    )

    base = {
        (r.doc_id, r.lang, r.source, r.n_chars)
        for r in curation_pipeline(spark, SF_DIR).collect()
    }
    clus = {
        (r.doc_id, r.lang, r.source, r.n_chars)
        for r in curation_cluster_splits(spark, SF_DIR).collect()
    }
    assert base == clus


def test_shard_manifest_reconciles_with_training_order(spark, sf_dir):
    """The manifest and the training order must describe the same
    export: per train shard, manifest n_docs == order row count ==
    max(position), and positions are dense from 1 (a loader resumes
    by offset; a gap means silent data loss)."""
    from pyspark.sql import functions as F

    from benchviz_spark.operators.curation import (
        curation_shard_manifest,
        curation_training_order,
    )

    man = {
        r.shard: r.n_docs
        for r in curation_shard_manifest(spark, sf_dir)
        .filter(F.col("split") == "train")
        .collect()
    }
    order = (
        curation_training_order(spark, sf_dir)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n"),
            F.max("position").alias("maxp"),
            F.min("position").alias("minp"),
            F.count_distinct("position").alias("np"),
        )
        .collect()
    )
    assert man and order
    assert {r.shard for r in order} == set(man)
    for r in order:
        assert (r.n, r.maxp, r.minp, r.np) == (man[r.shard], man[r.shard], 1, man[r.shard])


def test_curriculum_order_reconciles_with_uniform_order(spark, sf_dir):
    """Curriculum and uniform order must be permutations of each other
    per shard: same doc set, same dense 1..n positions, only the order
    key differs — and within a shard the curriculum positions must be
    monotone in quality_score."""
    from collections import defaultdict

    from benchviz_spark.operators.curation import (
        curation_curriculum_order,
        curation_training_order,
    )

    uni = defaultdict(set)
    for r in curation_training_order(spark, sf_dir).collect():
        uni[r.shard].add(r.doc_id)
    cur_rows = curation_curriculum_order(spark, sf_dir).collect()
    cur = defaultdict(set)
    by_shard = defaultdict(list)
    for r in cur_rows:
        cur[r.shard].add(r.doc_id)
        by_shard[r.shard].append((r.position, r.quality_score, r.doc_id))
    assert dict(cur) == dict(uni)
    for shard, rows in by_shard.items():
        rows.sort()
        assert [p for p, _, _ in rows] == list(range(1, len(rows) + 1))
        keys = [(s, d) for _, s, d in rows]
        assert keys == sorted(keys), f"shard {shard} not quality-ordered"


def test_indexed_admission_matches_in_session(spark):
    """VERDICT r13 #2: the durable standing-corpus index path must
    reproduce the in-session admission delta EXACTLY — same gates,
    same exact/near-dup tiers, same within-batch components, same
    splits. Any divergence means corpus state leaked into admission
    semantics through the index build. The in-session run starts from
    an empty catalog and cold caches and must leave no admission table
    behind: it admits against in-memory standing relations."""
    from benchviz_spark.caching import clear_caches
    from benchviz_spark.operators.curation import (
        build_admission_index,
        curation_incremental_batch,
        incremental_batch_indexed,
    )

    def admission_tables():
        return sorted(
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("admission_")
        )

    for name in admission_tables():
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    clear_caches()
    base = sorted(
        map(tuple, curation_incremental_batch(spark, SF_DIR).collect())
    )
    assert admission_tables() == []
    clear_caches()
    build_admission_index(spark, SF_DIR)
    indexed = sorted(
        map(tuple, incremental_batch_indexed(spark, SF_DIR).collect())
    )
    assert indexed == base
    assert len(base) > 0  # a trivially-empty delta would prove nothing


def test_indexed_admission_reads_corpus_side_from_bucketed_tables(spark):
    """The point of the index: per-ingest, the corpus side is READ,
    never recomputed. The consume plan must source the standing bands
    and shingles from the bucketed catalog tables (their relation
    names appear as table scans), and the documents scans that remain
    must all be batch-pruned (every documents read carries the
    source-regex batch filter, so no corpus-sized document pass
    survives)."""
    import io
    import contextlib

    from benchviz_spark.operators.curation import (
        admission_index_names,
        build_admission_index,
        incremental_batch_indexed,
    )

    from benchviz_spark.caching import clear_caches

    build_admission_index(spark, SF_DIR)
    df = incremental_batch_indexed(spark, SF_DIR)
    # The r15 scratch persists would hide the documents scans behind
    # InMemoryRelation leaves in the optimized plan; unpersist BEFORE
    # the (lazy) plan introspection so cache substitution does not
    # occur and every scan is visible to the per-scan gate walk below.
    # The runtime plan is unchanged — this inspects the same logical
    # tree the persisted blocks compute once.
    clear_caches()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    names = admission_index_names()
    for part in ("bands", "shingles", "fps", "bloom", "eval_grams"):
        assert names[part] in plan, f"index table {names[part]} not scanned"
    # no un-gated corpus document scan: EVERY documents relation in the
    # optimized plan must sit directly under a Filter carrying the
    # source-regex batch predicate (ADVICE r14: the old single-rlike
    # substring check was trivially satisfiable). Documents scans are
    # the anonymous path-based relations with the documents schema;
    # the index tables scan via spark_catalog and are exempt.
    analyzed = df._jdf.queryExecution().optimizedPlan().toString()
    lines = analyzed.splitlines()
    doc_scans = [
        i
        for i, l in enumerate(lines)
        if "Relation [" in l and "doc_id#" in l and "text#" in l
    ]
    assert doc_scans, "no documents scan found in the optimized plan"
    unguarded = [
        lines[i].strip()[:120]
        for i in doc_scans
        # i > 0 first: a relation on the very first plan line has no
        # parent Filter, and lines[i - 1] must not wrap to lines[-1]
        if not (i > 0 and "Filter" in lines[i - 1] and "RLIKE(source" in lines[i - 1])
    ]
    assert not unguarded, f"documents scans without a batch-gate Filter: {unguarded}"
