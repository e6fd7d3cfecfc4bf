"""Curation-stack semantics beyond the SQL oracles: the split-leakage
audit / cluster-safe-split pair."""

from __future__ import annotations

import pytest
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


def test_indexed_admission_reads_corpus_side_from_bucketed_tables(
    spark, monkeypatch
):
    """The point of the index: per-ingest, the corpus side is READ,
    never recomputed. The consume plan must source the standing bands,
    shingles and fingerprints from the bucketed catalog tables (their
    relation names appear as table scans), and the documents scans that
    remain must all be batch-pruned (every documents read carries the
    source-regex batch filter, so no corpus-sized document pass
    survives). The bloom bitset and the eval-gram set are constants of
    the epoch that the decision collects at plan time, so they leave
    the plan: sentinels over the standing relations record that the
    decision read both from the index it was handed."""
    import io
    import contextlib

    from benchviz_spark.operators import curation
    from benchviz_spark.operators.curation import (
        admission_index_names,
        build_admission_index,
        incremental_batch_indexed,
    )

    from benchviz_spark.caching import clear_caches

    collected = []

    class Recording:
        def __init__(self, part, df):
            self.part, self.df = part, df

        def collect(self):
            collected.append(self.part)
            return self.df.collect()

    tables = curation.admission_tables

    def recorded_tables(spark, prefix="admission"):
        standing = tables(spark, prefix)
        for part in ("bloom", "eval_grams"):
            standing[part] = Recording(part, standing[part])
        return standing

    build_admission_index(spark, SF_DIR)
    monkeypatch.setattr(curation, "admission_tables", recorded_tables)
    df = incremental_batch_indexed(spark, SF_DIR)
    assert sorted(collected) == ["bloom", "eval_grams"]
    # The scratch persists would hide the documents scans behind
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
    for part in ("bands", "shingles", "fps"):
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


SMOKE_PREFIX = "admission_smoke"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_admission_index_memo_rebuilds_a_dropped_table(spark, sf_smoke_dir):
    """A memo hit must not outlive its tables: after a DROP, the next
    build call rebuilds the index instead of handing back names that
    no longer resolve."""
    from benchviz_spark.operators.curation import (
        admission_delta_indexed,
        build_admission_index,
    )

    names = build_admission_index(spark, sf_smoke_dir, prefix=SMOKE_PREFIX)
    before = _rows(admission_delta_indexed(spark, sf_smoke_dir, SMOKE_PREFIX))
    spark.sql(f"DROP TABLE {names['fps']}")
    assert build_admission_index(spark, sf_smoke_dir, prefix=SMOKE_PREFIX) == names
    assert spark.catalog.tableExists(names["fps"])
    assert _rows(admission_delta_indexed(spark, sf_smoke_dir, SMOKE_PREFIX)) == before
    assert before  # a trivially-empty delta would prove nothing


def test_admission_decision_is_partition_and_aqe_invariant(spark, sf_smoke_dir):
    """The admission delta's row set does not depend on the shuffle
    partition count or on AQE, and the decision materializes nothing:
    the delta enrolls no admission scratch entry, and the incremental
    path at most two (the probed batch and its survivor set)."""
    from benchviz_spark.caching import clear_caches
    from benchviz_spark.operators.curation import (
        _ADMIT_SCRATCH,
        admission_delta_indexed,
        build_admission_index,
        incremental_batch_indexed,
    )

    clear_caches()
    build_admission_index(spark, sf_smoke_dir, prefix=SMOKE_PREFIX)
    n0 = len(_ADMIT_SCRATCH)
    base = _rows(admission_delta_indexed(spark, sf_smoke_dir, SMOKE_PREFIX))
    assert base
    assert len(_ADMIT_SCRATCH) == n0
    for key, value in (
        ("spark.sql.shuffle.partitions", "1"),
        ("spark.sql.shuffle.partitions", "7"),
        ("spark.sql.adaptive.enabled", "false"),
    ):
        old = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            got = _rows(admission_delta_indexed(spark, sf_smoke_dir, SMOKE_PREFIX))
        finally:
            spark.conf.set(key, old)
        assert got == base, f"{key}={value} changed the admission delta"
    incremental_batch_indexed(spark, sf_smoke_dir, SMOKE_PREFIX).collect()
    assert len(_ADMIT_SCRATCH) - n0 <= 2


def test_standing_build_unpersists_its_token_pass_when_a_store_raises(spark, sf_smoke_dir):
    """The standing build's shared token pass is persisted outside any
    cache clear_caches() reaches, so a failing store must not leave its
    blocks pinned."""
    from benchviz_spark.operators.curation import _standing_relations

    def store(part, df):
        raise RuntimeError(f"store {part} failed")

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises(RuntimeError, match="store"):
        _standing_relations(spark, sf_smoke_dir, store)
    assert persistent().size() == before
