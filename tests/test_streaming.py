"""Streaming correctness: (a) the incremental file-source ingest
produces byte-identical serving output to the batch pipeline over the
same tree, including across a restart with new data; (b) streaming
window aggregations equal their oracle-checked batch twins."""

from __future__ import annotations

import json
import os
import re

import pytest

from benchviz_spark.operators.events import (
    events_session_stats,
    events_tumbling_hourly,
)
from benchviz_spark.pipeline import run_pipeline
from benchviz_spark.streaming.ingest import run_streaming_pipeline
from benchviz_spark.streaming.windows import (
    run_to_memory,
    stream_dedup_events,
    stream_session_stats,
    stream_tumbling_hourly,
    streaming_batch_parity,
)

SF_DIR = "/root/testdata/sf0.001"


def _write(root, date, pkg, fname, lines):
    d = os.path.join(root, date, "cockroach", pkg)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, fname), "w") as f:
        f.write("\n".join(lines) + "\n")


def _serving_snapshot(out_dir: str) -> dict[str, str]:
    snap = {}
    for dirpath, _, files in os.walk(out_dir):
        if "_bronze" in dirpath:
            continue
        for fname in files:
            if fname.endswith(".json") and fname != "test_names.json":
                rel = os.path.relpath(os.path.join(dirpath, fname), out_dir)
                with open(os.path.join(dirpath, fname)) as f:
                    snap[rel] = f.read()
    return snap


def test_streaming_ingest_matches_batch(spark, tmp_path):
    tree = str(tmp_path / "samples")
    _write(tree, "01-01-2015", "sql", "a.test.stdout",
           ["BenchmarkAlpha-8 \t 10 \t 100 ns/op"])
    _write(tree, "02-01-2015", "kv", "b.test.stdout",
           ["BenchmarkBeta-8 \t 10 \t 200 ns/op \t 55 MB/s"])

    stream_out = str(tmp_path / "stream_out")
    run_streaming_pipeline(spark, tree, stream_out, str(tmp_path / "ckpt"))

    batch_out = str(tmp_path / "batch_out")
    run_pipeline(spark, tree, batch_out)

    stream_snap = _serving_snapshot(stream_out)
    batch_snap = _serving_snapshot(batch_out)
    assert stream_snap == batch_snap
    assert stream_snap, "serving tree must not be empty"


def test_streaming_ingest_incremental_restart(spark, tmp_path):
    """New date dirs arriving after a restart are picked up from the
    checkpoint; already-seen files are not re-ingested (LWW output
    unchanged for old keys, new keys appear)."""
    tree = str(tmp_path / "samples")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write(tree, "01-01-2015", "sql", "a.test.stdout",
           ["BenchmarkAlpha-8 \t 10 \t 100 ns/op"])
    run_streaming_pipeline(spark, tree, out, ckpt)
    first = _serving_snapshot(out)
    assert list(first) == [os.path.join("sql", "BenchmarkAlpha-8.json")]

    # day 2 lands; second availableNow run drains only the new file
    _write(tree, "02-01-2015", "sql", "a.test.stdout",
           ["BenchmarkAlpha-8 \t 10 \t 150 ns/op"])
    run_streaming_pipeline(spark, tree, out, ckpt)
    doc = json.loads(_serving_snapshot(out)[os.path.join("sql", "BenchmarkAlpha-8.json")])
    assert doc == {
        "01-01-2015": {"N": 100, "A": 0, "B": 0, "M": 0},
        "02-01-2015": {"N": 150, "A": 0, "B": 0, "M": 0},
    }


def test_stream_tumbling_equals_batch(spark):
    mismatches, n = streaming_batch_parity(
        spark,
        events_tumbling_hourly(spark, SF_DIR),
        stream_tumbling_hourly(spark, SF_DIR),
        "stream_tumbling_t",
    )
    assert n > 0
    assert mismatches == 0


def test_stream_dedup_equals_batch(spark):
    from benchviz_spark.sources.tables import load_table

    run_to_memory(stream_dedup_events(spark, SF_DIR), "stream_dedup_t")
    # row-set compare (exceptAll against a memory-sink table trips an
    # analyzer INTERNAL_ERROR on this Spark build)
    streamed = {
        (r.event_id, r.user_id, r.event_type)
        for r in spark.table("stream_dedup_t").collect()
    }
    batch = {
        (r.event_id, r.user_id, r.event_type)
        for r in load_table(spark, SF_DIR, "events")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
        .collect()
    }
    assert batch
    assert streamed == batch


def test_stream_stream_join_equals_batch(spark):
    """Stream-stream interval join parity: every (purchase, view) pair
    the batch interval join produces must come out of the watermarked
    stream-stream join, and nothing else."""
    from benchviz_spark.operators.events import events_purchase_view_pairs
    from benchviz_spark.streaming.windows import stream_stream_purchase_views

    run_to_memory(stream_stream_purchase_views(spark, SF_DIR), "ss_join_t")
    streamed = {
        tuple(r) for r in spark.table("ss_join_t").collect()
    }
    batch = {tuple(r) for r in events_purchase_view_pairs(spark, SF_DIR).collect()}
    assert batch
    assert streamed == batch


def test_stream_session_equals_batch(spark):
    mismatches, n = streaming_batch_parity(
        spark,
        events_session_stats(spark, SF_DIR),
        stream_session_stats(spark, SF_DIR),
        "stream_session_t",
    )
    assert n > 0
    assert mismatches == 0


def test_streaming_touched_only_rewrites_touched_package_only(spark, tmp_path):
    """touched_only=True must rewrite only the subtree of packages
    present in the micro-batch: after batch 2 touches kv only, the sql
    document's mtime is unchanged (proof it was not rewritten) while
    the kv document updates — and the final tree equals a full
    regeneration."""
    import time as _time

    tree = str(tmp_path / "samples")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write(tree, "01-01-2015", "sql", "a.test.stdout",
           ["BenchmarkAlpha-8 \t 10 \t 100 ns/op"])
    _write(tree, "01-01-2015", "kv", "b.test.stdout",
           ["BenchmarkBeta-8 \t 10 \t 200 ns/op"])
    run_streaming_pipeline(spark, tree, out, ckpt, touched_only=True)

    sql_doc = os.path.join(out, "sql", "BenchmarkAlpha-8.json")
    kv_doc = os.path.join(out, "kv", "BenchmarkBeta-8.json")
    mtime_sql = os.path.getmtime(sql_doc)
    _time.sleep(1.1)  # ensure an mtime change would be visible

    _write(tree, "02-01-2015", "kv", "b.test.stdout",
           ["BenchmarkBeta-8 \t 10 \t 250 ns/op"])
    run_streaming_pipeline(spark, tree, out, ckpt, touched_only=True)

    assert os.path.getmtime(sql_doc) == mtime_sql, "untouched sql was rewritten"
    assert os.path.getmtime(kv_doc) > mtime_sql, "touched kv was not rewritten"
    doc = json.loads(open(kv_doc).read())
    assert doc == {
        "01-01-2015": {"N": 200, "A": 0, "B": 0, "M": 0},
        "02-01-2015": {"N": 250, "A": 0, "B": 0, "M": 0},
    }


def test_stream_static_enrichment_equals_batch(spark):
    from benchviz_spark.operators.events import events_enriched_user_segment
    from benchviz_spark.streaming.windows import (
        stream_enriched_user_events,
        streaming_batch_parity,
    )

    sf_dir = "/root/testdata/sf0.001"
    batch = events_enriched_user_segment(spark, sf_dir)
    stream = stream_enriched_user_events(spark, sf_dir)
    mismatched, n = streaming_batch_parity(spark, batch, stream, "enriched_seg")
    assert n > 0
    assert mismatched == 0


def test_stream_image_dhash_matches_batch(spark):
    """The streamed admission hash equals the batch fingerprint scan
    row for row — the real PNG codec + Arrow mapInPandas stages run
    identically under Structured Streaming (availableNow drain)."""
    from benchviz_spark.operators.dedup import dedup_image_dhash_fingerprints
    from benchviz_spark.streaming.queries import stream_image_dedup_gate

    sf = "/root/testdata/sf0.001"
    streamed = {
        r.doc_id: r.dh for r in stream_image_dedup_gate(spark, sf).collect()
    }
    batch = {
        r.doc_id: r.dh
        for r in dedup_image_dhash_fingerprints(spark, sf).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_stream_dedup_admission_equals_batch(spark):
    """VERDICT r14 #5: the durable admission index is the single source
    of truth across batch and stream — the streamed per-document
    admission delta must equal the batch twin row-for-row (both also
    hash against the shared DuckDB oracle in test_oracle_parity)."""
    from benchviz_spark.operators.curation import (
        admission_delta_indexed,
        build_admission_index,
    )
    from benchviz_spark.streaming.windows import stream_dedup_admission

    build_admission_index(spark, SF_DIR)
    batch = {tuple(r) for r in admission_delta_indexed(spark, SF_DIR).collect()}
    run_to_memory(
        stream_dedup_admission(spark, SF_DIR), "stream_admission_t", mode="complete"
    )
    streamed = {tuple(r) for r in spark.table("stream_admission_t").collect()}
    assert streamed == batch
    assert len(batch) > 0


def test_admission_stream_zero_state_matches_batch(spark, tmp_path):
    """The production foreachBatch admission sink (zero streaming
    state) must reproduce the batch per-document delta exactly, and
    must refuse to start without the epoch index (admitting against an
    empty standing corpus would silently pass everything)."""
    import pytest as _pytest

    from benchviz_spark.operators.curation import (
        admission_delta_indexed,
        build_admission_index,
    )
    from benchviz_spark.streaming.ingest import run_admission_stream

    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")

    with _pytest.raises(RuntimeError, match="admission index tables missing"):
        run_admission_stream(spark, SF_DIR, out, ckpt, prefix="admission_missing")

    build_admission_index(spark, SF_DIR)
    run_admission_stream(spark, SF_DIR, out, ckpt)
    streamed = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "*")).select(
            "doc_id", "lang", "source", "n_chars", "split"
        ).collect()
    }
    batch = {tuple(r) for r in admission_delta_indexed(spark, SF_DIR).collect()}
    assert streamed == batch
    assert len(batch) > 0


# --- one spread per stream gate --------------------------------------------

_SPREAD = re.compile(r"^~?Repartition \d+, true$")
_HEAVY = ("MapInPandas", "zip_with(", "aggregate(")


def _tree(df) -> list[tuple[int, str]]:
    """(depth, node) per line of ``df``'s analyzed logical plan: a
    stream cannot be planned further before it starts."""
    out = []
    for line in df._jdf.queryExecution().analyzed().toString().splitlines():
        node = line.lstrip(" :+-")
        out.append(((len(line) - len(node)) // 3, node))
    return out


def _below(tree, i: int) -> list[str]:
    """The nodes in the subtree under line ``i``."""
    depth, out = tree[i][0], []
    for d, node in tree[i + 1:]:
        if d <= depth:
            break
        out.append(node)
    return out


def test_spread_repartitions_a_stream_once(spark):
    """spread over the document stream takes its stream branch: one
    round-robin repartition to cluster parallelism, still a stream."""
    from benchviz_spark.sources.tables import spread
    from benchviz_spark.streaming.windows import read_documents_stream

    out = spread(spark, read_documents_stream(spark, SF_DIR))
    assert out.isStreaming
    n = spark.sparkContext.defaultParallelism
    spreads = [node for _, node in _tree(out) if _SPREAD.match(node)]
    assert spreads == [f"~Repartition {n}, true"]


@pytest.mark.parametrize(
    "name",
    [
        "stream_image_dhash",
        "stream_video_frame_dhash",
        "stream_classifier_gate",
        "stream_dsir_gate",
        "stream_decontam_gate",
        "stream_dedup_admission",
    ],
)
def test_stream_gate_spreads_once_below_its_heavy_projection(spark, name):
    """Each stream gate's heavy work (a mapInPandas stage, a shingle or
    a token-fold projection) has exactly one round-robin repartition
    under it — not none, and not a gate-side copy on top of the one its
    operator makes — and nothing heavy runs under a repartition."""
    from benchviz_spark.operators.curation import build_admission_index
    from benchviz_spark.streaming import windows

    if name == "stream_dedup_admission":
        build_admission_index(spark, SF_DIR)
    tree = _tree(getattr(windows, name)(spark, SF_DIR))
    plan = "\n".join(node for _, node in tree)
    heavy = [i for i, (_, node) in enumerate(tree) if any(h in node for h in _HEAVY)]
    assert heavy, plan
    for i in heavy:
        assert sum(bool(_SPREAD.match(n)) for n in _below(tree, i)) == 1, plan
    for i, (_, node) in enumerate(tree):
        if _SPREAD.match(node):
            assert not [n for n in _below(tree, i) if any(h in n for h in _HEAVY)], plan
