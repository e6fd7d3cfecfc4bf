"""Bounded construction-overlap pools (guide §2.6).

Several composition queries build independent detector/curation
subtrees whose CONSTRUCTION runs eager materialization jobs (shingle
checkpoints, decoded-hash checkpoints, epoch-index writes). Submitting
those from a small thread pool lets one subtree's small-stage jobs
back-fill executors freed by another's stragglers instead of
serializing cluster-underfilling jobs (guide §2.6).

Every pool in the repo is created through ``subtree_pool`` so the
overlap width is bounded in ONE place, and the default width is TWO
in-flight subtrees regardless of how many a call site has:

- The guide's own sizing rule is "2-3 jobs in flight is plenty", and
  the r15 driver run measured the widest overlap queries INVERTING on
  32 cores (curation_mixture_report_multimodal scaling ratio 0.41:
  faster on 8 cores than 32). The r16 A/B (OPTIMIZATION_r16.md §1,
  3 alternating cold reps at 32 cores) adjudicated it: medians
  full-width / serial / width-2 — dedup_multimodal_clusters 20.1 /
  8.1 / 8.9 s, curation_mixture_report_multimodal 13.0 / 15.8 /
  8.5 s, decontam_flag_matrix 4.8 / 7.5 / 4.0 s,
  curation_cluster_splits 6.5 / 9.8 / 7.5 s. Width 2 wins or ties
  everywhere; fully-serial loses the back-fill benefit; full width
  lets NESTED pools (the multimodal chain stacks a width-2 pool over
  a width-3 pool) multiply into 5+ concurrently-submitting job
  streams that thrash a 32-way local scheduler.
- ``SPARK_GRAFT_OVERLAP_WORKERS`` overrides the cap per host/probe
  (1 = fully serial); the bound is about concurrent JOB STREAMS, not
  cores, so it does not scale with cluster width.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

DEFAULT_OVERLAP_CAP = 2


def overlap_workers(n_subtrees: int) -> int:
    """Effective pool width for ``n_subtrees`` independent subtrees.
    Raises ``ValueError`` when ``SPARK_GRAFT_OVERLAP_WORKERS`` is set to
    anything but a positive integer."""
    raw = os.environ.get("SPARK_GRAFT_OVERLAP_WORKERS")
    if raw is None:
        cap = DEFAULT_OVERLAP_CAP
    elif raw.strip().isdigit() and int(raw) > 0:
        cap = int(raw)
    else:
        raise ValueError(
            f"SPARK_GRAFT_OVERLAP_WORKERS={raw!r}: expected a positive integer"
        )
    return max(1, min(n_subtrees, cap))


def subtree_pool(n_subtrees: int) -> ThreadPoolExecutor:
    """A bounded pool for overlapping independent subtree construction."""
    return ThreadPoolExecutor(max_workers=overlap_workers(n_subtrees))
