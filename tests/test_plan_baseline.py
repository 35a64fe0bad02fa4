"""Exchange-count regression gate (VERDICT r8 next-round #6): the hot
queries' shuffle counts are pinned in ``tools/plan_baseline.json`` and
an unexplained increase fails here, the same way DPP and broadcast
shapes are already pinned; so does a pin above the fresh count, which
would let a regression that re-adds the saved shuffle pass. The FULL
registry is checked by ``python tools/plan_audit.py --check`` (this
subset keeps the pytest fast: bench queries + the r9-new plans, none of
which execute drains at construction)."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools")
)

SUBSET = [
    # the bench headline queries (regressions here cost the ratio)
    "q1_pricing_summary",
    "q3_shipping_priority",
    "nation_revenue",
    "sessionize_events",
    "knn_topk_ip",
    "retrieval_eval_metrics",
    "rq_encode_two_level",
    "rq_beam_search",
    "coarse_to_fine_retrieval",
    "ensemble_fuse",
    "dedup_exact",
    "dedup_minhash_pairs",
    "text_quality_stats",
    # the quantization/ANN tier incl. the r9 additions
    "pq_encode_reconstruct",
    "pq_adc_topk",
    "pq_ivf_adc_topk",
    "pq_ivf_recall_curve",
    "opq_encode_reconstruct",
    "rq_assign_topr",
    "multi_assign_recall",
    "bm25_search",
]


def test_exchange_counts_match_baseline(spark, sf_dir):
    import plan_audit

    report = [
        e
        for e in plan_audit.audit(spark, sf_dir, filters=tuple(SUBSET))
        if e["query"] in SUBSET
    ]
    assert len(report) == len(SUBSET), {
        e["query"] for e in report
    }.symmetric_difference(SUBSET)
    assert not plan_audit.flagged(report)
    baseline = plan_audit.load_baseline()
    violations = plan_audit.check_exchanges(report, baseline)
    assert not violations, violations
