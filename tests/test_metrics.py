"""Golden tests for the metric operator — the reference's exact semantics
(MEVI/evaluate.py:7-47) on a hand-computed fixture (FIXTURES.md)."""

from __future__ import annotations

import pytest

from mevi_spark.operators.metrics import evaluate_run, ranks_of_ground_truth


@pytest.fixture(scope="module")
def fixture(spark):
    # run: q1 finds gt at ranks 0 and 3; q2 finds its single gt at rank 1;
    # q3's positives are completely absent (None-rank path,
    # MEVI/evaluate.py:16-20); q4 has 5 positives, 2 found.
    run = spark.createDataFrame(
        [
            ("q1", [10, 11, 12, 13, 14]),
            ("q2", [20, 21, 22]),
            ("q3", [1, 2, 3]),
            ("q4", [40, 41, 42, 43, 44]),
        ],
        "query string, preds array<long>",
    )
    gt = spark.createDataFrame(
        [
            ("q1", [10, 13]),
            ("q2", [21]),
            ("q3", [99, 98]),
            ("q4", [40, 44, 90, 91, 92]),
        ],
        "query string, gt_ids array<long>",
    )
    return run, gt


def test_ranks_of_ground_truth(spark, fixture):
    run, gt = fixture
    got = {
        (r.query, r.gt_id): r.rank
        for r in ranks_of_ground_truth(run, gt).collect()
    }
    assert got[("q1", 10)] == 0
    assert got[("q1", 13)] == 3
    assert got[("q2", 21)] == 1
    assert got[("q3", 99)] is None and got[("q3", 98)] is None
    assert got[("q4", 40)] == 0 and got[("q4", 44)] == 4
    assert got[("q4", 90)] is None


def test_metrics_reference_semantics(spark, fixture):
    run, gt = fixture
    m = {r.k: r for r in evaluate_run(run, gt, cutoffs=(1, 5)).collect()}

    # recall@5: q1=2/2, q2=1/1, q3=0/2, q4=2/5  (denominator = len(gt)!)
    assert m[5].recall == pytest.approx((1.0 + 1.0 + 0.0 + 0.4) / 4)
    # recall@1: q1=1/2, q2=0, q3=0, q4=1/5
    assert m[1].recall == pytest.approx((0.5 + 0.0 + 0.0 + 0.2) / 4)
    # mrr@5 = 1/(min_rank+1): q1=1, q2=1/2, q3=0, q4=1
    assert m[5].mrr == pytest.approx((1.0 + 0.5 + 0.0 + 1.0) / 4)
    # mrr@1: only min_rank<1 counts: q1=1, q4=1
    assert m[1].mrr == pytest.approx((1.0 + 0.0 + 0.0 + 1.0) / 4)
    # hitrate@5: q1,q2,q4 hit
    assert m[5].hitrate == pytest.approx(3 / 4)
    assert m[5].n_queries == 4


def test_query_missing_from_run_counts_in_denominator(spark):
    run = spark.createDataFrame(
        [("q1", [10])], "query string, preds array<long>"
    )
    gt = spark.createDataFrame(
        [("q1", [10]), ("q_absent", [1])],
        "query string, gt_ids array<long>",
    )
    m = {r.k: r for r in evaluate_run(run, gt, cutoffs=(1,)).collect()}
    assert m[1].n_queries == 2
    assert m[1].recall == pytest.approx(0.5)


def test_finalized_mean_rounds_exact_tie_half_up_like_oracle(spark):
    """The maintained eval state and its DuckDB oracle round the same
    exact quantity: S = 316150 micro-units over n = 20 queries is the
    tie 0.0158075, which both sides take up to 0.015808. A double mean
    (``ROUND(316150 / 1e6 / 20, 6)`` in DuckDB) lands on
    0.01580749999… and gives 0.015807."""
    import duckdb

    from mevi_spark.operators.metrics import finalize_eval_metrics
    from mevi_spark.plans.streaming_ops import _sql_mean6

    state = spark.createDataFrame(
        [(1, 316150, 316150, 316150, 20)],
        "k int, recall_s long, mrr_s long, hit_s long, n_queries long",
    )
    row = finalize_eval_metrics(state).collect()[0]
    assert (row.recall, row.mrr, row.hitrate) == (0.015808,) * 3

    # 19 × 0.015807 + 0.015817 = 0.316150: the same S and n in SQL
    oracle = duckdb.sql(
        f"SELECT {_sql_mean6('x')} FROM (SELECT CASE WHEN i < 19 "
        f"THEN 0.015807 ELSE 0.015817 END AS x FROM range(20) t(i))"
    ).fetchone()[0]
    assert oracle == 0.015808
