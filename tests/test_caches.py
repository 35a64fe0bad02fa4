"""Session-cache lifecycle: the chain/run artifacts live ON their
session object (an attribute, so their lifetime is exactly the
session's — a weak-keyed module map leaked because cached DataFrames
strongly reference their session), and ``clear_session_caches`` frees
the persisted blocks deterministically (VERDICT r3 #5)."""

from __future__ import annotations

from pyspark import StorageLevel

from mevi_spark.plans import retrieval as R


def test_clear_session_caches_frees_blocks(spark, sf_dir):
    mapping, codebook = R._codebook2(spark, sf_dir)
    run = R._ann_run(spark, sf_dir)
    assert R._chain_cache(spark) and R._run_cache(spark)
    assert mapping.storageLevel != StorageLevel.NONE
    assert run.storageLevel != StorageLevel.NONE

    R.clear_session_caches(spark)

    assert not getattr(spark, "_mevi_chain_cache", None)
    assert not getattr(spark, "_mevi_run_cache", None)
    assert mapping.storageLevel == StorageLevel.NONE
    assert codebook.storageLevel == StorageLevel.NONE
    assert run.storageLevel == StorageLevel.NONE

    # idempotent on an empty session, and a rebuild re-populates
    R.clear_session_caches(spark)
    m2, _ = R._codebook2(spark, sf_dir)
    assert m2.storageLevel != StorageLevel.NONE
    assert sorted(r["id"] for r in m2.limit(5).collect()) == sorted(
        r["id"] for r in mapping.limit(5).collect()
    )


def test_codebook_is_staged_and_reused(spark, sf_dir):
    """The trained codebook is a staged on-disk artifact keyed by the
    embeddings mtime: clearing session caches and rebuilding must NOT
    rewrite it (no new centroid-training jobs for an unchanged corpus),
    and the rebuilt chain must produce the identical mapping."""
    import os

    from mevi_spark.plans.staging import staged_path

    R.clear_session_caches(spark)
    m1, cb1 = R._codebook2(spark, sf_dir)
    rows1 = sorted(map(tuple, m1.collect()))
    cb_rows1 = sorted((r["level"], r["code"]) for r in cb1.collect())
    path = staged_path("codebook2", sf_dir)
    assert os.path.exists(os.path.join(path, "_STAGED"))
    mtime = os.path.getmtime(path)

    R.clear_session_caches(spark)
    m2, cb2 = R._codebook2(spark, sf_dir)
    assert os.path.getmtime(path) == mtime  # reused, not rebuilt
    assert sorted(map(tuple, m2.collect())) == rows1
    assert sorted((r["level"], r["code"]) for r in cb2.collect()) == cb_rows1


def test_caches_are_per_session_maps(spark, sf_dir):
    """The store hangs off the session object — no module registry a
    recycled id() (or a value->key reference cycle) could leak."""
    R._codebook2(spark, sf_dir)
    assert set(R._chain_cache(spark)) == {sf_dir}
    for key in getattr(spark, "_mevi_run_cache", {}):
        assert isinstance(key, tuple) and key[0] == sf_dir
    # a different session sees its own (empty) store, not this one's
    fresh = spark.newSession()
    try:
        assert getattr(fresh, "_mevi_chain_cache", None) is None
    finally:
        pass


def test_dpp_conf_key_works_on_default_confs(spark):
    """The driver runs a VANILLA session where none of the planner confs
    are explicitly set; conf.get validates even the fallback value
    against the conf's type, so the key builder must never pass a
    sentinel that fails validation (round-7 regression: '' for the
    byte-typed broadcast threshold broke entry() on vanilla sessions
    while every configured-session check stayed green)."""
    fresh = spark.newSession()
    for key in (
        "spark.sql.optimizer.dynamicPartitionPruning.enabled",
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    ):
        try:
            fresh.conf.unset(key)
        except Exception:
            pass
    key = R._dpp_conf_key(fresh)
    assert len(key) == 3 and all(v for v in key)


RETRIEVAL_HEADLINERS = (
    "knn_topk_ip",
    "retrieval_eval_metrics",
    "rq_encode_two_level",
    "rq_beam_search",
    "coarse_to_fine_retrieval",
    "ensemble_fuse",
)


def test_warm_round_compiles_no_generated_classes(spark, sf_dir):
    """A warm round of the retrieval headliners reuses every generated
    class: Spark's codegen cache (per JVM, LRU) is sized above the
    classes one round cycles through, so after ``clear_session_caches``
    the same plans find their whole-stage and expression classes still
    resident. At Spark's default of 100 entries the round evicts its
    own classes before reaching them again and recompiles ~156."""
    from mevi_spark.plans import registry

    qs = registry.get_queries()
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def one_round():
        for name in RETRIEVAL_HEADLINERS:
            qs[name](spark, sf_dir).collect()
        R.clear_session_caches(spark)

    one_round()
    before = compiles.getCount()
    one_round()
    assert compiles.getCount() - before == 0
