"""Per-layer probes for the traced run.

The layers every workload exercises (session, plan building, Spark
execution, driver fetch) are measured on the workload's own operations
and listed in ``COMMON``; the result line of a traced run carries those.
The rest are workload-specific and go to the report line: the streaming
and sources layers on ``ingest_maintain``, and on the query workloads
the operator probes below.

Operator times come from materialising a registered query (or an
operator's public function) to a ``noop`` sink on the workload's inputs,
minus the same for its inputs; counts and ratios are read from the
operators' outputs (the two dedup queries are fetched with ``toPandas``
instead, so one execution gives both the time and the output). Nothing
here runs in a timed (``--trace 0``) run.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

UNITS = {
    "session.persisted_after_clear": "count",
    "plans.build_jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.core_busy": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.input_mb": "MB",
    "exec.peak_exec_mem_mb": "MB",
    "driver.fetch_rows": "count",
    "operators.rerank.ndocs_per_query": "count",
    "operators.dedup.lsh_candidates": "count",
    "operators.dedup.verify_kept_ratio": "ratio",
    "operators.semdedup.pairs_verified": "count",
    "operators.semdedup.kept_ratio": "ratio",
    "functions.bloom.bits": "count",
    "functions.bloom.fp_ratio": "ratio",
    "streaming.live_dirs": "count",
    "streaming.compact_rewritten_mb": "MB",
    "streaming.space_amp": "ratio",
    "sources.written_mb": "MB",
    "sources.files_written": "count",
    "trace.overhead": "ratio",
    "trace.unreconciled": "count",
}


# measured by every traced run, on the workload's own operations
# session.persisted_after_clear, exec.spill_mb and trace.overhead are
# measured on both workloads too but stay in the report line: the first
# two are 0 at these sizes and the third sits around 0 with either sign,
# so none of them can show a relative change
COMMON = (
    "session.start_s", "session.warmup_s",
    "plans.build_s", "plans.build_jobs", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.driver_gap_s", "exec.core_busy", "exec.task_s",
    "exec.cpu_s", "exec.gc_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.input_mb", "exec.peak_exec_mem_mb",
    "driver.fetch_s", "driver.fetch_rows", "trace.unreconciled",
)


def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _isolate(spark, op, inputs, collect: bool = False):
    """Seconds of ``op`` (build + materialisation) minus the noop
    materialisation of its ``inputs`` (after the op, so both see
    compiled code), each from cleared caches. With ``collect`` the op is
    fetched with ``toPandas`` and also returned."""
    from mevi_spark.plans.retrieval import clear_session_caches

    clear_session_caches(spark)
    t = time.perf_counter()
    df = op()
    res = df.toPandas() if collect else _noop(df)
    t_op = time.perf_counter() - t
    clear_session_caches(spark)
    t_in = sum(_noop(f()) for f in inputs)
    clear_session_caches(spark)
    return (t_op - t_in, res) if collect else t_op - t_in


def operators(ctx) -> dict:
    """Retrieval operators, MinHash dedup, SemDeDup and the Bloom
    filter, each isolated on ``ctx.data``."""
    from mevi_spark.functions.bloom import (
        bloom_build, bloom_probe, bloom_size_bits,
    )
    from mevi_spark.operators import dedup as D
    from mevi_spark.plans import pipeline_ops as P, registry
    from mevi_spark.plans import retrieval as R
    from mevi_spark.sources.io import scan_parquet

    spark, d, tr = ctx.spark, ctx.data, ctx.tracer
    qs = registry.get_queries()
    out: dict = {}

    def q(name):
        return lambda: qs[name](spark, d)

    def arg(fn):
        return lambda: fn(spark, d)

    layout = R.stage_fine_layout(spark, d)  # staged during set-up
    probes = {
        "rq": ("rq_encode_two_level", [arg(R._emb)]),
        "beam": ("rq_beam_search", [arg(R._queries)]),
        "topk": ("knn_topk_ip", [arg(R._queries), arg(R._docs)]),
        "rerank": ("coarse_to_fine_retrieval", [
            arg(R._queries), arg(R._coarse1),
            lambda: scan_parquet(spark, layout)]),
        "ensemble": ("ensemble_fuse", [arg(R._ann_run), arg(R._fine_run)]),
        "metrics": ("retrieval_eval_metrics", [
            arg(R._ann_run), arg(R._queries), arg(R._docs)]),
    }
    for op, (name, inputs) in probes.items():
        with tr.span(f"operators.{op}", query=name):
            out[f"operators.{op}.s"] = _isolate(spark, q(name), inputs)
    coarse = R._coarse1(spark, d)
    sizes = R._docs(spark, d).groupBy("label").count()
    row = coarse.join(sizes, coarse.code_flat == sizes.label).agg(
        F.sum("count").alias("n"), F.countDistinct("query_id").alias("q")
    ).first()
    out["operators.rerank.ndocs_per_query"] = row["n"] / row["q"]

    with tr.span("operators.dedup"):
        base = D.minhash_frame(P._corpus(spark, d), num_hashes=P._NH)
        cands = D.lsh_candidate_pairs(
            base.filter(F.size("shingles") > 0).select("doc_id", "sig"),
            "doc_id", "sig", P._BANDS, sig_len=P._NH,
        )
        n_cands = cands.count()
        out["operators.dedup.verify_s"], pairs = _isolate(
            spark, q("dedup_minhash_pairs"), [lambda: cands], collect=True)
        out["operators.dedup.lsh_candidates"] = n_cands
        out["operators.dedup.verify_kept_ratio"] = len(pairs) / max(n_cands, 1)

    with tr.span("operators.semdedup"):
        out["operators.semdedup.verify_s"], res = _isolate(
            spark, q("semantic_dedup"), [arg(P.planted_embeddings)],
            collect=True)
        sizes = res.groupby("code").size()
        out["operators.semdedup.pairs_verified"] = int(
            (sizes * (sizes - 1) // 2).sum())
        out["operators.semdedup.kept_ratio"] = float(res["kept"].mean())

    with tr.span("functions.bloom"):
        sh = D.shingle_frame(P._corpus(spark, d), shingle_n=5).select(
            "doc_id", F.col("shingles").alias("s")).persist()
        ev = (sh.filter(F.col("doc_id") >= 100000)
              .select(F.explode("s").alias("g")).distinct()
              .localCheckpoint(eager=True))
        m = bloom_size_bits(ev.count())
        t = time.perf_counter()
        words = bloom_build(ev, "g", m, 4)
        out["functions.bloom.build_s"] = time.perf_counter() - t
        train = sh.filter(F.col("doc_id") < 100000).select(
            "doc_id", F.explode("s").alias("g"))
        cand = train.filter(bloom_probe(F.col("g"), words, m, 4))
        out["functions.bloom.probe_s"] = _noop(cand) - _noop(train)
        n_cand, n_train = cand.count(), train.count()
        members = train.join(ev, "g").count()
        out["functions.bloom.bits"] = m
        out["functions.bloom.fp_ratio"] = (
            (n_cand - members) / max(n_train - members, 1))
        sh.unpersist()
    return out


def streaming_layers(ops: list[dict], store_bytes: int, store_files: int,
                     space_amp: float) -> dict:
    """streaming.* and sources.* from ingest operations (medians per
    operation kind) and the final size of the stores."""
    def med(kind):
        return statistics.median(o["s"] for o in ops if o["kind"] == kind)

    return {
        "streaming.batch_s": med("batch"),
        "streaming.state_s": med("state"),
        "streaming.live_dirs": max(
            o["live_dirs"] for o in ops if o["kind"] == "state"),
        "streaming.compact_s": med("compact"),
        "streaming.compact_rewritten_mb": statistics.median(
            o["bytes"] for o in ops if o["kind"] == "rewritten") / 2**20,
        "streaming.space_amp": space_amp,
        "sources.written_mb": store_bytes / 2**20,
        "sources.files_written": store_files,
    }
