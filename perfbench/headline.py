"""Query workloads: ``bench.py`` headline queries (all thirteen, or a
subset such as the six retrieval ones) run through
``bench.setup_session`` and ``bench.run_pass`` in a closed loop (one
client, one driver thread).

Each registered callable is wrapped, never edited: the wrapper keeps the
Arrow result ``run_pass`` would discard (for the oracle check) and, in a
traced pass, tags the build and the execution with their own job groups
so the status store can split a query into build, stages and fetch.
"""

from __future__ import annotations

import time

import pandas as pd

import bench
from perfbench import probe


class _Failed:
    """Stand-in for a DataFrame whose build raised: run_pass calls
    ``toPandas`` on it and moves on to the next query."""

    def toPandas(self) -> pd.DataFrame:
        return pd.DataFrame()


def wrap(spark, qs: dict, sink: dict, errors: dict, tag: str | None = None,
         marks: dict | None = None, cpu: dict | None = None,
         cpu_of=None) -> dict:
    """Registered callables that record each result in ``sink[name]``.
    With ``tag`` set, builds run under job group ``<tag>:<name>:build``
    and executions under ``<tag>:<name>:exec``, and ``marks[name]``
    gets the wall-clock bounds of each phase. With ``cpu_of`` set,
    ``cpu[name]`` gets the CPU seconds ``cpu_of()`` advanced by over the
    span ``run_pass`` times: from the build's start to the fetch's end,
    or from the fetch's start for a plan it prebuilds."""
    sc = spark.sparkContext

    def one(name, fn):
        def call(spark_, sf_dir):
            if tag:
                sc.setJobGroup(f"{tag}:{name}:build", name)
            c0 = cpu_of() if cpu_of else None
            t0 = time.time()
            try:
                df = fn(spark_, sf_dir)
            except Exception as e:  # counted as a failed operation
                errors[name] = f"build: {type(e).__name__}: {e}"[:300]
                return _Failed()
            t1 = time.time()
            collect = df.toPandas

            def to_pandas():
                if tag:
                    sc.setJobGroup(f"{tag}:{name}:exec", name)
                c2 = cpu_of() if cpu_of and name in bench.PREBUILD_LAZY \
                    else c0
                t2 = time.time()
                try:
                    pdf = collect()
                except Exception as e:
                    errors[name] = f"execute: {type(e).__name__}: {e}"[:300]
                    pdf = pd.DataFrame()
                if marks is not None:
                    marks[name] = (t0, t1, t2, time.time())
                if cpu_of:
                    cpu[name] = cpu_of() - c2
                sink[name] = pdf
                return pdf

            df.toPandas = to_pandas
            return df

        return call

    return {n: one(n, qs[n]) for n in bench.HEADLINE if n in qs}


def setup(names: list[str]):
    """``bench.setup_session``; returns (spark, registered callables of
    ``names``, data dir)."""
    spark, qs, sf_dir = bench.setup_session()
    return spark, {n: qs[n] for n in names}, sf_dir


def timed_pass(spark, qs, sf_dir, cpu_of=None,
               **kw) -> tuple[dict, dict, dict, dict]:
    """One ``bench.run_pass``: (per-query seconds, results, errors,
    per-query CPU seconds by ``cpu_of``, empty without it)."""
    sink: dict = {}
    errors: dict = {}
    cpu: dict = {}
    timings = bench.run_pass(
        spark, wrap(spark, qs, sink, errors, cpu=cpu, cpu_of=cpu_of, **kw),
        sf_dir)
    return timings, sink, errors, cpu


def traced_pass(spark, qs, sf_dir, tracer: probe.Tracer, pass_idx: int,
                cores: int) -> tuple[dict, dict, dict, dict]:
    """A pass with job groups; returns (timings, results, errors, layer
    metrics). Spans: pass > query > {plans.build, execute > stage,
    driver.fetch}."""
    marks: dict = {}
    tag = f"{tracer.run_id}:p{pass_idx}"
    with tracer.span("pass", index=pass_idx, traced=True) as ps:
        t0 = time.time()
        timings, sink, errors, _ = timed_pass(
            spark, qs, sf_dir, tag=tag, marks=marks
        )
        wall = time.time() - t0
    spark.sparkContext.setJobGroup("perfbench:idle", "idle")
    groups = [f"{tag}:{n}:{ph}" for n in marks for ph in ("build", "exec")]
    m = probe.stage_totals(spark, groups)
    m["build_jobs"] = sum(
        probe.group_stages(spark, f"{tag}:{n}:build")[0] for n in marks)
    m["jobs"] -= m["build_jobs"]
    m["build_s"] = m["fetch_s"] = 0.0
    m["fetch_rows"] = 0
    per_query: dict = {}
    for name, (b0, b1, e0, e1) in marks.items():
        ejobs, estages = probe.group_stages(spark, f"{tag}:{name}:exec")
        rows = len(sink.get(name, ()))
        tracer.add("query", b0, e1, ps["id"], query=name)
        qid = len(tracer.spans) - 1
        tracer.add("plans.build", b0, b1, qid)
        # the status store stamps stages in whole milliseconds
        last = min(max(max((s["end"] for s in estages), default=e0), e0), e1)
        tracer.add("execute", e0, last, qid, jobs=ejobs)
        xid = len(tracer.spans) - 1
        for s in estages:
            tracer.add("stage", s["start"], s["end"], xid, stage=s["stage"],
                       tasks=s["numTasks"])
        tracer.add("driver.fetch", last, e1, qid, rows=rows)
        m["build_s"] += b1 - b0
        m["fetch_s"] += e1 - last
        m["fetch_rows"] += rows
        per_query[name] = {
            "build_s": 0.0 if name in bench.PREBUILD_LAZY else b1 - b0,
            "stage_s": probe.union_s([(s["start"], s["end"]) for s in estages]),
            "fetch_s": e1 - last,
        }
    m["driver_gap_s"] = wall - probe.union_s(m.pop("intervals"))
    m["core_busy"] = m["task_s"] / (wall * cores)
    m["wall_s"] = wall
    m["per_query"] = per_query
    return timings, sink, errors, m
