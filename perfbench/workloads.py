"""The two workloads, timed (``--trace 0``) and traced (``--trace 1``).

A timed run reports the end-to-end metrics: the CPU seconds of the
set-up, of the measured passes and of their operations; its report line
adds the wall times of set-up, passes and operations, and peak memory. A traced run is its own invocation: it repeats the workload
with job groups and spans, then sweeps the layers the workload does not
reach, so both workloads report every per-layer metric.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import statistics
import time

from perfbench import check, probe

RECONCILE_TOL = 0.25  # share of the untraced query time
RECONCILE_FLOOR_S = 0.05  # below this absolute error a query reconciles
MIN_WARM = 2  # warm passes of a timed query run, however long they take
CPU_TICK_S = 0.01


@dataclasses.dataclass
class Context:
    name: str
    cfg: dict
    cores: int
    shuffle: int
    data: str
    work: str
    refs: str
    seconds: float
    trace: bool
    seed: int
    spark: object = None
    tracer: object = None


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _end_to_end(setup_cpu_s, pass_cpu, op_cpu) -> dict:
    """The gated metrics, all in CPU seconds: the set-up's; the measured
    passes', the cold one and the first warm ones (``pass_cpu``, one
    value per pass); and the geometric mean over operations of each
    one's, summed over the same passes (``op_cpu``: operation -> one
    value per pass).

    CPU seconds are those of the client, the driver JVM and its Python
    workers (``probe.tree_cpu_s``), JIT compilation included. About half
    of a warm pass's CPU is the JIT compiler, and how much of it lands in
    which pass varies from run to run; summed over a fixed set of passes
    that cancels out. Wall times of the set-up, passes and operations go
    to the report line: on a shared host they move with the other
    tenants' load, CPU seconds much less. A run cut short by a raising
    operation has no complete set of passes; it reports set-up only."""
    out = {"setup_s": _metric(setup_cpu_s, "s")}
    if pass_cpu:
        out["passes_cpu_s"] = _metric(sum(pass_cpu), "s")
    sums = [sum(v) for v in op_cpu.values() if v]
    if sums:
        # one clock tick is the floor, so a tiny operation cannot make it 0
        out["op_cpu_s"] = _metric(statistics.geometric_mean(
            max(x, CPU_TICK_S) for x in sums), "s")
    return out


def _wall_summary(warm_walls, warm_op_walls) -> dict:
    """Report-line wall times: the median warm pass, each operation's
    median over the warm passes, and the median and tail over every
    warm operation."""
    per_op = {n: statistics.median(v) for n, v in warm_op_walls.items() if v}
    return {
        "warm_pass_s": statistics.median(warm_walls) if warm_walls else None,
        "op_s": per_op,
        "query_p50_s": statistics.median(per_op.values()) if per_op else None,
        "query_summary": probe.summary(
            [x for v in warm_op_walls.values() for x in v]),
    }


def _session(ctx: Context):
    from mevi_spark.session import get_spark

    ctx.spark = get_spark("mevi-bench", shuffle_partitions=ctx.shuffle)
    ctx.spark.conf.set("spark.sql.adaptive.enabled", "false")
    return ctx.spark


# -- query workloads ---------------------------------------------------------


def _check_results(refs, passes) -> tuple[int, int, dict]:
    """(attempted, failed, per-query hashes and errors): every result of
    every pass against its oracle reference."""
    attempted = failed = 0
    detail: dict = {}
    for p in passes:
        for name, ref in refs.items():
            attempted += 1
            res = p["results"].get(name)
            err = p["errors"].get(name) or (
                "no result" if res is None else check.mismatch(res, ref))
            d = detail.setdefault(name, {"hashes": set(), "errors": []})
            if err is None:
                d["hashes"].add(check.value_hash(res))
            else:
                failed += 1
                d["errors"].append(f"pass {p['index']}: {err}")
    for d in detail.values():
        d["hashes"] = sorted(d["hashes"])
    return attempted, failed, detail


def queries(ctx: Context) -> dict:
    import bench
    from mevi_spark.plans import registry
    from mevi_spark.plans import retrieval
    from perfbench import headline as H

    names = ctx.cfg.get("queries") or list(bench.HEADLINE)
    refs = check.references(registry.get_oracles(), names, ctx.data, ctx.refs)
    ctx.tracer = probe.Tracer(f"{ctx.name}-{ctx.seed}") if ctx.trace else None
    tr = ctx.tracer or probe.NullTracer()
    staging = {"s": 0.0}
    with tr.span("workload", workload=ctx.name):
        t0, steal0 = time.perf_counter(), probe.steal_s()
        cpu0 = probe.own_cpu_s()
        with tr.span("session.start"):
            spark = _session(ctx)
        start_s = time.perf_counter() - t0
        with probe.RssSampler(probe.jvm_pid(spark)) as rss:
            with tr.span("session.warmup"), (
                _timed_staging(retrieval, staging) if ctx.trace
                else contextlib.nullcontext()
            ):
                _, qs, sf_dir = H.setup(names)
            setup_s = time.perf_counter() - t0
            setup_steal_s = probe.steal_s() - steal0
            # the JVM and its workers started inside the set-up, so all
            # of their CPU time so far is the set-up's
            setup_cpu_s = probe.tree_cpu_s(rss.pid) - cpu0
            passes: list[dict] = []
            t_m = time.perf_counter()
            # a cold pass, then warm passes until --seconds have passed
            # since the cold one started and at least MIN_WARM ran (one
            # before a traced pass)
            while len(passes) < 1 + (1 if ctx.trace else MIN_WARM) or (
                not ctx.trace and time.perf_counter() - t_m < ctx.seconds
            ):
                t, (cpu, jit) = time.perf_counter(), probe.cpu_s(rss.pid)
                steal = probe.steal_s()
                with tr.span("pass", index=len(passes), traced=False):
                    timings, sink, errors, q_cpu = H.timed_pass(
                        spark, qs, sf_dir,
                        cpu_of=lambda: probe.tree_cpu_s(rss.pid))
                wall = time.perf_counter() - t
                cpu1, jit1 = probe.cpu_s(rss.pid)
                steal = probe.steal_s() - steal
                retrieval.clear_session_caches(spark)
                passes.append({
                    "index": len(passes), "wall_s": wall, "cpu_s": cpu1 - cpu,
                    "jit_cpu_s": jit1 - jit, "steal_s": steal,
                    "queries": timings, "queries_cpu": q_cpu,
                    "persisted_after_clear": probe.persisted_count(spark),
                    "results": sink, "errors": errors,
                })
            layers = None
            if ctx.trace:
                layers = _traced_queries(ctx, qs, sf_dir, passes, H)
                passes.append(layers.pop("pass"))
    attempted, failed, detail = _check_results(refs, passes)
    totals = [sum(p["queries"].values()) for p in passes]
    # the first MIN_WARM untraced warm passes (the traced pass has no
    # CPU reading): on a fast machine more fit in --seconds, but the
    # gated sums cover the same passes on every machine
    warm = [(t, p) for t, p in zip(totals, passes) if p["index"] > 0
            and "cpu_s" in p][:MIN_WARM]
    warm_q = {n: [p["queries"][n] for _, p in warm if n in p["queries"]]
              for n in qs}
    measured = [passes[0]] + [p for _, p in warm]
    op_cpu = {n: [p["queries_cpu"][n] for p in measured
                  if n in p["queries_cpu"]] for n in qs}
    report = {
        "passes": [
            {"index": p["index"], "total_s": sum(p["queries"].values()),
             "wall_s": p["wall_s"], "cpu_s": p.get("cpu_s"),
             "jit_cpu_s": p.get("jit_cpu_s"), "steal_s": p.get("steal_s"),
             "queries": p["queries"], "queries_cpu": p.get("queries_cpu"),
             "persisted_after_clear": p["persisted_after_clear"]}
            for p in passes
        ],
        "cold_pass_s": totals[0],
        "cold_pass_cpu_s": passes[0]["cpu_s"],
        **_wall_summary([t for t, _ in warm], warm_q),
        "session_start_s": start_s,
        "setup_wall_s": setup_s,
        "setup_steal_s": setup_steal_s,
        "peak_rss_mb": rss.peak,
        "checks": detail,
        "failed_frac": failed / attempted,
    }
    if layers is None:
        return {"attempted": attempted, "failed": failed, "report": report,
                "metrics": _end_to_end(
                    setup_cpu_s, [p["cpu_s"] for p in measured], op_cpu)}
    layers["session.start_s"] = start_s
    layers["session.warmup_s"] = setup_s - start_s - staging["s"]
    layers["plans.staging_s"] = staging["s"]
    report["reconcile"] = layers.pop("reconcile")
    report["plans.query_s"] = layers.pop("plans.query_s")
    from perfbench import layers as L

    with ctx.tracer.span("layers"):
        layers.update(L.operators(ctx))
    return _per_layer(attempted, failed, report, layers)


@contextlib.contextmanager
def _timed_staging(retrieval, out: dict):
    """Time the staging entry points ``bench.setup_session`` calls into
    ``out["s"]``, from outside, while the block runs."""
    orig = {fn: getattr(retrieval, fn)
            for fn in ("stage_fine_layout", "warm_process_artifacts")}

    def timed(fn):
        def call(*a, **k):
            t = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                out["s"] += time.perf_counter() - t
        return call

    for name, fn in orig.items():
        setattr(retrieval, name, timed(fn))
    try:
        yield
    finally:
        for name, fn in orig.items():
            setattr(retrieval, name, fn)


def _reconcile(parts: dict, untraced: dict) -> dict:
    """build + stage span + fetch of each traced operation against the
    untraced median of the same operation."""
    out = {}
    for n, q in parts.items():
        total = q["build_s"] + q["stage_s"] + q["fetch_s"]
        err = total - untraced[n]
        out[n] = {**q, "sum_s": total, "untraced_s": untraced[n],
                  "error_s": err,
                  "ok": abs(err) <= max(RECONCILE_TOL * untraced[n],
                                        RECONCILE_FLOOR_S)}
    return out


def _exec_layers(m: dict, wall: float, untraced_wall: float,
                 reconcile: dict) -> dict:
    return {
        "plans.build_s": m["build_s"],
        "plans.build_jobs": m["build_jobs"],
        **{f"exec.{k}": m[k] for k in (
            "jobs", "stages", "tasks", "driver_gap_s", "core_busy",
            "task_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
            "spill_mb", "input_mb", "peak_exec_mem_mb")},
        "driver.fetch_s": m["fetch_s"],
        "driver.fetch_rows": m["fetch_rows"],
        "trace.overhead": wall / untraced_wall - 1.0,
        "trace.unreconciled": sum(1 for r in reconcile.values() if not r["ok"]),
    }


def _traced_queries(ctx, qs, sf_dir, passes, H) -> dict:
    """One traced pass after the untraced ones; per-layer numbers and
    the reconciliation against the untraced per-query times."""
    from mevi_spark.plans.retrieval import clear_session_caches

    spark = ctx.spark
    idx = len(passes)
    t = time.perf_counter()
    timings, sink, errors, m = H.traced_pass(
        spark, qs, sf_dir, ctx.tracer, idx, ctx.cores
    )
    wall = time.perf_counter() - t
    clear_session_caches(spark)
    persisted = probe.persisted_count(spark)
    untraced = {
        n: statistics.median(p["queries"][n] for p in passes[1:])
        for n in timings
    }
    reconcile = _reconcile(m["per_query"], untraced)
    return {
        "session.persisted_after_clear": persisted,
        **_exec_layers(m, wall, statistics.median(
            p["wall_s"] for p in passes[1:]), reconcile),
        "plans.query_s": untraced,
        "reconcile": reconcile,
        "pass": {"index": idx, "wall_s": wall, "queries": timings,
                 "persisted_after_clear": persisted, "results": sink,
                 "errors": errors},
    }


# -- ingest_maintain --------------------------------------------------------


def ingest_maintain(ctx: Context) -> dict:
    from mevi_spark.plans import registry
    from mevi_spark.plans.retrieval import clear_session_caches
    from perfbench import ingest as I
    from perfbench import layers as L

    refs = check.references(
        registry.get_oracles(), list(I.ORACLES.values()), ctx.data, ctx.refs
    )
    ctx.tracer = probe.Tracer(f"{ctx.name}-{ctx.seed}") if ctx.trace else None
    tr = ctx.tracer or probe.NullTracer()
    n = ctx.cfg["slices"]
    ops: list[dict] = []
    passes: list[dict] = []
    last: dict = {}
    errors: list[str] = []
    with tr.span("workload", workload=ctx.name):
        t0, steal0 = time.perf_counter(), probe.steal_s()
        cpu0 = probe.own_cpu_s()
        with tr.span("session.start"):
            spark = _session(ctx)
        start_s = time.perf_counter() - t0
        with probe.RssSampler(probe.jvm_pid(spark)) as rss:
            with tr.span("session.warmup"):
                parts = I.slices(ctx.data, n)
                rnd = I.Stores(spark, ctx.data, os.path.join(ctx.work, "stores"))
            setup_s = time.perf_counter() - t0
            setup_steal_s = probe.steal_s() - steal0
            # the JVM and its workers started inside the set-up, so all
            # of their CPU time so far is the set-up's
            setup_cpu_s = probe.tree_cpu_s(rss.pid) - cpu0
            for i in range(n):
                traced = ctx.trace and i == n - 1

                def rec(kind, s, _i=i, **detail):
                    ops.append({"pass": _i, "kind": kind, "s": s, **detail})

                (cpu, jit), steal = probe.cpu_s(rss.pid), probe.steal_s()
                try:
                    with tr.span("pass", index=i, traced=traced):
                        last = I.run_slice(
                            rnd, parts, i, rec,
                            tr if traced else probe.NullTracer(),
                            tag=f"{tr.run_id}:p{i}" if traced else None,
                            cpu_of=None if traced
                            else lambda: probe.tree_cpu_s(rss.pid))
                except Exception as e:  # counted; the stores are now suspect
                    errors.append(f"pass {i}: {type(e).__name__}: {e}"[:300])
                    break
                cpu1, jit1 = probe.cpu_s(rss.pid)
                passes.append({
                    "index": i, "traced": traced,
                    "cpu_s": cpu1 - cpu, "jit_cpu_s": jit1 - jit,
                    "steal_s": probe.steal_s() - steal,
                    "total_s": sum(o["s"] for o in ops if o["pass"] == i),
                })
    raised = len(errors)  # a raising operation ends the run
    for s in I.ORACLES if not raised else ():
        err = check.mismatch(last[s], refs[I.ORACLES[s]])
        if err is not None:
            errors.append(f"final {s}: {err}")
    failed = len(errors)
    store, files = rnd.store_bytes()
    timed_ops = [o for o in ops if o["kind"] != "rewritten"]
    attempted = len(timed_ops) + raised
    warm_ops = [o for o in timed_ops if 0 < o["pass"] < len(passes)
                and not passes[o["pass"]]["traced"]]
    by_kind = {
        k: probe.summary([o["s"] for o in warm_ops if o["kind"] == k])
        for k in ("batch", "state", "compact")
    }
    untraced = [p for p in passes if not p["traced"]]
    warm_by_op: dict[str, list] = {}
    for o in warm_ops:
        warm_by_op.setdefault(f"{o['kind']}:{o['stream']}", []).append(o["s"])
    op_cpu: dict[str, list] = {}  # over every untraced pass, the cold one too
    for o in timed_ops:
        if "cpu" in o:
            op_cpu.setdefault(f"{o['kind']}:{o['stream']}", []).append(o["cpu"])
    report = {
        "passes": passes,
        "session_start_s": start_s,
        "setup_wall_s": setup_s,
        "setup_steal_s": setup_steal_s,
        "cold_pass_s": passes[0]["total_s"] if passes else None,
        "cold_pass_cpu_s": passes[0]["cpu_s"] if passes else None,
        **_wall_summary([p["total_s"] for p in untraced[1:]], warm_by_op),
        "op_cpu_s": op_cpu,
        "peak_rss_mb": rss.peak,
        "ops": by_kind,
        "batch_p50_s": by_kind["batch"].get("p50"),
        "batch_tail_s": by_kind["batch"].get("tail"),
        "read_p50_s": by_kind["state"].get("p50"),
        "compact_s": by_kind["compact"].get("p50"),
        "store_bytes": store, "store_files": files,
        "landed_bytes": rnd.landed_bytes,
        "space_amp": store / max(rnd.landed_bytes, 1),
        "hashes": {s: check.value_hash(v) for s, v in last.items()},
        "errors": errors,
        "failed_frac": failed / max(attempted, 1),
    }
    if raised or not ctx.trace:
        # a traced run that raised has no traced round to report
        return {"attempted": attempted, "failed": failed, "report": report,
                "metrics": {} if ctx.trace else _end_to_end(
                    setup_cpu_s,
                    [] if raised else [p["cpu_s"] for p in untraced],
                    {} if raised else op_cpu)}
    clear_session_caches(spark)
    traced_ops = [o for o in ops if o["pass"] == n - 1]
    m, per_op = _ingest_traced(ctx, traced_ops)
    untraced_med = {
        name: statistics.median(
            o["s"] for o in warm_ops if f"{o['kind']}:{o['stream']}" == name)
        for name in per_op
    }
    reconcile = _reconcile(per_op, untraced_med)
    report["reconcile"] = reconcile
    layers = {
        "session.start_s": start_s,
        "session.warmup_s": setup_s - start_s,
        "session.persisted_after_clear": probe.persisted_count(spark),
        **_exec_layers(m, passes[-1]["total_s"], statistics.median(
            p["total_s"] for p in untraced[1:]), reconcile),
        **L.streaming_layers(traced_ops, store, files, report["space_amp"]),
    }
    return _per_layer(attempted, failed, report, layers)


def _ingest_traced(ctx, ops: list[dict]) -> tuple[dict, dict]:
    """Status-store totals of one traced round, plus each operation's
    build / stage / fetch split (medians per operation kind and
    stream, for the reconciliation)."""
    spark = ctx.spark
    ops = [o for o in ops if "bounds" in o]
    wall = max(o["bounds"][2] for o in ops) - min(o["bounds"][0] for o in ops)
    m = probe.stage_totals(
        spark, [g for o in ops for g in (o["build_group"], o["exec_group"])])
    m["build_jobs"] = sum(
        probe.group_stages(spark, o["build_group"])[0] for o in ops)
    m["jobs"] -= m["build_jobs"]
    m["build_s"] = sum(o["bounds"][1] - o["bounds"][0] for o in ops)
    m["fetch_s"], m["fetch_rows"] = 0.0, 0
    splits: dict[str, list] = {}
    for o in ops:
        t0, t1, t2 = o["bounds"]
        _, stages = probe.group_stages(spark, o["exec_group"])
        for s in stages:
            ctx.tracer.add("stage", s["start"], s["end"], o["span"],
                           stage=s["stage"], tasks=s["numTasks"])
        last = min(max(max((s["end"] for s in stages), default=t1), t1), t2)
        fetch = t2 - last if o["kind"] == "state" else 0.0
        if o["kind"] == "state":
            ctx.tracer.add("driver.fetch", last, t2, o["span"], rows=o["rows"])
            m["fetch_s"] += fetch
            m["fetch_rows"] += o["rows"]
        splits.setdefault(f"{o['kind']}:{o['stream']}", []).append({
            "build_s": t1 - t0, "fetch_s": fetch,
            "stage_s": probe.union_s([(s["start"], s["end"]) for s in stages]),
        })
    m["driver_gap_s"] = wall - probe.union_s(m.pop("intervals"))
    m["core_busy"] = m["task_s"] / (wall * ctx.cores)
    per_op = {
        n: {k: statistics.median(x[k] for x in xs) for k in xs[0]}
        for n, xs in splits.items()
    }
    return m, per_op


def _per_layer(attempted: int, failed: int, report: dict,
               layers: dict) -> dict:
    """The layers both workloads measure become the result's metrics;
    the workload-specific ones go to the report line."""
    from perfbench.layers import COMMON, UNITS

    report["layers"] = {k: v for k, v in sorted(layers.items())
                        if k not in COMMON}
    return {"attempted": attempted, "failed": failed, "report": report,
            "metrics": {k: _metric(layers[k], UNITS.get(k, "s"))
                        for k in COMMON}}


RUN = {"queries": queries, "ingest": ingest_maintain}
