"""mevi_spark benchmark: seeded inputs, one closed-loop workload, an
oracle check of every timed output, and one JSON result line.

    python3 perfbench/run.py --workload retrieval --seed 1 --seconds 10 --trace 0

Run it from the repository root; it reads and writes only there (under
``.perfbench/``). Workloads (``perfbench/config.json``):

* ``retrieval`` -- the six ``bench.py`` retrieval queries through
  ``bench.setup_session`` (without its shape warm-up) and
  ``bench.run_pass``: a cold pass, then warm passes until ``--seconds``
  have passed (at least two);
* ``ingest_maintain`` -- streaming ingest with state reads and
  compaction, one pass per arrival slice (see ``perfbench/ingest.py``);
* ``headline`` -- all thirteen headline queries (not in BENCHMARK.json:
  one run takes about 75 s on 4 cores).

One client and one driver thread on ``local[<cores>]``. ``--trace 0``
reports the end-to-end metrics: the CPU seconds of the set-up, of the
measured passes and of their operations (wall times, which move with the
load of a shared host, are in the report line); ``--trace 1`` is a separate run that reports the per-layer metrics and writes its spans to
``.perfbench/trace-<workload>.jsonl``. The run configuration is fixed in
``perfbench/config.json``; ambient ``SPARK_GRAFT_*`` / ``MEVI_SPARK_*``
variables are overridden and echoed in the report line, which precedes
the result line.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("mevi_spark/__init__.py", "bench.py", "tools/check_correctness.py")
OVERRIDDEN = ("SPARK_GRAFT_", "MEVI_SPARK_", "PYSPARK_SUBMIT_ARGS")


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _source_digest() -> str:
    h = hashlib.sha1()
    for top in ("mevi_spark", "bench.py", "tools", "perfbench"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if f.endswith((".py", ".json"))
        )
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _fix_env(cfg: dict, work: str, data: str) -> dict:
    """Pin the run configuration in the environment the program and
    Spark read; return it together with the ambient values it replaced."""
    import tempfile

    import pyspark

    ambient = {k: v for k, v in os.environ.items() if k.startswith(OVERRIDDEN)}
    for k in ambient:
        del os.environ[k]
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # no hsperfdata file under /tmp: the run writes only in the checkout;
    # a fixed set of JIT compiler threads, so that probe.jit_cpu_s sees
    # all of their time
    java_opts = "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    fixed = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SHUFFLE": str(cfg["shuffle_partitions"]),
        "SPARK_GRAFT_AQE": str(cfg["aqe"]).lower(),
        "MEVI_SPARK_DRIVER_MEM": cfg["driver_memory"],
        "SPARK_GRAFT_SF_DIR": data,
        # a missing warm-up dir makes bench.setup_session skip its shape
        # warm-up (with a WARNING): on ``retrieval`` a warm-up on a small
        # generated copy added about 20 s of set-up and took about 2 s off
        # the cold pass, more than one run's time budget allows
        "SPARK_GRAFT_WARM_DIR": os.path.join(work, "no-warm-up"),
        "SPARK_GRAFT_STAGE_DIR": os.path.join(work, "stage"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
            f"'-Djava.io.tmpdir={tmp} {java_opts}' pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(fixed)
    tempfile.tempdir = tmp
    return {
        "cores": cores,
        "shuffle_partitions": cfg["shuffle_partitions"],
        "aqe": cfg["aqe"],
        "driver_memory": cfg["driver_memory"],
        "driver_java_options": java_opts,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "source_sha1": _source_digest(),
        "warm_dir": None,  # shape warm-up skipped, see above
        "omp_num_threads": os.environ.get("OMP_NUM_THREADS"),
        "ambient_overridden": ambient,
    }


def _stop(spark) -> None:
    """Stop Spark, then the driver JVM and the workers it forked, and
    wait until every one of them has exited."""
    from perfbench import probe

    proc = spark.sparkContext._gateway.proc
    kids = probe._children()
    tree, todo = [], [proc.pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main() -> int:
    a = _args()
    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: {', '.join(missing)} missing under {ROOT}: "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    if a.workload not in cfg["workloads"]:
        print(f"perfbench: unknown workload {a.workload!r}; one of "
              f"{sorted(cfg['workloads'])}", file=sys.stderr)
        return 2
    wl = cfg["workloads"][a.workload]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    sys.path.insert(0, ROOT)
    ctx = None
    try:
        run_cfg = _fix_env(cfg, work, data)
        from perfbench import gen, workloads

        t = time.perf_counter()
        tables = gen.generate(data, a.seed, **wl["inputs"])
        digest = gen.digest(data)
        inputs = {
            "seed": a.seed, "digest": digest, **wl["inputs"],
            "rows": {t_: r for t_, (r, _) in tables.items()},
            "bytes": {t_: b for t_, (_, b) in tables.items()},
            "total_bytes": sum(b for _, b in tables.values()),
            "generate_s": time.perf_counter() - t,
            "shape": gen.shape(data),
        }
        ctx = workloads.Context(
            name=a.workload, cfg=wl, cores=run_cfg["cores"],
            shuffle=cfg["shuffle_partitions"], data=data,
            work=work, refs=os.path.join(base, "refs", digest),
            seconds=a.seconds, trace=bool(a.trace), seed=a.seed,
        )
        out = workloads.RUN[wl["kind"]](ctx)
    finally:
        if ctx is not None and ctx.spark is not None:
            _stop(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        path = os.path.join(base, f"trace-{a.workload}.jsonl")
        ctx.tracer.write(path)
        out["report"]["trace_file"] = os.path.relpath(path, ROOT)
    report = {"workload": a.workload, "config": run_cfg, "inputs": inputs,
              **out["report"]}
    print(json.dumps(report, default=str))
    failed, attempted = out["failed"], out["attempted"]
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": out["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
