"""Measurement helpers: summaries, process memory, spans, Spark status.

Everything here observes the program from outside: /proc for memory,
the SparkContext's own status store for jobs and stages. Spans are kept
in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time


def summary(values: list[float]) -> dict:
    """Median plus the highest percentile that still has at least ten
    samples beyond it (none exists below 11 samples: then the maximum,
    flagged by ``tail_pct`` = 100)."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return {"n": 0}
    if n > 10:
        tail, pct = v[n - 11], 100.0 * (n - 10) / n
    else:
        tail, pct = v[-1], 100.0
    return {
        "n": n, "p50": statistics.median(v), "tail": tail,
        "tail_pct": round(pct, 1), "min": v[0], "max": v[-1],
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine's
    virtual CPUs since boot (``steal`` in ``/proc/stat``): what other
    tenants of a shared host take from a run."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def own_cpu_s() -> float:
    """CPU seconds (user + system) this process has used so far."""
    t = os.times()
    return t.user + t.system


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root``, its live
    descendants and the children they have reaped, plus this process."""
    kids = _children()
    tick = os.sysconf("SC_CLK_TCK")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(kids.get(pid, ()))
    return total / tick + own_cpu_s()


def jit_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JIT compiler threads of JVM
    ``pid``. The driver JVM keeps a fixed set of them (``run.py`` turns
    off their dynamic count), so none exits and takes its time along."""
    total = 0
    for t in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{t}/stat") as f:
                st = f.read()
        except OSError:
            continue
        if "CompilerThre" in st[st.index("(") + 1:st.rindex(")")]:
            fields = st.rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def cpu_s(root: int) -> tuple[float, float]:
    """(``tree_cpu_s(root)``, the part of it the JIT compiler threads of
    JVM ``root`` used) so far. Compilation is the JVM warming up: it is
    about half of a warm pass's CPU on the benchmark's inputs."""
    return tree_cpu_s(root), jit_cpu_s(root)


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Samples the resident memory of one process tree (the driver JVM
    and the Python workers it forks) every ``period`` seconds."""

    def __init__(self, pid: int, period: float = 0.25):
        self.pid, self.period, self.peak = pid, period, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.pid))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb(self.pid))


class Tracer:
    """In-memory span recorder: (name, start, end, parent, run id)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        tracer = self

        class _Span:
            def __enter__(self):
                self.i = len(tracer.spans)
                tracer.spans.append({
                    "id": self.i, "name": name,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "run": tracer.run_id, "start": time.time(), "end": None,
                    **attrs,
                })
                tracer._stack.append(self.i)
                return tracer.spans[self.i]

            def __exit__(self, *exc):
                tracer._stack.pop()
                tracer.spans[self.i]["end"] = time.time()

        return _Span()

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> None:
        """Record a span measured elsewhere (Spark stage intervals)."""
        self.spans.append({
            "id": len(self.spans), "name": name, "parent": parent,
            "run": self.run_id, "start": start, "end": end, **attrs,
        })

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class NullTracer:
    """Tracing off: the same calls, nothing recorded."""

    run_id = "untraced"

    class _Null:
        def __enter__(self):
            return {}

        def __exit__(self, *exc):
            return None

    def span(self, name: str, **attrs):
        return self._Null()


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def persisted_count(spark) -> int:
    """Persisted RDDs plus cached relations still held by the session."""
    jss = spark._jsparkSession
    rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    cached = 0 if jss.sharedState().cacheManager().isEmpty() else 1
    return int(rdds) + cached


_STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "shuffleWriteBytes", "shuffleReadBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "inputBytes", "peakExecutionMemory",
)


def group_stages(spark, group: str) -> tuple[int, list[dict]]:
    """(jobs, per-stage data) for every job run under job group
    ``group``, read from the SparkContext's status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    seen: set[int] = set()
    out: list[dict] = []
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.stageAttempt(
                    sid, 0, False, jvm.java.util.ArrayList(), False,
                    sc._gateway.new_array(jvm.double, 0),
                )._1()
            except Exception:
                continue  # skipped stage: shuffle output reused
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            rec = {f: float(getattr(sd, f)()) for f in _STAGE_FIELDS}
            rec["stage"] = sid
            rec["start"] = sub.get().getTime() / 1000.0
            rec["end"] = done.get().getTime() / 1000.0
            out.append(rec)
    return len(jobs), out


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def stage_totals(spark, groups: list[str]) -> dict:
    """Jobs, stages, tasks and the summed stage metrics of every job run
    under ``groups``, plus the stage intervals (for gap and busy time)."""
    m = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
         "gc_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
         "spill_mb": 0.0, "input_mb": 0.0, "peak_exec_mem_mb": 0.0,
         "intervals": []}
    for g in groups:
        jobs, stages = group_stages(spark, g)
        m["jobs"] += jobs
        for s in stages:
            m["intervals"].append((s["start"], s["end"]))
            m["stages"] += 1
            m["tasks"] += s["numTasks"]
            m["task_s"] += s["executorRunTime"] / 1e3
            m["cpu_s"] += s["executorCpuTime"] / 1e9
            m["gc_s"] += s["jvmGcTime"] / 1e3
            m["shuffle_write_mb"] += s["shuffleWriteBytes"] / 2**20
            m["shuffle_read_mb"] += s["shuffleReadBytes"] / 2**20
            m["spill_mb"] += s["memoryBytesSpilled"] / 2**20
            m["input_mb"] += s["inputBytes"] / 2**20
            m["peak_exec_mem_mb"] = max(
                m["peak_exec_mem_mb"], s["peakExecutionMemory"] / 2**20
            )
    return m
