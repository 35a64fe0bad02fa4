"""``ingest_maintain``: writes beside reads on the streaming stores.

The generated events, documents and evaluation queries arrive as
``slices`` parquet files per stream, one slice of every stream at a time
(one pass). After each landing the pass runs one availableNow batch of
``incremental_rollup``, ``incremental_lexical_stats`` and
``incremental_eval_metrics``, reads ``rollup_state``, ``lexical_state``
and ``eval_metrics_state`` (the published base merged with the batch
dirs landed since), then calls the three ``compact_*`` functions. The stores start empty, so the read after the
last slice covers the whole input and is checked against the oracles of
``streaming_hypertable_refresh``, ``streaming_lexical_stats`` and
``streaming_eval_metrics``.
"""

from __future__ import annotations

import os
import re
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType, TimestampNTZType,
)

from mevi_spark.operators.metrics import (
    eval_metric_partials, finalize_eval_metrics, per_query_metrics,
)
from mevi_spark.operators.rollup import finalize_rollup
from mevi_spark.operators.topk import exact_topk_join
from mevi_spark.sources.io import load_table
from mevi_spark.streaming.incremental import (
    compact_eval_metrics, compact_lexical, compact_rollup,
    eval_metrics_state, incremental_eval_metrics, incremental_lexical_stats,
    incremental_rollup, lexical_state, rollup_state,
    stream_parquet_source,
)

ORACLES = {
    "roll": "streaming_hypertable_refresh",
    "lex": "streaming_lexical_stats",
    "eval": "streaming_eval_metrics",
}

SCHEMAS = {
    "roll": StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]),
    "lex": StructType([
        StructField("doc_id", LongType()), StructField("text", StringType()),
    ]),
    "eval": StructType([
        StructField("query_id", LongType()),
        StructField("query_vec", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]),
}


def slices(data_dir: str, n: int) -> dict[str, list[pa.Table]]:
    """Split the inputs into ``n`` arrival slices per stream: events in
    time order, documents by id range, queries (every 50th vector, as
    in the batch retrieval queries) in id-interleaved waves."""
    ev = pq.read_table(
        f"{data_dir}/events.parquet",
        columns=["event_id", "ts", "event_type", "value"],
    ).sort_by("ts")
    docs = pq.read_table(f"{data_dir}/documents.parquet",
                         columns=["doc_id", "text"])
    emb = pq.read_table(f"{data_dir}/embeddings.parquet")
    q = emb.filter(pa.array(emb["vec_id"].to_numpy() % 50 == 0))
    q = pa.table({"query_id": q["vec_id"], "query_vec": q["embedding"],
                  "label": q["label"]})

    def ranges(t: pa.Table) -> list[pa.Table]:
        step = -(-t.num_rows // n)
        return [t.slice(i * step, step) for i in range(n)]

    waves = [q.take(list(range(i, q.num_rows, n))) for i in range(n)]
    return {"roll": ranges(ev), "lex": ranges(docs), "eval": waves}


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            size += os.path.getsize(os.path.join(d, f))
            files += 1
    return size, files


def live_dirs(store: str) -> int:
    """Batch-partial dirs a state read merges (those above the fold
    watermark named by the published base)."""
    upto = -1
    base = os.path.join(store, "base")
    if os.path.islink(base):
        m = re.search(r"-upto(\d+)-", os.readlink(base))
        upto = int(m.group(1)) if m else -1
    return sum(
        1 for d in os.listdir(store)
        if re.fullmatch(r"b\d{9}", d) and int(d[1:]) > upto
    )


class Stores:
    """One set of stores (landing dirs, outputs, checkpoints) under
    ``root``, fed slice by slice."""

    def __init__(self, spark, data_dir: str, root: str):
        self.spark, self.root = spark, root
        docs = load_table(spark, data_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").alias("doc_vec"), "label",
        )

        def eval_partial(batch):
            topk = exact_topk_join(batch, docs, k=10, metric="ip")
            run = topk.groupBy("query_id").agg(F.transform(
                F.sort_array(F.collect_list(F.struct("rank", "doc_id"))),
                lambda s: s["doc_id"],
            ).alias("preds"))
            gt = (batch.select("query_id", "label")
                  .join(docs.select("doc_id", "label"), "label")
                  .groupBy("query_id")
                  .agg(F.sort_array(F.collect_list("doc_id")).alias("gt_ids")))
            return eval_metric_partials(per_query_metrics(
                run, gt, cutoffs=(1, 5, 10), query_col="query_id"))

        self.eval_partial = eval_partial
        self.landed_bytes = 0
        self.next_slice = 0

    def path(self, stream: str, what: str) -> str:
        return os.path.join(self.root, f"{stream}_{what}")

    def land(self, parts: dict[str, pa.Table]) -> None:
        """Write one slice per stream into its landing directory (the
        upstream pipeline's job; not timed)."""
        for stream, t in parts.items():
            d = self.path(stream, "in")
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(self.root, f".{stream}.tmp")
            pq.write_table(t, tmp)
            self.landed_bytes += os.path.getsize(tmp)
            os.rename(tmp, os.path.join(d, f"s{self.next_slice:03d}.parquet"))
        self.next_slice += 1

    def start(self, stream: str):
        """Start one availableNow batch over the landed slices."""
        src = stream_parquet_source(
            self.spark, self.path(stream, "in"), SCHEMAS[stream],
            max_files_per_trigger=1,
        )
        out, ckpt = self.path(stream, "out"), self.path(stream, "ckpt")
        if stream == "roll":
            return incremental_rollup(src, out, ckpt)
        if stream == "lex":
            return incremental_lexical_stats(src, out, ckpt)
        return incremental_eval_metrics(src, out, ckpt, self.eval_partial)

    def state(self, stream: str):
        """The presentation frame of a stream's current state."""
        out = self.path(stream, "out")
        if stream == "roll":
            return finalize_rollup(rollup_state(self.spark, out))
        if stream == "eval":
            return finalize_eval_metrics(eval_metrics_state(self.spark, out))
        return lexical_top40(lexical_state(self.spark, out))

    def compact(self, stream: str) -> int:
        fn = {"roll": compact_rollup, "lex": compact_lexical,
              "eval": compact_eval_metrics}[stream]
        return fn(self.spark, self.path(stream, "out"))

    def store_bytes(self) -> tuple[int, int]:
        size = files = 0
        for s in ORACLES:
            b, f = _du(self.path(s, "out"))
            size, files = size + b, files + f
        return size, files


def lexical_top40(state):
    """The presentation ``streaming_lexical_stats`` registers: top-40
    terms by (df desc, term asc) with the corpus n_docs and avgdl on
    every row."""
    sent = state.filter(F.col("term").isNull()).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("sum_dl").cast("double")
                / F.col("n_docs").cast("double"), 6).alias("avgdl"),
    )
    top = (state.filter(F.col("term").isNotNull())
           .orderBy(F.col("df").desc(), F.col("term").asc()).limit(40)
           .select("term", F.col("df").cast("long").alias("df")))
    return top.crossJoin(sent)


def _await(q) -> str:
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return str(q.runId)  # the stream thread's job group


def run_slice(rnd: Stores, parts: dict[str, list[pa.Table]], i: int,
              rec, tracer, tag: str | None = None, cpu_of=None) -> dict:
    """Land slice ``i`` of every stream, run one batch per stream, read
    every state, then compact every store.
    ``rec(kind, seconds, **detail)`` gets each operation's time and phase
    bounds, and with ``cpu_of`` set the CPU seconds ``cpu_of()`` advanced
    by during it (``cpu``). With ``tag`` set, each operation's build and
    execution run under job groups ``<tag>:<op>:build`` / ``:exec`` (a
    batch executes under its stream's run id). Returns the state reads."""
    sc = rnd.spark.sparkContext
    last: dict = {}

    def op(kind, stream, build, execute, **detail):
        name = f"{tag}:{kind}:{stream}"
        with tracer.span(f"streaming.{kind}", stream=stream, **detail) as sp:
            if tag:
                sc.setJobGroup(f"{name}:build", kind)
            c0 = cpu_of() if cpu_of else None
            t0 = time.time()
            obj = build()
            t1 = time.time()
            if tag:
                sc.setJobGroup(f"{name}:exec", kind)
            out = execute(obj)
            t2 = time.time()
            if cpu_of:
                detail["cpu"] = cpu_of() - c0
        if kind == "state":
            detail["rows"] = len(out)
        rec(kind, t2 - t0, stream=stream, span=sp.get("id"),
            bounds=(t0, t1, t2), build_group=f"{name}:build",
            exec_group=out if kind == "batch" else f"{name}:exec", **detail)
        return out

    rnd.land({s: parts[s][i] for s in ORACLES})
    with tracer.span("streaming batch", slice=i):
        for s in ORACLES:
            op("batch", s, lambda s=s: rnd.start(s), _await)
        for s in ORACLES:
            last[s] = op("state", s, lambda s=s: rnd.state(s),
                         lambda df: df.toPandas(),
                         live_dirs=live_dirs(rnd.path(s, "out")))
        for s in ORACLES:
            base = os.path.join(rnd.path(s, "out"), "base")
            op("compact", s, lambda: None, lambda _, s=s: rnd.compact(s))
            rec("rewritten", 0.0, stream=s, bytes=_du(os.readlink(base))[0])
    if tag:
        sc.setJobGroup("perfbench:idle", "idle")
    return last
